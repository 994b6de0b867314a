"""The workloads.  Each is a closed loop with one client: the
next operation starts when the previous one has returned and its
result has been collected.  Outputs are checked after the timed loop.
"""

from __future__ import annotations

import datetime as _dt
import importlib.util
import os
import random
import time
from collections import defaultdict
from dataclasses import dataclass, field

import probes

# One batch pass, in this order (README.md says why each is here):
# one-pass headline queries of bench.py, where execution dominates;
BATCH = [
    "q01_pricing_summary", "q04_revenue_by_nation", "q06_forecast_revenue",
    "q25_window_rank", "q38_neardup_minhash", "q40_cosine_topk",
    "q45_tumbling_window", "q78_interval_join",
]
# iterative loops whose Spark jobs run at construction;
ITERATIVE = ["q185_weighted_pagerank", "q190_hits"]
# a two-wave streaming ingest (stream.incremental_gate_rate_ingest);
STREAMING = ["q217_gate_rate_ingest"]
# copy-on-write DML on a MutableTable: CTAS, update, delete, insert, merge.
DML = ["q60_dml_lifecycle"]
PLAN_CHECKS = 3         # queries per run checked against bench_twins


@dataclass
class Op:
    kind: str
    cls: str            # "main" or "aux"
    ms: float
    construct_ms: float | None = None


@dataclass
class Ctx:
    spark: object
    eng: object
    root: str           # checkout root
    data_dir: str
    work: str
    seed: int
    seconds: float
    tracer: probes.Tracer
    ops: list = field(default_factory=list)
    attempted: int = 0
    failures: list = field(default_factory=list)
    # per-layer totals over the timed loop (traced runs only)
    layer: dict = field(default_factory=lambda: defaultdict(float))
    leaked_ops: int = 0
    round_shape: dict = field(default_factory=dict)
    loop_s: float = 0.0
    verify_s: float = 0.0
    walls: dict = field(default_factory=dict)
    gc0: float = 0.0
    jobs: probes.JobProbe | None = None

    def __post_init__(self):
        if self.traced:
            self.jobs = probes.JobProbe(self.spark)

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def fail(self, what: str) -> None:
        self.failures.append(what[:400])

    def call(self, layer: str, fn, *args, **kw):
        """Run ``fn`` inside a ``layer`` span; when traced, count the
        Spark work launched from this thread under ``layer``."""
        if not self.traced:
            return fn(*args, **kw)
        jp = self.jobs
        group = jp.start(layer)
        t0 = time.perf_counter()
        try:
            with self.tracer.span(layer):
                return fn(*args, **kw)
        finally:
            self.layer[f"{layer}.wall_ms"] += (time.perf_counter() - t0) * 1e3
            jp.stop()
            with self.tracer.span("probe"):
                for k, v in jp.read(group).items():
                    self.layer[f"{layer}.{k}"] += v

    def catalyst(self, df) -> None:
        if not self.traced:
            return
        with self.tracer.span("catalyst"):
            ph = probes.catalyst_phases(df)
        for k, v in ph.items():
            self.layer[f"catalyst.{k}_ms"] += v

    def start_window(self) -> None:
        """Forget what warm-up recorded; the timed loop starts now."""
        self.layer.clear()
        self.tracer.spans.clear()
        self.leaked_ops = 0
        self.gc0 = probes.gc_ms(self.spark)

    def check_cache(self) -> None:
        """Count operations that leave a Spark cache registered, then
        clear it so the next operation starts from the same state."""
        if not probes.cache_empty(self.spark):
            self.leaked_ops += 1
            self.spark.catalog.clearCache()


def _load_check_oracle(root: str):
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(root, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _plain(v):
    """Arrow hands back UTC-aware datetimes; the oracle's are naive."""
    if isinstance(v, _dt.datetime) and v.tzinfo is not None:
        return v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    return v


def arrow_rows(tbl) -> list[dict]:
    return [{k: _plain(v) for k, v in r.items()} for r in tbl.to_pylist()]


def duck(data_dir: str):
    import duckdb
    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS "
                        f"SELECT * FROM '{os.path.join(data_dir, f)}'")
    return con


def sql_rows(con, sql: str) -> list[dict]:
    rel = con.sql(sql)
    cols = list(rel.columns)
    return [dict(zip(cols, r)) for r in rel.fetchall()]


def same_rows(norm, got: list[dict], want: list[dict]) -> str | None:
    """None when equal under check_oracle's normalization, else why."""
    if got and want and sorted(got[0]) != sorted(want[0]):
        return f"columns {sorted(got[0])} != {sorted(want[0])}"
    if len(got) != len(want):
        return f"rowcount {len(got)} != {len(want)}"
    a, b = norm(got), norm(want)
    if a != b:
        i = next(i for i, (x, y) in enumerate(zip(a, b)) if x != y)
        return f"row {i}: {a[i]} != {b[i]}"
    return None


def _deadline(ctx: Ctx) -> float:
    return time.perf_counter() + ctx.seconds


# ---------------------------------------------------------------------------
# repl: Preql statements through Engine.q
# ---------------------------------------------------------------------------

# statements run (and checked) before the timed window: the prelude and
# the first block, so the window starts with every template compiled
REPL_WARMUP = 20

def run_repl(ctx: Ctx):
    from replscript import Script
    from preql_spark.table import Table
    script = Script(ctx.seed)
    tmp = os.environ["TMPDIR"]
    done = []
    end = None
    for n, (stmt, apply) in enumerate(script):
        warm = n < REPL_WARMUP
        if not warm:
            if end is None:
                ctx.start_window()
                end = _deadline(ctx)
            if time.perf_counter() >= end:
                break
        ctx.tracer.op_id = n
        before = probes.dir_files(tmp) if ctx.traced and stmt.write else None
        ctx.attempted += 1
        try:
            with ctx.tracer.span("op"):
                t0 = time.perf_counter()
                out = ctx.call("mutable" if stmt.write else "lang",
                               ctx.eng.q, stmt.preql)
                if isinstance(out, Table):
                    ctx.catalyst(out.df)
                    out = ctx.call("exec", out.df.collect)
                    out = [r.asDict(recursive=True) for r in out]
                ms = (time.perf_counter() - t0) * 1e3
        except Exception as e:  # noqa: BLE001 - a failed statement
            ctx.fail(f"{stmt.kind}: {stmt.preql}: {type(e).__name__}: {e}")
            continue
        if apply is not None:
            apply()
        if before is not None:
            nf, nb = probes.files_written(before, probes.dir_files(tmp))
            ctx.layer["mutable.files_written"] += nf
            ctx.layer["mutable.bytes_written"] += nb
        ctx.check_cache()
        if not warm:
            ctx.ops.append(Op(stmt.kind, "aux" if stmt.write else "main", ms))
        done.append((stmt, out))
    ctx.round_shape = {s.kind: 1 for s, _ in done if not s.write}
    ctx.round_shape["write"] = 3
    return lambda: _verify_repl(ctx, script, done)


def _verify_repl(ctx: Ctx, script, done) -> None:
    norm = _load_check_oracle(ctx.root).normalize
    con = duck(ctx.data_dir)
    for stmt, out in done:
        if stmt.write or stmt.result == "none":
            continue
        if stmt.sql is None:
            want = stmt.expect
        else:
            want = sql_rows(con, stmt.sql)
            if stmt.result == "scalar":
                want = next(iter(want[0].values()))
            elif stmt.result == "list":
                want = sorted(next(iter(r.values())) for r in want)
        if stmt.result == "list":
            out = sorted(out)
        why = (same_rows(norm, out, want) if stmt.result == "table"
               else None if out == want else f"{out!r} != {want!r}")
        if why:
            ctx.fail(f"{stmt.kind}: {stmt.preql}: {why}")
    # final contents of the written tables against the model
    for name, rows, cols in (("Acct", script.model.acct, "id, name, bal"),
                             ("Ledger", script.model.ledger,
                              "id, acct, amount")):
        ctx.attempted += 1
        got = [r.asDict() for r in ctx.eng.q(f"{name}{{{cols}}}").df.collect()]
        why = same_rows(norm, got, rows) if rows or got else None
        if why:
            ctx.fail(f"final {name} contents: {why}")


# ---------------------------------------------------------------------------
# batch: __spark_entry__ queries, constructed and executed once per pass
# ---------------------------------------------------------------------------

def _query_op(ctx: Ctx, name: str, fn, layer: str, listener):
    """Construct and execute one query; returns (df, arrow table)."""
    tmp = os.environ["TMPDIR"]
    s0 = listener.snapshot() if listener else None
    before = probes.dir_files(tmp) if ctx.traced and layer == "mutable" \
        else None
    with ctx.tracer.span("op"):
        t0 = time.perf_counter()
        df = ctx.call(layer, fn, ctx.spark, ctx.data_dir)
        tc = time.perf_counter()
        ctx.catalyst(df)
        tbl = ctx.call("exec", df.toArrow)
        t1 = time.perf_counter()
    ctx.ops.append(Op(name, "main", (t1 - t0) * 1e3,
                      construct_ms=(tc - t0) * 1e3))
    if before is not None:
        nf, nb = probes.files_written(before, probes.dir_files(tmp))
        ctx.layer["mutable.files_written"] += nf
        ctx.layer["mutable.bytes_written"] += nb
    if listener:
        with ctx.tracer.span("probe"):
            probes.flush_listeners(ctx.spark)
        s1 = listener.snapshot()
        for k in s1:
            ctx.layer[f"streaming.{k}"] += s1[k] - s0[k]
        ctx.layer["streaming.lifecycle_ms"] += (
            (tc - t0) * 1e3 - (s1["trigger_ms"] - s0["trigger_ms"]))
    return df, tbl


def run_batch(ctx: Ctx):
    import __spark_entry__ as entry
    from bench_twins import TWINS, normalized_plan
    qs = entry.queries()
    listener = None
    if ctx.traced:
        listener = probes.make_stream_listener()
        ctx.spark.streams.addListener(listener)
    names = BATCH + ITERATIVE + STREAMING + DML
    # the plan check builds a hand twin per query, which costs about a
    # second each; a seeded few per run keep it affordable, and runs
    # over several seeds check every twin
    twinned = sorted(n for n in names if n in TWINS)
    plan_names = set(random.Random(ctx.seed).sample(twinned, PLAN_CHECKS))
    outputs, plans = {}, {}
    passes = 0
    ctx.start_window()
    end = _deadline(ctx)
    while True:
        t_pass = time.perf_counter()
        for name in names:
            ctx.spark.catalog.clearCache()
            ctx.tracer.op_id = f"{passes}:{name}"
            ctx.attempted += 1
            layer = ("streaming" if name in STREAMING else
                     "mutable" if name in DML else "construct")
            try:
                df, tbl = _query_op(ctx, name, qs[name], layer, listener)
            except Exception as e:  # noqa: BLE001 - a failed query
                ctx.fail(f"{name}: {type(e).__name__}: {e}")
                continue
            ctx.check_cache()
            if name not in outputs:
                outputs[name] = tbl
                if name in plan_names:
                    t2 = time.perf_counter()
                    plans[name] = _plan_match(ctx, name, df, TWINS,
                                              normalized_plan)
                    ctx.verify_s += time.perf_counter() - t2
                    ctx.walls["plan_check"] = (ctx.walls.get("plan_check", 0)
                                               + time.perf_counter() - t2)
        passes += 1
        took = time.perf_counter() - t_pass
        if time.perf_counter() + took > end:
            break
    if listener:
        ctx.spark.streams.removeListener(listener)
    ctx.spark.catalog.clearCache()
    ctx.round_shape = {n: 1 for n in names}

    def verify():
        _verify_queries(ctx, outputs, entry.oracle_sql())
        for name, why in plans.items():
            ctx.attempted += 1
            if why:
                ctx.fail(f"{name}: plan differs from its hand twin: {why}")
    return verify


def _plan_match(ctx, name, df, twins, normalized_plan) -> str | None:
    """bench.py's plan check.  ``df`` has run, so its AdaptiveSparkPlan
    is final; a fresh Dataset over the same logical plan compares like
    bench.py's (unexecuted) one."""
    try:
        twin = twins[name](ctx.spark, ctx.data_dir)
        if normalized_plan(df.select("*")) == normalized_plan(twin):
            return None
        return "normalized plans differ"
    except Exception as e:  # noqa: BLE001
        return f"{type(e).__name__}: {e}"


def _verify_queries(ctx: Ctx, outputs: dict, oracles: dict) -> None:
    norm = _load_check_oracle(ctx.root).normalize
    con = duck(ctx.data_dir)
    for name, tbl in outputs.items():
        ctx.attempted += 1
        try:
            want = sql_rows(con, oracles[name])
        except Exception as e:  # noqa: BLE001
            ctx.fail(f"{name}: oracle error: {type(e).__name__}: {e}")
            continue
        why = same_rows(norm, arrow_rows(tbl), want)
        if why:
            ctx.fail(f"{name}: output differs from oracle: {why}")


WORKLOADS = {"repl": run_repl, "batch": run_batch}


def run(ctx: Ctx, workload: str) -> None:
    """The timed loop, then the output checks."""
    t0 = time.perf_counter()
    verify = WORKLOADS[workload](ctx)
    ctx.layer["jvm.gc_ms"] = probes.gc_ms(ctx.spark) - ctx.gc0
    t1 = time.perf_counter()
    verify()
    ctx.loop_s = t1 - t0 - ctx.verify_s
    ctx.verify_s += time.perf_counter() - t1
