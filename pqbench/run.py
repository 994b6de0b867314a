"""Preql-on-Spark benchmark: one workload per process.

    python3 pqbench/run.py --workload repl --seed 1 --seconds 12 --trace 0

Run from the repository root.  Makes its inputs from ``--seed``, sets
up a Spark session three times (the median is ``setup_s``), runs the
workload's closed loop for about ``--seconds``, checks every output,
and prints a report followed by one JSON line:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones.
See pqbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SF = float(os.environ.get("PQBENCH_SF", "0.01"))
SETUPS = 3
WARM_QUERY = "count(lineitem[l_quantity > 25])"

END_TO_END = [("p50_ms", "ms"), ("aux_ms", "ms"), ("pass_s", "s"),
              ("geomean_ms", "ms"), ("setup_s", "s")]
# printed, not reported: across ten seeds the repl read p90 spread by
# 26% of its median and peak RSS by a fifth, more than any bound allows
DIAGNOSTIC = [("p90_ms", "ms"), ("peak_rss_mb", "MB")]

# per-layer metric -> (accumulator key, unit); values are per operation
# of the timed loop except cache.leaked_ops, a count of operations
PER_LAYER = {
    "lang.parse_ms": ("lang.wall_ms", "ms"),
    "lang.eager_jobs": ("lang.jobs", "count"),
    "construct.ms": ("construct.wall_ms", "ms"),
    "construct.jobs": ("construct.jobs", "count"),
    "construct.task_ms": ("construct.task_ms", "ms"),
    "catalyst.analysis_ms": ("catalyst.analysis_ms", "ms"),
    "catalyst.optimization_ms": ("catalyst.optimization_ms", "ms"),
    "catalyst.planning_ms": ("catalyst.planning_ms", "ms"),
    "exec.ms": ("exec.wall_ms", "ms"),
    "exec.jobs": ("exec.jobs", "count"),
    "exec.stages": ("exec.stages", "count"),
    "exec.tasks": ("exec.tasks", "count"),
    "exec.task_ms": ("exec.task_ms", "ms"),
    "exec.input_bytes": ("exec.input_bytes", "B"),
    "exec.shuffle_write_bytes": ("exec.shuffle_write_bytes", "B"),
    "exec.shuffle_read_bytes": ("exec.shuffle_read_bytes", "B"),
    "exec.spill_bytes": ("exec.spill_bytes", "B"),
    "streaming.batches": ("streaming.batches", "count"),
    "streaming.input_rows": ("streaming.input_rows", "count"),
    "streaming.trigger_ms": ("streaming.trigger_ms", "ms"),
    "streaming.addbatch_ms": ("streaming.addbatch_ms", "ms"),
    "streaming.lifecycle_ms": ("streaming.lifecycle_ms", "ms"),
    "mutable.op_ms": ("mutable.wall_ms", "ms"),
    "mutable.files_written": ("mutable.files_written", "count"),
    "mutable.bytes_written": ("mutable.bytes_written", "B"),
    "mutable.jobs": ("mutable.jobs", "count"),
    "cache.leaked_ops": (None, "count"),
    "jvm.gc_ms": ("jvm.gc_ms", "ms"),
}
SPAN_LAYERS = ("op", "lang", "construct", "catalyst", "exec", "streaming",
               "mutable", "probe")

# what each generic end-to-end metric measures, per workload
MEANING = {
    "repl": {"p50_ms": "read_p50_ms", "p90_ms": "read_p90_ms",
             "aux_ms": "write_p50_ms", "pass_s": "round_s"},
    "batch": {"p50_ms": "query_p50_ms", "p90_ms": "query_p90_ms",
              "aux_ms": "construct_geomean_ms"},
}


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["repl", "batch"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def _environment(root: str, work: str) -> None:
    """Keep every file Spark, the JVM and the engine write inside the
    checkout, and let Python workers import the engine."""
    for sub in ("tmp", "jtmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # TMPDIR holds only the engine's scratch tables, which the traced
    # run diffs to count the files a DML operation writes
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'jtmp')} -XX:-UsePerfData")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, HERE, os.environ.get("PYTHONPATH")) if p)
    import tempfile
    tempfile.tempdir = None
    for p in (HERE, root):
        if p not in sys.path:
            sys.path.insert(0, p)


def _setup(data_dir: str, workload: str):
    """Session start, Engine.load_dir and the first warm query."""
    from preql_spark.engine import Engine, default_session
    t0 = time.perf_counter()
    spark = default_session(f"pqbench-{workload}")
    if workload == "batch":
        import __spark_entry__ as entry   # the queries share its Engine
        eng = entry._eng(spark, data_dir)
    else:
        eng = Engine(spark).load_dir(data_dir)
    eng.q(WARM_QUERY)
    return spark, eng, time.perf_counter() - t0


def _shutdown(spark) -> None:
    """Stop Spark and the JVM gateway process, and wait for it."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - already closed
        pass
    if proc is not None:
        try:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def _pct(xs, q):
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def _geomean(xs) -> float:
    return math.exp(statistics.fmean(math.log(x) for x in xs))


def end_to_end(ctx, setups, rss) -> dict:
    main = [o.ms for o in ctx.ops if o.cls == "main"]
    aux = [o.ms for o in ctx.ops if o.cls == "aux"]
    if aux:       # repl: write statements
        aux_ms = (_pct(aux, 0.5), len(aux))
    else:         # batch: construction, from a few ms to seconds a query
        built = [o.construct_ms for o in ctx.ops]
        aux_ms = (_geomean(built), len(built))
    by_kind = {}
    for o in ctx.ops:
        by_kind.setdefault(o.kind, []).append(o.ms)
    shape = ctx.round_shape
    med = {k: statistics.median(v) for k, v in by_kind.items() if k in shape}
    # the writes of a repl block are three statements of mixed kinds
    if "write" in shape:
        med["write"] = aux_ms[0]
    round_ms = sum(med[k] * shape[k] for k in med)
    return {
        "p50_ms": (_pct(main, 0.5), len(main)),
        "p90_ms": (_pct(main, 0.9), len(main)),
        "aux_ms": aux_ms,
        "pass_s": (round_ms / 1e3, len(ctx.ops)),
        "geomean_ms": (_geomean(med.values()), len(med)),
        "setup_s": (statistics.median(setups), len(setups)),
        "peak_rss_mb": (rss, 1),
    }


def per_layer(ctx) -> dict:
    n = max(1, len(ctx.ops))
    out = {}
    for name, (key, unit) in PER_LAYER.items():
        if key is None:
            out[name] = (ctx.leaked_ops, unit)
        else:
            out[name] = (ctx.layer.get(key, 0.0) / n, unit)
    selfs = ctx.tracer.self_times_ms()
    for layer in SPAN_LAYERS:
        out[f"self.{layer}_ms"] = (selfs.get(layer, 0.0) / n, "ms")
    return out


def _report(args, ctx, e2e, layers, overhead) -> None:
    w = args.workload
    print(f"# pqbench workload={w} seed={args.seed} sf={SF} "
          f"cpus={os.environ['SPARK_GRAFT_CPUS']} trace={args.trace} "
          f"ops={len(ctx.ops)}")
    units = dict(END_TO_END + DIAGNOSTIC)
    for k, (v, n) in e2e.items():
        alias = MEANING.get(w, {}).get(k, k)
        print(f"#   {w}.{alias} = {v:.4f} {units[k]} (n={n})")
    print(f"#   {w}.failed_frac = {len(ctx.failures)}/{ctx.attempted} = "
          f"{len(ctx.failures) / max(1, ctx.attempted):.4f}")
    for f in ctx.failures:
        print(f"#   FAILED {f}")
    by_kind = {}
    for o in ctx.ops:
        by_kind.setdefault(o.kind, []).append(o.ms)
    for k, v in by_kind.items():
        print(f"#   op {k}: median {statistics.median(v):.1f} ms (n={len(v)})")
    print("#   wall: " + ", ".join(f"{k} {v:.1f} s" for k, v in ctx.walls.items())
          + " (setups " + ", ".join(f"{s:.2f}" for s in ctx.setups) + ")")
    if layers:
        for k, (v, unit) in layers.items():
            print(f"#   {w}.{k} = {v:.4f} {unit}")
        print(f"#   {w}.tracing_overhead: {overhead}")


def _overhead(out_dir: str, args, e2e) -> str:
    """Traced p50 against the untraced run of the same workload and
    seed (or, failing that, the latest untraced run)."""
    traced = e2e["p50_ms"][0]
    exact = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace0.json")
    cands = [exact] if os.path.exists(exact) else sorted(
        (os.path.join(out_dir, f) for f in os.listdir(out_dir)
         if f.startswith(f"{args.workload}-seed") and f.endswith("-trace0.json")),
        key=os.path.getmtime)
    if not cands:
        return (f"traced p50 {traced:.1f} ms; no untraced run of this "
                "workload yet (run --trace 0 first)")
    with open(cands[-1]) as f:
        base = json.load(f)["metrics"]["p50_ms"]["value"]
    return (f"traced p50 {traced:.1f} ms vs untraced {base:.1f} ms "
            f"({os.path.basename(cands[-1])}): {traced - base:+.1f} ms "
            f"({(traced - base) / base * 100:+.1f}%)")


def main(argv=None) -> int:
    args = _args(argv)
    root = os.getcwd()
    if not (os.path.isdir(os.path.join(root, "preql_spark"))
            and os.path.isfile(os.path.join(root, "__spark_entry__.py"))):
        print("pqbench: run from the repository root (preql_spark/ and "
              "__spark_entry__.py not found)", file=sys.stderr)
        return 2
    out_dir = os.path.join(root, ".pqbench_out")
    work = os.path.join(root, ".pqbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(out_dir, exist_ok=True)
    _environment(root, work)
    import datagen
    import probes
    from workloads import Ctx, run

    walls, t_start = {}, time.perf_counter()
    data_dir = datagen.generate(os.path.join(work, "data"), args.seed, SF)
    walls["datagen"] = time.perf_counter() - t_start
    spark = None
    try:
        setups = []
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            spark, eng, took = _setup(data_dir, args.workload)
            setups.append(took)
        ctx = Ctx(spark=spark, eng=eng, root=root, data_dir=data_dir,
                  work=work, seed=args.seed, seconds=args.seconds,
                  tracer=probes.Tracer(bool(args.trace)))
        walls["start+setup"] = time.perf_counter() - t_start
        run(ctx, args.workload)
        rss = probes.peak_rss_mb()
    finally:
        if spark is not None:
            _shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
    walls["workload"] = ctx.loop_s
    walls["verify"] = ctx.verify_s
    walls["total"] = time.perf_counter() - t_start
    ctx.walls, ctx.setups = {**walls, **ctx.walls}, setups
    if not ctx.ops:
        print("pqbench: no operation completed", file=sys.stderr)
        for f in ctx.failures:
            print(f"  {f}", file=sys.stderr)
        return 1
    e2e = end_to_end(ctx, setups, rss)
    layers = overhead = None
    if args.trace:
        layers = per_layer(ctx)
        overhead = _overhead(out_dir, args, e2e)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
        with open(os.path.join(out_dir, f"trace-{args.workload}-seed"
                               f"{args.seed}.json"), "w") as f:
            json.dump({"per_layer": layers, "overhead": overhead,
                       "ops": [vars(o) for o in ctx.ops],
                       "spans": ctx.tracer.dump()}, f)
    else:
        metrics = {k: {"value": e2e[k][0], "unit": u} for k, u in END_TO_END}
    result = {"correct": not ctx.failures, "attempted": ctx.attempted,
              "failed": len(ctx.failures), "metrics": metrics}
    if not args.trace:
        with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}"
                               "-trace0.json"), "w") as f:
            json.dump(result, f)
    _report(args, ctx, e2e, layers, overhead)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
