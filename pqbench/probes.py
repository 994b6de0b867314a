"""Layer probes and spans, all read from outside the engine.

Every probe reads public Spark state after a call returns:

* Spark jobs of one call: a job group set around the call, then
  ``statusTracker().getJobIdsForGroup`` and, per stage,
  ``statusStore().lastStageAttempt`` (both work with the UI off).
  Jobs that run on a streaming query's own thread are outside the
  caller's group; streaming counters come from a
  ``StreamingQueryListener`` instead.
* Catalyst phase times: ``queryExecution().tracker().phases()`` after
  forcing ``executedPlan()``.
* JVM GC time: the ``GarbageCollectorMXBeans``.
* Peak memory: ``VmHWM`` of this process and its JVM child, from /proc.
* Files a DML operation writes: a diff of the table directory.

A :class:`Tracer` keeps spans in memory (name, start, end, parent,
operation id) and computes each layer's self time: a span's duration
minus the part of it that its child spans cover.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict

STAGE_FIELDS = {
    "task_ms": "executorRunTime",
    "input_bytes": "inputBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
}


class JobProbe:
    """Spark work done by one call, read through its job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self._n = 0

    def start(self, label: str) -> str:
        self._n += 1
        group = f"pqbench-{self._n}-{label}"
        self.sc.setJobGroup(group, label, False)
        return group

    def stop(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def read(self, group: str) -> dict:
        out = dict.fromkeys(("jobs", "stages", "tasks", "spill_bytes",
                             *STAGE_FIELDS), 0)
        tracker = self.sc.statusTracker()
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                try:
                    st = self.store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - skipped stage
                    continue
                if str(st.status()) != "COMPLETE":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["spill_bytes"] += (st.memoryBytesSpilled()
                                       + st.diskBytesSpilled())
                for k, f in STAGE_FIELDS.items():
                    out[k] += getattr(st, f)()
        return out


def catalyst_phases(df) -> dict:
    """Analysis, optimization and planning time of ``df``'s own
    QueryExecution, forcing its physical plan first.  Executing the
    same DataFrame afterwards (collect/toArrow) reuses that plan."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()      # a Scala Map
    out = {}
    for name in ("analysis", "optimization", "planning"):
        if phases.contains(name):
            ph = phases.apply(name)
            out[name] = float(ph.endTimeMs() - ph.startTimeMs())
        else:
            out[name] = 0.0
    return out


def gc_ms(spark) -> float:
    beans = (spark.sparkContext._jvm.java.lang.management
             .ManagementFactory.getGarbageCollectorMXBeans())
    return float(sum(max(0, b.getCollectionTime()) for b in beans))


def cache_empty(spark) -> bool:
    return bool(spark._jsparkSession.sharedState().cacheManager().isEmpty())


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as f:
            return [int(c) for c in f.read().split()]
    except OSError:
        return []


def peak_rss_mb() -> float:
    """High-water RSS of this Python process plus its JVM child."""
    me = os.getpid()
    kb = _hwm_kb(me)
    for child in _children(me):
        try:
            with open(f"/proc/{child}/comm") as f:
                if f.read().strip() == "java":
                    kb += _hwm_kb(child)
        except OSError:
            pass
    return kb / 1024.0


def dir_files(root: str) -> dict[str, int]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


def files_written(before: dict[str, int], after: dict[str, int]):
    """(files, bytes) of data files that appear in ``after`` only;
    checksum and marker files are not counted."""
    new = [p for p in after if p not in before
           and not os.path.basename(p).startswith((".", "_"))]
    return len(new), sum(after[p] for p in new)


def make_stream_listener():
    """A StreamingQueryListener that accumulates progress counters."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.batches = 0
            self.input_rows = 0
            self.trigger_ms = 0.0
            self.addbatch_ms = 0.0

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            d = p.durationMs or {}
            self.batches += 1
            self.input_rows += int(p.numInputRows or 0)
            self.trigger_ms += float(d.get("triggerExecution", 0))
            self.addbatch_ms += float(d.get("addBatch", 0))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def snapshot(self) -> dict:
            return {"batches": self.batches, "input_rows": self.input_rows,
                    "trigger_ms": self.trigger_ms,
                    "addbatch_ms": self.addbatch_ms}

    return Listener()


def flush_listeners(spark) -> None:
    """Wait until every posted listener event has been delivered."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)


class Span:
    __slots__ = ("name", "start", "end", "parent", "op", "sid")

    def __init__(self, sid, name, parent, op):
        self.sid, self.name, self.parent, self.op = sid, name, parent, op
        self.start = time.perf_counter()
        self.end = None

    def as_dict(self, t0: float) -> dict:
        return {"id": self.sid, "name": self.name, "parent": self.parent,
                "op": self.op, "start_ms": (self.start - t0) * 1e3,
                "end_ms": (self.end - t0) * 1e3}


class _NullSpan:
    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


class Tracer:
    """In-memory spans; disabled tracers record nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op_id = None
        self.t0 = time.perf_counter()

    def span(self, name: str):
        if not self.enabled:
            return _NullSpan()
        return _SpanCtx(self, name)

    def self_times_ms(self) -> dict[str, float]:
        """Per layer: sum over its spans of duration minus the union
        of the intervals its direct children cover."""
        kids = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append((s.start, s.end))
        out = defaultdict(float)
        for s in self.spans:
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in sorted(kids.get(s.sid, ())):
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s.name] += (s.end - s.start - covered) * 1e3
        return dict(out)

    def dump(self) -> list[dict]:
        return [s.as_dict(self.t0) for s in self.spans]


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        tr = self.tracer
        parent = tr._stack[-1].sid if tr._stack else None
        s = Span(len(tr.spans), self.name, parent, tr.op_id)
        tr.spans.append(s)
        tr._stack.append(s)
        return s

    def __exit__(self, *exc):
        s = self.tracer._stack.pop()
        s.end = time.perf_counter()
        return False
