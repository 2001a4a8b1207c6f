"""Spans around the program's public functions, for the traced run.

``Tracer.patch`` replaces a public function at the place the program
looks it up (a module attribute or a class attribute) with a wrapper
that records one span per call: name, op id, start, end, parent span,
and the Spark jobs the call ran. Spans stay in memory and are written
out when the run ends. Nothing here is installed in an untraced run.

Jobs are counted as the rise in the scheduler's next job id across the
call. That id is assigned when a job is submitted and never reused, so
the count is exact whatever job group the program sets and however
many finished jobs the status store has already evicted. Stage and
task details of those jobs are read from the status store right after
the call, once the listener bus has drained.
"""

from __future__ import annotations

import functools
import os
import statistics
import time

from py4j.protocol import Py4JJavaError


def walk_sizes(root: str) -> dict[str, tuple[int, int]]:
    """{path: (size, mtime_ns)} for every file under ``root``."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:  # pruned while walking
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def written(before: dict, after: dict) -> tuple[int, int, set[str]]:
    """(bytes, files, bucket dirs) of files that are new or rewritten
    in ``after``. Bucket dirs are the ``__b=k`` parents of those files."""
    nbytes = nfiles = 0
    buckets = set()
    for p, meta in after.items():
        if before.get(p) != meta:
            nbytes += meta[0]
            nfiles += 1
            parent = os.path.basename(os.path.dirname(p))
            if parent.startswith("__b="):
                buckets.add(parent)
    return nbytes, nfiles, buckets


class SparkCounter:
    """Job, stage and task totals of a range of job ids."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()

    def next_job_id(self) -> int:
        return int(self._dag.nextJobId())

    def details(self, j0: int, j1: int) -> dict:
        """Stages and tasks actually run by jobs ``[j0, j1)``; skipped
        stages (shuffle output reused) are not counted."""
        self._bus.waitUntilEmpty()
        out = dict.fromkeys(
            (
                "stages",
                "tasks",
                "shuffle_read_bytes",
                "shuffle_write_bytes",
                "spill_bytes",
                "run_ms",
                "cpu_ms",
                "gc_ms",
            ),
            0,
        )
        out["skew"] = 1.0
        q = self._sc._gateway.new_array(self._sc._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        seen = set()
        for jid in range(j0, j1):
            try:
                ids = self._store.job(jid).stageIds()
            except Py4JJavaError:  # evicted: the job still counts
                continue
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                s = self._store.lastStageAttempt(sid)
                if str(s.status()) != "COMPLETE":
                    continue
                out["stages"] += 1
                out["tasks"] += s.numCompleteTasks()
                out["shuffle_read_bytes"] += s.shuffleReadBytes()
                out["shuffle_write_bytes"] += s.shuffleWriteBytes()
                out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
                out["run_ms"] += s.executorRunTime()
                out["cpu_ms"] += s.executorCpuTime() / 1e6
                out["gc_ms"] += s.jvmGcTime()
                summ = self._store.taskSummary(sid, s.attemptId(), q)
                if summ.isDefined():
                    rt = summ.get().executorRunTime()
                    med, mx = rt.apply(0), rt.apply(1)
                    if med > 0:
                        out["skew"] = max(out["skew"], mx / med)
        return out


class Tracer:
    """Records spans. One client thread drives the program, but
    ``foreachBatch`` callbacks run on the py4j callback thread while
    that client blocks in ``awaitTermination``; the span stack is
    therefore shared by both threads, which never run spans at once."""

    def __init__(self, spark) -> None:
        self.counter = SparkCounter(spark)
        self.table_root: str | None = None  # set once the table exists
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._undo: list[tuple] = []
        self.op: int | None = None  # None: set-up and warm-up

    def patch(self, owner, attr: str, name: str, details: bool = False,
              fs_diff: bool = False, record=None) -> None:
        """Wrap ``owner.attr``. ``details``: add stage and task totals;
        ``fs_diff``: add bytes, files and buckets written under the
        table root; ``record(span, result)``: add fields from the result."""
        orig = vars(owner)[attr]
        self._undo.append((owner, attr, orig))

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name, details=details, fs_diff=fs_diff) as rec:
                out = orig(*args, **kwargs)
                if record is not None:
                    record(rec, out)
                return out

        setattr(owner, attr, traced)

    def unpatch(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def span(self, name: str, details: bool = False, fs_diff: bool = False):
        return _Span(self, name, details, fs_diff)

    def measured(self, first_ops: int) -> list[dict]:
        """Spans of the first ``first_ops`` measured ops."""
        return [
            s for s in self.spans if s["op"] is not None and s["op"] < first_ops
        ]


class _Span:
    def __init__(self, tracer: Tracer, name: str, details: bool, fs_diff: bool):
        self.t = tracer
        self.rec = {"name": name, "op": tracer.op, "details": details}
        self.fs_diff = fs_diff and tracer.table_root is not None

    def __enter__(self) -> dict:
        t = self.t
        rec = self.rec
        rec["id"] = len(t.spans)
        rec["parent"] = t._stack[-1] if t._stack else None
        t.spans.append(rec)
        t._stack.append(rec["id"])
        if self.fs_diff:
            self._before = walk_sizes(t.table_root)
        rec["job0"] = t.counter.next_job_id()
        rec["start"] = time.perf_counter()
        return rec

    def __exit__(self, *exc) -> None:
        t = self.t
        rec = self.rec
        rec["end"] = time.perf_counter()
        rec["job1"] = t.counter.next_job_id()
        rec["jobs"] = rec["job1"] - rec["job0"]
        rec["error"] = exc[0].__name__ if exc[0] else None
        t._stack.pop()
        if rec.pop("details"):
            rec.update(t.counter.details(rec["job0"], rec["job1"]))
        if self.fs_diff:
            nbytes, nfiles, buckets = written(self._before, walk_sizes(t.table_root))
            rec.update(bytes_written=nbytes, files_written=nfiles,
                       buckets_touched=len(buckets))


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it its child spans cover."""
    child_time: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + (
                s["end"] - s["start"]
            )
    return {s["id"]: s["end"] - s["start"] - child_time.get(s["id"], 0.0) for s in spans}


def median_of(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0
