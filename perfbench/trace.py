"""Spans around calls into the package, plus counts read from outside it.

A :class:`Tracer` records one span per call into a layer's public
function (name, start, end, parent span, op id), keeps them in memory
and writes them out once, when the run ends.  Spark work is attributed
to an op by job-id window: every job the DAG scheduler numbered between
the op's start and end belongs to it, whatever job group it carries
(streaming micro-batch jobs set their own group, so ``setJobGroup``
attribution misses them).  Counts come from Spark's status store, the
filesystem and a streaming query listener.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from datetime import datetime

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

SPARK_COUNTERS = ("jobs", "stages", "tasks", "executor_run_s",
                  "executor_cpu_s", "gc_s", "shuffle_read_mb",
                  "shuffle_write_mb", "spill_mb")
_MB = 1 << 20


def union_length(intervals) -> float:
    """Total length covered by possibly overlapping (start, end) pairs."""
    total = 0.0
    end_so_far = None
    for start, end in sorted(intervals):
        if end_so_far is None or start > end_so_far:
            total += end - start
            end_so_far = end
        elif end > end_so_far:
            total += end - end_so_far
            end_so_far = end
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part its child spans cover."""
    children: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(
                (s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - union_length(children.get(s["id"], ())) for s in spans}


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes, files) under *path*, Spark/Hadoop checksum files included."""
    files = dir_files(path)
    return sum(size for size, _ in files.values()), len(files)


def dir_files(path: str) -> dict[str, tuple[int, int]]:
    """File path -> (size, mtime_ns) for every file under *path*."""
    out = {}
    for root, _dirs, names in os.walk(path):
        for n in names:
            st = os.stat(os.path.join(root, n))
            out[os.path.join(root, n)] = (st.st_size, st.st_mtime_ns)
    return out


def written_since(path: str, before: dict) -> tuple[int, int]:
    """(bytes, files) of the files under *path* created or rewritten
    since the *before* snapshot of :func:`dir_files`."""
    new = [size for f, (size, mtime) in dir_files(path).items()
           if before.get(f) != (size, mtime)]
    return sum(new), len(new)


class JobWindow:
    """Spark jobs numbered inside a time window, read from the status
    store after the listener bus has drained."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()

    def next_job_id(self) -> int:
        return self._sc.dagScheduler().numTotalJobs()

    def summarize(self, first_id: int, end_id: int) -> dict:
        """Counters and job intervals (epoch seconds) of jobs
        ``first_id <= id < end_id``."""
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        out = dict.fromkeys(SPARK_COUNTERS, 0.0)
        intervals = []
        ids = []
        for job_id in range(first_id, end_id):
            try:
                job = store.job(job_id)
            except Py4JJavaError:  # NoSuchElementException: not retained
                continue
            ids.append(job_id)
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3,
                                  done.get().getTime() / 1e3))
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                try:
                    st = store.lastStageAttempt(stage_ids.apply(i))
                except Py4JJavaError:
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["executor_run_s"] += st.executorRunTime() / 1e3
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["shuffle_read_mb"] += st.shuffleReadBytes() / _MB
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / _MB
                out["spill_mb"] += (st.memoryBytesSpilled()
                                    + st.diskBytesSpilled()) / _MB
        out["job_ids"] = ids
        out["intervals"] = intervals
        return out


class ProgressListener(StreamingQueryListener):
    """Collects every micro-batch's progress of every streaming query."""

    def __init__(self):
        self.progress: list[tuple[float, dict]] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        # the batch's trigger time, e.g. 2026-01-01T00:00:00.000Z
        started = datetime.fromisoformat(p.timestamp).timestamp()
        self.progress.append((started, {
            "batches": 1,
            "batch_s": p.batchDuration / 1e3,
            "input_rows": p.numInputRows,
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
        }))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class Tracer:
    """Spans and per-op counters; disabled, it only measures wall time.

    While ops run, a traced op records only its span and its job-id
    window; :meth:`finish` reads the status store and attributes the
    streaming progress afterwards, so the reading stays out of the
    timed passes."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[int] = []
        self._op_id = 0
        if enabled:
            self._jobs = JobWindow(spark)
            self.listener = ProgressListener()
            spark.streams.addListener(self.listener)

    @contextmanager
    def span(self, name: str):
        """A parent span (a pass) around the ops it contains."""
        if not self.enabled:
            yield
            return
        self._stack.append(self._record(name, time.time()))
        try:
            yield
        finally:
            self.spans[self._stack.pop()]["end"] = time.time()

    @contextmanager
    def op(self, name: str):
        """Time one op of a pass.  Yields a dict the caller may add
        counts to; ``s`` is filled with the op's wall seconds, and when
        traced :meth:`finish` adds its Spark and streaming counts."""
        rec: dict = {}
        if self.enabled:
            self._op_id += 1
            rec["job_window"] = (self._jobs.next_job_id(), None)
        start = time.time()
        if self.enabled:
            self._stack.append(self._record(name, start))
        try:
            yield rec
        finally:
            end = time.time()
            rec["s"] = end - start
            if self.enabled:
                self.spans[self._stack.pop()]["end"] = end
                rec["job_window"] = (rec["job_window"][0],
                                     self._jobs.next_job_id())
                rec["interval"] = (start, end)
                self.ops.append({"name": name, "rec": rec})

    def finish(self) -> None:
        """Fill every traced op's record with the Spark counters of its
        job window and the streaming progress reported inside it."""
        for op in self.ops:
            rec = op["rec"]
            spark = self._jobs.summarize(*rec.pop("job_window"))
            busy = union_length(spark.pop("intervals"))
            rec.update(spark)
            rec["spark_s"] = busy
            rec["driver_gap_s"] = max(0.0, rec["s"] - busy)
            start, end = rec.pop("interval")
            for t, p in self.listener.progress:
                if start <= t <= end:
                    for k, v in p.items():
                        rec[f"streaming.{k}"] = rec.get(f"streaming.{k}", 0) + v

    def _record(self, name: str, start: float) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"id": len(self.spans), "name": name,
                           "start": start, "end": None, "parent": parent,
                           "op_id": self._op_id})
        return len(self.spans) - 1

    def write(self, path: str) -> None:
        """Write spans (with self time) and per-op records as JSON."""
        selfs = self_times(self.spans)
        for s in self.spans:
            s["self_s"] = selfs[s["id"]]
        ops = [{"name": op["name"], **op["rec"]} for op in self.ops]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "ops": ops}, f, indent=1,
                      default=str)
