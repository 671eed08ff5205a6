"""Layer tracing from outside the program.

Two sources, both read after each call returns (only one call is in
flight at a time, so everything a call started belongs to it):

- Spark's status store (``statusStore().stageList`` / ``jobsList``),
  which keeps per-stage run/CPU/GC time, shuffle and spill bytes and
  submission/completion times even with the UI disabled.  Stages are
  attributed by stage id: every stage newer than the last one read
  belongs to the call that just ended.  The round's write pool runs
  jobs from plain Python threads that carry no job group, so job groups
  cannot be used for attribution.  The store keeps only the newest
  1,000 stages by default, hence one read per call.
- Wrappers around ``SnapshotStore`` write methods (busy time and calls).

Spans are kept in memory and written out when the benchmark ends.
"""

from __future__ import annotations

import threading
import time
from dataclasses import dataclass, field

STAGE_FIELDS = {
    "executor_run_s": lambda s: s.executorRunTime() / 1e3,
    "executor_cpu_s": lambda s: s.executorCpuTime() / 1e9,
    "gc_s": lambda s: s.jvmGcTime() / 1e3,
    "shuffle_write_bytes": lambda s: s.shuffleWriteBytes(),
    "shuffle_read_bytes": lambda s: s.shuffleReadBytes(),
    "spill_bytes": lambda s: s.memoryBytesSpilled() + s.diskBytesSpilled(),
    "input_bytes": lambda s: s.inputBytes(),
}


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1e3 if opt.isDefined() else None


@dataclass
class CallStats:
    """What Spark did during one call: counters plus stage intervals."""

    jobs: int = 0
    stages: int = 0
    counters: dict = field(default_factory=lambda: {k: 0.0 for k in STAGE_FIELDS})
    intervals: list = field(default_factory=list)

    def busy_s(self, t0: float, t1: float) -> float:
        """Wall time inside [t0, t1] covered by at least one stage."""
        spans = sorted((max(a, t0), min(b, t1)) for a, b in self.intervals)
        busy, cur_a, cur_b = 0.0, None, None
        for a, b in spans:
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    busy += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            busy += cur_b - cur_a
        return busy


class SparkProbe:
    """Reads the stages and jobs Spark ran since the previous read."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._gw = sc._gateway
        self._status = sc._jsc.sc().statusStore()
        self._last_stage = self._max_id(self._stage_list(), "stageId")
        self._last_job = self._max_id(self._job_list(), "jobId")

    def _stage_list(self):
        # toVector: indexing the returned linked list from py4j is O(i)
        empty = self._jvm.java.util.ArrayList
        return self._status.stageList(
            empty(), False, False, self._gw.new_array(self._jvm.double, 0), empty()
        ).toVector()

    def _job_list(self):
        return self._status.jobsList(self._jvm.java.util.ArrayList()).toVector()

    @staticmethod
    def _max_id(seq, attr: str) -> int:
        ids = [getattr(seq.apply(i), attr)() for i in range(seq.size())]
        return max(ids, default=-1)

    def _newer(self, seq, attr: str, last: int) -> list:
        """Elements with id > last.  The lists are sorted by id (stages
        ascending, jobs descending), so only the new end is visited."""
        n = seq.size()
        if n == 0:
            return []
        first_id = getattr(seq.apply(0), attr)()
        ascending = n == 1 or first_id < getattr(seq.apply(n - 1), attr)()
        order = range(n - 1, -1, -1) if ascending else range(n)
        out = []
        for i in order:
            el = seq.apply(i)
            if getattr(el, attr)() <= last:
                break
            out.append(el)
        return out

    def read(self) -> CallStats:
        stats = CallStats()
        stages = self._newer(self._stage_list(), "stageId", self._last_stage)
        jobs = self._newer(self._job_list(), "jobId", self._last_job)
        for s in stages:
            self._last_stage = max(self._last_stage, s.stageId())
            if str(s.status().toString()) == "SKIPPED":
                continue
            stats.stages += 1
            for k, fn in STAGE_FIELDS.items():
                stats.counters[k] += fn(s)
            a, b = _opt_ms(s.submissionTime()), _opt_ms(s.completionTime())
            if a is not None and b is not None:
                stats.intervals.append((a, b))
        for j in jobs:
            self._last_job = max(self._last_job, j.jobId())
        stats.jobs = len(jobs)
        return stats


class StoreWriteTracer:
    """Wraps the ``SnapshotStore`` write methods to count calls and busy
    time.  Writes run concurrently from the round's write pool, so busy
    time is the sum over calls; nested calls (a write method calling
    another) count once, at the outermost call."""

    METHODS = ("append", "append_many", "append_rows", "overwrite", "overwrite_partitions")

    def __init__(self, store_cls):
        self._cls = store_cls
        self._orig = {m: getattr(store_cls, m) for m in self.METHODS}
        self._lock = threading.Lock()
        self._depth = threading.local()
        self.calls = 0
        self.busy_s = 0.0

    def install(self) -> None:
        for name, fn in self._orig.items():
            setattr(self._cls, name, self._wrap(fn))

    def uninstall(self) -> None:
        for name, fn in self._orig.items():
            setattr(self._cls, name, fn)

    def take(self) -> tuple[int, float]:
        with self._lock:
            out = (self.calls, self.busy_s)
            self.calls, self.busy_s = 0, 0.0
        return out

    def _wrap(self, fn):
        tracer = self

        def wrapped(*args, **kwargs):
            depth = getattr(tracer._depth, "n", 0)
            tracer._depth.n = depth + 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._depth.n = depth
                if depth == 0:
                    dt = time.perf_counter() - t0
                    with tracer._lock:
                        tracer.calls += 1
                        tracer.busy_s += dt

        return wrapped


class Tracer:
    """Spans around the benchmark's calls into each layer, with the
    Spark work each call caused.  ``enabled=False`` records nothing and
    touches neither the status store nor the store class."""

    def __init__(self, spark, store_cls, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.probe = SparkProbe(spark) if enabled else None
        self.writes = StoreWriteTracer(store_cls) if enabled else None
        if enabled:
            self.writes.install()

    def close(self) -> None:
        if self.writes is not None:
            self.writes.uninstall()

    def call(self, layer: str, fn, *args, parent: str | None = None, **kwargs):
        """Run ``fn`` and return (result, wall seconds, span or None)."""
        if self.enabled:
            self.probe.read()  # drop anything started between calls
            self.writes.take()
        t0 = time.time()
        result = fn(*args, **kwargs)
        t1 = time.time()
        if not self.enabled:
            return result, t1 - t0, None
        st = self.probe.read()
        calls, busy = self.writes.take()
        span = {
            "layer": layer,
            "parent": parent,
            "start": t0,
            "end": t1,
            "wall_s": t1 - t0,
            "jobs": st.jobs,
            "stages": st.stages,
            "driver_s": (t1 - t0) - st.busy_s(t0, t1),
            "store_write_calls": calls,
            "store_write_s": busy,
            **st.counters,
        }
        self.spans.append(span)
        return result, t1 - t0, span
