"""Spans and Spark counters, recorded from outside the program.

A span is (name, start, end, parent, counters).  Spans live in memory and
are written out when the run ends.  Counter spans diff Spark's own status
store (the store behind the web UI, live even with the UI disabled)
around the span: jobs and stages whose ids are newer than those seen at
the span's start belong to it, because one closed-loop client drives the
session and nothing else submits work.
"""

from __future__ import annotations

import functools
import json
import statistics
import sys
import time
from contextlib import contextmanager

_REF_LONGS = 2_000_000

# StageData fields summed per span, with their scale to the reported unit.
STAGE_FIELDS = {
    "tasks": ("numTasks", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "input_bytes": ("inputBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
}


class SparkCounters:
    """Reads Spark's status store through py4j, and the resident memory
    of the driver's two processes (JVM and Python)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._gateway = sc._gateway
        self._no_quantiles = self._gateway.new_array(sc._jvm.double, 0)
        self._quantiles = self._gateway.new_array(sc._jvm.double, 2)
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0
        self._jvm_pid = int(sc._jvm.java.lang.ProcessHandle.current().pid())
        self._ref_input = None

    def reference_s(self) -> float:
        """Seconds the driver JVM takes to sort a fixed array of 2M longs on
        one thread: the host's current speed, measured with no code of the
        program (a parallel sort read twice as noisy).  The first calls
        compile the sort and are discarded."""
        jvm = self._gateway.jvm
        if self._ref_input is None:
            self._ref_input = jvm.java.util.Random(42).longs(_REF_LONGS).toArray()
            for _ in range(3):
                self.reference_s()
        data = jvm.java.util.Arrays.copyOf(self._ref_input, _REF_LONGS)
        t0 = time.perf_counter()
        jvm.java.util.Arrays.sort(data)
        return time.perf_counter() - t0

    def reset_peak_rss(self) -> None:
        """Full JVM GC, then restart the resident-memory high-water marks
        of the JVM and of this (the Python driver) process."""
        self._gateway.jvm.System.gc()
        for pid in (self._jvm_pid, "self"):
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")

    def peak_rss_mb(self) -> float:
        """VmHWM of the JVM plus that of the Python driver, in MiB."""
        total = 0
        for pid in (self._jvm_pid, "self"):
            with open(f"/proc/{pid}/status") as f:
                total += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        return total / 1024.0

    def _drain(self) -> None:
        # Status events reach the store asynchronously.
        self._jsc.listenerBus().waitUntilEmpty()

    def mark(self) -> tuple[int, int]:
        """Newest (job id, stage id) in the store."""
        self._drain()
        jobs = self._store.jobsList(None)
        stages = self._store.stageList(None, False, False, self._no_quantiles, None)
        return (
            jobs.apply(0).jobId() if jobs.size() else -1,
            stages.apply(0).stageId() if stages.size() else -1,
        )

    def since(self, mark: tuple[int, int]) -> dict[str, float]:
        """Counters of the jobs and stages submitted after ``mark``."""
        self._drain()
        last_job, last_stage = mark
        jobs = self._store.jobsList(None)  # newest first
        n_jobs = 0
        while n_jobs < jobs.size() and jobs.apply(n_jobs).jobId() > last_job:
            n_jobs += 1
        stages = self._store.stageList(None, False, False, self._no_quantiles, None)
        out = {k: 0.0 for k in STAGE_FIELDS}
        out.update(jobs=float(n_jobs), stages=0.0, task_max_over_median=0.0,
                   task_max_over_median_tasks=0.0)
        widest = None  # (executor run ms, stage id, attempt, tasks)
        i = 0
        while i < stages.size():
            s = stages.apply(i)
            i += 1
            if s.stageId() <= last_stage:
                break
            out["stages"] += 1
            for key, (getter, scale) in STAGE_FIELDS.items():
                out[key] += getattr(s, getter)() * scale
            run_ms, n_tasks = s.executorRunTime(), s.numTasks()
            if n_tasks > 1 and (widest is None or run_ms > widest[0]):
                widest = (run_ms, s.stageId(), s.attemptId(), n_tasks)
        if widest is not None:
            # Task skew of the span's busiest multi-task stage.
            summary = self._store.taskSummary(widest[1], widest[2], self._quantiles)
            if summary.isDefined():
                q = summary.get().executorRunTime()
                if q.apply(0) > 0:
                    out["task_max_over_median"] = q.apply(1) / q.apply(0)
                    out["task_max_over_median_tasks"] = float(widest[3])
        out["shuffle_bytes_per_input_byte"] = (
            out["shuffle_write_bytes"] / out["input_bytes"] if out["input_bytes"] else 0.0
        )
        return out

    def cached_bytes(self) -> int:
        """Memory + disk bytes of every cached RDD (``getRDDStorageInfo``)."""
        return sum(i.memSize() + i.diskSize() for i in self._jsc.getRDDStorageInfo())


class Tracer:
    """In-memory span recorder.  ``active`` gates recording, so the same
    wrapped code runs traced and untraced jobs in one process."""

    def __init__(self, counters: SparkCounters | None):
        self.counters = counters
        self.active = False
        self.spans: list[dict] = []
        self.cache_peak: dict[int, int] = {}  # job -> cached RDD bytes
        self._stack: list[int] = []
        self._job = -1
        self._label = ""

    def start_job(self, label: str) -> None:
        self._job += 1
        self._label = label

    def sample_cache(self) -> None:
        if self.active:
            self.cache_peak[self._job] = max(
                self.cache_peak.get(self._job, 0), self.counters.cached_bytes()
            )

    @contextmanager
    def span(self, name: str, counters: bool = False, **attrs):
        if not self.active:
            yield {}
            return
        rec = {
            "id": len(self.spans), "name": name, "job": self._job,
            "label": self._label, "parent": self._stack[-1] if self._stack else None,
            "attrs": dict(attrs),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        mark = self.counters.mark() if counters else None
        rec["start"] = time.perf_counter()
        try:
            yield rec["attrs"]
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if counters:
                rec["counters"] = self.counters.since(mark)

    def wrap(self, fn, name: str, counters: bool = False, on_result=None):
        """``fn`` inside a span; ``on_result(attrs, args, result)`` may
        record attributes of the call."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(name, counters=counters) as attrs:
                result = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(attrs, args, result)
                return result

        return traced

    # ---- reporting -------------------------------------------------------

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def total_by_job(self, name: str, jobs: int) -> float:
        """Seconds inside spans ``name`` per traced job."""
        return sum(s["end"] - s["start"] for s in self.named(name)) / max(1, jobs)

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the time its child spans cover."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"] - child_time.get(s["id"], 0.0)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1, default=str)


def patch_everywhere(module, attr: str, replacement, package: str = "uw_mapreduce_spark"):
    """Point ``module.attr`` and every ``from module import attr`` copy in
    ``package`` at ``replacement``.  Returns an undo callable."""
    original = getattr(module, attr)
    touched = []
    for mod in list(sys.modules.values()):
        name = getattr(mod, "__name__", "")
        if (name == package or name.startswith(package + ".")) and getattr(mod, attr, None) is original:
            setattr(mod, attr, replacement)
            touched.append(mod)

    def undo():
        for mod in touched:
            setattr(mod, attr, original)

    return undo


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0
