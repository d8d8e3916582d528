"""The traced run's per-layer ledger, collected from outside the engine.

Only the traced run builds a ``Ledger``; timed runs never touch the status
store, the listener or the MXBeans. Sources:

- Spark's own ``AppStatusStore`` (live with the UI disabled) for jobs,
  stages, tasks, executor time and shuffle/input/spill bytes;
- a ``StreamingQueryListener`` for each micro-batch's ``durationMs``;
- the JVM's garbage-collector MXBeans for GC time;
- ``/proc`` for JVM, JIT-compiler, GC-thread and Python-worker CPU
  (``host.cpu_sample``).

Entries run one at a time on one driver, so a job belongs to the entry
during which it was submitted: the ledger takes every job whose id is
above the highest job id in the store when the entry started. That
catches the jobs a streaming query runs on its own thread under its own
job group, which a caller-side job group would miss.
"""

from __future__ import annotations

import time
from collections import Counter
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

from perfbench import host

MB = float(1 << 20)

# One value per pass and workload; ``ENTRY_METRICS`` are also kept per
# entry for ``workloads.TARGET_ENTRIES``.
LAYER_METRICS = (
    "queries.call_s",
    "queries.action_s",
    "spark.jobs",
    "spark.stages",
    "spark.stages_skipped",
    "spark.tasks",
    "spark.executor_run_s",
    "spark.executor_cpu_s",
    "spark.shuffle_read_mb",
    "spark.shuffle_write_mb",
    "spark.input_mb",
    "spark.spill_mb",
    "spark.driver_gap_s",
    "pyworker.cpu_s",
    "streaming.queries",
    "streaming.batches",
    "streaming.add_batch_s",
    "streaming.overhead_s",
    "streaming.query_planning_s",
    "streaming.wal_commit_s",
    "streaming.commit_offsets_s",
    "streaming.latest_offset_s",
    "jvm.gc_s",
    "jvm.cpu_s",
    "jvm.jit_cpu_s",
    "jvm.gc_cpu_s",
)
ENTRY_METRICS = ("spark.jobs", "spark.driver_gap_s", "queries.call_s")


class _ProgressListener(StreamingQueryListener):
    """Buffers streaming events until the ledger drains them per entry."""

    def __init__(self) -> None:
        self.started = 0
        self.progress: list[dict[str, int]] = []

    def onQueryStarted(self, event) -> None:
        self.started += 1

    def onQueryProgress(self, event) -> None:
        self.progress.append(dict(event.progress.durationMs))

    def onQueryTerminated(self, event) -> None:
        pass


@dataclass
class EntryTrace:
    """What one entry execution did, layer by layer."""

    metrics: dict[str, float]
    # jobs per job group: ``None`` is the caller's thread, any other key a
    # streaming query's run id
    job_groups: Counter = field(default_factory=Counter)


def _covered_ms(intervals: list[tuple[int, int]], lo: int, hi: int) -> int:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    covered, end = 0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            covered += b - a
            end = b
    return covered


class Ledger:
    def __init__(self, spark, jvm_pid: int) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._gc_beans = list(
            spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )
        self._jvm_pid = jvm_pid
        self._listener = _ProgressListener()
        self._spark = spark
        spark.streams.addListener(self._listener)

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)

    def _drain(self) -> None:
        # the status store and the listener are fed asynchronously from the
        # listener bus; wait until every event posted so far is applied
        self._sc.listenerBus().waitUntilEmpty()

    def _max_job_id(self) -> int:
        jobs = self._store.jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    def _gc_ms(self) -> int:
        return sum(b.getCollectionTime() for b in self._gc_beans)

    def run(self, fn, spark, sf_dir: str):
        """Run one entry (call, then terminal ``count()``) under the ledger.
        Returns ``(row_count, EntryTrace)``."""
        self._drain()
        last_job = self._max_job_id()
        self._listener.started = 0
        self._listener.progress.clear()
        cpu0, gc0 = host.cpu_sample(self._jvm_pid), self._gc_ms()
        wall0 = time.time()
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        n = df.count()
        t2 = time.perf_counter()
        wall1 = time.time()
        cpu = host.cpu_sample(self._jvm_pid) - cpu0
        gc_ms = self._gc_ms() - gc0
        self._drain()
        m = dict.fromkeys(LAYER_METRICS, 0.0)
        m["queries.call_s"] = t1 - t0
        m["queries.action_s"] = t2 - t1
        m["pyworker.cpu_s"] = cpu.pyworker
        m["jvm.cpu_s"] = cpu.jvm
        m["jvm.jit_cpu_s"] = cpu.jit
        m["jvm.gc_cpu_s"] = cpu.gc
        m["jvm.gc_s"] = gc_ms / 1000.0
        trace = EntryTrace(m)
        self._add_jobs(trace, last_job, int(wall0 * 1000), int(wall1 * 1000))
        self._add_streaming(trace)
        return n, trace

    def _add_jobs(self, trace: EntryTrace, last_job: int, lo_ms: int, hi_ms: int) -> None:
        """Add every job with an id above ``last_job``."""
        m = trace.metrics
        jobs = self._store.jobsList(None)
        stage_ids: set[int] = set()
        intervals = []
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() <= last_job:
                break
            m["spark.jobs"] += 1
            group = job.jobGroup()
            trace.job_groups[group.get() if group.isDefined() else None] += 1
            ids = job.stageIds()
            stage_ids.update(ids.apply(k) for k in range(ids.size()))
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined():
                end = done.get().getTime() if done.isDefined() else hi_ms
                intervals.append((sub.get().getTime(), end))
        m["spark.driver_gap_s"] = (
            hi_ms - lo_ms - _covered_ms(intervals, lo_ms, hi_ms)
        ) / 1000.0
        for sid in stage_ids:
            s = self._store.lastStageAttempt(sid)
            m["spark.stages"] += 1
            if s.status().toString() == "SKIPPED":
                m["spark.stages_skipped"] += 1
                continue
            m["spark.tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            m["spark.executor_run_s"] += s.executorRunTime() / 1000.0
            m["spark.executor_cpu_s"] += s.executorCpuTime() / 1e9
            m["spark.shuffle_read_mb"] += s.shuffleReadBytes() / MB
            m["spark.shuffle_write_mb"] += s.shuffleWriteBytes() / MB
            m["spark.input_mb"] += s.inputBytes() / MB
            m["spark.spill_mb"] += s.diskBytesSpilled() / MB

    def _add_streaming(self, trace: EntryTrace) -> None:
        m = trace.metrics
        m["streaming.queries"] = self._listener.started
        for d in self._listener.progress:
            if "addBatch" not in d:
                continue  # a trigger that found no new data
            m["streaming.batches"] += 1
            m["streaming.add_batch_s"] += d["addBatch"] / 1000.0
            m["streaming.overhead_s"] += (
                d.get("triggerExecution", 0) - d["addBatch"]
            ) / 1000.0
            m["streaming.query_planning_s"] += d.get("queryPlanning", 0) / 1000.0
            m["streaming.wal_commit_s"] += d.get("walCommit", 0) / 1000.0
            m["streaming.commit_offsets_s"] += d.get("commitOffsets", 0) / 1000.0
            m["streaming.latest_offset_s"] += d.get("latestOffset", 0) / 1000.0
