"""Scheduler and executor counters from Spark's in-process status store.

``StatusCollector.read()`` returns cumulative counters over every job and
stage the store has seen: jobs, stages run, stages skipped, tasks, failed
tasks, executor run time, shuffle bytes, spill bytes and input records.
Subtract two reads to attribute work to what ran in between.

The store is fed asynchronously by the listener bus, so each read first
drains the bus; otherwise a job's last stage can land in the next
interval. The store also evicts the oldest jobs and stages past
``spark.ui.retainedJobs`` / ``spark.ui.retainedStages``, after which
cumulative counts go backwards. The collector raises as soon as either
cap is reached instead of reporting wrong deltas; the benchmark raises
both caps far above what one run creates.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, fields

from pyspark.sql import SparkSession

# conf the benchmark session sets so that no run reaches the caps
RETAINED_CONF = {"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"}


@dataclass
class Counters:
    jobs: int = 0
    stages: int = 0
    skipped_stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    executor_run_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    input_records: int = 0

    def __sub__(self, other: "Counters") -> "Counters":
        return Counters(*(getattr(self, f.name) - getattr(other, f.name) for f in fields(self)))


class RetentionCapReached(RuntimeError):
    """The status store may have evicted jobs or stages."""


class StatusCollector:
    def __init__(self, spark: SparkSession):
        self._sc = spark.sparkContext._jsc.sc()
        self._jvm = spark.sparkContext._jvm
        conf = self._sc.conf()
        self._job_cap = int(conf.get("spark.ui.retainedJobs", "1000"))
        self._stage_cap = int(conf.get("spark.ui.retainedStages", "1000"))
        self._total = Counters()
        # newest job and stage ids already folded into _total
        self._last_job = -1
        self._last_stage = -1
        # time spent in read(): what tracing adds to the traced code
        self.read_seconds = 0.0

    def drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def read(self) -> Counters:
        """Drain the bus, fold in jobs and stages finished since the last
        read, and return the cumulative counters."""
        t0 = time.perf_counter()
        self.drain()
        store = self._sc.statusStore()
        jobs = store.jobsList(None)
        n_jobs = jobs.size()
        # Both lists come newest first. Reads happen between actions, so
        # every stage listed is finished and its figures are final.
        newest_job = self._last_job
        for i in range(n_jobs):
            job_id = jobs.apply(i).jobId()
            if job_id <= self._last_job:
                break
            self._total.jobs += 1
            newest_job = max(newest_job, job_id)
        self._last_job = newest_job
        stages = store.stageList(
            self._jvm.java.util.ArrayList(),
            *[getattr(store, f"stageList$default${i}")() for i in (2, 3, 4, 5)],
        )
        n_stages = stages.size()
        if n_jobs >= self._job_cap or n_stages >= self._stage_cap:
            raise RetentionCapReached(
                f"status store holds {n_jobs} jobs / {n_stages} stages, caps "
                f"{self._job_cap} / {self._stage_cap}: older entries may be evicted"
            )
        t = self._total
        newest = self._last_stage
        for i in range(n_stages):
            sd = stages.apply(i)
            sid = sd.stageId()
            if sid <= self._last_stage:
                break
            newest = max(newest, sid)
            if sd.status().toString() == "SKIPPED":
                t.skipped_stages += 1
                continue
            t.stages += 1
            t.tasks += sd.numCompleteTasks() + sd.numFailedTasks() + sd.numKilledTasks()
            t.failed_tasks += sd.numFailedTasks()
            t.executor_run_ms += sd.executorRunTime()
            t.shuffle_write_bytes += sd.shuffleWriteBytes()
            t.shuffle_read_bytes += sd.shuffleReadBytes()
            t.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            t.input_records += sd.inputRecords()
        self._last_stage = newest
        self.read_seconds += time.perf_counter() - t0
        return Counters(**{f.name: getattr(t, f.name) for f in fields(t)})


def stream_listener():
    """A StreamingQueryListener that keeps every progress report as
    (input rows, batch seconds, state rows). Built lazily so importing
    this module needs no Spark session."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamProgress(StreamingQueryListener):
        def __init__(self):
            self.batches: list[tuple[int, float, int]] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            state = sum(op.numRowsTotal for op in p.stateOperators)
            self.batches.append((p.numInputRows, p.batchDuration / 1000.0, state))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return StreamProgress()
