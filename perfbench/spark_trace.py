"""Per-layer accounting for traced runs, read from outside the package.

Every phase of a step runs in its own Spark job group. After the phase,
``Tracer.read`` drains the listener bus and reads that group's jobs,
the stages they ran and their task metrics from the JVM status store
(populated with the UI disabled). Reading per phase keeps every read
far inside the status store's retained-job and retained-stage limits.
Bytes scanned come from the SQL status store: the "size of files read"
metric of every file scan in the group's SQL executions (Spark formats
it to three digits; neither the stages' input bytes nor Hadoop's
file-system counters see Parquet's vectored reads). Bytes written come
from Hadoop's ``file`` file-system counters, which in ``local[n]`` see
every task, since all of them run in the driver JVM.

Micro-batches of a streaming query run on the stream's own thread,
outside the caller's job group, so streaming numbers come from a
``StreamingQueryListener`` this module registers instead.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class _StreamTally(StreamingQueryListener):
    def __init__(self):
        self.batches = 0
        self.batch_s = 0.0
        self.input_rows = 0

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.batches += 1
        self.batch_s += p.durationMs.get("triggerExecution", 0) / 1000.0
        self.input_rows += p.numInputRows

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class Tracer:
    """Spark-side counters of one session, read per job group."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        jvm = self.sc._jvm
        self._fs = jvm.org.apache.hadoop.fs.FileSystem
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._sql_seen = self._sql.executionsCount()
        self._quantiles = self.sc._gateway.new_array(jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0
        self._groups = 0
        self._started_ms: dict[str, int] = {}
        self.streams = _StreamTally()
        spark.streams.addListener(self.streams)

    def close(self) -> None:
        self.spark.streams.removeListener(self.streams)

    def _drain(self) -> None:
        self._bus.waitUntilEmpty()

    def bytes_written(self) -> int:
        stats = self._fs.getGlobalStorageStatistics().get("file")
        return 0 if stats is None else stats.getLong("bytesWritten")

    def _scan_bytes(self, job_ids: set) -> int:
        """Files-read size of the scans in the SQL executions that ran
        any of ``job_ids``, among those that ended since the last call."""
        n = self._sql.executionsCount()
        if n == self._sql_seen:
            return 0
        execs = self._sql.executionsList(self._sql_seen, n - self._sql_seen)
        self._sql_seen = n
        total = 0
        for i in range(execs.size()):
            ex = execs.apply(i)
            it, ran = ex.jobs().keysIterator(), False
            while it.hasNext():
                ran |= it.next() in job_ids
            if not ran:
                continue
            values = self._sql.executionMetrics(ex.executionId())
            nodes = self._sql.planGraph(ex.executionId()).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                if not node.name().startswith("Scan"):
                    continue
                metrics = node.metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    if m.name() == "size of files read":
                        v = values.get(m.accumulatorId())
                        if v.isDefined():
                            total += _parse_size(v.get())
        return total

    def stream_totals(self) -> tuple[int, float, int]:
        self._drain()
        s = self.streams
        return s.batches, s.batch_s, s.input_rows

    @contextmanager
    def group(self, name: str):
        """Run the body in a fresh job group; yields the group id."""
        self._groups += 1
        gid = f"perfbench-{self._groups}-{name}"
        self._started_ms[gid] = int(time.time() * 1000)
        self.sc.setJobGroup(gid, name, False)
        try:
            yield gid
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def read(self, gid: str) -> dict:
        """Jobs, ran stages and task metrics of one job group."""
        self._drain()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "task_s": 0.0,
               "gc_s": 0.0, "shuffle_write_bytes": 0,
               "shuffle_read_bytes": 0, "spill_bytes": 0,
               "max_task_skew": 1.0}
        seen = set()
        job_ids = set(self.sc.statusTracker().getJobIdsForGroup(gid))
        out["scan_bytes"] = self._scan_bytes(job_ids)
        for jid in job_ids:
            out["jobs"] += 1
            sids = self._store.job(jid).stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                sd = self._store.lastStageAttempt(sid)
                # a reused shuffle stage is listed by the later job but
                # never ran there: it is SKIPPED, or COMPLETE from a job
                # that was submitted before this group started
                if sd.status().toString() not in ("COMPLETE", "FAILED"):
                    continue
                sub = sd.submissionTime()
                if (sub.isDefined()
                        and sub.get().getTime() < self._started_ms[gid]):
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["task_s"] += sd.executorRunTime() / 1000.0
                out["gc_s"] += sd.jvmGcTime() / 1000.0
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["spill_bytes"] += (sd.memoryBytesSpilled()
                                       + sd.diskBytesSpilled())
                if sd.numCompleteTasks() > 1:
                    dist = self._store.taskSummary(
                        sid, sd.attemptId(), self._quantiles)
                    if dist.isDefined():
                        run = dist.get().executorRunTime()
                        med, top = run.apply(0), run.apply(1)
                        if med > 0:
                            out["max_task_skew"] = max(
                                out["max_task_skew"], top / med)
        return out


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40}


def _parse_size(text: str) -> int:
    """Bytes from Spark's size format, e.g. ``23.7 MiB``; for a per-task
    metric (``total (min, med, max ...)\n<total> (...)``) the total."""
    m = re.search(r"([0-9.]+) (B|KiB|MiB|GiB|TiB)", text.split("\n")[-1])
    return round(float(m.group(1)) * _UNITS[m.group(2)]) if m else 0
