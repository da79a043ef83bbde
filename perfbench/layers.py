"""Timing and per-layer counters, read from outside the engine.

``Tracer.span`` times a call on the benchmark side.  Every run times its
calls; a traced run also keeps each span (name, start, end, parent) in
memory and reads the Spark-side counters below, which untraced runs never
touch, so tracing costs nothing when it is off.

- jobs and tasks: the job group of each call (``sc.setJobGroup`` +
  ``statusTracker``) and, per phase, every job the status store recorded;
- code generation: ``CodeGenerator.compileTime()`` (cumulative ns);
- driver GC: the JVM's garbage-collector beans (cumulative ms);
- streaming: a ``StreamingQueryListener`` that keeps each trigger's
  progress (``durationMs`` phases, input rows, state operators).
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

STREAM_PHASES = ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset")


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        """Time the body; yields a dict whose ``s`` is the wall in seconds."""
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None}
        self._stack.append(name)
        start = time.perf_counter()
        try:
            yield rec
        finally:
            end = time.perf_counter()
            self._stack.pop()
            rec["s"] = end - start
            if self.enabled:
                rec["start"] = round(start - self.t0, 6)
                rec["end"] = round(end - self.t0, 6)
                self.spans.append(rec)

    # -- Spark-side counters (traced runs only) ------------------------------

    def set_group(self, group: str) -> None:
        if self.enabled:
            self.spark.sparkContext.setJobGroup(group, group)

    def group_jobs(self, group: str) -> int:
        if not self.enabled:
            return 0
        return len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))

    def codegen_ms(self) -> float:
        jvm = self.spark._jvm
        return jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime() / 1e6

    def gc_ms(self) -> float:
        beans = self.spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return float(sum(beans.get(i).getCollectionTime() for i in range(beans.size())))

    def last_job_id(self) -> int:
        jobs = self.spark.sparkContext._jsc.sc().statusStore().jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def jobs_since(self, mark: int) -> tuple[int, int]:
        """(jobs, completed tasks) of every job after job id ``mark``; job ids
        are consecutive, so the job count holds even if the store evicted
        some of them."""
        store = self.spark.sparkContext._jsc.sc().statusStore()
        last = self.last_job_id()
        tasks = 0
        for jid in range(mark + 1, last + 1):
            try:
                tasks += store.job(jid).numCompletedTasks()
            except Exception:
                pass  # evicted from the status store
        return last - mark, tasks


def staged_mb(spark) -> float:
    """Memory plus disk held by persisted blocks, from Spark's storage status."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(r.memSize() + r.diskSize() for r in infos) / 1e6


class StreamProgress(StreamingQueryListener):
    """Keeps every trigger's progress of every stream the session runs."""

    def __init__(self):
        self.progress: dict[tuple[str, int], dict] = {}

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        # idle heartbeats repeat the last batch id; one entry per trigger
        self.progress[(str(p.runId), p.batchId)] = {
            "input_rows": p.numInputRows,
            "duration_ms": dict(p.durationMs),
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
            "run": str(p.runId),
        }

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def summary(self, spark) -> dict:
        # listener events are delivered asynchronously; drain the bus first
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        prog = list(self.progress.values())
        triggers = [p for p in prog if p["input_rows"] > 0]
        out = {
            "streaming.triggers": len(triggers),
            "streaming.input_rows": sum(p["input_rows"] for p in prog),
        }
        for phase in STREAM_PHASES:
            out[f"streaming.{phase}_ms"] = float(sum(p["duration_ms"].get(phase, 0) for p in prog))
        walls = [p["duration_ms"].get("triggerExecution", 0) for p in triggers]
        out["streaming.trigger_p50_ms"] = float(statistics.median(walls)) if walls else 0.0
        # state held at each stream's last trigger, summed over streams
        last: dict[str, dict] = {}
        for (run, batch), p in sorted(self.progress.items()):
            last[run] = p
        out["streaming.state_rows"] = sum(p["state_rows"] for p in last.values())
        out["streaming.state_mb"] = sum(p["state_bytes"] for p in last.values()) / 1e6
        return out
