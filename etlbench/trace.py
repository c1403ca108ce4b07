"""Spans and per-op counters for the traced run.

Spans are recorded by the benchmark around its own calls into each layer
(name, start, end, parent, op id), kept in memory and written out once at
the end. Spark counters come from the status store, keyed by job group:
the benchmark sets one job group per traced op phase, and a streaming
query runs its jobs under its run id.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    def __init__(self, spark: SparkSession):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int | str):
        """Record one span; nested spans name the enclosing one as parent."""
        rec = {"name": name, "op": op, "start": time.perf_counter(),
               "end": None, "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def total(self, name: str, op: int | str) -> float:
        """Summed duration of the op's spans called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["op"] == op)

    def drain_listener_bus(self) -> None:
        """Wait until every Spark event so far reached the status store and
        the listeners, so the counters below are complete."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)

    def job_counters(self, *groups: str) -> dict[str, float]:
        """Jobs, completed stages and tasks, shuffle write bytes and bytes
        spilled to disk of every job run under ``groups``."""
        self.drain_listener_bus()
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        out = {"spark.jobs": 0, "spark.stages": 0, "spark.tasks": 0,
               "spark.shuffle_write_bytes": 0, "spark.spill_bytes": 0}
        for group in groups:
            for job_id in tracker.getJobIdsForGroup(group):
                out["spark.jobs"] += 1
                info = tracker.getJobInfo(job_id)
                for stage_id in (info.stageIds if info else []):
                    stage = store.lastStageAttempt(stage_id)
                    if stage.status().toString() != "COMPLETE":
                        continue  # skipped: its shuffle output was reused
                    out["spark.stages"] += 1
                    out["spark.tasks"] += stage.numCompleteTasks()
                    out["spark.shuffle_write_bytes"] += \
                        stage.shuffleWriteBytes()
                    out["spark.spill_bytes"] += stage.diskBytesSpilled()
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class ProgressLog(StreamingQueryListener):
    """Collects every StreamingQueryProgress of the queries it sees."""

    def __init__(self):
        self.run_ids: list[str] = []
        self.progress: list = []

    def onQueryStarted(self, event):
        self.run_ids.append(str(event.runId))

    def onQueryProgress(self, event):
        self.progress.append(event.progress)

    def onQueryTerminated(self, event):
        pass

    def phase_totals(self) -> dict[str, float]:
        """Microbatch phase times summed over the batches seen, and the
        state rows held after the last one."""
        def dur(p, key):
            return float(p.durationMs.get(key, 0))
        ps = self.progress
        return {
            "streaming.batches": len(ps),
            "streaming.add_batch_ms": sum(dur(p, "addBatch") for p in ps),
            "streaming.wal_commit_ms": sum(dur(p, "walCommit") for p in ps),
            "streaming.commit_offsets_ms":
                sum(dur(p, "commitOffsets") for p in ps),
            "streaming.state_commit_ms": sum(
                float(s.commitTimeMs) for p in ps for s in p.stateOperators),
            "streaming.state_rows": float(sum(
                s.numRowsTotal for s in ps[-1].stateOperators)) if ps else 0.0,
        }
