"""Spans and Spark-side counters for the traced pass.

A span is one timed call: the operation itself (a `main()` call or one
registered query) or a layer call inside it. Spans of one operation share
the operation's id. While a span is open its id is the Spark job group, so
every job the span starts is attributed to it; a structured-streaming run
sets its own job group (the run id), so stream jobs are attributed through
the streaming listener instead. Spans stay in memory and are written once,
when the run ends.

Everything here is read outside the timed windows: the per-span job, stage
and task figures come from Spark's status tracker and status store after
the operation has returned and the listener bus has drained.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql.streaming import StreamingQueryListener

# StreamingQueryProgress.durationMs parts reported per layer
STREAM_PHASES = {
    "latestOffset": "latest_offset_ms",
    "addBatch": "add_batch_ms",
    "walCommit": "wal_commit_ms",
    "commitOffsets": "commit_offsets_ms",
}


class _StreamListener(StreamingQueryListener):
    def __init__(self, tracer: "Tracer"):
        self.tracer = tracer

    def onQueryStarted(self, event):
        self.tracer.stream_started(str(event.runId))

    def onQueryProgress(self, event):
        p = event.progress
        self.tracer.stream_progress(
            str(p.runId), int(p.numInputRows), dict(p.durationMs or {})
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class Tracer:
    """Records spans and attributes Spark jobs, stages and stream batches
    to them. `span()` is the only call made inside timed windows."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._open: list[dict] = []
        self._next_id = 0
        self._stream_span: dict[str, dict] = {}
        self._counted_stages: set[int] = set()
        self._listener = _StreamListener(self)
        spark.streams.addListener(self._listener)

    def close(self) -> None:
        self.spark.streams.removeListener(self._listener)

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        parent = self._open[-1] if self._open else None
        sid = f"s{self._next_id}"
        self._next_id += 1
        rec = {
            "id": sid,
            "op": parent["op"] if parent else sid,
            "parent": parent["id"] if parent else None,
            "name": name,
            "layer": layer,
            **attrs,
            "stream_runs": [],
            "stream": {"batches": 0, "input_rows": 0},
        }
        self._open.append(rec)
        self.sc.setJobGroup(sid, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()
            if self._open:
                self.sc.setJobGroup(self._open[-1]["id"], self._open[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    # -- streaming listener callbacks (listener-bus thread) -------------
    def stream_started(self, run_id: str) -> None:
        if self._open:
            rec = self._open[-1]
            rec["stream_runs"].append(run_id)
            self._stream_span[run_id] = rec

    def stream_progress(self, run_id: str, rows: int, durations: dict) -> None:
        rec = self._stream_span.get(run_id)
        if rec is None:
            return
        st = rec["stream"]
        st["batches"] += 1
        st["input_rows"] += rows
        for key, name in STREAM_PHASES.items():
            st[name] = st.get(name, 0) + int(durations.get(key, 0))

    # -- after an operation: settle counters onto its spans -------------
    def settle(self, op_id: str) -> None:
        """Attach job, stage and task figures to every span of one
        operation. Called after the operation returned, outside its
        timed window."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        for rec in self.spans:
            if rec["op"] != op_id or "jobs" in rec:
                continue
            groups = [rec["id"]] + rec["stream_runs"]
            job_ids = [j for g in groups for j in tracker.getJobIdsForGroup(g)]
            stream_jobs = sum(
                len(tracker.getJobIdsForGroup(g)) for g in rec["stream_runs"]
            )
            rec["jobs"] = len(job_ids)
            rec["stream_jobs"] = stream_jobs
            rec["stages"] = _stage_totals(
                tracker, store, self.sc, job_ids, self._counted_stages
            )

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans, indent=1, default=str) + "\n")


_STAGE_FIELDS = {
    "tasks": lambda s: s.numTasks(),
    "failed_tasks": lambda s: s.numFailedTasks(),
    "executor_run_s": lambda s: s.executorRunTime() / 1e3,
    "executor_cpu_s": lambda s: s.executorCpuTime() / 1e9,
    "executor_gc_s": lambda s: s.jvmGcTime() / 1e3,
    "shuffle_write_mb": lambda s: s.shuffleWriteBytes() / 2**20,
    "shuffle_read_mb": lambda s: s.shuffleReadBytes() / 2**20,
    "spill_mb": lambda s: (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 2**20,
}


def _stage_totals(tracker, store, sc, job_ids, counted: set[int]) -> dict:
    """Sum the status store's per-stage metrics over the stages of the
    given jobs, every attempt of each. A stage a later job reuses (shown
    as skipped there) is counted once, for the span that first ran it."""
    totals = dict.fromkeys(_STAGE_FIELDS, 0.0)
    stage_ids = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(int(s) for s in info.stageIds)
    stage_ids -= counted
    counted |= stage_ids
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    for sid in stage_ids:
        attempts = store.stageData(sid, False, None, False, no_quantiles)
        it = attempts.iterator()
        while it.hasNext():
            st = it.next()
            for name, get in _STAGE_FIELDS.items():
                totals[name] += get(st)
    return totals


def jvm_stats(spark) -> dict:
    """Session-wide JVM figures: total GC time and peak heap use."""
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(g.getCollectionTime() for g in mx.getGarbageCollectorMXBeans())
    heap = sum(
        p.getPeakUsage().getUsed()
        for p in mx.getMemoryPoolMXBeans()
        if str(p.getType()) == "Heap memory"
    )
    return {"jvm_gc_s": gc_ms / 1e3, "jvm_heap_peak_mb": heap / 2**20}


def persisted_rdd_ids(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}
