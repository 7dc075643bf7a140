"""Outside-in layer probes for the traced run.

Everything here observes the program from the outside: it tags the
caller's Spark jobs with job groups and reads them back from Spark's
status store, reads the physical plan Spark built, listens to streaming
progress, and wraps two public program entry points
(``SessionCache.get_or_build``, ``sources.scaled_repartition``) to count
how often they build, hit or fan out. Nothing is installed unless the
run is traced.
"""

from __future__ import annotations

import re
import sys
from collections import Counter
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

PKG = "gcp_datalake_utils_spark"
_NODE_RE = re.compile(r"^[\s:|+\-]*(?:\*\(\d+\)\s*)?([A-Za-z]\w*)")
STAGE_FIELDS = {
    # metric key -> (StageData getter, scale to the reported unit)
    "task_cpu_s": ("executorCpuTime", 1e-9),
    "task_run_s": ("executorRunTime", 1e-3),
    "input_mb": ("inputBytes", 2.0 ** -20),
    "output_mb": ("outputBytes", 2.0 ** -20),
    "shuffle_read_mb": ("shuffleReadBytes", 2.0 ** -20),
    "shuffle_write_mb": ("shuffleWriteBytes", 2.0 ** -20),
    "spill_mb": ("diskBytesSpilled", 2.0 ** -20),
}


def plan_facts(plan_text: str) -> dict[str, int]:
    """Exchange and Python-evaluation node counts of a physical plan's
    tree string (``ReusedExchange`` re-reads an exchange, so it is not
    counted)."""
    exchanges = python_evals = 0
    for line in plan_text.splitlines():
        m = _NODE_RE.match(line)
        if not m:
            continue
        node = m.group(1)
        if node.endswith("Exchange") and node != "ReusedExchange":
            exchanges += 1
        elif "Python" in node or "InPandas" in node or "InArrow" in node:
            python_evals += 1
    return {"exchanges": exchanges, "python_evals": python_evals}


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class StreamWatch(StreamingQueryListener):
    """Collects stream starts and micro-batch progress. Callbacks arrive
    on Spark's listener thread; ``Probes.settle`` drains that queue
    before the lists are read."""

    def __init__(self) -> None:
        self.started: list[tuple[str, float]] = []
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        self.started.append((str(event.runId), _epoch(event.timestamp)))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.progress.append({
            "run_id": str(p.runId), "end": _epoch(p.timestamp)
            + p.batchDuration / 1e3,
            "add_batch_s": p.durationMs.get("addBatch", 0) / 1e3,
            "rows": p.numInputRows})

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class Probes:
    """Job-group accounting and program wrappers for one traced run."""

    def __init__(self, spark, tracer) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.counts: Counter = Counter()
        self.watch = StreamWatch()
        self._seen_starts = 0

    def install(self) -> None:
        from gcp_datalake_utils_spark.session import SessionCache
        from gcp_datalake_utils_spark.sources import registry

        self.spark.streams.addListener(self.watch)
        get_or_build = SessionCache.get_or_build
        tracer, counts = self.tracer, self.counts

        def traced_get_or_build(cache, key, builder):
            if key in cache:
                counts["cache_hits"] += 1
                return get_or_build(cache, key, builder)

            def build():
                with tracer.span("cache_build") as s:
                    value = builder()
                counts["cache_builds"] += 1
                counts["cache_build_s"] += s["end"] - s["start"]
                return value
            return get_or_build(cache, key, build)

        SessionCache.get_or_build = traced_get_or_build

        fan_out = registry.scaled_repartition

        def traced_scaled_repartition(df, *keys):
            out = fan_out(df, *keys)
            counts["fanout_fired" if out is not df
                   else "fanout_skipped"] += 1
            return out

        # modules bind the function at import; rebind every reference
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith(PKG):
                for attr, val in list(vars(mod).items()):
                    if val is fan_out:
                        setattr(mod, attr, traced_scaled_repartition)

    def memo_entries(self) -> int:
        """Entries in the detection and data-test memo dicts."""
        from gcp_datalake_utils_spark.operators import datatest, detection
        return len(detection._DETECT_CACHE) + len(datatest._REPORT_CACHE)

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def clear_group(self) -> None:
        self.sc._jsc.clearJobGroup()

    def settle(self) -> None:
        """Wait until Spark's listener bus has delivered every event, so
        the status store and the stream listener are complete."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def skip_streams(self) -> None:
        """Leave the streams started so far unattributed."""
        self.settle()
        self._seen_starts = len(self.watch.started)

    def adopt_streams(self, op_span: dict) -> list[str]:
        """runIds of the streams started since the last call; each
        drain becomes a child span of ``op_span``. Stream micro-batches
        run under the stream's runId job group, not the caller's."""
        new = self.watch.started[self._seen_starts:]
        self._seen_starts = len(self.watch.started)
        run_ids = []
        for run_id, start in new:
            batches = [p for p in self.watch.progress
                       if p["run_id"] == run_id]
            end = max((p["end"] for p in batches), default=start)
            self.tracer.add("stream_drain", start, end, op_span["id"],
                            run_id=run_id, batches=len(batches))
            self.counts["stream_drains"] += 1
            self.counts["stream_batches"] += len(batches)
            self.counts["stream_add_batch_s"] += sum(
                p["add_batch_s"] for p in batches)
            run_ids.append(run_id)
        return run_ids

    def job_stats(self, groups: list[str]) -> dict[str, float]:
        """Jobs, stages, tasks and task metrics of every job run under
        ``groups``, read from the status store. Skipped stages ran no
        tasks and are not counted."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        out = dict.fromkeys(["jobs", "stages", "tasks", *STAGE_FIELDS], 0.0)
        stage_ids: set[int] = set()
        for group in groups:
            for jid in tracker.getJobIdsForGroup(group):
                info = tracker.getJobInfo(jid)
                if info is not None:
                    out["jobs"] += 1
                    stage_ids.update(info.stageIds)
        for sid in stage_ids:
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - evicted or never submitted
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numTasks()
            for key, (getter, scale) in STAGE_FIELDS.items():
                out[key] += getattr(sd, getter)() * scale
        return out

    def catalog_tables(self) -> int:
        return len(self.spark.catalog.listTables())
