"""Per-stage metrics — the reference's counters/distributions as Spark
observability.

Reference metrics reproduced (SURVEY §2.7):
* MappingFn/Transform per-element latency Distribution -> per-batch
  ``observe()`` aggregates (count, avg over the batch);
* failed-message-reads / failed-bundles Counters -> error-row counts
  observed in the same single pass;
* ExecuteBundles/latency (write-finish − source create time,
  FhirIOWithMetrics.java:313-315) -> not measured yet: the listener
  records each batch's event-time watermark, not ``now - max(ts)``.

Everything is observation-only: no extra pass over the data.
"""

from __future__ import annotations

import json
import os
import threading
import time

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.listener import StreamingQueryListener

from .sink import fs_for


def latency_distribution(col: str) -> list[Column]:
    """Per-batch Distribution of a per-element latency column (µs): min,
    avg, max and p50/p95/p99 as ``lat_{min,avg,max,p50,p95,p99}_us``."""
    return [
        F.min(col).alias("lat_min_us"),
        F.avg(col).alias("lat_avg_us"),
        F.max(col).alias("lat_max_us"),
        F.percentile_approx(col, 0.5).alias("lat_p50_us"),
        F.percentile_approx(col, 0.95).alias("lat_p95_us"),
        F.percentile_approx(col, 0.99).alias("lat_p99_us"),
    ]


def observe_mapping(df: DataFrame, name: str = "mapping_metrics") -> DataFrame:
    """Attach counters to a mapping-operator output (ok/err columns):
    total, ok, err counts — readable per-batch from QueryProgress.

    When the operator ran with ``measure_latency`` (the reference's
    enablePerformanceMetrics) the ``_lat_us`` per-element column is present:
    the observation then also carries the transform-latency Distribution —
    min/avg/max and p50/p95/p99 percentiles per batch, the analogue of the
    Beam ``Distribution`` in MappingFn.java:53-54/205-210 — and the column
    is dropped after observation so it never reaches sinks."""
    aggs = [
        F.count(F.lit(1)).alias("rows_total"),
        F.count(F.col("ok")).alias("rows_ok"),
        F.count(F.col("err")).alias("rows_err"),
    ]
    has_latency = "_lat_us" in df.columns
    if has_latency:
        aggs += latency_distribution("_lat_us")
    out = df.observe(name, *aggs)
    return out.drop("_lat_us") if has_latency else out


_STATE_FIELDS = (
    "numRowsTotal",
    "memoryUsedBytes",
    "numRowsDroppedByWatermark",
    "commitTimeMs",
)


class MetricsListener(StreamingQueryListener):
    """Captures per-batch throughput, observed counters, state-store size
    and the watermark to an in-memory list and, when ``path`` names a
    directory (a local path or any URI the sinks accept), to one
    ``<query>-<batchId>.json`` record per batch there — the engine's
    metrics table. Each record is one whole-file write through the sinks'
    FS facade: no append, and a replayed batch overwrites its own record."""

    def __init__(self, path: str | None = None):
        self.progress: list[dict] = []
        self.path = path
        self._fs = None
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        row = {
            "query": p.name,
            "batch_id": p.batchId,
            "num_input_rows": p.numInputRows,
            "rows_per_sec": p.processedRowsPerSecond,
            "watermark": p.eventTime.get("watermark") if p.eventTime else None,
            "observed": {k: v.asDict() for k, v in (p.observedMetrics or {}).items()},
            # engine-phase breakdown (addBatch / getBatch / walCommit /
            # commitOffsets / queryPlanning / triggerExecution, ms) — the
            # evidence for where per-batch fixed costs live
            "duration_ms": dict(p.durationMs or {}),
            # state-store footprint of this batch, summed over the stateful
            # operators: open sessions, their memory, rows the watermark
            # dropped before they reached state, and the state commit time
            "state_operators": {
                k: sum(getattr(op, k) for op in p.stateOperators or [])
                for k in _STATE_FIELDS
            },
            "wallclock": time.time(),
        }
        with self._lock:
            self.progress.append(row)
            if self.path:
                if self._fs is None:
                    self._fs = fs_for(self.path)
                    self._fs.mkdirs(self.path)
                self._fs.write_text(
                    os.path.join(self.path, f"{p.name or p.id}-{p.batchId}.json"),
                    json.dumps(row, default=str),
                )

    def onQueryTerminated(self, event):
        pass

    def onQueryIdle(self, event):
        pass
