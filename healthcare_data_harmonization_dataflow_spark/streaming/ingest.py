"""Dedicated message-ingest sink — the HL7v2IO.ingestMessages analogue.

Reference: ``HL7v2IO.Write`` with ``WriteMethod.INGEST``
(HL7v2IO.java:856-1066): a per-message write into an HL7v2 store whose
result exposes ONLY the failed inserts (``Write.Result FAILED`` /
``getFailedInsertsWithErr``), with three dedicated metrics
(WriteHL7v2Fn, HL7v2IO.java:993-1003):

* ``message-ingest-latency-ms``   Distribution
* ``successful-hl7v2-message-writes`` Counter
* ``failed-hl7v2-message-writes``     Counter

Spark re-expression: the per-message ingest attempt runs DISTRIBUTED in an
Arrow-batched ``mapInPandas`` (never per-row Python over the wire), timing
each attempt and folding failures into the reference's
``HealthcareIOError`` shape (HealthcareIOErrorToTableRow.java:64-79).
The attempt output is staged once (FanOutSink — no cache of the batch) and
fans out to an exactly-once store sink (successes), failed sink
(HealthcareIOError rows) and metrics sink (per-batch counters + the
latency distribution) under one batchId.

The actual store RPC is injectable (``ingest_fn``); the default validates
the message is parseable JSON — an honest local stand-in for the
healthcare API client, which does not exist in this environment. On a real
deployment ``ingest_fn`` is the HTTP call and everything else is unchanged.
"""

from __future__ import annotations

import json
import os
import time
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..model.errors import io_error
from .sink import ExactlyOnceParquetSink, FanOutSink


def _default_ingest(data: str) -> None:
    """Local stand-in for HealthcareApiClient.ingestHL7v2Message: accepts
    any parseable-JSON message, raises on anything else."""
    json.loads(data)


def attempt_ingest(
    df: DataFrame, ingest_fn: Callable[[str], None], data_col: str = "data"
) -> DataFrame:
    """Run the per-message ingest attempt over Arrow batches, adding
    ``_ingest`` (ok, lat_us, message, stacktrace, status_code)."""
    from pyspark.sql.types import (
        BooleanType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        list(df.schema.fields)
        + [
            StructField(
                "_ingest",
                StructType(
                    [
                        StructField("ok", BooleanType()),
                        StructField("lat_us", LongType()),
                        StructField("message", StringType()),
                        StructField("stacktrace", StringType()),
                        StructField("status_code", IntegerType()),
                    ]
                ),
            )
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import traceback

        for pdf in batches:
            attempts = []
            for data in pdf[data_col]:
                t0 = time.perf_counter_ns()
                try:
                    ingest_fn(data)
                    attempts.append(
                        {
                            "ok": True,
                            "lat_us": (time.perf_counter_ns() - t0) // 1000,
                            "message": None,
                            "stacktrace": None,
                            "status_code": 200,
                        }
                    )
                except Exception as e:
                    attempts.append(
                        {
                            "ok": False,
                            "lat_us": (time.perf_counter_ns() - t0) // 1000,
                            "message": f"Failed to ingest message Error: {e}",
                            "stacktrace": traceback.format_exc(),
                            "status_code": 400,
                        }
                    )
            pdf = pdf.copy()
            pdf["_ingest"] = attempts
            yield pdf

    return df.mapInPandas(run, out_schema)


class IngestMessagesSink:
    """foreachBatch sink: distributed ingest attempts -> exactly-once
    store/failed fan-out + the reference's three ingest metrics per batch."""

    def __init__(
        self,
        base_dir: str,
        ingest_fn: Callable[[str], None] | None = None,
        data_col: str = "data",
    ):
        self.ingest_fn = ingest_fn or _default_ingest
        self.data_col = data_col
        self.store_sink = ExactlyOnceParquetSink(
            os.path.join(base_dir, "store"), "hl7v2_store"
        )
        self.failed_sink = ExactlyOnceParquetSink(
            os.path.join(base_dir, "failed"), "hl7v2_failed"
        )
        self.metrics_sink = ExactlyOnceParquetSink(
            os.path.join(base_dir, "metrics"), "hl7v2_ingest_metrics"
        )
        self._fan = FanOutSink(
            [
                (self.store_sink, self._select_ok),
                (self.failed_sink, self._select_failed),
                (self.metrics_sink, self._select_metrics),
            ],
            staging_dir=os.path.join(base_dir, "_staging"),
        )

    @staticmethod
    def _select_ok(df: DataFrame) -> DataFrame:
        return df.filter(F.col("_ingest.ok")).drop("_ingest")

    def _select_failed(self, df: DataFrame) -> DataFrame:
        # HealthcareIOError shape (HealthcareIOErrorToTableRow.java:64-79)
        err = io_error(
            F.col(self.data_col),
            F.col("_ingest.message"),
            F.col("_ingest.status_code"),
            stacktrace=F.col("_ingest.stacktrace"),
        )
        return df.filter(~F.col("_ingest.ok")).select(err.alias("e")).select("e.*")

    @staticmethod
    def _select_metrics(df: DataFrame) -> DataFrame:
        """One aggregate row per batch: the reference's two counters plus
        the message-ingest-latency Distribution (min/avg/max, p50/p95/p99),
        computed from the staged attempts in the same single pass family —
        no extra execution of the source plan."""
        return df.select(
            F.col("_ingest.ok").alias("ok"), F.col("_ingest.lat_us").alias("lat_us")
        ).agg(
            F.sum(F.when(F.col("ok"), 1).otherwise(0))
            .cast("long")
            .alias("successful_hl7v2_message_writes"),
            F.sum(F.when(F.col("ok"), 0).otherwise(1))
            .cast("long")
            .alias("failed_hl7v2_message_writes"),
            F.min("lat_us").alias("lat_min_us"),
            F.avg("lat_us").alias("lat_avg_us"),
            F.max("lat_us").alias("lat_max_us"),
            F.percentile_approx("lat_us", 0.5).alias("lat_p50_us"),
            F.percentile_approx("lat_us", 0.95).alias("lat_p95_us"),
            F.percentile_approx("lat_us", 0.99).alias("lat_p99_us"),
        )

    def foreach_batch(self):
        fan_fn = self._fan.foreach_batch()

        def fn(df: DataFrame, batch_id: int):
            fan_fn(attempt_ingest(df, self.ingest_fn, self.data_col), batch_id)

        return fn
