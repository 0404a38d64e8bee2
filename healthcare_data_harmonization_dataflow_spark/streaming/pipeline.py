"""The end-to-end streaming harmonization pipeline.

The Spark re-expression of ``Hl7v2ToFhirStreamingRunner.main`` (SURVEY §3
EP1), transcript-native:

    readStream(transcripts)                       # PubsubIO + HL7v2IO.getAll
      -> per-record mapping (VARIANT codegen)     # ParDo(MappingFn)
      -> ok / err split, one query per branch     # withOutputTags
      -> stateful session assembly (ok branch)    # north-star addition
      -> exactly-once sinks: bundles, dead-letter # FhirIO.executeBundles +
         (+ metrics)                              #   windowed TextIO errors

The ok / err fan-out runs as two streaming queries over the same input:
``run_harmonization`` (ok rows -> stateful assembly -> bundle sink) and
``run_deadletter`` (err rows -> dead-letter sink). Each query has its own
source scan, its own mapping pass and its own checkpoint, so each sink is
exactly-once on its own batchIds, but a bundle batch and a dead-letter batch
do not commit together: one query can run ahead of, or restart apart from,
the other. (Multi-sink commit under one batchId is ``FanOutSink``, which
the ingest, DICOM and dedup pipelines use.) The dead-letter flush cadence
is the trigger interval — default 5 s, the reference's error window size
(Hl7v2ToFhirStreamingRunner.java:146).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..model.errors import err_rows, io_error, ok_rows
from ..operators.mapping_op import apply_mapping
from ..sources.transcripts import TRANSCRIPT_SCHEMA
from .assembly import _parse_seconds, assemble_sessions_stateful
from .metrics import observe_mapping
from .sink import ExactlyOnceParquetSink


@dataclass
class HarmonizationPipeline:
    """Config + wiring for the streaming pipeline. ``run_*`` methods return
    StreamingQuery handles; callers own trigger/termination policy."""

    mapping_config: str
    out_dir: str
    session_gap: str = "5 minutes"
    watermark_delay: str = "10 minutes"
    trigger: dict = field(default_factory=lambda: {"processingTime": "5 seconds"})
    error_shards: int = 10  # --errorLogShardNum default, Hl7v2ToFhirStreamingRunner.java:133-137
    max_files_per_trigger: int | None = None  # None = let availableNow take everything
    # the one session assembly: applyInPandasWithState, dropping rows
    # behind the watermark exactly (the reference's allowedLateness=ZERO)
    assembly: str = "state_v1"
    max_turns_per_bundle: int | None = None  # bundle-size cap (hot-conv chunking)
    # the reference's --enablePerformanceMetrics: per-element transform
    # latency Distribution (forces the Arrow/pandas mapping backend)
    enable_performance_metrics: bool = False
    # at-least-once source hardening: the reference's notification source
    # (Pub/Sub) redelivers, so the same turn can arrive twice; when True,
    # duplicate (conv_id, turn_idx) rows are dropped within the watermark
    # (dropDuplicatesWithinWatermark: state bounded by the delay) before
    # mapping, so redelivery cannot double-count in bundles OR dead letters
    dedup_turns: bool = False

    def __post_init__(self):
        if self.assembly != "state_v1":
            raise ValueError(f"assembly must be 'state_v1', got {self.assembly!r}")
        _parse_seconds(self.session_gap)  # a bad gap fails at construction
        # both sinks commit through the sink's one marker step on any
        # filesystem out_dir names; there is no commit option to set
        self.bundles_sink = ExactlyOnceParquetSink(
            os.path.join(self.out_dir, "bundles"), "bundles"
        )
        self.deadletter_sink = ExactlyOnceParquetSink(
            os.path.join(self.out_dir, "deadletter"),
            "deadletter",
            num_shards=self.error_shards,
        )

    # ------------------------------------------------------------ source
    def read_stream(self, spark: SparkSession, input_path: str) -> DataFrame:
        """Streaming source over a transcript table directory (parquet file
        source locally; spark.readStream.format('iceberg') on a cluster —
        same downstream plan either way)."""
        reader = spark.readStream.schema(TRANSCRIPT_SCHEMA)
        if self.max_files_per_trigger:
            # split pacing, the ListHL7v2Messages restriction-splitting analogue
            reader = reader.option("maxFilesPerTrigger", self.max_files_per_trigger)
        return reader.parquet(input_path)

    def _assembly_delay(self) -> "str | None":
        # dedup_turns already watermarked the source; a second withWatermark
        # on the same stream is "redefining" and Spark rejects it
        return None if self.dedup_turns else self.watermark_delay

    def source(self, spark: SparkSession, input_path: str) -> DataFrame:
        """read_stream + optional at-least-once dedup (both queries share
        this so redelivered turns cannot double-count anywhere)."""
        s = self.read_stream(spark, input_path)
        if self.dedup_turns:
            s = s.withWatermark(
                "ts", self.watermark_delay
            ).dropDuplicatesWithinWatermark(["conv_id", "turn_idx"])
        return s

    # ------------------------------------------------------- mapped stream
    def mapped(self, transcripts: DataFrame) -> DataFrame:
        m = apply_mapping(
            transcripts,
            self.mapping_config,
            id_col="conv_id",
            data_col="text",
            measure_latency=self.enable_performance_metrics,
        )
        return observe_mapping(m)

    # ---------------------------------------------------------- queries
    def run_harmonization(self, spark: SparkSession, input_path: str, checkpoint: str):
        """Main query: map -> assemble sessions -> exactly-once bundle sink.
        The mapping runs before the stateful op, so only valid turns enter
        state; the session bundle carries mapped output as its text."""
        stream = self.source(spark, input_path)
        m = self.mapped(stream)
        ok = ok_rows(m).select(
            "conv_id", "turn_idx", "role", F.col("ok").alias("text"), "ts"
        )
        bundles = assemble_sessions_stateful(
            ok,
            gap=self.session_gap,
            watermark_delay=self._assembly_delay(),
            max_turns_per_bundle=self.max_turns_per_bundle,
        )
        return (
            bundles.writeStream.foreachBatch(self.bundles_sink.foreach_batch())
            .option("checkpointLocation", checkpoint)
            .outputMode("append")
            .trigger(**self.trigger)
            .queryName("harmonization")
            .start()
        )

    def run_deadletter(self, spark: SparkSession, input_path: str, checkpoint: str):
        """Dead-letter query: same source, err branch only, flushed every
        trigger into the dead-letter table (5 s window analogue)."""
        stream = self.source(spark, input_path)
        m = self.mapped(stream)
        errs = err_rows(m).select("conv_id", "turn_idx", "ts", F.col("err.*"))
        return (
            errs.writeStream.foreachBatch(self.deadletter_sink.foreach_batch())
            .option("checkpointLocation", checkpoint)
            .outputMode("append")
            .trigger(**self.trigger)
            .queryName("deadletter")
            .start()
        )

    # ---------------------------------------------------------- readers
    def bundles(self, spark: SparkSession) -> DataFrame:
        return self.bundles_sink.read_committed(spark)

    def deadletter(self, spark: SparkSession) -> DataFrame:
        return self.deadletter_sink.read_committed(spark)


def hl7v2_transform(
    notifications: DataFrame,
    store: DataFrame,
    mapping_config: str,
    write_reject=None,
) -> DataFrame:
    """The EP1 ``Hl7v2ToFhirStreamingRunner`` stage chain as one pure plan
    (Hl7v2ToFhirStreamingRunner.java:139-171), branch-per-column like
    :func:`..streaming.dicom_pipeline.dicom_transform`:

    1. Pub/Sub notification payload -> HL7v2 message name;
    2. ``HL7v2IO.getAll`` fetch — a broadcast join against the message
       store's queryable form; a missing message is the Read.Result
       DEAD_LETTER branch (HealthcareIOError, 404);
    3. ``ParDo(MappingFn)`` on the fetched content — recoverable mapping
       failures to the mapping dead-letter (withOutputTags);
    4. ``CreateFhirResourceBundle`` -> ``FhirIO.executeBundles`` — the
       ``write_reject`` predicate column stands in for the FHIR store's
       post-retry rejection (Write.Result FAILED_BODY); rejected bundles
       carry statusCode 500.

    ``store`` schema: (msg_name string, data string). Returns one row per
    notification with disjoint branch columns bundle / read_err / map_err /
    write_err. Its caller is the batch ``hl7v2_harmonize`` query; no
    streaming query runs this chain or sinks its branches."""
    from ..functions.reformat import extract_webpath_from_pubsub
    from ..operators.bundles import to_transaction_bundle

    paths = notifications.withColumn(
        "msg_name", extract_webpath_from_pubsub(F.col("payload"))
    )
    fetched = paths.join(F.broadcast(store), "msg_name", "left")
    mapped = apply_mapping(fetched, mapping_config, id_col="msg_name", data_col="data")
    bundled = to_transaction_bundle(mapped, "ok", url="Observation")
    rejected = write_reject if write_reject is not None else F.lit(False)
    return bundled.select(
        "msg_name",
        # read branch: HL7v2IO.getAll failed (message not in the store)
        F.when(
            F.col("data").isNull(),
            io_error(F.col("msg_name"), "hl7v2 message not found", 404),
        ).alias("read_err"),
        # mapping branch (ErrorEntry; only for fetched messages)
        F.when(F.col("data").isNotNull(), F.col("err")).alias("map_err"),
        # write branch: executeBundles rejected the bundle after retries
        F.when(
            F.col("bundle").isNotNull() & rejected,
            io_error(F.col("bundle"), "bundle rejected by FHIR store", 500),
        ).alias("write_err"),
        F.when(F.col("bundle").isNotNull() & ~rejected, F.col("bundle")).alias(
            "bundle"
        ),
    )
