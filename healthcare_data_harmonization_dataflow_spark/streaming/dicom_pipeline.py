"""The DICOM→FHIR streaming pipeline — the reference's second runner (EP2).

Mirrors ``DicomToFhirStreamingRunner.main``'s three explicit stages
(DicomToFhirStreamingRunner.java:320-335):

1. ``readDicomStudyMetadata`` (:131-139, :210-226): Pub/Sub payload ->
   webpath string -> per-element study-metadata fetch with an error branch.
   The per-element RPC becomes a broadcast/stream-static JOIN against the
   study-metadata table (the DICOM store's queryable form); a missing study
   is the fetch failure and lands in the read dead-letter as a
   ``HealthcareIOError`` (404), exactly the reference's error path.
2. ``mapDicomStudyMetadataToFhirResource`` (:246-281):
   ``CreateMappingFnInput`` ({"study": [...]}) -> MappingFn multi-output ->
   mapping errors windowed to the mapping dead-letter.
3. ``writeToFhirStore`` (:290-317): ``CreateFhirResourceBundle``
   (transaction envelope) -> executeBundles -> failed writes (malformed
   resources) to the write dead-letter.

All four outputs (bundles + three dead-letters) commit under ONE batchId
through the staged FanOutSink — the multi-sink atomicity the reference gets
from Dataflow's per-bundle commit.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.reformat import create_mapping_fn_input, extract_webpath_from_pubsub
from ..model.errors import io_error
from ..operators.bundles import to_transaction_bundle
from ..operators.mapping_op import apply_mapping
from .sink import ExactlyOnceParquetSink, FanOutSink


def dicom_transform(
    messages: DataFrame, study_metadata: DataFrame, mapping_config: str
) -> DataFrame:
    """Pub/Sub-shaped messages (payload binary) x study-metadata table
    (webpath string, metadata string JSON array) -> one DataFrame with
    disjoint branch columns: bundle / read_err / map_err / write_err.
    Standalone so batch callers (and the oracle-checked driver query) run
    the EXACT plan the streaming pipeline sinks."""
    paths = messages.withColumn(
        "webpath", extract_webpath_from_pubsub(F.col("payload"))
    )
    fetched = paths.join(F.broadcast(study_metadata), "webpath", "left")
    with_input = fetched.withColumn(
        "_map_in", create_mapping_fn_input(F.col("metadata"))
    )
    mapped = apply_mapping(
        with_input, mapping_config, id_col="webpath", data_col="_map_in"
    )
    bundled = to_transaction_bundle(mapped, "ok", url="Bundle")
    return bundled.select(
        "webpath",
        # read branch: study fetch failed (DicomIO.readStudyMetadata err)
        F.when(
            F.col("metadata").isNull(),
            io_error(F.col("webpath"), "study metadata not found", 404),
        ).alias("read_err"),
        # mapping branch (ErrorEntry; only for fetched studies)
        F.when(F.col("metadata").isNotNull(), F.col("err")).alias("map_err"),
        # write branch: mapped ok but the bundle failed validation
        F.when(
            F.col("ok").isNotNull() & F.col("bundle").isNull(),
            io_error(F.col("ok"), "invalid FHIR resource for bundle", 400),
        ).alias("write_err"),
        F.when(F.col("err").isNull(), F.col("bundle")).alias("bundle"),
    )


@dataclass
class DicomHarmonizationPipeline:
    """Config + wiring; ``transform`` is the pure plan (testable in batch),
    ``run`` starts the streaming query."""

    mapping_config: str
    out_dir: str
    trigger: dict = field(default_factory=lambda: {"processingTime": "5 seconds"})
    error_shards: int = 10

    def __post_init__(self):
        mk = lambda n, **kw: ExactlyOnceParquetSink(  # noqa: E731
            os.path.join(self.out_dir, n), n, **kw
        )
        self.bundles_sink = mk("bundles")
        self.read_err_sink = mk("read_errors", num_shards=self.error_shards)
        self.map_err_sink = mk("mapping_errors", num_shards=self.error_shards)
        self.write_err_sink = mk("write_errors", num_shards=self.error_shards)

    # ------------------------------------------------------------ the plan
    def transform(self, messages: DataFrame, study_metadata: DataFrame) -> DataFrame:
        return dicom_transform(messages, study_metadata, self.mapping_config)

    # ------------------------------------------------------------ streaming
    def read_stream(self, spark: SparkSession, input_path: str) -> DataFrame:
        return spark.readStream.schema("payload binary, ts timestamp").parquet(
            input_path
        )

    def run(
        self,
        spark: SparkSession,
        input_path: str,
        study_metadata: DataFrame,
        checkpoint: str,
    ):
        stream = self.read_stream(spark, input_path)
        branched = self.transform(stream, study_metadata)
        fan = FanOutSink(
            [
                (
                    self.bundles_sink,
                    lambda d: d.filter(F.col("bundle").isNotNull()).select(
                        "webpath", "bundle"
                    ),
                ),
                (
                    self.read_err_sink,
                    lambda d: d.filter(F.col("read_err").isNotNull()).select(
                        "read_err.*"
                    ),
                ),
                (
                    self.map_err_sink,
                    lambda d: d.filter(F.col("map_err").isNotNull()).select(
                        "webpath", "map_err.*"
                    ),
                ),
                (
                    self.write_err_sink,
                    lambda d: d.filter(F.col("write_err").isNotNull()).select(
                        "write_err.*"
                    ),
                ),
            ],
            staging_dir=os.path.join(self.out_dir, "_staging"),
        )
        return (
            branched.writeStream.foreachBatch(fan.foreach_batch())
            .option("checkpointLocation", checkpoint)
            .outputMode("append")
            .trigger(**self.trigger)
            .queryName("dicom_harmonization")
            .start()
        )

    # ------------------------------------------------------------ readers
    def bundles(self, spark: SparkSession) -> DataFrame:
        return self.bundles_sink.read_committed(spark)
