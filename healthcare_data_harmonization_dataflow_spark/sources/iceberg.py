"""Iceberg source wiring (gated: the runtime needs
iceberg-spark-runtime on the classpath; this sandbox does not ship it, so
everything here is import-safe and availability-checked).

The north-star input is "an Iceberg table of multi-turn transcripts"; the
engine consumes it through the SAME downstream plan as the parquet file
source — only the reader factory differs:

* streaming read: ``spark.readStream.format("iceberg")`` consumes table
  snapshots in COMMIT ORDER — the property the file source emulates with
  mtime-ordered range files (sources/transcripts.write_time_ordered_stream).
* exactly-once write: Iceberg appends are atomic snapshot commits, so on
  a cluster the foreachBatch body in streaming/sink.py would collapse to
  ``df.writeTo(table).append()`` guarded by the same batchId ledger
  (Iceberg dedupes concurrent writers, not replayed batches).

Reference parity: the HL7v2 store + Pub/Sub notification pair
(HL7v2IO.java:636-700) becomes table + incremental snapshot scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

_RUNTIME_CLASS = "org.apache.iceberg.spark.SparkCatalog"


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime is on the JVM classpath."""
    try:
        spark._jvm.java.lang.Class.forName(_RUNTIME_CLASS)  # type: ignore[union-attr]
        return True
    except Exception:
        return False


def catalog_conf(
    catalog: str = "local",
    warehouse: str = "spark-warehouse/iceberg",
    catalog_type: str = "hadoop",
) -> dict[str, str]:
    """Session confs for an Iceberg catalog — pass to build_session's
    extra_conf (or spark-submit --conf). ``hadoop`` type needs only a
    warehouse path; production swaps in hive/rest/glue."""
    base = f"spark.sql.catalog.{catalog}"
    return {
        "spark.sql.extensions": (
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
        ),
        base: "org.apache.iceberg.spark.SparkCatalog",
        f"{base}.type": catalog_type,
        f"{base}.warehouse": warehouse,
    }


def _require(spark: SparkSession) -> None:
    if not iceberg_available(spark):
        raise RuntimeError(
            "Iceberg runtime not on the classpath. Launch with e.g. "
            "spark-submit --packages org.apache.iceberg:iceberg-spark-runtime-"
            "4.0_2.13:<version> and the catalog confs from catalog_conf(). "
            "Locally, the parquet file source (HarmonizationPipeline."
            "read_stream) provides the same downstream plan."
        )


def read_transcripts_stream(
    spark: SparkSession,
    table: str,
    from_snapshot_id: int | None = None,
    max_files_per_micro_batch: int | None = None,
) -> DataFrame:
    """Streaming scan of a transcript Iceberg table in snapshot-commit order.

    ``from_snapshot_id`` resumes a NEW query mid-table (an existing query
    resumes from its checkpoint regardless); ``max_files_per_micro_batch``
    paces batches like the file source's maxFilesPerTrigger.
    """
    _require(spark)
    reader = spark.readStream.format("iceberg")
    if from_snapshot_id is not None:
        reader = reader.option("start-snapshot-id", str(from_snapshot_id))
    if max_files_per_micro_batch is not None:
        reader = reader.option(
            "streaming-max-files-per-micro-batch", str(max_files_per_micro_batch)
        )
    return reader.load(table)
