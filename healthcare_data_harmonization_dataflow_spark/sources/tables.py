"""Batch table sources.

The reference's bounded source is ``HL7v2IO.ListHL7v2Messages`` — a splittable
DoFn that partitions a time range, pushes ``sendTime`` predicates server-side,
and reshuffles for parallelism (HL7v2IO.java:702-854). On Spark all of that is
the DataSource-v2 scan: partition planning, predicate pushdown and AQE come
for free, so this module is deliberately thin — declarative reads only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def read_time_range(
    spark: SparkSession, sf_dir: str, name: str, ts_col: str, start: str, end: str
) -> DataFrame:
    """The ListHL7v2Messages analogue: bounded scan with a time-range
    predicate. Catalyst pushes the filter into the parquet scan (verify with
    ``PushedFilters`` in .explain) — the reference needed ~150 LoC of
    splittable-DoFn machinery for the same capability."""
    df = load_table(spark, sf_dir, name)
    return df.filter((df[ts_col] >= start) & (df[ts_col] < end))
