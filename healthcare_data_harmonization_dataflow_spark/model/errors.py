"""Dead-letter data model: the engine's error taxonomy.

Reproduces the reference's two error schemas:

* ``ErrorEntry`` (mapping-stage errors) — ErrorEntry.java:30-47 and its
  BigQuery projection ErrorEntryConverter.java:32-55:
  ``stacktrace, error_message, timestamp (ISO string), step, sources[]``
  (+ ``error_resource`` carried on the model object).
* ``HealthcareIOError`` (read/write IO errors) —
  HealthcareIOErrorToTableRow.java:64-79:
  ``dataElement, observed_time, message, stacktrace, statusCode``.

Both become columns of a union-typed DataFrame: every fallible operator emits
``ok`` + ``err`` columns in a single pass (the Spark re-expression of
``ParDo.withOutputTags(MAPPING_TAG, [ERROR_ENTRY_TAG])``,
Hl7v2ToFhirStreamingRunner.java:203-206), and callers split with two filters.

Error *steps* mirror the reference's three-stage taxonomy: ``read``,
``mapping``, ``write`` (Hl7v2ToFhirStreamingRunner.java error branches at
:161-181, :208-228, :248-267).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

STEP_MAPPING = "mapping"


class RecoverableMappingError(RuntimeError):
    """A data-dependent transform failure: report to the dead-letter branch
    and keep the pipeline running.

    The Spark analogue of the reference's "bare RuntimeException" class test
    (ErrorEnabledDoFn.java:75-77): the reference dead-letters ONLY
    ``RuntimeException`` exactly and re-throws everything else, so systemic
    failures (engine bugs, corrupted state, environment problems) crash the
    pipeline instead of silently eating a whole corpus. Operators here do the
    same — anything that is not a ``RecoverableMappingError`` (or accepted by
    the caller's ``report_only`` override) propagates and fails the job.
    """

ERROR_ENTRY_SCHEMA = StructType(
    [
        StructField("error_resource", StringType()),
        StructField("stacktrace", StringType()),
        StructField("error_message", StringType()),
        StructField("timestamp", StringType()),  # ISO-8601, like Instant.toString()
        StructField("step", StringType()),
        StructField("sources", ArrayType(StringType())),
    ]
)

IO_ERROR_SCHEMA = StructType(
    [
        StructField("dataElement", StringType()),
        StructField("observed_time", TimestampType()),
        StructField("message", StringType()),
        StructField("stacktrace", StringType()),
        StructField("statusCode", IntegerType()),
    ]
)

ISO_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"


def error_entry(
    step: str,
    message: Column,
    sources: Column,
    error_resource: Column | None = None,
    stacktrace: Column | None = None,
    clock: str | None = None,
) -> Column:
    """Build an ErrorEntry struct column.

    ``clock``: fixed ISO timestamp for deterministic tests (the reference's
    fixed-Clock pattern, ErrorEntryConverterTest.java:35-60); default = row
    creation time.
    """
    ts = F.lit(clock) if clock else F.date_format(F.current_timestamp(), ISO_FMT)
    return F.struct(
        (error_resource if error_resource is not None else F.lit(None).cast("string")).alias(
            "error_resource"
        ),
        (stacktrace if stacktrace is not None else F.lit(None).cast("string")).alias("stacktrace"),
        message.cast("string").alias("error_message"),
        ts.alias("timestamp"),
        F.lit(step).alias("step"),
        sources.cast("array<string>").alias("sources"),
    )


def io_error(
    element: Column,
    message: Column | str,
    status_code: Column | int,
    stacktrace: Column | str | None = None,
) -> Column:
    """Build a HealthcareIOError struct column (``IO_ERROR_SCHEMA``),
    observed at row creation time. ``message``, ``status_code`` and
    ``stacktrace`` take a column or a literal (no stacktrace: NULL)."""

    def col(v) -> Column:
        return v if isinstance(v, Column) else F.lit(v)

    return F.struct(
        element.cast("string").alias("dataElement"),
        F.current_timestamp().alias("observed_time"),
        col(message).cast("string").alias("message"),
        col(stacktrace).cast("string").alias("stacktrace"),
        col(status_code).cast("int").alias("statusCode"),
    )


def ok_rows(df: DataFrame) -> DataFrame:
    """Success branch of a union-typed operator output."""
    return df.filter(F.col("err").isNull())


def err_rows(df: DataFrame) -> DataFrame:
    """Dead-letter branch of a union-typed operator output."""
    return df.filter(F.col("err").isNotNull())
