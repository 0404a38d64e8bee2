"""Small per-record reformat transforms — reference §2.3 parity.

Each mirrors a reference DoFn/MapElements with a golden-string test
(SURVEY §5 "Reformat DoFns" row), implemented as pure Catalyst expressions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def table_row_to_json(table_name: str, row_json_col: Column | str) -> Column:
    """`{"<tableName>": {…row…}}` — TableRowToJsonFn.java:24-42 (golden:
    TableRowToJsonFnTest.java:26-31 `{"Patient":{"name":"John Doe"...}}`).

    The inner row JSON is validated (null on malformed) then SPLICED
    verbatim — not round-tripped through VARIANT, whose binary format sorts
    object keys and would break byte parity with the reference's
    insertion-ordered Gson output."""
    col = F.col(row_json_col) if isinstance(row_json_col, str) else row_json_col
    import json as _json

    prefix = _json.dumps(table_name) + ":"
    return F.when(
        F.try_parse_json(col).isNotNull(),
        F.concat(F.lit("{" + prefix), col, F.lit("}")),
    )


def extract_webpath_from_pubsub(payload_col: Column | str) -> Column:
    """Pub/Sub payload bytes -> UTF-8 string —
    DicomToFhirStreamingRunner.java:131-139."""
    col = F.col(payload_col) if isinstance(payload_col, str) else payload_col
    return F.decode(col, "UTF-8")


def create_mapping_fn_input(metadata_json_col: Column | str) -> Column:
    """Wrap a metadata JSON array as `{"study": [...]}` —
    DicomToFhirStreamingRunner.java:145-156 (golden:
    CreateMappingFnInputTest.java:26-43). Validated splice (see
    table_row_to_json for why not VARIANT round-trip)."""
    col = F.col(metadata_json_col) if isinstance(metadata_json_col, str) else metadata_json_col
    return F.when(
        F.try_parse_json(col).isNotNull(),
        F.concat(F.lit('{"study":'), col, F.lit("}")),
    )


# webpath component names — WebPathParser.DicomWebPath (WebPathParser.java:22-31)
_WEBPATH_FIELDS = (
    ("project", 2),
    ("location", 4),
    ("dataset", 6),
    ("storeId", 8),
    ("studyId", 11),
    ("seriesId", 13),
    ("instanceId", 15),
)


def parse_dicom_webpath(webpath_col: Column | str) -> Column:
    """Split `projects/P/locations/L/datasets/D/dicomStores/S/dicomWeb/
    studies/ST[/series/SE[/instances/I]]` into a typed struct —
    WebPathParser.java:40-70. Malformed (odd structure) yields nulls in the
    missing positions; callers route those to the dead-letter branch."""
    col = F.col(webpath_col) if isinstance(webpath_col, str) else webpath_col
    parts = F.split(col, "/")
    fields = []
    for name, idx in _WEBPATH_FIELDS:
        fields.extend([F.lit(name), F.try_element_at(parts, F.lit(idx))])
    return F.named_struct(*fields)


def ndjson_parse_messages(df: DataFrame, line_col: str = "value") -> DataFrame:
    """Parse NDJSON lines already loaded as strings, with the reference's
    valid/invalid split (ParseMessageFn counters invalidMessages /
    validMessages, HL7v2IO.java:618-635): err is non-null for unparseable
    lines — same union-typed convention as the mapping operator."""
    parsed = F.try_parse_json(F.col(line_col))
    return df.withColumn("parsed", parsed).withColumn(
        "err",
        F.when(
            parsed.isNull() | F.col(line_col).isNull(),
            F.concat(F.lit("invalid message: "), F.coalesce(F.col(line_col), F.lit("<null>"))),
        ),
    )


def export_and_read(
    spark,
    export_path: str,
    schedule_fn,
    poll_fn,
    poll_interval_s: float = 0.5,
    cleanup: bool = True,
    cleanup_fn=None,
    line_col: str = "value",
):
    """The FULL HL7v2IO.Export lifecycle (HL7v2IO.java:495-678):
    schedule the export operation -> poll the long-running operation every
    ``poll_interval_s`` (the reference's 500 ms, HL7v2IO.java:670) -> read
    the exported NDJSON with the valid/invalid split (ParseMessageFn) ->
    delete the temp files (RemoveTempFiles). Returns
    ``(messages_df, errors_df)``.

    The service calls are INJECTED (mirroring streaming/ingest.py's
    injectable ingest_fn): ``schedule_fn(export_path) -> operation dict``
    and ``poll_fn(operation) -> operation`` speak the LRO protocol —
    ``{"name": ..., "done": bool, "error": ...}``. An operation that
    completes with ``error`` raises, matching ExportMessagesFn
    (HL7v2IO.java:668-673).

    The reference's ``Wait.on(messages, errors)`` barrier before cleanup
    becomes MATERIALIZATION here: when ``cleanup`` is requested, both
    branches are pinned with ``localCheckpoint(eager=True)`` before the
    temp files are removed — a lazy plan over deleted files would
    otherwise fail at first use. Callers that keep the files pass
    ``cleanup=False`` and get fully lazy (pushdown-friendly) plans.
    """
    import shutil
    import time as _time

    op = schedule_fn(export_path)
    while not op.get("done"):
        _time.sleep(poll_interval_s)
        op = poll_fn(op)
    if op.get("error") is not None:
        raise RuntimeError(
            f"Export operation ({op.get('name')}) failed: {op['error']}"
        )
    lines = spark.read.text(export_path)
    if line_col != "value":
        lines = lines.withColumnRenamed("value", line_col)
    parsed = ndjson_parse_messages(lines, line_col)
    messages = parsed.filter(F.col("err").isNull()).drop("err")
    errors = parsed.filter(F.col("err").isNotNull()).select(line_col, "err")
    if cleanup:
        messages = messages.localCheckpoint(eager=True)  # the Wait.on barrier
        errors = errors.localCheckpoint(eager=True)
        if cleanup_fn is not None:
            cleanup_fn(export_path)
        else:
            shutil.rmtree(export_path, ignore_errors=True)
    return messages, errors
