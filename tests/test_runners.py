"""EP2 (DICOM→FHIR) and custom (QueryOptions→FHIR) runner parity tests.

Mirrors DicomToFhirStreamingRunner.java:320-335's three stages end-to-end
(read + error branch, mapping + error branch, bundle + error branch, all
committed under one batchId) and the custom runner's
query->TableRow-JSON->mapping->bundle flow (reference README.md:166-243).
"""

import os

import pytest
from pyspark.sql import functions as F

from healthcare_data_harmonization_dataflow_spark.model.errors import (
    IO_ERROR_SCHEMA,
    err_rows,
    ok_rows,
)
from healthcare_data_harmonization_dataflow_spark.sources.query_options import (
    custom_to_fhir,
    validate_query_options,
)
from healthcare_data_harmonization_dataflow_spark.streaming.dicom_pipeline import (
    DicomHarmonizationPipeline,
    dicom_transform,
)
from healthcare_data_harmonization_dataflow_spark.streaming.ingest import (
    IngestMessagesSink,
    attempt_ingest,
)
from healthcare_data_harmonization_dataflow_spark.streaming.pipeline import (
    hl7v2_transform,
)

# DICOM mapping: study array in, identity-ish projection out
DICOM_CFG = 'out Output: D(root);\ndef D(input) { study: input.study[0].id; }'

WEBPATH_OK = (
    "projects/p/locations/l/datasets/d/dicomStores/s/dicomWeb/studies/st1"
)
WEBPATH_MISSING = (
    "projects/p/locations/l/datasets/d/dicomStores/s/dicomWeb/studies/st404"
)
WEBPATH_BADMETA = (
    "projects/p/locations/l/datasets/d/dicomStores/s/dicomWeb/studies/stbad"
)


def _inputs(spark, tmp_path):
    inp = os.path.join(str(tmp_path), "msgs")
    msgs = spark.createDataFrame(
        [
            (bytearray(WEBPATH_OK.encode()), "2024-01-01 00:00:00"),
            (bytearray(WEBPATH_MISSING.encode()), "2024-01-01 00:00:01"),
            (bytearray(WEBPATH_BADMETA.encode()), "2024-01-01 00:00:02"),
        ],
        "payload binary, ts_s string",
    ).select("payload", F.col("ts_s").cast("timestamp").alias("ts"))
    msgs.write.mode("overwrite").parquet(inp)
    meta = spark.createDataFrame(
        [
            (WEBPATH_OK, '[{"id":"study-1"}]'),
            (WEBPATH_BADMETA, "not a json array"),
        ],
        "webpath string, metadata string",
    )
    return inp, meta


def test_dicom_pipeline_three_stages(spark, tmp_path):
    inp, meta = _inputs(spark, tmp_path)
    pipe = DicomHarmonizationPipeline(
        mapping_config=DICOM_CFG,
        out_dir=os.path.join(str(tmp_path), "out"),
        trigger={"availableNow": True},
    )
    q = pipe.run(spark, inp, meta, os.path.join(str(tmp_path), "ckpt"))
    q.awaitTermination(300)

    bundles = {r["webpath"]: r["bundle"] for r in pipe.bundles(spark).collect()}
    assert bundles == {
        WEBPATH_OK: '{"resourceType":"Bundle","type":"transaction","entry":'
        '[{"resource":{"Output":[{"study":"study-1"}]},"request":'
        '{"method":"POST","url":"Bundle"}}]}'
    }

    read_errs = pipe.read_err_sink.read_committed(spark).collect()
    assert len(read_errs) == 1
    assert read_errs[0]["dataElement"] == WEBPATH_MISSING
    assert read_errs[0]["statusCode"] == 404

    map_errs = pipe.map_err_sink.read_committed(spark).collect()
    assert len(map_errs) == 1
    assert map_errs[0]["webpath"] == WEBPATH_BADMETA
    assert map_errs[0]["step"] == "mapping"

    assert pipe.write_err_sink.read_committed(spark).count() == 0
    # all four sinks committed the same batch ids (single-pass atomicity)
    assert (
        pipe.bundles_sink.committed_batches()
        == pipe.read_err_sink.committed_batches()
        == pipe.map_err_sink.committed_batches()
        == pipe.write_err_sink.committed_batches()
    )


def test_custom_to_fhir_query_options(spark, sf_dir):
    spark.read.parquet(f"{sf_dir}/region.parquet").createOrReplaceTempView("region_v")
    out = custom_to_fhir(
        spark,
        {"Region": "SELECT r_name FROM region_v ORDER BY r_regionkey LIMIT 2"},
        'out Output: P(root);\ndef P(input) { name: input.Region.r_name; }',
    )
    rows = ok_rows(out).orderBy("id").collect()
    assert len(rows) == 2
    assert rows[0]["data"].startswith('{"Region":{"r_name":')
    assert '"resource":{"Output":[{"name":"' in rows[0]["bundle"]
    assert err_rows(out).count() == 0


def test_query_options_validation():
    with pytest.raises(ValueError):
        validate_query_options({})
    with pytest.raises(ValueError):
        validate_query_options({"t": "  "})


def _io_error_structs(producer, spark, tmp_path):
    """The HealthcareIOError-shaped struct types one producer emits."""
    if producer == "dicom_transform":
        inp, meta = _inputs(spark, tmp_path)
        out = dicom_transform(spark.read.parquet(inp), meta, DICOM_CFG)
        return [out.schema["read_err"].dataType, out.schema["write_err"].dataType]
    if producer == "hl7v2_transform":
        notes = spark.createDataFrame([(bytearray(b"m1"),)], "payload binary")
        store = spark.createDataFrame(
            [("m1", '{"study":[{"id":"s"}]}')], "msg_name string, data string"
        )
        out = hl7v2_transform(notes, store, DICOM_CFG, write_reject=F.lit(True))
        return [out.schema["read_err"].dataType, out.schema["write_err"].dataType]
    sink = IngestMessagesSink(str(tmp_path / "ingest"))
    msgs = spark.createDataFrame([("{",)], "data string")
    return [sink._select_failed(attempt_ingest(msgs, sink.ingest_fn)).schema]


@pytest.mark.parametrize(
    "producer", ["dicom_transform", "hl7v2_transform", "IngestMessagesSink"]
)
def test_io_error_producers_match_schema(spark, tmp_path, producer):
    """Every HealthcareIOError producer builds its struct through
    ``io_error``: field names, order and types are ``IO_ERROR_SCHEMA``'s."""
    want = [(f.name, f.dataType) for f in IO_ERROR_SCHEMA.fields]
    for struct in _io_error_structs(producer, spark, tmp_path):
        assert [(f.name, f.dataType) for f in struct.fields] == want


def test_submit_session_renders_utc_on_non_utc_cluster(spark):
    """tools/submit_harmonization.py attaches to spark-submit's session and
    sets the engine's SQL confs on it, so a cluster whose default time zone
    is not UTC still renders error timestamps ('...Z') in UTC, as the
    pandas mapping backend and the tests do."""
    import importlib.util

    from healthcare_data_harmonization_dataflow_spark.model.errors import ISO_FMT
    from healthcare_data_harmonization_dataflow_spark.session import (
        ENGINE_SQL_CONF,
    )

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "submit_harmonization",
        os.path.join(root, "tools", "submit_harmonization.py"),
    )
    submit = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(submit)

    def epoch_rendered():
        return spark.range(1).select(
            F.date_format(F.timestamp_seconds(F.lit(0)), ISO_FMT).alias("t")
        ).first()["t"]

    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        assert epoch_rendered().startswith("1969-12-31T16:00:00")
        assert submit.attach_session() is spark
        for k, v in ENGINE_SQL_CONF.items():
            assert spark.conf.get(k) == v, k
        assert epoch_rendered().startswith("1970-01-01T00:00:00")
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
