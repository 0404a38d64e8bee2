"""IngestMessagesSink tests — HL7v2IO.ingestMessages parity
(HL7v2IO.java:856-1066): failed inserts surface as HealthcareIOError rows,
successes land in the store, and the three dedicated metrics
(message-ingest-latency distribution + success/failure counters) are
committed per batch to their own exactly-once route. Exactly-once under
replay."""

from healthcare_data_harmonization_dataflow_spark.streaming.ingest import (
    IngestMessagesSink,
)


def _messages(spark):
    rows = [(str(i), '{"seg":%d}' % i) for i in range(40)] + [
        ("bad1", "not json"),
        ("bad2", "{"),
    ]
    return spark.createDataFrame(rows, "id string, data string")


def test_ingest_routes_and_metrics(spark, tmp_path):
    sink = IngestMessagesSink(str(tmp_path / "ingest"))
    fn = sink.foreach_batch()
    fn(_messages(spark), 0)

    store = sink.store_sink.read_committed(spark)
    assert store.count() == 40
    assert "_ingest" not in store.columns  # attempt plumbing never persists

    failed = sink.failed_sink.read_committed(spark)
    rows = failed.collect()
    assert len(rows) == 2
    # HealthcareIOError shape (HealthcareIOErrorToTableRow.java:64-79)
    assert set(failed.columns) == {
        "dataElement",
        "observed_time",
        "message",
        "stacktrace",
        "statusCode",
    }
    assert all(r["statusCode"] == 400 for r in rows)
    assert all("Failed to ingest message Error" in r["message"] for r in rows)
    assert {r["dataElement"] for r in rows} == {"not json", "{"}

    metrics = sink.metrics_sink.read_committed(spark).collect()
    assert len(metrics) == 1
    m = metrics[0]
    assert m["successful_hl7v2_message_writes"] == 40
    assert m["failed_hl7v2_message_writes"] == 2
    assert 0 <= m["lat_min_us"] <= m["lat_p50_us"] <= m["lat_max_us"]


def test_ingest_exactly_once_replay(spark, tmp_path):
    sink = IngestMessagesSink(str(tmp_path / "ingest"))
    fn = sink.foreach_batch()
    df = _messages(spark)
    fn(df, 0)
    fn(df, 0)  # replayed epoch: no duplicates, no duplicate metrics
    assert sink.store_sink.read_committed(spark).count() == 40
    assert sink.failed_sink.read_committed(spark).count() == 2
    metrics = sink.metrics_sink.read_committed(spark).collect()
    assert len(metrics) == 1
    assert metrics[0]["successful_hl7v2_message_writes"] == 40


def test_ingest_custom_fn_failure_mode(spark, tmp_path):
    """ingest_fn is the injectable store RPC: a selective failure routes
    exactly the affected messages to the failed branch."""

    def flaky(data):
        if '"seg":7' in data:
            raise RuntimeError("store unavailable for seg 7")

    sink = IngestMessagesSink(str(tmp_path / "ingest"), ingest_fn=flaky)
    fn = sink.foreach_batch()
    fn(_messages(spark), 0)
    failed = sink.failed_sink.read_committed(spark).collect()
    assert len(failed) == 1
    assert "store unavailable" in failed[0]["message"]
    assert sink.store_sink.read_committed(spark).count() == 41
