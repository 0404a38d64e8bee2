"""The event-log parser on logs recorded from tiny runs, and its rules on
hand-made input."""

import time

from pyspark.sql import Observation
from pyspark.sql import functions as F

from healthcare_data_harmonization_dataflow_spark.model.errors import ok_rows
from healthcare_data_harmonization_dataflow_spark.operators.bundles import assemble_bundles
from healthcare_data_harmonization_dataflow_spark.operators.mapping_op import apply_mapping
from healthcare_data_harmonization_dataflow_spark.streaming.metrics import observe_mapping
from perfbench import eventlog
from perfbench.workloads import CONFIG, StreamHarmonize, seeded_transcripts


def test_layer_rules():
    assert eventlog._layer_of([("FlatMapGroupsInPandasWithState", ""), ("Project", "")]) == "assembly"
    assert eventlog._layer_of([("CollectMetrics", "CollectMetrics m, [count(ok) AS rows_ok]")]) == "mapping"
    assert eventlog._layer_of([("ObjectHashAggregate", "functions=[collect_list(x)]")]) == "bundles"
    assert eventlog._layer_of([("SortMergeJoin", "[band#1, band_hash#2]")]) == "dedup.probe"
    assert eventlog._layer_of([("CollectMetrics", "CollectMetrics obs, [count(1) AS rows]")]) is None


def test_covered_ms_merges_overlaps():
    assert eventlog._covered_ms([(0, 10), (5, 20), (30, 40)], 0, 35) == 25
    assert eventlog._covered_ms([], 0, 10) == 0


def _report(log_dir, t0, t1, want):
    """Parse until the listener bus has flushed the wanted layers."""
    for _ in range(40):
        report = eventlog.layer_report(eventlog.parse(log_dir), [(t0, t1)])
        if all(report[k] > 0 for k in want):
            return report
        time.sleep(0.5)
    return report


def test_batch_run_attributes_mapping_and_bundles(spark, event_log_dir, tmp_path):
    inp = seeded_transcripts(spark, 2_000, seed=7)
    t0 = time.time() * 1000
    obs = Observation("m")
    mapped = observe_mapping(apply_mapping(inp, CONFIG, id_col="conv_id", data_col="text"), obs)
    ok = ok_rows(mapped).select("conv_id", "turn_idx", "role", F.col("ok").alias("text"))
    assemble_bundles(ok, salt_buckets=None).write.parquet(str(tmp_path / "out"))
    t1 = time.time() * 1000
    r = _report(event_log_dir, t0, t1, ["mapping.run_ms", "bundles.run_ms"])
    assert r["mapping.run_ms"] > 0 and r["mapping.tasks"] > 0
    assert r["mapping.shuffle_write_bytes"] > 0
    assert r["bundles.run_ms"] > 0 and r["bundles.shuffle_read_bytes"] > 0
    assert r["assembly.run_ms"] == 0
    assert r["unattributed_ms"] >= 0
    assert r["engine.jobs"] >= 2
    assert obs.get["rows_total"] == 2_000
    w = eventlog.window_totals(eventlog.parse(event_log_dir), [(t0, t1)])
    assert w["jobs"] == r["engine.jobs"]
    assert w["cpu_ms"] > 0 and w["shuffle_bytes"] > 0


def test_stream_run_attributes_assembly(spark, event_log_dir, tmp_path):
    wl = StreamHarmonize(str(tmp_path), seed=3)
    wl.records = 400
    wl.write_input(spark)
    p = wl.run_pass(spark)
    r = _report(event_log_dir, p.t0_ms, p.t1_ms, ["assembly.run_ms", "mapping.run_ms"])
    assert r["assembly.run_ms"] > 0
    assert r["assembly.python_bytes_received"] > 0
    assert r["assembly.python_run_ms"] > 0
    assert r["mapping.run_ms"] > 0
    assert r["bundles.run_ms"] == 0
    assert r["engine.driver_gap_ms"] > 0
    layers = wl.layers(spark, [p])
    assert layers["errors.rows_ok"] + layers["errors.rows_err"] == 401  # + sentinel
    assert layers["sink.batches_committed"] > 0
