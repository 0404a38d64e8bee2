"""The output checks catch one dropped turn, one duplicated turn and one
out-of-order bundle, and pass on correct output."""

import json

import pytest
from pyspark.sql import functions as F

from healthcare_data_harmonization_dataflow_spark.model.errors import err_rows, ok_rows
from healthcare_data_harmonization_dataflow_spark.operators.bundles import assemble_bundles
from healthcare_data_harmonization_dataflow_spark.operators.mapping_op import apply_mapping
from perfbench.checks import conservation_check, harmonize_checks
from perfbench.workloads import CONFIG

ROWS = [
    ("conv-a", i, "user" if i % 2 == 0 else "assistant",
     json.dumps({"bar": 10 * i, "role": "user", "note": f"turn {i}"}), "2024-01-01 00:00:00")
    for i in range(5)
] + [
    ("conv-b", 0, "user", '{"bar":70,"role":"user","note":"b0"}', "2024-01-01 00:00:00"),
    ("conv-b", 1, "assistant", "{", "2024-01-01 00:00:10"),  # malformed: dead letter
    ("conv-b", 2, "user", '{"bar":3,"role":"user","note":"b2"}', "2024-01-01 00:00:20"),
]


@pytest.fixture(scope="module")
def pipeline_output(spark):
    inp = spark.createDataFrame(
        ROWS, "conv_id string, turn_idx int, role string, text string, ts_s string"
    ).select("conv_id", "turn_idx", "role", "text", F.col("ts_s").cast("timestamp").alias("ts"))
    mapped = apply_mapping(inp, CONFIG, id_col="conv_id", data_col="text")
    ok = ok_rows(mapped).select("conv_id", "turn_idx", "role", F.col("ok").alias("text"))
    bundles = [r.asDict() for r in assemble_bundles(ok, salt_buckets=None).collect()]
    deadletter = err_rows(mapped).select("conv_id", "turn_idx")
    return inp, bundles, deadletter


def _bundles_df(spark, rows):
    return spark.createDataFrame(rows, "conv_id string, n_turns long, bundle string")


def _edit(bundles, conv_id, fn):
    out = []
    for b in bundles:
        turns = json.loads(b["bundle"])
        if b["conv_id"] == conv_id:
            turns = fn(turns)
        out.append((b["conv_id"], len(turns), json.dumps(turns)))
    return out


def _failed(checks):
    return {c.name for c in checks if not c.passed}


def test_correct_output_passes(spark, pipeline_output):
    inp, bundles, deadletter = pipeline_output
    rows = _edit(bundles, None, lambda t: t)
    assert _failed(harmonize_checks(inp, CONFIG, _bundles_df(spark, rows), deadletter)) == set()


def test_dropped_turn_is_caught(spark, pipeline_output):
    inp, bundles, deadletter = pipeline_output
    rows = _edit(bundles, "conv-a", lambda t: t[:2] + t[3:])
    assert _failed(harmonize_checks(inp, CONFIG, _bundles_df(spark, rows), deadletter)) == {
        "bundled_turns_equal_ok_input"
    }


def test_duplicated_turn_is_caught(spark, pipeline_output):
    inp, bundles, deadletter = pipeline_output
    rows = _edit(bundles, "conv-a", lambda t: t[:3] + [t[2]] + t[3:])
    assert "bundled_turns_equal_ok_input" in _failed(
        harmonize_checks(inp, CONFIG, _bundles_df(spark, rows), deadletter)
    )


def test_out_of_order_bundle_is_caught(spark, pipeline_output):
    inp, bundles, deadletter = pipeline_output
    rows = _edit(bundles, "conv-b", lambda t: t[::-1])
    assert _failed(harmonize_checks(inp, CONFIG, _bundles_df(spark, rows), deadletter)) == {
        "bundle_turns_ascending"
    }


def test_missing_dead_letter_is_caught(spark, pipeline_output):
    inp, bundles, deadletter = pipeline_output
    rows = _edit(bundles, None, lambda t: t)
    empty = deadletter.limit(0)
    assert _failed(harmonize_checks(inp, CONFIG, _bundles_df(spark, rows), empty)) == {
        "deadletter_equals_rejected_input"
    }


def test_conservation():
    assert conservation_check(10, 7, 2, 1, 0).passed
    assert not conservation_check(10, 7, 2, 0, 0).passed
