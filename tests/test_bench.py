"""bench.py times perfbench's workloads: a job reports its figures only
after the workload's own output checks pass."""

import os

import pytest

import bench
from perfbench.checks import Check

CONTRACT = {"metric", "value", "unit", "queries", "sf", "cpus", "turns_per_sec"}


def test_harmonize_only_reports_the_contract_fields(spark, sf_dir):
    out = bench.run(spark, "harmonize_only", 600, cpus=2, sf_dir=sf_dir)
    assert CONTRACT <= set(out)
    assert out["metric"] == "bench_suite_seconds"
    assert out["queries"]["harmonize_1m_turns"] == out["value"] > 0
    assert out["turns_per_sec"] > 0 and out["harmonize_turns"] == 600


def test_stream_measure_reports_and_restores_partitions(spark):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    out = bench.measure_stream(spark, 600, files=2, files_per_trigger=1)
    assert set(out) == {"seconds", "per_sec", "batches", "batch_p50_s"}
    assert out["seconds"] > 0 and out["per_sec"] > 0 and out["batches"] >= 3
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_failed_check_raises_instead_of_reporting(spark, monkeypatch):
    wl = bench.workload(bench.BatchHarmonizeFiles, records=600, files=2)
    monkeypatch.setattr(
        wl, "checks", lambda spark, passes: [Check("forced_failure", False, "1 row differs")]
    )
    with pytest.raises(bench.CheckFailed, match="forced_failure"):
        bench.measure(spark, wl)
    assert not os.path.exists(wl.workdir)
