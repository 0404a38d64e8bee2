"""spark-submit entry point for the streaming harmonization job.

The cluster launch mode the north rule names:

    python tools/make_pyfiles.py  # -> dist/healthcare_data_harmonization_dataflow_spark.zip
    spark-submit \
        --master <cluster-master> \
        --py-files dist/healthcare_data_harmonization_dataflow_spark.zip \
        tools/submit_harmonization.py \
        --input  <path-or-iceberg-table> \
        --out    <output warehouse dir> \
        --checkpoint <checkpoint dir> \
        --mapping-config-file <config.wstl>

The script only parses arguments and wires the public pipeline API — all
logic lives in the package so the SAME code runs under pytest, bench.py and
spark-submit. Locally (no cluster manager) use `--master 'local[8]'`.

Mirrors the reference's runner entry
(Hl7v2ToFhirStreamingRunner.main, src/main/java/com/google/cloud/healthcare/
etl/runner/hl7v2tofhir/Hl7v2ToFhirStreamingRunner.java:154-200): options in,
two queries out (harmonization + dead-letter), blocking until termination.
"""

from __future__ import annotations

import argparse


def attach_session():
    """spark-submit's session (it owns master, sizing and the checkpoint
    manager) with the engine's SQL confs, UTC timestamps among them."""
    from pyspark.sql import SparkSession

    from healthcare_data_harmonization_dataflow_spark.session import (
        ENGINE_SQL_CONF,
    )

    spark = (
        SparkSession.builder.appName("transcript-harmonization")
        .config(map=ENGINE_SQL_CONF)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="transcript stream path/table")
    ap.add_argument("--out", required=True, help="output warehouse directory")
    ap.add_argument("--checkpoint", required=True, help="checkpoint root")
    ap.add_argument("--mapping-config-file", required=True,
                    help="path or URI (file/hdfs/s3a/gs) of the mapping config"
                    " — the reference's --mappingPath")
    ap.add_argument("--import-root", default="",
                    help="directory tree resolving the config's import"
                    ' statements — the reference\'s --importRoot')
    ap.add_argument("--enable-performance-metrics", action="store_true",
                    help="per-element transform-latency distribution"
                    " (forces the Arrow/pandas mapping backend)")
    ap.add_argument("--session-gap", default="5 minutes")
    ap.add_argument("--watermark-delay", default="10 minutes")
    ap.add_argument("--trigger-seconds", type=int, default=5,
                    help="micro-batch trigger (reference error-window size)")
    ap.add_argument("--available-now", action="store_true",
                    help="bounded run: drain what exists, then stop")
    ap.add_argument("--error-shards", type=int, default=10)
    ap.add_argument("--dedup-turns", action="store_true",
                    help="absorb at-least-once source redelivery: drop "
                         "duplicate (conv_id, turn_idx) within the watermark "
                         "before mapping (Pub/Sub semantics)")
    ap.add_argument("--max-turns-per-bundle", type=int, default=None,
                    help="chunk giant sessions into bundles of at most N"
                    " turns")
    args = ap.parse_args()

    # imports deferred so --help works without a JVM
    from healthcare_data_harmonization_dataflow_spark.streaming.metrics import (
        MetricsListener,
    )
    from healthcare_data_harmonization_dataflow_spark.streaming.pipeline import (
        HarmonizationPipeline,
    )

    spark = attach_session()

    from healthcare_data_harmonization_dataflow_spark.provider.mapping import (
        load_mapping_config,
    )

    cfg = load_mapping_config(
        args.mapping_config_file, import_root=args.import_root, spark=spark
    )

    trigger = (
        {"availableNow": True}
        if args.available_now
        else {"processingTime": f"{args.trigger_seconds} seconds"}
    )
    pipe = HarmonizationPipeline(
        mapping_config=cfg,
        out_dir=args.out,
        session_gap=args.session_gap,
        watermark_delay=args.watermark_delay,
        trigger=trigger,
        error_shards=args.error_shards,
        dedup_turns=args.dedup_turns,
        max_turns_per_bundle=args.max_turns_per_bundle,
        enable_performance_metrics=args.enable_performance_metrics,
    )
    # one JSON record per (query, batch), on any filesystem --out names
    listener = MetricsListener(path=f"{args.out}/metrics")
    spark.streams.addListener(listener)

    qh = pipe.run_harmonization(spark, args.input, f"{args.checkpoint}/harmonization")
    qd = pipe.run_deadletter(spark, args.input, f"{args.checkpoint}/deadletter")
    qh.awaitTermination()
    qd.awaitTermination()
    # detach before interpreter teardown: a termination event delivered to a
    # dying Python callback server logs a spurious py4j error
    spark.streams.removeListener(listener)
    import time

    time.sleep(1)


if __name__ == "__main__":
    main()
