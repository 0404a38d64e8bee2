"""SparkSession factory with scale-oriented defaults.

Local tests run on ``local[N]`` but every knob here is chosen for the
1000-executor / 100 TB case and degrades gracefully locally:

* AQE on (runtime coalescing, skew-join splitting) — replaces the
  reference's dynamic work rebalancing (HL7v2IO.java:838-845).
* Arrow enabled for every Python<->JVM hop (the reference's hand-written
  coders, SURVEY §1.3, become Arrow batches).
* shuffle partitions sized by caller; default 2x cores locally.
* streaming checkpoints (offsets, commits, source logs, state-store delta
  files) commit through Hadoop's ``FileSystem`` API, not Spark's default
  ``FileContext`` manager: without the Hadoop native library, every
  ``FileContext.rename`` on a local path forks ``readlink`` (25 ms against
  0.5 ms a rename on a 4-core x86 host). Both managers refuse to overwrite
  an existing checkpoint file. ``extra_conf`` can still set the other one.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The engine's SQL confs, set by build_session and tools/submit_harmonization.py
# alike. Output depends on them: timestamps render in the session zone with a
# literal 'Z' (model/errors.py, the time builtins), so it is UTC, as in pandas.
ENGINE_SQL_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.session.timeZone": "UTC",
    # streaming: bounded state, RocksDB would be the cluster choice; the
    # provider is config-switchable so tests run on the default HDFS store
    "spark.sql.streaming.stateStore.stateSchemaCheck": "true",
}


def build_session(
    app_name: str = "healthcare-data-harmonization-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cores = os.cpu_count() or 4
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")

    # make the package importable in executor Python workers regardless of the
    # driver's cwd (the local-mode analogue of `spark-submit --py-files`)
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
        )
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = 2 * (cores if n in ("", "*") else int(n))

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(map=ENGINE_SQL_CONF)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    )
    # ad-hoc conf via env — the local-mode analogue of `spark-submit
    # --conf k=v`, e.g. SPARK_GRAFT_EXTRA_CONF="spark.eventLog.enabled=true;
    # spark.eventLog.dir=/tmp/ev" for profiling runs
    for pair in os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(";"):
        if "=" in pair:
            k, v = pair.split("=", 1)
            b = b.config(k.strip(), v)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
