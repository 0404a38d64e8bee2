"""Deterministic synthetic transcript generator (FIXTURES.md F1).

Input shape from BASELINE.json ``input_hint``:
``conv_id:string, turn_idx:int, role:string, text:string, tool:string,
ts:timestamp``.

Every column is a pure Catalyst expression of the global row index, so the
table is:

* **deterministic** — independent of partitioning, task order, or cluster
  size (required for bit-exact correctness runs at two parallelism levels);
* **distributed** — generated with ``spark.range(n)``, no driver-side data,
  so the same code generates the 10^6-turn bench table and would generate a
  10^12-turn table on a real cluster;
* **adversarial** — one hot conversation holds ~10% of all turns (skew
  salting exercise), arrival order is shuffled (stateful-reordering
  exercise), a small fraction of texts is malformed JSON (dead-letter
  exercise), timestamps have bounded disorder plus rare very-late rows
  (watermark exercise), and ``tool`` turns always follow an assistant turn
  (stream-stream-join exercise).

Layout: rows [0, hot_turns) belong to conv "conv-hot"; the rest are dealt
round-robin-free into fixed-size conversations of ``turns_per_conv``.
Role pattern within a conversation has period 4: user, assistant, tool,
user — so every tool turn at turn_idx has its originating assistant turn at
turn_idx-1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TRANSCRIPT_SCHEMA = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"

EPOCH = "2024-01-01 00:00:00"


def generate_transcripts(
    spark: SparkSession,
    total_turns: int = 10_000,
    turns_per_conv: int = 20,
    hot_frac: float = 0.10,
    malformed_per_mille: int = 5,
    late_one_in: int = 199,
    shuffled_arrival: bool = True,
    num_partitions: int | None = None,
) -> DataFrame:
    """Generate ``total_turns`` transcript rows, deterministically."""
    hot_turns = int(total_turns * hot_frac)
    df = spark.range(0, total_turns, numPartitions=num_partitions)

    is_hot = F.col("id") < hot_turns
    cold_pos = F.col("id") - hot_turns
    conv_id = F.when(is_hot, F.lit("conv-hot")).otherwise(
        F.format_string("conv-%06d", (cold_pos / turns_per_conv).cast("long"))
    )
    turn_idx = F.when(is_hot, F.col("id")).otherwise(cold_pos % turns_per_conv).cast("int")

    # deterministic per-row noise: xxhash64 of (conv, idx, salt)
    h = F.abs(F.xxhash64(conv_id, turn_idx, F.lit("noise")))

    phase = turn_idx % 4
    role = (
        F.when(phase == 1, F.lit("assistant"))
        .when((phase == 2) & (turn_idx >= 2), F.lit("tool"))
        .otherwise(F.lit("user"))
    )
    tool = F.when(role == "tool", F.concat(F.lit("tool-"), (h % 3).cast("string")))

    # mappable JSON payload; rare malformed rows exercise the dead-letter path
    text = F.when(h % 1000 < malformed_per_mille, F.lit("{")).otherwise(
        F.format_string(
            '{"bar":%d,"role":"%s","note":"turn %d of %s"}',
            h % 100,
            role,
            turn_idx,
            conv_id,
        )
    )

    # event time: conversation start staggered by conv hash, turns 10s apart,
    # +/-3s jitter (bounded disorder), and ~1/late_one_in rows a full hour late
    conv_start = F.abs(F.xxhash64(conv_id)) % 86400
    jitter = (h % 7) - 3
    late = F.when(h % late_one_in == 0, -3600).otherwise(0)
    ts = F.timestamp_seconds(
        F.unix_timestamp(F.lit(EPOCH)) + conv_start + turn_idx.cast("long") * 10 + jitter + late
    )

    out = df.select(
        conv_id.alias("conv_id"),
        turn_idx.alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        ts.alias("ts"),
    )
    if shuffled_arrival:
        # deterministic shuffle of arrival order (exercises reordering);
        # repartition by the arrival hash, sort within partitions
        arrival = F.abs(F.xxhash64("conv_id", "turn_idx", F.lit("arrival")))
        out = (
            out.withColumn("_arr", arrival)
            .repartition(num_partitions or spark.sparkContext.defaultParallelism, "_arr")
            .sortWithinPartitions("_arr")
            .drop("_arr")
        )
    return out


def write_time_ordered_stream(
    df: DataFrame, path: str, n_files: int = 8
) -> str:
    """Write a transcript table as a file stream whose ARRIVAL order follows
    event time, the way an Iceberg/Kafka source delivers commits.

    Two properties matter for a correct bounded replay:

    * each file owns a contiguous ``ts`` range (``repartitionByRange``), so
      the watermark derived from batch k cannot retroactively classify
      batch k+1 as late;
    * part-file mtimes are staggered in range order, because the file
      stream source orders files by modification time — with tied mtimes
      the order is arbitrary, and a batch that happens to contain the
      latest ts range first would advance the watermark past every earlier
      file, mass-dropping them as late (observed: 25-60% whole-conversation
      loss at 200k turns, nondeterministic per run).

    Rows WITHIN a file keep their jittered/disordered order — reordering and
    genuine late-row handling still get exercised.
    """
    import os
    import time

    df.repartitionByRange(n_files, "ts").write.mode("overwrite").parquet(path)
    base = time.time() - 7200
    parts = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    for i, f in enumerate(parts):
        os.utime(os.path.join(path, f), (base + i, base + i))
    return path


def append_flush_sentinel(
    spark: SparkSession, path: str, ts: str = "2030-01-01 00:00:00"
) -> None:
    """Append one far-future row AFTER the main data (strictly later file
    mtime, so the FileStreamSource consumes it in the LAST micro-batch).

    Bounded-replay device only: it advances the watermark past every real
    session's event-time timeout so stateful sessions flush at end-of-input.
    A production stream never needs it — fresh events advance the watermark
    continuously. If the sentinel were consumed early, every later row would
    be dropped as late, which is why mtime ordering matters.
    """
    import os
    import time

    sent = spark.createDataFrame(
        [("conv-sentinel", 0, "user", "{}", None, ts)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts_s string",
    ).select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        "tool",
        F.col("ts_s").cast("timestamp").alias("ts"),
    )
    sent.coalesce(1).write.mode("append").parquet(path)
    # bump the just-written sentinel file's mtime well past the main data's
    future = time.time() + 3600
    newest = sorted(
        (os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")),
        key=os.path.getmtime,
    )
    if newest:
        os.utime(newest[-1], (future, future))
