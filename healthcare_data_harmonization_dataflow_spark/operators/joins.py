"""Join operators: enrichment, tool-call attachment (as-of), salted joins.

The reference "joins" only by per-element RPC: a notification stream is
enriched by fetching the full record (HL7v2IO.java:422-482) with a
dead-letter branch for failed fetches. Spark-first re-expressions:

* small dimension -> **broadcast hash join** (no shuffle at all);
* large dimension -> shuffle join, or a stream-static join in streaming;
* the tool-call -> originating-assistant-turn attachment (north-star) is an
  **as-of join**: each tool turn attaches to the latest earlier assistant
  turn in the same conversation. Implemented WITHOUT a join: a single
  window pass with ``last(..., ignoreNulls)`` over (conv_id, turn_idx) —
  one shuffle, no O(n^2) range explosion, and skew-safe because the window
  itself is sequential per conversation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def enrich_broadcast(facts: DataFrame, dim: DataFrame, on, how: str = "left") -> DataFrame:
    """Enrichment against a small dimension: explicit broadcast so the plan
    never shuffles the fact table (verify: BroadcastHashJoin in .explain)."""
    return facts.join(F.broadcast(dim), on, how)


def attach_tool_calls(
    transcripts: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    role_col: str = "role",
) -> DataFrame:
    """Attach each ``tool`` turn to its originating ``assistant`` turn.

    As-of semantics: for every tool row, the assistant row with the largest
    ``order_col`` strictly below it within the same conversation. One window
    pass (single shuffle on conv_id), rather than a range self-join.
    """
    w = (
        Window.partitionBy(conv_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    asst_idx = F.when(F.col(role_col) == "assistant", F.col(order_col))
    asst_text = F.when(F.col(role_col) == "assistant", F.col("text"))
    enriched = transcripts.withColumn("origin_turn_idx", F.last(asst_idx, ignorenulls=True).over(w)).withColumn(
        "origin_text", F.last(asst_text, ignorenulls=True).over(w)
    )
    return enriched.filter(F.col(role_col) == "tool")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
    strict: bool = False,
    right_tiebreak: str | None = None,
) -> DataFrame:
    """Generic as-of join: for each left row, the latest right row with
    right_ts <= left_ts (or < when strict) per key.

    Implemented as union + window (one shuffle), the scalable pattern for
    as-of joins: a range-condition join would explode to O(|L|x|R|) per key
    before filtering; this stays O(|L|+|R|) with a sort per key.

    Ordering at equal timestamps is fully deterministic: right rows sort
    before left rows (non-strict) or after (strict), and equal-ts right rows
    are resolved by ``right_tiebreak`` (largest wins) — pass a unique column
    whenever right timestamps can collide.
    """
    tb = right_tiebreak or right_ts
    lhs = left.select(
        F.lit(0).alias("_side"),
        F.col(key).alias("_k"),
        F.col(left_ts).alias("_ts"),
        F.lit(None).cast(right.schema[tb].dataType).alias("_tie"),
        F.struct(*left.columns).alias("_l"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_r_{c}") for c in right_cols],
    )
    rhs = right.select(
        F.lit(1).alias("_side"),
        F.col(key).alias("_k"),
        F.col(right_ts).alias("_ts"),
        F.col(tb).alias("_tie"),
        F.lit(None).cast(lhs.schema["_l"].dataType).alias("_l"),
        *[F.col(c).alias(f"_r_{c}") for c in right_cols],
    )
    # non-strict: right rows visible at equal ts -> right (side=1) sorts first;
    # strict: right rows at equal ts excluded -> right sorts after left
    side_order = F.col("_side").desc() if not strict else F.col("_side").asc()
    w = (
        Window.partitionBy("_k")
        .orderBy(F.col("_ts").asc(), side_order, F.col("_tie").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    merged = lhs.unionByName(rhs)
    for c in right_cols:
        merged = merged.withColumn(f"_r_{c}", F.last(F.col(f"_r_{c}"), ignorenulls=True).over(w))
    return merged.filter(F.col("_side") == 0).select(
        F.col("_l.*"), *[F.col(f"_r_{c}").alias(f"right_{c}") for c in right_cols]
    )


def salted_count(df: DataFrame, key: str, salt_buckets: int = 16) -> DataFrame:
    """Two-phase skew-safe count by key: partial count on (key, salt), final
    merge on key — the classic salting pattern; the hot key's first-stage
    work spreads over ``salt_buckets`` tasks."""
    salt = (F.abs(F.xxhash64(F.monotonically_increasing_id())) % salt_buckets).alias("_salt")
    partial = df.groupBy(F.col(key), salt).agg(F.count(F.lit(1)).alias("_c"))
    return partial.groupBy(key).agg(F.sum("_c").alias("n"))
