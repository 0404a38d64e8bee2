"""Windowed aggregation operators.

The reference uses windowing for exactly one thing: chunking error streams
into 5-second processing-time files (Hl7v2ToFhirStreamingRunner.java:168-175).
The north-star engine adds real event-time analytics: tumbling / sliding /
session windows over the transcript stream. All three are single-shuffle
declarative plans (partial aggregation map-side, final after exchange) —
Catalyst emits hash-aggregates with whole-stage codegen; at 100 TB the
shuffle is keyed on (window, key) so AQE can coalesce/split skewed windows.
They differ only in the window expression they group by.

These operators are batch/streaming agnostic: the same expressions run under
``readStream`` with ``withWatermark``. The streaming pipeline assembles
conversation sessions with its own state handler
(streaming/assembly.py); :func:`session` is its batch analogue.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _windowed(
    df: DataFrame, win: Column, keys: list[str], aggs: list[Column] | None
) -> DataFrame:
    """Group by (window, keys), aggregate (default: row count ``n``) and
    expose the window as ``win_start``/``win_end``."""
    aggs = aggs or [F.count(F.lit(1)).alias("n")]
    out = df.groupBy(win.alias("win"), *[F.col(k) for k in keys]).agg(*aggs)
    return out.select(
        F.col("win.start").alias("win_start"),
        F.col("win.end").alias("win_end"),
        *[c for c in out.columns if c != "win"],
    )


def tumbling(
    df: DataFrame,
    ts_col: str,
    duration: str,
    keys: list[str] | None = None,
    aggs: list[Column] | None = None,
) -> DataFrame:
    """Tumbling event-time window aggregation."""
    return _windowed(df, F.window(ts_col, duration), keys or [], aggs)


def sliding(
    df: DataFrame,
    ts_col: str,
    duration: str,
    slide: str,
    keys: list[str] | None = None,
    aggs: list[Column] | None = None,
) -> DataFrame:
    """Sliding event-time window aggregation (each row lands in
    duration/slide windows; Spark expands via its internal window generator,
    still one shuffle)."""
    return _windowed(df, F.window(ts_col, duration, slide), keys or [], aggs)


def session(
    df: DataFrame,
    ts_col: str,
    gap: str,
    keys: list[str],
    aggs: list[Column] | None = None,
) -> DataFrame:
    """Session windows (gap-based) keyed by ``keys`` — the batch analogue of
    the streaming conversation assembly. Uses the built-in
    ``session_window`` generator: rows within ``gap`` of each other merge
    into one session; a single shuffle on (key, session)."""
    return _windowed(df, F.session_window(ts_col, gap), keys, aggs)
