"""Stateful conversation assembly — session windows + turn reordering.

The north-star's core streaming operator (SURVEY §2.5 "ABSENT in the
reference" row): buffer each conversation's turns in keyed state, reorder by
``turn_idx`` regardless of arrival order, and emit one harmonized bundle when
the session times out (no turn for ``gap``, measured in event time against
the watermark).

Implementation: ``applyInPandasWithState`` keyed by ``conv_id`` —
* state = (buffered turns as one version-tagged pickled blob, max event-time
  seen) — see ``STATE_SCHEMA``;
* every micro-batch appends the new turns (Arrow-batched, no per-row
  Python over the wire) and re-arms an event-time timeout at
  ``max_ts + gap``;
* a session is released once the watermark passes its last turn + gap (on
  timeout, every buffered session is); the handler emits its turns as an
  array and writes no JSON. The operator renders each bundle with
  ``operators/bundles.py:bundle_json``, the renderer of the batch
  ``assemble_bundles`` operator, which orders turns by (turn_idx, role,
  text) — NEVER by arrival/shuffle order (SURVEY §7.4 risk 2).

This is the pipeline's only session assembly. Its batch analogue is
``operators/windows.py:session`` with ``bundle_json`` as the aggregate (the
``session_assembly`` query): on on-time input both emit the same rows.

Skew: the shuffle into the stateful operator is keyed by conv_id only (state
keys must stay unsalted — BASELINE north_rule). A hot conversation
serializes one task but state updates are O(new turns) and ingestion is
vectorized, so the hot task does not straggle — MEASURED (round 4, 1M turns,
local[32], BENCH.md skew table): one conversation holding 0% / 10% / 30% /
90% of all turns sustains 19.8k / 23.3k / 26.9k / 24.2k turns/s — more skew
is FASTER, because per-key overhead (state-store entries, handler
invocations, timeout bookkeeping) dominates per-turn cost. A salted
pre-combine before the state exchange is therefore measurably unnecessary;
if a future profile disagrees, it belongs UPSTREAM of this operator (state
keys stay unsalted regardless — test_state_keys_are_unsalted_under_skew).
"""

from __future__ import annotations

import gc
import math
from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
import pickle

from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..operators.bundles import bundle_json

BUNDLE_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("n_turns", LongType()),
        StructField("bundle", StringType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
    ]
)

# what the state handler emits: BUNDLE_SCHEMA with the session's turns in
# place of the rendered bundle
_SESSION_SCHEMA = (
    "conv_id string, n_turns long, "
    "turns array<struct<turn_idx:int,role:string,text:string>>, "
    "session_start timestamp, session_end timestamp"
)

STATE_SCHEMA = StructType(
    # Buffered turns travel as ONE pickled binary cell per key instead of
    # array<struct>: the state protocol then moves an opaque blob, skipping
    # per-element Arrow<->Python struct conversion on every micro-batch —
    # the dominant cost for a hot conversation whose open session holds
    # thousands of turns.
    #
    # NOTE this state layout is INCOMPATIBLE with checkpoints written by the
    # array<struct> layout of earlier builds — resume those with the old
    # code or reprocess. The blob carries a leading version byte so a future
    # format change is detected explicitly instead of failing inside
    # pickle.loads.
    [StructField("turns_blob", BinaryType()), StructField("max_ts_us", LongType())]
)

_STATE_VERSION = 1


def _pack_turns(turns: list) -> bytes:
    return bytes([_STATE_VERSION]) + pickle.dumps(
        turns, protocol=pickle.HIGHEST_PROTOCOL
    )


def _unpack_turns(blob: bytes) -> list:
    if not blob or blob[0] != _STATE_VERSION:
        raise ValueError(
            f"incompatible session-state blob (version {blob[0] if blob else 'empty'}, "
            f"expected {_STATE_VERSION}): the checkpoint was written by a "
            "different engine build — resume it with that build or reprocess"
        )
    return pickle.loads(blob[1:])


def _split_sessions(turns: list, gap_us: int) -> list[list]:
    """Event-time session split: sort by (ts, turn_idx) and break where the
    inter-turn gap exceeds ``gap`` — the semantics of ``F.session_window``,
    whose [ts, ts + gap) windows merge when they touch: a turn exactly
    ``gap`` after the previous one stays in the session."""
    turns = sorted(turns, key=lambda t: (t[3], t[0]))
    sessions, cur = [], [turns[0]]
    for t in turns[1:]:
        if t[3] - cur[-1][3] > gap_us:
            sessions.append(cur)
            cur = [t]
        else:
            cur.append(t)
    sessions.append(cur)
    return sessions


def _session_row(key, session: list, gap_seconds: int) -> dict:
    ts = [t[3] for t in session]
    return {
        "conv_id": key[0],
        "n_turns": len(session),
        # (turn_idx, role, text): bundle_json sorts them in the JVM
        "turns": [t[:3] for t in session],
        "session_start": pd.Timestamp(min(ts), unit="us"),
        "session_end": pd.Timestamp(max(ts) + gap_seconds * 1_000_000, unit="us"),
    }


def _chunks(session: list, max_turns: int | None) -> list[list]:
    """Bundle-size cap: a giant session emits several bundles of at most
    ``max_turns`` turns instead of one enormous bundle in a single task.
    The cut is by position in the session's (turn_idx, role, text) order,
    NULLs first as ``bundle_json`` sorts them, so a repeated turn_idx
    with a NULL role or text chunks without comparing None to a string.
    The batch operator's ``max_turns_per_bundle`` cuts by ``turn_idx div
    max`` instead; the two agree when a session's turn_idx run 0..n-1."""
    if not max_turns or len(session) <= max_turns:
        return [session]
    ordered = sorted(
        session,
        key=lambda t: (t[0], t[1] is not None, t[1] or "", t[2] is not None, t[2] or ""),
    )
    return [ordered[i : i + max_turns] for i in range(0, len(ordered), max_turns)]


_worker_heap_frozen = False


def _freeze_worker_heap() -> None:
    """Move the Python worker's heap into the permanent generation, once
    per process. PySpark's daemon runs a full ``gc.collect()`` after every
    task, which otherwise re-walks every object pandas, pyarrow and pyspark
    imported into the worker. Objects made later are collected as usual.
    The flag lives in this module's globals because the handler closure is
    pickled by value, so a flag in its own globals would reset every task."""
    global _worker_heap_frozen
    if not _worker_heap_frozen:
        _worker_heap_frozen = True
        gc.collect()  # garbage already in the heap is not frozen for good
        gc.freeze()


def _assemble(
    key: Tuple[str],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    gap_seconds: int,
    max_turns_per_bundle: int | None = None,
) -> Iterator[pd.DataFrame]:
    gap_us = gap_seconds * 1_000_000
    # a timed-out call brings no rows and fires only once the watermark has
    # passed every buffered session's end: all of them are complete
    wm_us = (
        math.inf if state.hasTimedOut else state.getCurrentWatermarkMs() * 1000
    )

    turns: list[Any] = []
    if state.exists:
        (blob, _) = state.get
        turns = _unpack_turns(blob)
    for pdf in pdfs:
        # Vectorized ingestion: numpy column extraction + one C-level zip —
        # no per-row Python (input_hint: pandas/Arrow batch fns throughout).
        ts_us_arr = pdf["ts"].to_numpy("datetime64[us]").astype("int64")
        # Spark does NOT pre-filter late input for this operator (verified
        # against 4.1 behavior); enforce the reference's allowedLateness=ZERO
        # ourselves: drop rows behind the watermark.
        live = ts_us_arr >= wm_us
        if not live.all():
            pdf = pdf[live]
            ts_us_arr = ts_us_arr[live]
        turns.extend(
            zip(
                pdf["turn_idx"].to_numpy("int64").tolist(),
                pdf["role"].tolist(),
                pdf["text"].tolist(),
                ts_us_arr.tolist(),
            )
        )
    if not turns:
        if state.exists:
            state.remove()
        return

    # incremental emission: a session whose last turn + gap is below the
    # watermark can never legally grow (a row that could join it, at most
    # gap later, would be dropped as late), so emit it now and shrink
    # state — this is what bounds state size on an endless stream.
    sessions = _split_sessions(turns, gap_us)
    complete = [s for s in sessions if s[-1][3] + gap_us < wm_us]
    open_sessions = [s for s in sessions if s[-1][3] + gap_us >= wm_us]

    if open_sessions:
        remaining = [t for s in open_sessions for t in s]
        max_ts_us = max(t[3] for t in remaining)
        state.update((_pack_turns(remaining), max_ts_us))
        # event-time timeout: final flush when the watermark passes last+gap
        # (must be strictly later than the current watermark in ms)
        state.setTimeoutTimestamp(
            max(max_ts_us // 1000 + gap_seconds * 1000, state.getCurrentWatermarkMs() + 1)
        )
    elif state.exists:
        state.remove()

    if complete:
        yield pd.DataFrame(
            [
                _session_row(key, c, gap_seconds)
                for s in complete
                for c in _chunks(s, max_turns_per_bundle)
            ]
        )


def assemble_sessions_stateful(
    transcripts: DataFrame,
    gap: str = "5 minutes",
    watermark_delay: str | None = "10 minutes",
    max_turns_per_bundle: int | None = None,
) -> DataFrame:
    """Streaming session assembly. ``transcripts`` must contain
    conv_id/turn_idx/role/text/ts. Watermark on ts bounds state size and
    drives the event-time session timeout. ``max_turns_per_bundle`` caps
    bundle size (chunked emission for hot conversations). Returns
    ``BUNDLE_SCHEMA`` rows. ``watermark_delay=None`` means the input stream
    ALREADY carries a watermark on ts (e.g. an upstream dropDuplicatesWithinWatermark) —
    re-defining one is disallowed by Spark."""
    gap_seconds = _parse_seconds(gap)

    def fn(key, pdfs, state):
        # runs only in Python workers; _assemble is also driven in-process
        _freeze_worker_heap()
        return _assemble(key, pdfs, state, gap_seconds, max_turns_per_bundle)

    t = transcripts.select("conv_id", "turn_idx", "role", "text", "ts")
    if watermark_delay is not None:
        t = t.withWatermark("ts", watermark_delay)
    return (
        t
        .groupBy("conv_id")
        .applyInPandasWithState(
            fn,
            outputStructType=_SESSION_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
        .select(
            "conv_id",
            "n_turns",
            bundle_json("turns").alias("bundle"),
            "session_start",
            "session_end",
        )
    )


_UNIT_SECONDS = {"second": 1, "minute": 60, "hour": 3600, "day": 86400}


def _parse_seconds(s: str) -> int:
    parts = s.lower().split()
    unit = parts[1].removesuffix("s") if len(parts) == 2 else ""
    if unit in _UNIT_SECONDS and parts[0].isdigit():
        return int(parts[0]) * _UNIT_SECONDS[unit]
    raise ValueError(
        f"session gap {s!r}: expected '<integer> <unit>' with unit "
        "second(s), minute(s), hour(s) or day(s), e.g. '5 minutes'"
    )

