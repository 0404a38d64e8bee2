"""Streaming pipeline tests (SURVEY §5 port, tiers 2-4).

Covers: stateful session assembly under shuffled arrival, dead-letter
branch in streaming, exactly-once replay idempotence, and the
stream-stream tool-call join. Bounded runs use availableNow + a flush
sentinel (a far-future row that pushes the watermark past every real
session's timeout — the bounded-replay analogue of an endless stream).
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from healthcare_data_harmonization_dataflow_spark.model.errors import ok_rows
from healthcare_data_harmonization_dataflow_spark.operators.bundles import (
    assemble_bundles,
    bundle_json,
    turns_struct,
)
from healthcare_data_harmonization_dataflow_spark.operators.mapping_op import apply_mapping
from healthcare_data_harmonization_dataflow_spark.operators.windows import session
from healthcare_data_harmonization_dataflow_spark.sources.transcripts import (
    append_flush_sentinel,
    generate_transcripts,
)
from healthcare_data_harmonization_dataflow_spark.streaming.join import (
    attach_tool_calls_stream,
    pick_origin,
)
from healthcare_data_harmonization_dataflow_spark.streaming.pipeline import (
    HarmonizationPipeline,
)
from healthcare_data_harmonization_dataflow_spark.streaming.sink import (
    ExactlyOnceParquetSink,
)

CFG = "out Output: Proj(root);\ndef Proj(input) { foo: input.bar; }"


def _write_input(spark, path, total_turns=400, with_sentinel=True, **kwargs):
    kwargs.setdefault("late_one_in", 10**9)  # no very-late rows in goldens
    df = generate_transcripts(spark, total_turns=total_turns, num_partitions=8, **kwargs)
    df.write.mode("overwrite").parquet(path)
    if with_sentinel:
        # far-future row appended LAST (later mtime): flushes sessions at EOF
        append_flush_sentinel(spark, path)
    return spark.read.parquet(path).filter(F.col("conv_id") != "conv-sentinel")


def _run_pipeline(spark, tmp, input_path, gap="2 minutes", delay="36 hours"):
    # generator arrival order is globally shuffled (disorder up to a day),
    # so the correctness watermark must cover the full disorder span; the
    # late-data test below uses a tight watermark instead
    pipe = HarmonizationPipeline(
        mapping_config=CFG,
        out_dir=os.path.join(tmp, "out"),
        session_gap=gap,
        watermark_delay=delay,
        trigger={"availableNow": True},
        max_files_per_trigger=4,  # force several micro-batches: exercises
        # watermark progression + mid-stream state, not one giant batch
    )
    q1 = pipe.run_harmonization(spark, input_path, os.path.join(tmp, "ckpt_h"))
    q2 = pipe.run_deadletter(spark, input_path, os.path.join(tmp, "ckpt_d"))
    q1.awaitTermination(300)
    q2.awaitTermination(300)
    return pipe


def test_streaming_harmonization_end_to_end(spark, tmp_path):
    tmp = str(tmp_path)
    inp = os.path.join(tmp, "transcripts")
    src = _write_input(spark, inp)
    pipe = _run_pipeline(spark, tmp, inp)

    bundles = pipe.bundles(spark).filter(F.col("conv_id") != "conv-sentinel")
    dead = pipe.deadletter(spark)

    # --- dead-letter: exactly the malformed rows, step=mapping
    n_bad = src.filter((F.col("text") == "{") & (F.col("conv_id") != "conv-sentinel")).count()
    assert dead.count() == n_bad
    assert set(r["step"] for r in dead.select("step").distinct().collect()) == {"mapping"}

    # --- bundles: one session per conversation (turns 10s apart << 2min gap),
    # byte-identical to the batch assembly of the mapped ok rows
    from healthcare_data_harmonization_dataflow_spark.operators.mapping_op import apply_mapping
    from healthcare_data_harmonization_dataflow_spark.model.errors import ok_rows

    batch_ok = ok_rows(
        apply_mapping(src.filter(F.col("conv_id") != "conv-sentinel"), CFG,
                      id_col="conv_id", data_col="text")
    ).select("conv_id", "turn_idx", "role", F.col("ok").alias("text"))
    expected = {
        r["conv_id"]: (r["n_turns"], r["bundle"]) for r in assemble_bundles(batch_ok).collect()
    }
    got = {r["conv_id"]: (r["n_turns"], r["bundle"]) for r in bundles.collect()}
    assert got == expected

    # --- reordering invariant: every bundle sorted by turn_idx despite
    # shuffled arrival order
    for _, (_, bundle) in got.items():
        idxs = [t["turn_idx"] for t in json.loads(bundle)]
        assert idxs == sorted(idxs)


def test_streaming_exactly_once_replay(spark, tmp_path):
    tmp = str(tmp_path)
    inp = os.path.join(tmp, "transcripts")
    _write_input(spark, inp, total_turns=200)
    pipe = _run_pipeline(spark, tmp, inp)
    first = pipe.bundles(spark).count()
    first_batches = pipe.bundles_sink.committed_batches()
    assert first > 0

    # restart from the SAME checkpoint: no new data -> no new commits, no dupes
    pipe2 = _run_pipeline(spark, tmp, inp)
    assert pipe2.bundles(spark).count() == first
    assert pipe2.bundles_sink.committed_batches() == first_batches

    # simulate a replayed epoch (driver crash after write, before progress):
    # rewriting an already-committed batchId must be a no-op
    some_batch = first_batches[-1]
    sink = pipe.bundles_sink
    dummy = spark.createDataFrame([("x", 1, "b", None, None)], pipe_schema())
    sink.write_batch(dummy, some_batch)
    assert pipe.bundles(spark).count() == first


def pipe_schema():
    from healthcare_data_harmonization_dataflow_spark.streaming.assembly import BUNDLE_SCHEMA

    return BUNDLE_SCHEMA


@pytest.mark.parametrize("store", ["rename", "put"])
def test_streaming_exactly_once_replay_commit_modes(
    spark, tmp_path, monkeypatch, store
):
    """The FULL streaming replay contract on a store that offers rename
    (``rename``: os.replace / os.rename work and are recorded) and on one
    that offers only single-object PUTs (``put``: they raise for any path
    under ``_commits/``). On both, the commit path must never rename a
    marker, and restart from the same checkpoint and a replayed epoch must
    both be no-ops."""
    commit_renames = []

    def commit_rename_guard(real):
        def guarded(src, dst, *a, **k):
            if "_commits" in os.fspath(src) or "_commits" in os.fspath(dst):
                commit_renames.append((os.fspath(src), os.fspath(dst)))
                if store == "put":
                    raise IOError("rename is not available on this store")
            return real(src, dst, *a, **k)

        return guarded

    monkeypatch.setattr(os, "replace", commit_rename_guard(os.replace))
    monkeypatch.setattr(os, "rename", commit_rename_guard(os.rename))

    tmp = str(tmp_path)
    inp = os.path.join(tmp, "transcripts")
    _write_input(spark, inp, total_turns=200)
    pipe = _run_pipeline(spark, tmp, inp)
    first = pipe.bundles(spark).count()
    first_batches = pipe.bundles_sink.committed_batches()
    assert first > 0
    assert pipe.deadletter_sink.committed_batches()

    # restart from the SAME checkpoint: no new data -> no new commits
    pipe2 = _run_pipeline(spark, tmp, inp)
    assert pipe2.bundles(spark).count() == first
    assert pipe2.bundles_sink.committed_batches() == first_batches

    # replayed epoch (crash after write, before progress): no-op
    sink = pipe2.bundles_sink
    dummy = spark.createDataFrame([("x", 1, "b", None, None)], pipe_schema())
    sink.write_batch(dummy, first_batches[-1])
    assert pipe2.bundles(spark).count() == first
    assert commit_renames == []


_CHECKPOINTING = "org.apache.spark.sql.execution.streaming.checkpointing"
_CHECKPOINT_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"


def _checkpoint_file_manager(spark, path):
    """The CheckpointFileManager a stream started now would use for ``path``."""
    jvm = spark._jvm
    return jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(path),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )


def _resume_with_new_data(spark, tmp_path, first_run_manager=None):
    """Run, stop, append conversation B, restart on the same checkpoint.
    ``first_run_manager`` names the CheckpointFileManager class the first
    run commits through; the restart always runs on the session's own."""
    import time as _t

    tmp = str(tmp_path)
    inp = os.path.join(tmp, "in")
    os.makedirs(inp)
    t0 = _t.time()
    conv_a = [("A", i, "user", '{"bar":%d}' % i, None, f"2024-01-01 00:00:{i:02d}") for i in range(3)]
    _append_one_file(_turns_df(spark, conv_a), inp, t0)
    _append_one_file(
        _turns_df(spark, [("conv-sentinel", 0, "user", "{}", None, "2024-06-01 00:00:00")]),
        inp, t0 + 100,
    )

    pipe = HarmonizationPipeline(
        mapping_config=CFG, out_dir=os.path.join(tmp, "out"),
        session_gap="2 minutes", watermark_delay="1 minutes",
        trigger={"availableNow": True},
    )
    ck = os.path.join(tmp, "ckpt_h")
    session_manager = spark.conf.get(_CHECKPOINT_MANAGER_CONF)
    first_run_manager = first_run_manager or session_manager
    spark.conf.set(_CHECKPOINT_MANAGER_CONF, first_run_manager)
    try:
        assert _checkpoint_file_manager(spark, ck).getClass().getName() == first_run_manager
        q = pipe.run_harmonization(spark, inp, ck)
        q.awaitTermination(300)
    finally:
        spark.conf.set(_CHECKPOINT_MANAGER_CONF, session_manager)
    assert pipe.bundles(spark).filter(F.col("conv_id") == "A").count() == 1

    # stop/"crash", then new conversation B arrives; restart from checkpoint
    conv_b = [("B", i, "user", '{"bar":%d}' % i, None, f"2024-07-01 00:00:{i:02d}") for i in range(2)]
    _append_one_file(_turns_df(spark, conv_b), inp, t0 + 200)
    _append_one_file(
        _turns_df(spark, [("conv-sentinel", 1, "user", "{}", None, "2024-12-01 00:00:00")]),
        inp, t0 + 300,
    )
    q2 = pipe.run_harmonization(spark, inp, ck)
    q2.awaitTermination(300)

    bundles = pipe.bundles(spark).filter(F.col("conv_id").isin("A", "B"))
    got = sorted((r["conv_id"], r["n_turns"]) for r in bundles.collect())
    assert got == [("A", 3), ("B", 2)]  # A not duplicated, B picked up


def test_checkpoint_resume_with_new_data(spark, tmp_path):
    """Kill/restart continuation: a restarted query processes ONLY data that
    arrived after the first run, and the union of outputs equals a single
    uninterrupted run (checkpoint-resumable, no dupes, no loss)."""
    _resume_with_new_data(spark, tmp_path)


def test_checkpoint_resume_from_file_context_checkpoint(spark, tmp_path):
    """A checkpoint written through Spark's default FileContext manager
    (offsets, commits, source log and state-store delta files) resumes on
    the engine's FileSystem manager exactly once: the buffered sentinel
    session comes back from the first run's state files."""
    _resume_with_new_data(
        spark, tmp_path, f"{_CHECKPOINTING}.FileContextBasedCheckpointFileManager"
    )


def test_engine_session_commits_checkpoints_through_filesystem_api(spark, tmp_path):
    """Engine sessions commit checkpoint files through Hadoop's FileSystem
    API (no readlink/stat forks per rename without libhadoop), and an
    atomic create onto an existing checkpoint file still fails and keeps
    the first writer's bytes."""
    from py4j.protocol import Py4JJavaError

    mgr = _checkpoint_file_manager(spark, str(tmp_path))
    assert mgr.getClass().getName() == f"{_CHECKPOINTING}.FileSystemBasedCheckpointFileManager"

    path = spark._jvm.org.apache.hadoop.fs.Path(str(tmp_path / "0"))
    first = mgr.createAtomic(path, False)
    first.write(bytearray(b"first writer"))
    first.close()
    second = mgr.createAtomic(path, False)
    second.write(bytearray(b"second writer"))
    with pytest.raises(Py4JJavaError) as err:
        second.close()
    assert "FileAlreadyExistsException" in err.value.java_exception.getClass().getName()
    assert (tmp_path / "0").read_bytes() == b"first writer"


def _data_file_bytes(sink_dir, batch_id):
    """On-disk size of a committed batch's parquet data files."""
    d = os.path.join(sink_dir, "data", f"batch={batch_id}")
    return sum(
        os.path.getsize(os.path.join(d, f))
        for f in os.listdir(d)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


def _sink_at(spark, tmp_path, uri):
    """(sink, directory on disk): a POSIX path, or the same directory as a
    file:// URI, which runs the Hadoop FileSystem facade."""
    disk = str(tmp_path / "s")
    return ExactlyOnceParquetSink(
        "file://" + disk if uri else disk, "t", spark=spark
    ), disk


def _conv_ids(spark, lo, hi):
    return spark.range(lo, hi).select(F.col("id").cast("string").alias("conv_id"))


def test_sink_lineage(spark, tmp_path):
    sink = ExactlyOnceParquetSink(str(tmp_path / "s"), "t")
    df = spark.range(100).select(F.col("id").cast("string").alias("conv_id"))
    sink.write_batch(df.repartition(4), 0)
    lin = sink.lineage()
    assert len(lin) == 1 and lin[0]["rows"] == 100
    assert len(lin[0]["partitions"]) == 4
    assert sum(p["bytes"] for p in lin[0]["partitions"]) == _data_file_bytes(
        str(tmp_path / "s"), 0
    )


def test_sink_shards_are_sized_from_the_rows(spark, tmp_path):
    """num_shards caps the files of a batch; AQE sizes the shuffle from
    the rows, so a small batch writes one file instead of num_shards
    near-empty ones. None still writes the upstream partitions as they
    are."""
    df = spark.range(0, 200, numPartitions=3).select(
        F.col("id").cast("string").alias("conv_id")
    )
    sharded = ExactlyOnceParquetSink(str(tmp_path / "sharded"), "s", num_shards=10)
    sharded.write_batch(df, 0)
    (lin,) = sharded.lineage()
    assert lin["rows"] == 200 and len(lin["partitions"]) == 1
    assert sharded.read_committed(spark).count() == 200
    plain = ExactlyOnceParquetSink(str(tmp_path / "plain"), "p")
    plain.write_batch(df, 0)
    assert len(plain.lineage()[0]["partitions"]) == 3


@pytest.mark.parametrize("shards", [0, -1])
def test_sink_rejects_shard_count_below_one(tmp_path, shards):
    """--error-shards below 1 fails at construction instead of silently
    writing unsharded (0) or failing inside a batch (negative)."""
    with pytest.raises(ValueError, match="num_shards"):
        ExactlyOnceParquetSink(str(tmp_path / "s"), "s", num_shards=shards)
    with pytest.raises(ValueError, match="num_shards"):
        HarmonizationPipeline(
            mapping_config=CFG, out_dir=str(tmp_path / "o"), error_shards=shards
        )


def test_session_gap_splits_conversation(spark, tmp_path):
    """A conversation dormant for longer than the gap yields two bundles,
    split at the event-time gap (session_window semantics)."""
    tmp = str(tmp_path)
    rows = [
        ("A", 0, "user", '{"bar":1}', None, "2024-01-01 00:00:00"),
        ("A", 1, "assistant", '{"bar":2}', None, "2024-01-01 00:00:30"),
        # > 2 min dormancy -> new session
        ("A", 2, "user", '{"bar":3}', None, "2024-01-01 00:10:00"),
        ("A", 3, "assistant", '{"bar":4}', None, "2024-01-01 00:10:30"),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts_s string"
    ).select("conv_id", "turn_idx", "role", "text", "tool",
             F.col("ts_s").cast("timestamp").alias("ts"))
    inp = os.path.join(tmp, "in")
    df.write.mode("overwrite").parquet(inp)
    append_flush_sentinel(spark, inp)

    pipe = _run_pipeline(spark, tmp, inp, gap="2 minutes")
    bundles = pipe.bundles(spark).filter(F.col("conv_id") == "A").orderBy("session_start")
    got = [(r["n_turns"], json.loads(r["bundle"])) for r in bundles.collect()]
    assert len(got) == 2
    assert [t["turn_idx"] for t in got[0][1]] == [0, 1]
    assert [t["turn_idx"] for t in got[1][1]] == [2, 3]


def _turns_df(spark, rows):
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts_s string"
    ).select(
        "conv_id", "turn_idx", "role", "text", "tool", F.col("ts_s").cast("timestamp").alias("ts")
    )


def _append_one_file(df, inp, mtime):
    before = set(os.listdir(inp)) if os.path.isdir(inp) else set()
    df.coalesce(1).write.mode("append").parquet(inp)
    new = [f for f in os.listdir(inp) if f.endswith(".parquet") and f not in before]
    for f in new:
        os.utime(os.path.join(inp, f), (mtime, mtime))


def test_late_rows_dropped(spark, tmp_path):
    """A row older than the watermark never reaches session state — the
    reference's allowedLateness=ZERO semantics
    (Hl7v2ToFhirStreamingRunner.java:168-175). One file per micro-batch so
    the watermark demonstrably advances between arrivals."""
    import time as _t

    tmp = str(tmp_path)
    inp = os.path.join(tmp, "in")
    os.makedirs(inp)
    t0 = _t.time()
    early = [("A", i, "user", '{"bar":%d}' % i, None, f"2024-01-01 00:00:{i:02d}") for i in range(3)]
    _append_one_file(_turns_df(spark, early), inp, t0)
    _append_one_file(
        _turns_df(spark, [("conv-sentinel", 0, "user", "{}", None, "2024-01-02 00:00:00")]),
        inp, t0 + 100,
    )  # advances watermark to 2024-01-01 23:59
    _append_one_file(
        _turns_df(spark, [("A", 9, "user", '{"bar":9}', None, "2024-01-01 00:00:05")]),
        inp, t0 + 200,
    )  # LATE: far below watermark
    _append_one_file(
        _turns_df(spark, [("conv-sentinel", 1, "user", "{}", None, "2024-01-03 00:00:00")]),
        inp, t0 + 300,
    )  # final flush

    pipe = HarmonizationPipeline(
        mapping_config=CFG,
        out_dir=os.path.join(tmp, "out"),
        session_gap="2 minutes",
        watermark_delay="1 minutes",
        trigger={"availableNow": True},
        max_files_per_trigger=1,
    )
    q = pipe.run_harmonization(spark, inp, os.path.join(tmp, "ckpt_h"))
    q.awaitTermination(300)

    bundles = pipe.bundles(spark).filter(F.col("conv_id") == "A").collect()
    assert len(bundles) == 1, [r["bundle"] for r in bundles]
    idxs = [t["turn_idx"] for t in json.loads(bundles[0]["bundle"])]
    assert idxs == [0, 1, 2]  # late turn 9 dropped, never resurrects a session


def test_stream_stream_tool_join(spark, tmp_path):
    tmp = str(tmp_path)
    rows = [
        # conv A: assistant idx1 @t10, tool idx2 @t20 -> attaches to idx1
        ("A", 0, "user", "u", None, 0),
        ("A", 1, "assistant", "a1", None, 10),
        ("A", 2, "tool", "t", "tool-x", 20),
        # conv A: later assistant idx3 @t30, tool idx4 @t40 -> attaches to idx3
        ("A", 3, "assistant", "a2", None, 30),
        ("A", 4, "tool", "t", "tool-y", 40),
        # conv B: tool with no prior assistant in range -> dropped (inner join)
        ("B", 1, "tool", "t", "tool-z", 50),
        # sentinel to flush watermarks
        ("S", 0, "user", "u", None, 10**6),
    ]
    df = spark.createDataFrame(
        [(c, i, r, x, tl, f"2024-01-01 00:{s//60:02d}:{s%60:02d}" if s < 3600 else "2024-02-01 00:00:00")
         for (c, i, r, x, tl, s) in rows],
        "conv_id string, turn_idx int, role string, text string, tool string, ts_s string",
    ).select("conv_id", "turn_idx", "role", "text", "tool", F.col("ts_s").cast("timestamp").alias("ts"))
    inp = os.path.join(tmp, "in")
    df.write.mode("overwrite").parquet(inp)

    stream = (
        spark.readStream.schema(
            "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
        ).parquet(inp)
    )
    candidates = attach_tool_calls_stream(stream, watermark_delay="30 seconds", lookback="1 minutes")

    out = []

    def collect_batch(bdf, bid):
        out.extend(pick_origin(bdf).collect())

    q = (
        candidates.writeStream.foreachBatch(collect_batch)
        .option("checkpointLocation", os.path.join(tmp, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = {(r["conv_id"], r["turn_idx"]): r["origin_turn_idx"] for r in out}
    assert got == {("A", 2): 1, ("A", 4): 3}


def test_time_ordered_stream_conserves_turns(spark, tmp_path):
    """Arrival order must follow event time for a bounded replay: with tied
    file mtimes the source may consume the latest ts range first, advancing
    the watermark past earlier files and mass-dropping them as late
    (observed nondeterministic 25-60% loss). write_time_ordered_stream
    staggers mtimes in ts-range order; every non-late, well-formed turn must
    then reach exactly one bundle even when the hot conversation's span
    exceeds the watermark delay."""
    from healthcare_data_harmonization_dataflow_spark.sources.transcripts import (
        write_time_ordered_stream,
    )

    tmp = str(tmp_path)
    inp = os.path.join(tmp, "in")
    n = 50_000  # hot conv spans ~14h > the 2h watermark below
    t = generate_transcripts(spark, total_turns=n, late_one_in=10**9,
                             malformed_per_mille=0)
    write_time_ordered_stream(t, inp)
    append_flush_sentinel(spark, inp)
    pipe = HarmonizationPipeline(
        mapping_config=CFG,
        out_dir=os.path.join(tmp, "out"),
        trigger={"availableNow": True},
        max_files_per_trigger=3,
        watermark_delay="2 hours",
    )
    q = pipe.run_harmonization(spark, inp, os.path.join(tmp, "ck"))
    q.awaitTermination(600)
    got = pipe.bundles(spark).filter(F.col("conv_id") != "conv-sentinel")
    assert got.selectExpr("sum(n_turns)").first()[0] == n


def test_bundle_size_cap_chunks_hot_conversation(spark, tmp_path):
    """max_turns_per_bundle splits a giant session into several bundles with
    no turn lost and per-bundle turn_idx ordering preserved."""
    from healthcare_data_harmonization_dataflow_spark.sources.transcripts import (
        write_time_ordered_stream,
    )

    tmp = str(tmp_path)
    inp = os.path.join(tmp, "in")
    t = generate_transcripts(spark, total_turns=2000, late_one_in=10**9,
                             malformed_per_mille=0)
    write_time_ordered_stream(t, inp, n_files=4)
    append_flush_sentinel(spark, inp)
    pipe = HarmonizationPipeline(
        mapping_config=CFG,
        out_dir=os.path.join(tmp, "out"),
        trigger={"availableNow": True},
        watermark_delay="36 hours",
        max_turns_per_bundle=50,
    )
    q = pipe.run_harmonization(spark, inp, os.path.join(tmp, "ck"))
    q.awaitTermination(300)
    b = pipe.bundles(spark).filter(F.col("conv_id") != "conv-sentinel")
    rows = b.collect()
    assert sum(r["n_turns"] for r in rows) == 2000
    assert max(r["n_turns"] for r in rows) <= 50
    hot = sorted((r for r in rows if r["conv_id"] == "conv-hot"),
                 key=lambda r: json.loads(r["bundle"])[0]["turn_idx"])
    assert len(hot) == 4  # 200 hot turns / 50
    seen = [t["turn_idx"] for r in hot for t in json.loads(r["bundle"])]
    assert seen == sorted(seen) == list(range(200))


def test_state_keys_are_unsalted_under_skew(spark, tmp_path):
    """north_rule skew contract: the stateful assembly keys its state by
    conv_id ONLY — no salt ever reaches a state key, so a hot conversation
    is one logical key whose bundles carry the ORIGINAL conv_id and cover
    every turn exactly once in turn order. (Bench evidence that the
    unsalted hot task does not straggle — per-key overhead dominates
    per-turn cost — is in BENCH.md's round-4 skew table.)"""
    from healthcare_data_harmonization_dataflow_spark.sources.transcripts import (
        write_time_ordered_stream,
    )

    tmp = str(tmp_path)
    inp = os.path.join(tmp, "in")
    n = 5000  # hot conv = 10% of turns (generator default)
    t = generate_transcripts(spark, total_turns=n, late_one_in=10**9,
                             malformed_per_mille=0)
    in_convs = {r["conv_id"] for r in t.select("conv_id").distinct().collect()}
    write_time_ordered_stream(t, inp, n_files=4)
    append_flush_sentinel(spark, inp)
    pipe = HarmonizationPipeline(
        mapping_config=CFG,
        out_dir=os.path.join(tmp, "out"),
        trigger={"availableNow": True},
        watermark_delay="36 hours",
        max_turns_per_bundle=100,
    )
    q = pipe.run_harmonization(spark, inp, os.path.join(tmp, "ck"))
    q.awaitTermination(300)
    rows = pipe.bundles(spark).filter(
        F.col("conv_id") != "conv-sentinel"
    ).collect()
    out_convs = {r["conv_id"] for r in rows}
    # every emitted key is a pristine input conv_id: salting the state key
    # (suffixes, fragment ids) would fail the subset check
    assert out_convs <= in_convs, out_convs - in_convs
    assert sum(r["n_turns"] for r in rows) == n
    hot_idx = sorted(
        t["turn_idx"]
        for r in rows
        if r["conv_id"] == "conv-hot"
        for t in json.loads(r["bundle"])
    )
    assert hot_idx == list(range(n // 10))  # exactly once each, in order


def test_sink_crash_between_write_and_commit(spark, tmp_path):
    """The documented crash window: batch data fully written but the commit
    marker never landed. Readers must ignore the orphan data; a replay of
    the same batchId must clobber it and commit exactly once."""
    import os as _os

    sink = ExactlyOnceParquetSink(str(tmp_path / "s"), "t")
    df = spark.range(50).select(F.col("id").cast("string").alias("conv_id"))
    sink.write_batch(df, 0)

    # simulate the crash for batch 1: data present, no commit marker
    crash_df = spark.range(50, 80).select(F.col("id").cast("string").alias("conv_id"))
    crash_path = _os.path.join(str(tmp_path / "s"), "data", "batch=1")
    crash_df.write.mode("overwrite").parquet(crash_path)

    assert sink.read_committed(spark).count() == 50  # orphan invisible
    assert sink.committed_batches() == [0]

    # replay batch 1 (streaming redelivers the same epoch after restart)
    replay_df = spark.range(50, 90).select(F.col("id").cast("string").alias("conv_id"))
    sink.write_batch(replay_df, 1)
    got = sink.read_committed(spark)
    assert got.count() == 90
    assert got.select("conv_id").distinct().count() == 90  # no dupes, no loss
    assert sink.committed_batches() == [0, 1]
    assert sink.lineage()[1]["rows"] == 40

    # second replay of a committed batch is a no-op
    sink.write_batch(replay_df, 1)
    assert sink.read_committed(spark).count() == 90


@pytest.mark.parametrize("uri", [False, True], ids=["posix", "file_uri"])
def test_sink_torn_marker_from_crash_mid_write(spark, tmp_path, uri):
    """A crash part-way through the one direct marker write leaves a
    TRUNCATED marker and the write raises, so the checkpoint never
    advances. The torn marker must count as UNCOMMITTED everywhere — no
    crash on read, no phantom batch — and the replay must self-heal it
    with no loss and no duplication."""
    sink, disk = _sink_at(spark, tmp_path, uri)
    sink.write_batch(_conv_ids(spark, 0, 50), 0)

    fs = sink._fs()
    write = fs.write_text

    def crash_mid_write(path, text):
        write(path, text[: len(text) // 2])
        raise IOError("process died mid-write")

    fs.write_text = crash_mid_write
    b1 = _conv_ids(spark, 50, 90)
    with pytest.raises(IOError, match="mid-write"):
        sink.write_batch(b1, 1)  # data lands, marker is torn
    del fs.write_text
    assert os.path.getsize(os.path.join(disk, "_commits", "1.json")) > 0

    # fresh reader: the torn marker is invisible, not a crash
    reader, _ = _sink_at(spark, tmp_path, uri)
    assert reader.committed_batches() == [0]
    assert reader.is_committed(1) is False
    assert reader.read_committed(spark).count() == 50
    assert len(reader.lineage()) == 1

    # the replayed epoch self-heals: exactly one copy of every row
    sink.write_batch(b1, 1)
    got = reader.read_committed(spark)
    assert got.count() == 90
    assert got.select("conv_id").distinct().count() == 90
    assert reader.committed_batches() == [0, 1]


@pytest.mark.parametrize("uri", [False, True], ids=["posix", "file_uri"])
def test_sink_marker_read_back_mismatch_raises(spark, tmp_path, uri):
    """The marker is read back after its write: a write that reports
    success but lands short (an upload lost mid-flight) raises, so the
    batch replays instead of silently vanishing."""
    sink, _ = _sink_at(spark, tmp_path, uri)
    df = _conv_ids(spark, 0, 40)
    sink.write_batch(df, 0)
    assert sink.committed_batches() == [0]
    sink.write_batch(df.limit(1), 0)  # replay guard
    assert sink.read_committed(spark).count() == 40

    fs = sink._fs()
    write = fs.write_text
    fs.write_text = lambda path, text: write(path, text[:10])
    b1 = _conv_ids(spark, 40, 60)
    with pytest.raises(IOError, match="verify failed"):
        sink.write_batch(b1, 1)  # raises -> checkpoint would NOT advance
    del fs.write_text
    assert sink.is_committed(1) is False  # short marker = uncommitted
    sink.write_batch(b1, 1)  # replay succeeds
    got = sink.read_committed(spark)
    assert got.count() == 60
    assert got.select("conv_id").distinct().count() == 60


def test_sink_marker_write_fsyncs_file_and_directory(spark, tmp_path, monkeypatch):
    """The local marker write is durable before the checkpoint advances:
    the marker file AND the ``_commits`` directory (which holds a new
    file's name) are fsync'd, in that order."""
    import stat

    synced = []
    real_fsync = os.fsync

    def counting_fsync(fd):
        st = os.fstat(fd)
        synced.append(("dir" if stat.S_ISDIR(st.st_mode) else "file", st.st_ino))
        real_fsync(fd)

    sink = ExactlyOnceParquetSink(str(tmp_path / "s"), "t")
    monkeypatch.setattr(os, "fsync", counting_fsync)
    sink.write_batch(_conv_ids(spark, 0, 10), 0)
    commits = tmp_path / "s" / "_commits"
    assert synced == [
        ("file", (commits / "0.json").stat().st_ino),
        ("dir", commits.stat().st_ino),
    ]


@pytest.mark.parametrize("uri", [False, True], ids=["posix", "file_uri"])
def test_sink_stream_restart_adds_no_commit(spark, tmp_path, uri):
    """A stream restarted from the same checkpoint commits nothing new:
    the batch's marker stays byte-identical and no row is duplicated."""
    inp = str(tmp_path / "in")
    _conv_ids(spark, 0, 30).write.parquet(inp)

    def run():
        sink, disk = _sink_at(spark, tmp_path, uri)
        (
            spark.readStream.schema("conv_id string").parquet(inp)
            .writeStream.foreachBatch(sink.foreach_batch())
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        with open(os.path.join(disk, "_commits", "0.json"), encoding="utf-8") as f:
            return sink, f.read()

    sink, marker = run()
    assert sink.committed_batches() == [0]
    sink2, marker2 = run()
    assert sink2.committed_batches() == [0]
    assert marker2 == marker
    assert sink2.read_committed(spark).count() == 30


def test_sink_on_hadoop_filesystem_uri(spark, tmp_path):
    """The sink must work when out_dir is a Hadoop FileSystem URI, not a
    POSIX path (production: hdfs/s3a/gs). file:// drives the exact same
    FileSystem-API code path: listing, the marker write + read-back,
    replay guard."""
    from healthcare_data_harmonization_dataflow_spark.streaming.sink import (
        ExactlyOnceParquetSink,
    )

    base = "file://" + str(tmp_path / "hsink")
    sink = ExactlyOnceParquetSink(base, "t", spark=spark)
    df = spark.range(50).selectExpr("cast(id as string) conv_id", "id n")
    sink.write_batch(df.repartition(4), 0)
    assert sink.committed_batches() == [0]
    lin = sink.lineage()[0]
    assert lin["rows"] == 50
    assert sorted(p["partition_id"] for p in lin["partitions"]) == list(
        range(len(lin["partitions"]))
    )
    # replay guard through the same FS facade
    sink.write_batch(df.limit(1), 0)
    assert sink.read_committed(spark).count() == 50
    # fresh sink object over the same URI sees the committed state
    sink2 = ExactlyOnceParquetSink(base, "t", spark=spark)
    assert sink2.committed_batches() == [0]
    assert sink2.read_committed(spark).count() == 50


def test_fanout_sink_stages_once_without_cache(spark, tmp_path):
    """FanOutSink must not cache the raw batch (W4): the batch is staged to
    parquet once, every route reads the staged copy, staging is removed
    after all routes commit, and a fully-committed replay is a no-op."""
    from healthcare_data_harmonization_dataflow_spark.streaming.sink import (
        ExactlyOnceParquetSink,
        FanOutSink,
    )
    import pyspark.sql.functions as F

    ok_sink = ExactlyOnceParquetSink(str(tmp_path / "ok"), "ok")
    err_sink = ExactlyOnceParquetSink(str(tmp_path / "err"), "err")
    fan = FanOutSink(
        [
            (ok_sink, lambda d: d.filter(F.col("n") % 2 == 0)),
            (err_sink, lambda d: d.filter(F.col("n") % 2 == 1)),
        ],
        staging_dir=str(tmp_path / "staging"),
    )
    df = spark.range(100).selectExpr("cast(id as string) conv_id", "id n")
    fn = fan.foreach_batch()
    fn(df, 0)
    assert ok_sink.read_committed(spark).count() == 50
    assert err_sink.read_committed(spark).count() == 50
    assert not os.path.exists(str(tmp_path / "staging" / "batch=0"))
    # replay: both committed -> no staging write, no change
    fn(spark.range(3).selectExpr("cast(id as string) conv_id", "id n"), 0)
    assert ok_sink.read_committed(spark).count() == 50
    assert not os.path.exists(str(tmp_path / "staging" / "batch=0"))


def test_transform_latency_distribution_in_metrics(spark, tmp_path):
    """enable_performance_metrics must surface the per-element transform
    latency Distribution (min/avg/max + p50/p95/p99) in every batch's
    observed metrics, visible in the listener's records — the MappingFn
    Distribution analogue (MappingFn.java:53-54, 205-210) — without leaking
    the _lat_us column into sinks."""
    from healthcare_data_harmonization_dataflow_spark.streaming.metrics import (
        MetricsListener,
    )

    tmp = str(tmp_path)
    inp = os.path.join(tmp, "transcripts")
    _write_input(spark, inp, total_turns=200)
    metrics_dir = os.path.join(tmp, "metrics")
    listener = MetricsListener(metrics_dir)
    spark.streams.addListener(listener)
    try:
        pipe = HarmonizationPipeline(
            mapping_config=CFG,
            out_dir=os.path.join(tmp, "out"),
            watermark_delay="36 hours",
            trigger={"availableNow": True},
            enable_performance_metrics=True,
        )
        q = pipe.run_harmonization(spark, inp, os.path.join(tmp, "ckpt"))
        q.awaitTermination(300)
    finally:
        spark.streams.removeListener(listener)

    assert "_lat_us" not in pipe.bundles(spark).columns
    rows = []
    for name in sorted(os.listdir(metrics_dir)):
        with open(os.path.join(metrics_dir, name)) as f:
            rows.append(json.load(f))
    observed = [
        r["observed"]["mapping_metrics"]
        for r in rows
        if r["num_input_rows"] > 0 and "mapping_metrics" in r["observed"]
    ]
    assert observed, f"no observed mapping metrics in {rows}"
    for m in observed:
        assert m["rows_ok"] > 0
        for k in ("lat_min_us", "lat_avg_us", "lat_max_us",
                  "lat_p50_us", "lat_p95_us", "lat_p99_us"):
            assert m[k] is not None and m[k] >= 0, (k, m)
        assert m["lat_min_us"] <= m["lat_p50_us"] <= m["lat_p99_us"] <= m["lat_max_us"]


def test_metrics_listener_reports_state_operators(spark, tmp_path):
    """Every listener row carries the state store's footprint summed over
    the stateful operators: open sessions count in numRowsTotal while the
    stream is mid-flight, and the flush sentinel's watermark jump drains
    every real one by the last batch."""
    import time as _t

    from healthcare_data_harmonization_dataflow_spark.streaming.metrics import (
        MetricsListener,
    )

    tmp = str(tmp_path)
    inp = os.path.join(tmp, "transcripts")
    _write_input(spark, inp, total_turns=200)
    listener = MetricsListener()
    spark.streams.addListener(listener)
    try:
        pipe = HarmonizationPipeline(
            mapping_config=CFG,
            out_dir=os.path.join(tmp, "out"),
            watermark_delay="36 hours",
            trigger={"availableNow": True},
            max_files_per_trigger=4,
        )
        q = pipe.run_harmonization(spark, inp, os.path.join(tmp, "ckpt"))
        q.awaitTermination(300)
        # listener events arrive asynchronously; wait for every batch's row
        n_batches = len(q.recentProgress)
        deadline = _t.time() + 60
        while _t.time() < deadline and n_batches > sum(
            r["query"] == "harmonization" for r in listener.progress
        ):
            _t.sleep(0.2)
    finally:
        spark.streams.removeListener(listener)

    rows = sorted(
        (r for r in listener.progress if r["query"] == "harmonization"),
        key=lambda r: r["batch_id"],
    )
    assert len(rows) == n_batches >= 3
    state = [r["state_operators"] for r in rows]
    for s in state:
        assert set(s) == {
            "numRowsTotal", "memoryUsedBytes", "numRowsDroppedByWatermark", "commitTimeMs",
        }
        assert s["numRowsDroppedByWatermark"] == 0  # the watermark covers the disorder
    assert any(s["numRowsTotal"] > 1 and s["memoryUsedBytes"] > 0 for s in state[:-1])
    # drained: only the sentinel's own session is left, nothing later flushes it
    assert state[-1]["numRowsTotal"] == 1
    assert rows[-1]["watermark"] is not None


def test_metrics_listener_writes_records_under_a_uri(spark, tmp_path):
    """A metrics path given as a URI (the CLI's ``--out`` on a cluster)
    lands on that filesystem, one JSON record per (query, batch), not in a
    local directory named after the scheme."""
    import time as _t

    from healthcare_data_harmonization_dataflow_spark.streaming.metrics import (
        MetricsListener,
    )

    inp = str(tmp_path / "in")
    spark.range(6).selectExpr("cast(id as string) as conv_id").write.parquet(inp)
    listener = MetricsListener(f"file://{tmp_path}/metrics")
    spark.streams.addListener(listener)
    try:
        q = (
            spark.readStream.schema("conv_id string")
            .option("maxFilesPerTrigger", 1)
            .parquet(inp)
            .writeStream.format("noop")
            .queryName("uri_metrics")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .start()
        )
        q.awaitTermination(300)
        n_batches = len(q.recentProgress)
        want = sorted(f"uri_metrics-{b}.json" for b in range(n_batches))

        def records():
            """Every whole record written so far (the Hadoop FS makes a
            file visible at create, before its bytes are closed in)."""
            d = tmp_path / "metrics"
            out = {}
            for n in os.listdir(d) if d.exists() else []:
                if not n.startswith("."):
                    try:
                        out[n] = json.loads((d / n).read_text())
                    except ValueError:
                        pass
            return out

        # listener events arrive asynchronously; wait for every batch's record
        deadline = _t.time() + 60
        while _t.time() < deadline and sorted(records()) != want:
            _t.sleep(0.2)
    finally:
        spark.streams.removeListener(listener)

    got = records()
    assert n_batches >= 2 and sorted(got) == want
    assert all(got[f"uri_metrics-{b}.json"]["batch_id"] == b for b in range(n_batches))
    assert not os.path.exists("file:")


def test_state_blob_version_tag():
    """Session-state blobs carry a version byte: a blob from a different
    format fails with an explicit incompatibility error, not inside
    pickle.loads."""
    from healthcare_data_harmonization_dataflow_spark.streaming.assembly import (
        _pack_turns,
        _unpack_turns,
    )

    turns = [(0, "user", "hi", 1_000_000)]
    assert _unpack_turns(_pack_turns(turns)) == turns
    import pickle

    with pytest.raises(ValueError, match="incompatible"):
        _unpack_turns(pickle.dumps(turns))  # un-versioned legacy blob
    with pytest.raises(ValueError, match="incompatible"):
        _unpack_turns(b"")


def test_state_v1_chunks_repeated_turn_with_null_fields(spark):
    """A chunked session holding one turn_idx several times (an
    at-least-once redelivery without dedup_turns), with a NULL role or
    text on some copies, is cut in bundle_json's order, NULLs first,
    instead of failing to compare None with a string."""
    import pandas as pd

    from healthcare_data_harmonization_dataflow_spark.streaming.assembly import (
        _assemble,
    )

    class _State:
        """The GroupState surface the handler uses."""

        hasTimedOut = False
        value = None
        exists = property(lambda self: self.value is not None)
        get = property(lambda self: self.value)

        def update(self, v):
            self.value = v

        def remove(self):
            self.value = None

        def setTimeoutTimestamp(self, ms):
            pass

        def getCurrentWatermarkMs(self):
            return 0

    pdf = pd.DataFrame(
        {
            "turn_idx": [2, 1, 1, 1],
            "role": ["user", "user", None, "user"],
            "text": ["c", "a", "b", None],
            "ts": pd.to_datetime(["2024-01-01 00:00:0%d" % i for i in range(4)]),
        }
    )
    state = _State()
    assert list(_assemble(("A",), iter([pdf]), state, 60, 2)) == []  # still open
    state.hasTimedOut = True
    (out,) = _assemble(("A",), iter([]), state, 60, 2)
    chunks = [list(map(tuple, t)) for t in out["turns"]]
    assert chunks == [
        [(1, None, "b"), (1, "user", None)],
        [(1, "user", "a"), (2, "user", "c")],
    ]
    assert list(out["n_turns"]) == [2, 2]
    assert state.value is None
    # the chunks, concatenated, are the order bundle_json renders
    whole = spark.createDataFrame(
        [([t for c in chunks for t in c],)],
        "t array<struct<turn_idx:int,role:string,text:string>>",
    )
    rendered = json.loads(whole.select(bundle_json("t")).first()[0])
    assert [tuple(t.values()) for t in rendered] == [t for c in chunks for t in c]


def test_state_handler_freezes_worker_heap_once(spark, tmp_path):
    """The state_v1 handler freezes its Python worker's heap once, so
    pyspark's per-task gc.collect() skips the imported modules: every
    worker that ran the handler has a non-empty permanent generation, no
    other worker has one, and the driver's is untouched."""
    import gc

    import pandas as pd

    from healthcare_data_harmonization_dataflow_spark.streaming import assembly

    driver_frozen = gc.get_freeze_count()
    tmp = str(tmp_path)
    inp = os.path.join(tmp, "transcripts")
    _write_input(spark, inp, total_turns=200)
    pipe = HarmonizationPipeline(
        mapping_config=CFG, out_dir=os.path.join(tmp, "out"),
        watermark_delay="36 hours", trigger={"availableNow": True},
    )
    pipe.run_harmonization(spark, inp, os.path.join(tmp, "ckpt")).awaitTermination(300)
    assert pipe.bundles(spark).count() > 0

    name = assembly.__name__

    def probe(batches):
        import gc as g
        import sys as s

        mod = s.modules.get(name)
        for _ in batches:
            pass
        yield pd.DataFrame(
            {
                "ran_handler": [bool(mod is not None and mod._worker_heap_frozen)],
                "frozen": [g.get_freeze_count()],
            }
        )

    # idle workers are handed out oldest first, so enough sequential waves
    # of tasks reach the ones the stream just released
    rows = (
        spark.range(32, numPartitions=32)
        .mapInPandas(probe, "ran_handler boolean, frozen long")
        .collect()
    )
    assert any(r["ran_handler"] for r in rows), rows
    for r in rows:
        assert (r["frozen"] > 0) == r["ran_handler"], r
    assert gc.get_freeze_count() == driver_frozen
    assert not assembly._worker_heap_frozen


def test_fanout_partial_failure_reuses_staged_batch(spark, tmp_path):
    """A route failing mid-fanout must leave the staged copy in place, and
    the retry must feed every sink from that SAME staged copy (one
    execution's results across retries) — with a nondeterministic upstream,
    re-staging would let committed and retried sinks disagree. Staging is
    deleted only after all routes commit."""
    from healthcare_data_harmonization_dataflow_spark.streaming.sink import (
        ExactlyOnceParquetSink,
        FanOutSink,
    )
    import pyspark.sql.functions as F

    a = ExactlyOnceParquetSink(str(tmp_path / "a"), "a")
    b = ExactlyOnceParquetSink(str(tmp_path / "b"), "b")
    boom = {"armed": True}

    def b_select(d):
        if boom["armed"]:
            raise RuntimeError("transient route failure")
        return d.filter(F.col("n") % 2 == 1)

    fan = FanOutSink(
        [(a, lambda d: d.filter(F.col("n") % 2 == 0)), (b, b_select)],
        staging_dir=str(tmp_path / "staging"),
    )
    # nondeterministic upstream: rand() would re-roll on re-execution
    df = (
        spark.range(100)
        .selectExpr("cast(id as string) conv_id", "id n")
        .withColumn("r", F.rand(seed=None))
    )
    fn = fan.foreach_batch()
    with pytest.raises(RuntimeError, match="transient"):
        fn(df, 0)
    # first route committed, staged copy retained for the retry
    assert a.committed_batches() == [0]
    staged = str(tmp_path / "staging" / "batch=0")
    assert os.path.exists(os.path.join(staged, "_SUCCESS"))
    a_first = sorted(r["r"] for r in a.read_committed(spark).collect())

    boom["armed"] = False
    fn(df, 0)  # retry: must NOT re-execute the upstream plan
    assert b.committed_batches() == [0]
    assert not os.path.exists(staged)  # cleaned only after full commit
    # the committed route's rows are identical across the retry, and the
    # second route's rows come from the same staged execution
    assert sorted(r["r"] for r in a.read_committed(spark).collect()) == a_first
    all_r = sorted(
        r["r"]
        for sink in (a, b)
        for r in sink.read_committed(spark).collect()
    )
    assert len(all_r) == 100 and len(set(all_r)) == 100


def test_sink_lineage_has_bytes_and_observed_rows(spark, tmp_path):
    """Lineage has one shape on every filesystem: the exact row count comes
    from an Observation riding the write job (no second pass), and
    per-partition entries carry byte sizes from ONE directory listing that
    sum to the data files on disk — on a POSIX path and on a file:// URI
    (the Hadoop FileSystem facade)."""
    df = spark.range(75).selectExpr("cast(id as string) conv_id", "id n")
    for uri in (False, True):
        s, disk = _sink_at(spark, tmp_path / str(uri), uri)
        s.write_batch(df.repartition(3), 0)
        lin = s.lineage()[0]
        assert lin["rows"] == 75  # exact, from the Observation
        parts = lin["partitions"]
        assert len(parts) == 3
        assert all(set(p) == {"partition_id", "bytes", "file"} for p in parts)
        assert sum(p["bytes"] for p in parts) == _data_file_bytes(disk, 0)


def _batch_sessions(turns, gap):
    """The batch session assembly (the registry's ``session_assembly``
    query): the generic session-window operator with the bundle renderer
    as its aggregate."""
    s = session(
        turns, "ts", gap, ["conv_id"],
        aggs=[
            F.count(F.lit(1)).alias("n_turns"),
            bundle_json(F.collect_list(turns_struct())).alias("bundle"),
        ],
    )
    return s.select(
        "conv_id", "n_turns", "bundle",
        F.col("win_start").alias("session_start"),
        F.col("win_end").alias("session_end"),
    )


def test_state_v1_matches_batch_session_window(spark, tmp_path):
    """On on-time input the streaming state_v1 pipeline emits exactly the
    sessions of the batch session_window composition over the same mapped
    turns: the same gap splits, bundles byte for byte and session bounds
    [first ts, last ts + gap]."""
    tmp = str(tmp_path)
    inp = os.path.join(tmp, "transcripts")
    src = _write_input(spark, inp, total_turns=300)
    # turns are 10 s +/- 3 s apart, so a 10 s gap splits many conversations
    pipe = _run_pipeline(spark, tmp, inp, gap="10 seconds")

    def keyed(df):
        return {
            (r["conv_id"], r["n_turns"], r["bundle"], r["session_start"], r["session_end"])
            for r in df.collect()
        }

    got = keyed(pipe.bundles(spark).filter(F.col("conv_id") != "conv-sentinel"))
    ok = ok_rows(apply_mapping(src, CFG, id_col="conv_id", data_col="text")).select(
        "conv_id", "turn_idx", "role", F.col("ok").alias("text"), "ts"
    )
    want = keyed(_batch_sessions(ok, "10 seconds"))
    assert got == want
    assert len(want) > len({k[0] for k in want})  # some conversation gap-split


def test_dedup_turns_absorbs_at_least_once_redelivery(spark, tmp_path):
    """The reference's notification source (Pub/Sub) is at-least-once: the
    same turn can arrive twice. With dedup_turns=True the pipeline drops
    duplicate (conv_id, turn_idx) within the watermark BEFORE mapping, so
    redelivered turns double-count neither in bundles nor dead letters —
    output must equal the clean single-delivery golden run."""
    tmp = str(tmp_path)
    clean = os.path.join(tmp, "clean")
    src = _write_input(spark, clean, total_turns=200)
    golden = _run_pipeline(spark, os.path.join(tmp, "g"), clean)
    want = {
        (r["conv_id"], r["n_turns"], r["bundle"])
        for r in golden.bundles(spark).collect()
    }
    want_dl = golden.deadletter(spark).count()

    # redelivered input: every turn written twice (second copy in separate
    # files, so some duplicates even cross micro-batch boundaries)
    dup = os.path.join(tmp, "dup")
    fresh = spark.read.parquet(clean).where(
        F.col("conv_id") != "conv-sentinel"
    )
    fresh.write.mode("overwrite").parquet(dup)
    fresh.write.mode("append").parquet(dup)
    append_flush_sentinel(spark, dup)

    pipe = HarmonizationPipeline(
        mapping_config=CFG,
        out_dir=os.path.join(tmp, "out2"),
        session_gap="2 minutes",
        watermark_delay="36 hours",
        trigger={"availableNow": True},
        max_files_per_trigger=4,
        dedup_turns=True,
    )
    q1 = pipe.run_harmonization(spark, dup, os.path.join(tmp, "c1"))
    q2 = pipe.run_deadletter(spark, dup, os.path.join(tmp, "c2"))
    q1.awaitTermination(300)
    q2.awaitTermination(300)
    got = {
        (r["conv_id"], r["n_turns"], r["bundle"])
        for r in pipe.bundles(spark).collect()
    }
    assert got == want
    assert pipe.deadletter(spark).count() == want_dl


def test_read_committed_empty_recovers_schema(spark, tmp_path):
    """Review fix: reading a sink whose data dirs are gone (or a fresh one
    with commit history) must yield an EMPTY frame with the REAL schema
    recorded at write time — not a placeholder that breaks select()."""
    base = os.path.join(str(tmp_path), "s")
    sink = ExactlyOnceParquetSink(base, "s")
    df = spark.createDataFrame([("w1", "b1", 3)], "webpath string, bundle string, n int")
    sink.write_batch(df, 0)
    got = sink.read_committed(spark)
    assert got.columns == ["webpath", "bundle", "n"] and got.count() == 1
    # wipe the data dir but keep the commit: empty frame, same columns
    import shutil

    shutil.rmtree(os.path.join(base, "data"))
    empty = sink.read_committed(spark)
    assert empty.columns == ["webpath", "bundle", "n"]
    assert empty.count() == 0
    empty.select("webpath")  # would have been AnalysisException before


def test_fanout_cleans_orphaned_staging_on_replay(spark, tmp_path):
    """Review fix: a crash between the last route commit and the staging
    delete orphans a full batch copy; the fully-committed replay must
    clean it instead of leaking it forever."""
    from healthcare_data_harmonization_dataflow_spark.streaming.sink import FanOutSink

    tmp = str(tmp_path)
    sink = ExactlyOnceParquetSink(os.path.join(tmp, "out"), "out")
    staging = os.path.join(tmp, "staging")
    fan = FanOutSink([(sink, lambda d: d)], staging)
    df = spark.createDataFrame([("a", 1)], "k string, v int")
    fan.foreach_batch()(df, 5)
    assert not os.path.exists(os.path.join(staging, "batch=5"))
    # simulate the crash window: batch committed but staging copy left
    df.write.mode("overwrite").parquet(os.path.join(staging, "batch=5"))
    fan.foreach_batch()(df, 5)  # fully-committed replay
    assert not os.path.exists(os.path.join(staging, "batch=5"))


def test_all_assembly_paths_render_identical_bundles(spark, tmp_path):
    """Streaming state_v1, the batch session_window composition and both
    batch plans (salted and unsalted) render bundles through one
    expression, so control characters in role or text and a NULL text
    come out byte-identical on all four: ESC as Jackson's \\u001B, a
    NULL field as null."""
    import time

    from healthcare_data_harmonization_dataflow_spark.sources.transcripts import (
        TRANSCRIPT_SCHEMA,
    )
    from healthcare_data_harmonization_dataflow_spark.streaming.assembly import (
        assemble_sessions_stateful,
    )

    rows = [
        ("c1", 2, "user", None, None, "2024-01-01 00:00:20"),
        ("c1", 0, "user", "\x1b[0m", None, "2024-01-01 00:00:00"),
        ("c1", 1, "assist\x0bant", "a\x0bb", None, "2024-01-01 00:00:10"),
        ("c2", 1, "\x1b", "plain", None, "2024-01-01 00:01:05"),
        ("c2", 0, "user", "\x0b\x1b", None, "2024-01-01 00:01:00"),
    ]
    df = _turns_df(spark, rows)
    inp = os.path.join(str(tmp_path), "in")
    _append_one_file(df, inp, time.time() - 100)
    append_flush_sentinel(spark, inp)

    src = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(inp)
    )
    q = (
        assemble_sessions_stateful(src, gap="2 minutes", watermark_delay="1 hour")
        .writeStream.format("memory")
        .queryName("paths_state_v1")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck_state_v1"))
        .start()
    )
    q.awaitTermination(300)
    outs = {
        "state_v1": {
            r["conv_id"]: r["bundle"]
            for r in spark.table("paths_state_v1").collect()
            if r["conv_id"] != "conv-sentinel"
        },
        "batch_session_window": {
            r["conv_id"]: r["bundle"] for r in _batch_sessions(df, "2 minutes").collect()
        },
    }
    batch = df.select("conv_id", "turn_idx", "role", "text")
    for salt in (None, 16):
        outs[f"batch_salt_{salt}"] = {
            r["conv_id"]: r["bundle"]
            for r in assemble_bundles(batch, salt_buckets=salt).collect()
        }

    want = outs["batch_salt_None"]
    assert want["c1"] == (
        '[{"turn_idx":0,"role":"user","text":"\\u001B[0m"},'
        '{"turn_idx":1,"role":"assist\\u000Bant","text":"a\\u000Bb"},'
        '{"turn_idx":2,"role":"user","text":null}]'
    )
    for name, got in outs.items():
        assert got == want, name


@pytest.mark.parametrize(
    "gap, seconds",
    [
        ("30 seconds", 30),
        ("1 second", 1),
        ("5 minutes", 300),
        ("2 hours", 7200),
        ("1 day", 86400),
        ("3 days", 259200),
        ("1 minute 30 seconds", None),
        ("1.5 minutes", None),
        ("-1 minutes", None),
        ("5 fortnights", None),
        ("5", None),
        ("", None),
    ],
)
def test_session_gap_parsing(gap, seconds):
    """The state_v1 session gap is '<integer> <unit>' with unit second(s),
    minute(s), hour(s) or day(s); anything else is a ValueError that names
    the accepted form."""
    from healthcare_data_harmonization_dataflow_spark.streaming.assembly import (
        _parse_seconds,
    )

    if seconds is None:
        with pytest.raises(ValueError, match="expected '<integer> <unit>'"):
            _parse_seconds(gap)
    else:
        assert _parse_seconds(gap) == seconds


def test_sink_scalar_json_marker_counts_as_uncommitted(spark, tmp_path):
    """A corrupt marker whose bytes still parse as VALID scalar JSON
    ('5', 'null', '"x"') must count as uncommitted like a torn one —
    the old code only caught ValueError, so .get on a non-dict raised
    AttributeError and crashed every reader."""
    import os as _os

    base = str(tmp_path / "s")
    sink = ExactlyOnceParquetSink(base, "t")
    df = spark.range(10).select(F.col("id").cast("string").alias("conv_id"))
    sink.write_batch(df, 0)
    for batch_id, junk in ((1, "5"), (2, "null"), (3, '"x"'), (4, "[1,2]")):
        with open(
            _os.path.join(base, "_commits", f"{batch_id}.json"),
            "w",
            encoding="utf-8",
        ) as f:
            f.write(junk)
        assert sink.is_committed(batch_id) is False
    reader = ExactlyOnceParquetSink(base, "t")
    assert reader.committed_batches() == [0]
    assert reader.lineage()[0]["batch_id"] == 0
    assert reader.read_committed(spark).count() == 10


def test_assembly_default_is_state_v1(tmp_path):
    """state_v1 is the one session assembly and the default."""
    pipe = HarmonizationPipeline(mapping_config=CFG, out_dir=str(tmp_path / "o"))
    assert pipe.assembly == "state_v1"


@pytest.mark.parametrize("assembly", ["tws", "auto", "state-v1", "window"])
def test_unknown_assembly_rejected(tmp_path, assembly):
    """An unknown backend name (a removed backend, a removed alias or a
    typo) must fail at construction, not silently run state_v1."""
    with pytest.raises(ValueError, match="assembly"):
        HarmonizationPipeline(
            mapping_config=CFG, out_dir=str(tmp_path / "o"), assembly=assembly
        )


@pytest.mark.parametrize("gap", ["1 minute 30 seconds", "5 fortnights"])
def test_bad_session_gap_rejected_at_construction(tmp_path, gap):
    """A session gap state_v1 cannot parse fails when the pipeline is
    built, not when its first query starts."""
    with pytest.raises(ValueError, match="expected '<integer> <unit>'"):
        HarmonizationPipeline(
            mapping_config=CFG, out_dir=str(tmp_path / "o"), session_gap=gap
        )


@pytest.mark.parametrize("scheme", ["", "file://"], ids=["path", "uri"])
def test_sink_marker_check_is_one_fs_call(spark, tmp_path, scheme):
    """Deciding whether a batch is committed reads the marker once and
    probes nothing else: one call for a fresh batch (the read raises
    FileNotFoundError — on a URI sink, mapped from the JVM's
    FileNotFoundException) and one for a committed one (a replay)."""
    base = scheme + str(tmp_path / "s")
    sink = ExactlyOnceParquetSink(base, "t", spark=spark)
    sink.write_batch(spark.range(3).select(F.col("id").cast("string").alias("conv_id")), 0)
    calls = []

    class _CountingFs(type(sink._fs())):
        def exists(self, path):
            calls.append("exists")
            return super().exists(path)

        def read_text(self, path):
            calls.append("read_text")
            return super().read_text(path)

    sink._fs_cache = _CountingFs(spark, base) if scheme else _CountingFs()
    assert sink.is_committed(1) is False
    assert calls == ["read_text"]
    calls.clear()
    assert sink.is_committed(0) is True
    assert calls == ["read_text"]


def test_sink_transient_read_failure_raises_for_readers(spark, tmp_path):
    """A transient FS read failure on a marker that EXISTS must not make
    the committed batch silently vanish from reader-facing output
    (read_committed / lineage / committed_batches) — it retries once,
    then raises. The write path (is_committed) stays lenient: treating
    the marker as uncommitted there only triggers a safe idempotent
    replay. A persistent failure on a VANISHED file is still uncommitted
    everywhere."""
    import pytest as _pytest

    base = str(tmp_path / "s")
    sink = ExactlyOnceParquetSink(base, "t")
    df = spark.range(10).select(F.col("id").cast("string").alias("conv_id"))
    sink.write_batch(df, 0)
    sink.write_batch(
        spark.range(10, 25).select(F.col("id").cast("string").alias("conv_id")), 1
    )

    class _FlakyReadFs(type(sink._fs())):
        """Every read of marker 1 fails (persistent fault, file exists)."""

        def read_text(self, path, *a, **k):
            if path.endswith("1.json"):
                raise IOError("simulated transient storage failure")
            return super().read_text(path, *a, **k)

    flaky = _FlakyReadFs()
    sink._fs_cache = flaky
    # write path: lenient — uncommitted means a safe replay, not a crash
    assert sink.is_committed(1) is False
    # reader paths: the committed batch must NOT silently disappear
    with _pytest.raises(IOError, match="unreadable"):
        sink.committed_batches()
    with _pytest.raises(IOError, match="unreadable"):
        sink.lineage()
    with _pytest.raises(IOError, match="unreadable"):
        sink.read_committed(spark)

    sink._fs_cache = None  # back to the honest _LocalFs base

    class _OneShotFlakyFs(type(sink._fs())):
        """First read of marker 1 fails, the retry succeeds."""

        def __init__(self):
            self.failed = False

        def read_text(self, path, *a, **k):
            if path.endswith("1.json") and not self.failed:
                self.failed = True
                raise IOError("one-shot blip")
            return super().read_text(path, *a, **k)

    sink._fs_cache = _OneShotFlakyFs()
    assert sink.committed_batches() == [0, 1]  # retry healed the blip
    sink._fs_cache = None
    assert sink.read_committed(spark).count() == 25
