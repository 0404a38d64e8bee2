"""Streaming incremental dedup (streaming/dedup_stream.py): exact dedup
within-batch and vs committed history, LSH near-dup flagging vs history,
exactly-once under checkpoint replay."""

import os
import time

import pytest
from pyspark.sql import functions as F

from healthcare_data_harmonization_dataflow_spark.streaming.dedup_stream import (
    StreamingDedupPipeline,
    document_index_rows,
)

# MinHash words are SET-semantics (array_distinct): reordering a doc's
# words keeps the signature identical (all 4 bands match -> deterministic
# near-dup) while md5(text) differs (not an exact dup).
DOC3 = "alpha beta gamma delta epsilon zeta eta theta"
DOC3_REORDERED = "theta eta zeta epsilon delta gamma beta alpha"


def _write_batches(spark, root):
    """Two parquet 'arrival' files with staggered mtimes -> two ordered
    micro-batches under maxFilesPerTrigger=1."""
    inp = os.path.join(root, "in")
    b1 = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # in-batch dup
        (3, DOC3),
        (4, "completely different unique content here"),
    ]
    b2 = [
        (5, "the quick brown fox jumps over the lazy dog"),  # dup of history
        (6, DOC3_REORDERED),  # near-dup of doc 3 (same word set)
        (7, "another novel document with fresh words"),
    ]
    import shutil

    os.makedirs(inp, exist_ok=True)
    for i, rows in enumerate([b1, b2]):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        tmp = os.path.join(root, f"_stage{i}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        src = next(
            f for f in os.listdir(tmp) if f.endswith(".parquet")
        )
        dst = os.path.join(inp, f"batch{i}.parquet")
        shutil.move(os.path.join(tmp, src), dst)
        t = time.time() - 100 + i * 10
        os.utime(dst, (t, t))
    return inp


def _run(pipe, spark, inp, ckpt):
    q = pipe.run(spark, inp, ckpt)
    q.awaitTermination()


def test_document_index_rows_anchor_and_bands(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "")], "doc_id long, text string"
    )
    rows = document_index_rows(docs).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # tokenful doc: 1 anchor + 4 band rows; empty doc: anchor only (its
    # exact-dedup hash still lands in the index)
    assert sorted(r["band"] for r in by_doc[1]) == [-1, 0, 1, 2, 3]
    assert [r["band"] for r in by_doc[2]] == [-1]
    assert all(r["content_hash"] for r in rows)


def test_document_index_rows_repeated_doc_id_keeps_each_text(spark):
    """Two texts under one doc_id: 5 rows each (anchor + 4 bands), and
    every row's content_hash and band_hash come from its own text, the
    same rows each text gives on its own, under any text column name."""
    texts = ["alpha beta gamma delta", "one two three four five"]
    both = spark.createDataFrame([(7, t) for t in texts], "doc_id long, text string")
    rows = document_index_rows(both).collect()
    assert len(rows) == 10
    alone = set()
    for t in texts:
        one = spark.createDataFrame([(7, t)], "doc_id long, text string")
        got = [tuple(r) for r in document_index_rows(one).collect()]
        assert len(got) == 5
        alone.update(got)
    assert sorted(tuple(r) for r in rows) == sorted(alone)
    # the signature hashes the named text column, like content_hash
    body = both.withColumnRenamed("text", "body")
    got = document_index_rows(body, text_col="body").collect()
    assert sorted(tuple(r) for r in got) == sorted(alone)


def test_streaming_dedup_e2e(spark, tmp_path):
    inp = _write_batches(spark, str(tmp_path))
    pipe = StreamingDedupPipeline(
        out_dir=str(tmp_path / "out"), max_files_per_trigger=1
    )
    _run(pipe, spark, inp, str(tmp_path / "ckpt"))

    docs = {r["doc_id"]: r for r in pipe.documents(spark).collect()}
    # batch 1: 2 collapsed into 1 (min id wins); batch 2: 5 dropped vs
    # history, 6 admitted-but-flagged, 7 admitted clean
    assert sorted(docs) == [1, 3, 4, 6, 7]
    assert docs[6]["near_dup"] and docs[6]["n_band_matches"] == 4
    assert not docs[1]["near_dup"] and not docs[7]["near_dup"]
    assert docs[3]["n_band_matches"] == 0  # history was empty at batch 1

    # index holds survivors only (1 anchor + 4 bands each, all tokenful)
    idx = pipe.index(spark)
    assert sorted(
        r["doc_id"] for r in idx.select("doc_id").distinct().collect()
    ) == [1, 3, 4, 6, 7]
    assert idx.count() == 5 * 5


def test_streaming_dedup_decides_once_per_batch(spark, tmp_path, monkeypatch):
    """One execution feeds every route: the docs and index routes both
    read the batch's one staged decision, so the history probe
    (dedup_against_index) runs once per batch, not once per route."""
    from healthcare_data_harmonization_dataflow_spark.streaming import (
        dedup_stream,
    )

    calls = []
    real = dedup_stream.dedup_against_index

    def counting(batch, *a, **k):
        calls.append(1)
        return real(batch, *a, **k)

    monkeypatch.setattr(dedup_stream, "dedup_against_index", counting)
    inp = _write_batches(spark, str(tmp_path))
    pipe = StreamingDedupPipeline(
        out_dir=str(tmp_path / "out"), max_files_per_trigger=1
    )
    _run(pipe, spark, inp, str(tmp_path / "ckpt"))
    assert pipe.docs_sink.committed_batches() == [0, 1]
    assert pipe.index_sink.committed_batches() == [0, 1]
    assert len(calls) == 2


def test_streaming_dedup_reads_each_marker_once_per_batch(
    spark, tmp_path, monkeypatch
):
    """Batch b's decision reads each sink's b committed markers once: the
    index and (with verify_threshold) the docs history each come from one
    marker pass, not a committed_batches() probe plus read_committed()."""
    from healthcare_data_harmonization_dataflow_spark.streaming import sink

    reads = []
    real_read = sink._LocalFs.read_text

    def counting_read(self, path):
        if f"{os.sep}_commits{os.sep}" in path:
            reads.append(path)
        return real_read(self, path)

    monkeypatch.setattr(sink._LocalFs, "read_text", counting_read)
    per_batch = []
    real_survivors = StreamingDedupPipeline._survivors

    def counting_survivors(self, batch):
        before = len(reads)
        out = real_survivors(self, batch)
        per_batch.append(
            [
                sum(f"{os.sep}{route}{os.sep}" in p for p in reads[before:])
                for route in ("index", "docs")
            ]
        )
        return out

    monkeypatch.setattr(
        StreamingDedupPipeline, "_survivors", counting_survivors
    )
    inp = _write_batches(spark, str(tmp_path))
    pipe = StreamingDedupPipeline(
        out_dir=str(tmp_path / "out"),
        max_files_per_trigger=1,
        verify_threshold=0.9,
    )
    _run(pipe, spark, inp, str(tmp_path / "ckpt"))
    assert pipe.index_sink.committed_batches() == [0, 1]
    # batch 0 has no history; batch 1 reads marker 0 of each sink once
    assert per_batch == [[0, 0], [1, 1]]


def test_streaming_dedup_replay_is_exactly_once(spark, tmp_path):
    inp = _write_batches(spark, str(tmp_path))
    out = str(tmp_path / "out")
    pipe = StreamingDedupPipeline(out_dir=out, max_files_per_trigger=1)
    _run(pipe, spark, inp, str(tmp_path / "ckpt"))
    before = sorted(
        tuple(r) for r in pipe.documents(spark).select("doc_id").collect()
    )
    n_idx = pipe.index(spark).count()

    # lose the checkpoint entirely: the restarted query replays every
    # epoch with the same batch ids — the batchId commit guard must make
    # the re-run a no-op (no re-admitted docs, no duplicate index rows)
    pipe2 = StreamingDedupPipeline(out_dir=out, max_files_per_trigger=1)
    _run(pipe2, spark, inp, str(tmp_path / "ckpt2"))
    after = sorted(
        tuple(r) for r in pipe2.documents(spark).select("doc_id").collect()
    )
    assert after == before
    assert pipe2.index(spark).count() == n_idx


def test_streaming_dedup_drop_near(spark, tmp_path):
    inp = _write_batches(spark, str(tmp_path))
    pipe = StreamingDedupPipeline(
        out_dir=str(tmp_path / "out"),
        max_files_per_trigger=1,
        drop_near=True,
    )
    _run(pipe, spark, inp, str(tmp_path / "ckpt"))
    docs = {r["doc_id"]: r for r in pipe.documents(spark).collect()}
    assert sorted(docs) == [1, 3, 4, 7]  # 6 dropped as near-dup of 3
    # dropped near-dup contributes nothing to the index either (only
    # SURVIVORS' bands become history)
    assert sorted(
        r["doc_id"]
        for r in pipe.index(spark).select("doc_id").distinct().collect()
    ) == [1, 3, 4, 7]


def _ref_minhash(words):
    """Pure-python replica of operators/dedup.py minhash_signature."""
    import hashlib

    from healthcare_data_harmonization_dataflow_spark.operators.dedup import (
        MINHASH_K,
        MINHASH_P,
        _RNG_A,
        _RNG_B,
    )

    hs = [
        int(hashlib.md5(w.encode()).hexdigest()[:15], 16) % MINHASH_P
        for w in set(words)
    ]
    return [
        min((_RNG_A[i] * h + _RNG_B[i]) % MINHASH_P for h in hs)
        for i in range(MINHASH_K)
    ]


def _bands(sig):
    return [tuple(sig[2 * b : 2 * b + 2]) for b in range(4)]


def test_streaming_dedup_verify_threshold_kills_false_positives(
    spark, tmp_path
):
    """With verify_threshold: a genuine near-dup (same word set, J=1.0)
    stays flagged; an LSH FALSE POSITIVE (band collision from a superset
    doc, true Jaccard 0.25) keeps its candidate count but loses the
    flag."""
    base_words = DOC3.split()
    # deterministic search: pad DOC3's word set to 4x its size until some
    # band's two minhashes survive the padding (minima stay in the
    # original set) — a guaranteed band match at Jaccard 8/32 = 0.25
    base_bands = set(_bands(_ref_minhash(base_words)))
    fp_words = None
    for k in range(500):
        cand = base_words + [f"fill{k}w{j}" for j in range(24)]
        if set(_bands(_ref_minhash(cand))) & base_bands:
            fp_words = cand
            break
    assert fp_words is not None, "no band-colliding superset in 500 tries"

    inp = os.path.join(str(tmp_path), "in")
    os.makedirs(inp)
    import shutil

    for i, rows in enumerate(
        [
            [(1, DOC3)],
            [(2, DOC3_REORDERED), (3, " ".join(fp_words))],
        ]
    ):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        st = os.path.join(str(tmp_path), f"s{i}")
        df.coalesce(1).write.parquet(st)
        f = next(x for x in os.listdir(st) if x.endswith(".parquet"))
        dst = os.path.join(inp, f"b{i}.parquet")
        shutil.move(os.path.join(st, f), dst)
        t = time.time() - 100 + i * 10
        os.utime(dst, (t, t))

    pipe = StreamingDedupPipeline(
        out_dir=str(tmp_path / "out"),
        max_files_per_trigger=1,
        verify_threshold=0.9,
    )
    _run(pipe, spark, inp, str(tmp_path / "ckpt"))
    docs = {r["doc_id"]: r for r in pipe.documents(spark).collect()}
    assert sorted(docs) == [1, 2, 3]
    assert docs[2]["near_dup"] and docs[2]["n_band_matches"] == 4
    assert docs[3]["n_band_matches"] > 0  # the band candidate fired...
    assert not docs[3]["near_dup"]  # ...but verification rejected it


def test_streaming_dedup_crash_between_routes_heals_on_restart(
    spark, tmp_path
):
    """Fault injection at the FanOutSink's weakest point: the docs route
    commits batch 1, then the process dies before the index route. The
    restart must (a) not re-admit or duplicate docs, and (b) write the
    index rows for EXACTLY the docs the crashed attempt committed — the
    determinism the selectors claim (same staged bytes + same committed
    markers -> same rows)."""
    inp = _write_batches(spark, str(tmp_path))
    out = str(tmp_path / "out")
    pipe = StreamingDedupPipeline(out_dir=out, max_files_per_trigger=1)

    orig = type(pipe.index_sink).write_batch
    calls = {"n": 0}

    def failing(self_sink, df, batch_id):
        if self_sink is pipe.index_sink and batch_id == 1:
            calls["n"] += 1
            if calls["n"] == 1:
                df.count()  # force the plan once, like a mid-write crash
                raise RuntimeError("injected crash before index commit")
        return orig(self_sink, df, batch_id)

    type(pipe.index_sink).write_batch = failing
    try:
        q = pipe.run(spark, inp, str(tmp_path / "ckpt"))
        with pytest.raises(Exception, match="injected crash"):
            q.awaitTermination()
    finally:
        type(pipe.index_sink).write_batch = orig

    # batch 1's docs are committed, its index is not
    assert 1 in pipe.docs_sink.committed_batches()
    assert 1 not in pipe.index_sink.committed_batches()

    # restart from the same checkpoint: the replayed epoch re-stages
    # nothing new, skips the committed docs route, and completes the
    # index route from the SAME staged batch
    pipe2 = StreamingDedupPipeline(out_dir=out, max_files_per_trigger=1)
    pipe2.run(spark, inp, str(tmp_path / "ckpt")).awaitTermination()

    docs = {r["doc_id"]: r for r in pipe2.documents(spark).collect()}
    assert sorted(docs) == [1, 3, 4, 6, 7]
    assert docs[6]["near_dup"] and not docs[7]["near_dup"]
    idx_ids = sorted(
        r["doc_id"]
        for r in pipe2.index(spark).select("doc_id").distinct().collect()
    )
    assert idx_ids == [1, 3, 4, 6, 7]  # index == exactly the committed docs
    assert pipe2.index(spark).count() == 5 * 5  # and no duplicate rows


def test_streaming_matches_batch_analogue_on_real_corpus(
    spark, sf_dir, tmp_path
):
    """The streaming stage and its oracle-gated batch analogue
    (operators/dedup.py incremental_dedup) implement the SAME semantics:
    stream history (even doc_ids) as batch 1 and incoming (odd) as batch
    2, and the incoming survivors' (doc_id, n_band_matches, near_dup)
    must match incremental_dedup on the union — including under
    verification."""
    import shutil

    from healthcare_data_harmonization_dataflow_spark.operators.dedup import (
        incremental_dedup,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    inp = os.path.join(str(tmp_path), "in")
    os.makedirs(inp)
    for i, pred in enumerate(["doc_id % 2 = 0", "doc_id % 2 = 1"]):
        st = os.path.join(str(tmp_path), f"s{i}")
        docs.filter(pred).coalesce(1).write.parquet(st)
        f = next(x for x in os.listdir(st) if x.endswith(".parquet"))
        dst = os.path.join(inp, f"b{i}.parquet")
        shutil.move(os.path.join(st, f), dst)
        t = time.time() - 100 + i * 10
        os.utime(dst, (t, t))

    for thr in (None, 0.9):
        out = str(tmp_path / f"out{thr}")
        pipe = StreamingDedupPipeline(
            out_dir=out, max_files_per_trigger=1, verify_threshold=thr
        )
        _run(pipe, spark, inp, str(tmp_path / f"ckpt{thr}"))
        streamed = {
            r["doc_id"]: (r["n_band_matches"], r["near_dup"])
            for r in pipe.documents(spark)
            .filter("doc_id % 2 = 1")
            .collect()
        }
        batch = {
            r["doc_id"]: (r["n_band_matches"], r["near_dup"])
            for r in incremental_dedup(
                docs, verify_threshold=thr
            ).collect()
        }
        assert streamed == batch, f"divergence at verify_threshold={thr}"


def test_streaming_dedup_within_batch_near_dups_both_admitted(
    spark, tmp_path
):
    """The stream-vs-history boundary: near-dups arriving in the SAME
    batch are both admitted (intra-corpus pairs belong to the batch
    operators), and both enter the index."""
    inp = os.path.join(str(tmp_path), "in")
    spark.createDataFrame(
        [(1, DOC3), (2, DOC3_REORDERED)], "doc_id long, text string"
    ).coalesce(1).write.parquet(inp)
    pipe = StreamingDedupPipeline(out_dir=str(tmp_path / "out"))
    _run(pipe, spark, inp, str(tmp_path / "ckpt"))
    docs = {r["doc_id"]: r for r in pipe.documents(spark).collect()}
    assert sorted(docs) == [1, 2]
    assert not docs[1]["near_dup"] and not docs[2]["near_dup"]
