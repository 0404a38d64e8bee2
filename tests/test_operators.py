"""Operator unit tests: plan-shape guardrails, multimodal plumbing,
dedup/similarity invariants, as-of join edge cases."""

import pyspark.sql.functions as F
import pytest

from healthcare_data_harmonization_dataflow_spark.operators import dedup as D
from healthcare_data_harmonization_dataflow_spark.operators.joins import (
    asof_join,
    enrich_broadcast,
    salted_count,
)
from healthcare_data_harmonization_dataflow_spark.operators.multimodal import (
    extract_features,
    synthetic_media,
)
from healthcare_data_harmonization_dataflow_spark.plans.checks import (
    assert_broadcast_join,
    assert_no_python,
    assert_pushed_filters,
    assert_read_schema_only,
)
from healthcare_data_harmonization_dataflow_spark.sources.tables import (
    load_table,
    read_time_range,
)


# ------------------------------------------------------------- plan shapes
def test_time_range_scan_pushes_filters(spark, sf_dir):
    df = read_time_range(spark, sf_dir, "events", "ts", "2024-01-10", "2024-01-20").select(
        "event_id", "ts"
    )
    assert_pushed_filters(df, "ts")
    assert_read_schema_only(df, {"event_id", "ts"})
    assert_no_python(df)


def test_enrichment_broadcasts_small_dim(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    df = enrich_broadcast(ev, cust, ev.user_id == cust.c_custkey, "inner")
    assert_broadcast_join(df)


def test_dedup_signatures_are_python_free(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    assert_no_python(D.minhash_signature(docs), "(minhash)")
    assert_no_python(D.simhash(docs), "(simhash)")


# ------------------------------------------------------------- multimodal
def test_multimodal_feature_extraction(spark):
    media = synthetic_media(spark, 30)
    feats = extract_features(media).collect()
    assert len(feats) == 30
    by_id = {r["media_id"]: r for r in feats}
    # deterministic fake decode: same content -> same features
    feats2 = {r["media_id"]: r for r in extract_features(synthetic_media(spark, 30)).collect()}
    assert by_id == feats2
    # images sample exactly 1 frame; audio/video 1..8
    for r in feats:
        if r["kind"] == "image":
            assert r["frames_sampled"] == 1
        assert r["n_bytes"] > 0 and len(r["content_sha"]) == 64


def test_multimodal_decode_errors_surface(spark):
    media = synthetic_media(spark, 3)

    def bad_decoder(content, kind):
        raise NotImplementedError("no codec in this environment")

    with pytest.raises(Exception):
        extract_features(media, decode_fn=bad_decoder).collect()


# ------------------------------------------------------------- dedup logic
def test_simhash_banding_is_exact(spark):
    """Pigeonhole: chunk-candidates + hamming filter == brute force."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta zeta"),  # near-dup of 1
            (3, "one two three four five"),
            (4, "alpha beta gamma delta epsilon"),  # exact dup of 1
        ],
        "doc_id long, text string",
    )
    got = {(r["doc1"], r["doc2"]) for r in D.simhash_pairs(docs).collect()}
    sig = {r["doc_id"]: r["simhash"] for r in D.simhash(docs).collect()}
    brute = {
        (a, b)
        for a in sig
        for b in sig
        if a < b and bin(sig[a] ^ sig[b]).count("1") <= D.SIMHASH_HAM
    }
    assert got == brute
    assert (1, 4) in got  # exact dup -> hamming 0


def test_exact_dedup_counts(spark):
    docs = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")], "doc_id long, text string"
    )
    rows = {r["keep_id"]: r["n_dups"] for r in D.exact_dedup(docs).collect()}
    assert rows == {1: 2, 3: 1}


# ------------------------------------------------------------- asof edges
def test_asof_join_equal_ts_and_ties(spark):
    left = spark.createDataFrame(
        [(1, "k", "2024-01-01 00:00:10")], "lid long, k string, ts_s string"
    ).select("lid", "k", F.col("ts_s").cast("timestamp").alias("ts"))
    right = spark.createDataFrame(
        [
            (100, "k", "2024-01-01 00:00:10"),  # equal ts: visible (non-strict)
            (99, "k", "2024-01-01 00:00:10"),  # tie on ts: larger tiebreak wins
            (50, "k", "2024-01-01 00:00:05"),
        ],
        "rid long, k string, ts_s string",
    ).select("rid", "k", F.col("ts_s").cast("timestamp").alias("ts"))

    j = asof_join(left, right, "k", "ts", "ts", ["rid"], right_tiebreak="rid")
    assert j.collect()[0]["right_rid"] == 100

    j_strict = asof_join(left, right, "k", "ts", "ts", ["rid"], strict=True, right_tiebreak="rid")
    assert j_strict.collect()[0]["right_rid"] == 50


def test_salted_count_matches_plain(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    plain = {r["user_id"]: r["n"] for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    salted = {r["user_id"]: r["n"] for r in salted_count(ev, "user_id").collect()}
    assert salted == plain


def test_ngram_jaccard_strategies_agree(spark, sf_dir):
    """The profile-collapsed path (mask+rare encoding, signature collapse,
    expansion) must return the exact multiset the PPJoin prefix path does."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    prof = D.ngram_jaccard_pairs(docs, 0.5, strategy="profile")
    pref = D.ngram_jaccard_pairs(docs, 0.5, strategy="prefix")
    assert prof.exceptAll(pref).count() == 0
    assert pref.exceptAll(prof).count() == 0


def test_ngram_jaccard_profile_edges(spark):
    """Empty docs never pair; identical sets pair at exactly 1e6 ppm even
    when their text differs in token multiplicity/order."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta beta gamma"),
            (2, "gamma beta alpha alpha"),  # same distinct set as 1
            (3, ""),
            (4, ""),
            (5, "alpha beta gamma delta"),  # jaccard 3/4 with 1,2
        ],
        "doc_id long, text string",
    )
    rows = {
        (r["doc1"], r["doc2"]): r["jaccard_ppm"]
        for r in D.ngram_jaccard_pairs(docs, 0.5, strategy="profile").collect()
    }
    assert rows[(1, 2)] == 1_000_000
    assert rows[(1, 5)] == 750_000 and rows[(2, 5)] == 750_000
    assert not any(3 in p or 4 in p for p in rows)


def test_embedding_cosine_pairs_symmetric_exact(spark, sf_dir):
    """Every reported pair must actually reach the threshold, computed
    independently in Python over the quantized components, and every pair
    colliding in ANY LSH band and reaching it must be reported."""
    from healthcare_data_harmonization_dataflow_spark.operators import similarity as S
    import math

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    got = {
        (r["vec1"], r["vec2"]): r["cosine_ppm"]
        for r in S.embedding_cosine_pairs(emb, threshold_ppm=100_000).collect()
    }

    def band_sig(q):
        sig = []
        for b in range(S.LSH_BANDS):
            bucket = 0
            for r in range(S.LSH_ROWS_PER_BAND):
                w = S._plane_weights(b * S.LSH_ROWS_PER_BAND + r, len(q))
                if sum(x * y for x, y in zip(q, w)) >= 0:
                    bucket |= 1 << r
            sig.append(bucket)
        return sig

    rows = emb.collect()
    byid = {
        r["vec_id"]: [math.floor(x * 1000) for x in r["embedding"]] for r in rows
    }
    sigs = {i: band_sig(q) for i, q in byid.items()}
    expect = {}
    ids = sorted(byid)
    for i, a in enumerate(ids):
        qa = byid[a]
        na = sum(x * x for x in qa)
        if na == 0:
            continue
        for b in ids[i + 1:]:
            qb = byid[b]
            if not any(x == y for x, y in zip(sigs[a], sigs[b])):
                continue
            nb = sum(x * x for x in qb)
            if nb == 0:
                continue
            dot = sum(x * y for x, y in zip(qa, qb))
            ppm = math.floor(dot * 1000000.0 / math.sqrt(na * nb))
            if ppm >= 100_000:
                expect[(a, b)] = ppm
    assert got == expect


def test_semantic_dedup_keep_rule_exact(spark, sf_dir):
    """semantic_dedup's contract, re-derived independently in Python: a
    vector is dropped iff SOME smaller-id vector in its trained-k-means
    cell reaches the cosine threshold; survivors keep their cell id. The
    whole pipeline (training sample, Lloyd's, argmin assignment, quantized
    cosine) is re-run from the raw parquet, not from engine internals."""
    import math

    from healthcare_data_harmonization_dataflow_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # 430k ppm: the sf0.001 synthetic embeddings are near-random (top
    # intra-cell cosine ~470k), so this threshold exercises BOTH branches
    got = {
        r["vec_id"]: r["cell"]
        for r in S.semantic_dedup(emb, threshold_ppm=430_000).collect()
    }

    rows = sorted(emb.collect(), key=lambda r: r["vec_id"])
    byid = {
        r["vec_id"]: [math.floor(x * S.QUANT) for x in r["embedding"]] for r in rows
    }
    k = S.scaled_centroid_count(len(rows))
    n_sample = max(S.IVF_TRAIN_SAMPLE, 8 * k)
    cents = S.train_centroids(
        [byid[r["vec_id"]] for r in rows[:n_sample]], k
    )
    def cell_of(q):
        d = [
            (sum((x - c) * (x - c) for x, c in zip(q, cw)), i)
            for i, cw in enumerate(cents)
        ]
        return min(d)[1]

    cells = {i: cell_of(q) for i, q in byid.items()}
    dropped = set()
    ids = sorted(byid)
    for j, b in enumerate(ids):
        qb = byid[b]
        nb = sum(x * x for x in qb)
        if nb == 0:
            continue
        for a in ids[:j]:
            if cells[a] != cells[b]:
                continue
            qa = byid[a]
            na = sum(x * x for x in qa)
            if na == 0:
                continue
            dot = sum(x * y for x, y in zip(qa, qb))
            if math.floor(dot * 1000000.0 / math.sqrt(na * nb)) >= 430_000:
                dropped.add(b)
                break
    expect = {i: cells[i] for i in ids if i not in dropped}
    assert got == expect
    assert 0 < len(got) < len(ids)  # something survived AND something dropped


def test_semantic_dedup_drops_planted_duplicates(spark):
    """Planted structure: an exact duplicate and a scaled copy (cosine 1)
    of vector 0 are dropped; a near-orthogonal vector survives. Lowest id
    in each near-dup neighborhood is the survivor."""
    from healthcare_data_harmonization_dataflow_spark.operators import similarity as S

    dim = S.LSH_DIM
    base = [1.0] * dim
    scaled = [0.5] * dim  # cosine(base, scaled) = 1.0
    ortho = [1.0 if i % 2 == 0 else -1.0 for i in range(dim)]
    df = spark.createDataFrame(
        [(0, base), (1, scaled), (2, base), (3, ortho)],
        "vec_id long, embedding array<float>",
    )
    kept = {r["vec_id"] for r in S.semantic_dedup(df, n_centroids=1).collect()}
    assert kept == {0, 3}


def test_iceberg_integration_gates_cleanly(spark):
    """No Iceberg runtime in this environment: availability reports False,
    the reader raises an actionable error, and the catalog conf carries the
    exact keys spark-submit needs."""
    from healthcare_data_harmonization_dataflow_spark.sources import iceberg as I

    assert I.iceberg_available(spark) is False
    with pytest.raises(RuntimeError, match="--packages org.apache.iceberg"):
        I.read_transcripts_stream(spark, "local.db.transcripts")
    conf = I.catalog_conf("local", "/tmp/wh")
    assert conf["spark.sql.catalog.local"] == "org.apache.iceberg.spark.SparkCatalog"
    assert conf["spark.sql.catalog.local.warehouse"] == "/tmp/wh"
    assert "IcebergSparkSessionExtensions" in conf["spark.sql.extensions"]


def test_lsh_rejects_wrong_dimension(spark):
    """A vector of the wrong dimensionality must fail the job loudly, not
    null-pad the plane dots and silently land in bucket 0 (which would turn
    LSH blocking into one quadratic bucket)."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from healthcare_data_harmonization_dataflow_spark.operators import similarity as S

    bad = spark.createDataFrame(
        [(1, [0.5] * 16), (2, [0.25] * 16)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(Exception) as ei:
        S.lsh_band_keys(bad).collect()
    assert "dimension" in str(ei.value)
    # brute force has no fixed dimension: a corpus vector must match the
    # query's instead of scoring a null-padded zip_with
    mixed = spark.createDataFrame(
        [(1, [0.5] * 16), (2, [0.25] * 8)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(Exception) as ei:
        S.brute_force_topk(mixed, mixed).collect()
    assert "dimension" in str(ei.value)


def test_ngram_jaccard_auto_selects_by_collapse(spark, sf_dir):
    """auto must choose the O(P^2) broadcast profile path only when profiles
    collapse under the cap, and fall back to the PPJoin prefix path on a
    diverse corpus — observable in the physical plan (the profile path ends
    in a BroadcastNestedLoopJoin; prefix does not)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def plan_of(df):
        return df._jdf.queryExecution().executedPlan().toString()

    collapsing = plan_of(D.ngram_jaccard_pairs(docs, 0.5, strategy="auto"))
    assert "BroadcastNestedLoopJoin" in collapsing

    forced_diverse = plan_of(
        D.ngram_jaccard_pairs(docs, 0.5, strategy="auto", profile_cap=1)
    )
    assert "BroadcastNestedLoopJoin" not in forced_diverse

    # both strategies must return the same exact result regardless of choice
    auto = D.ngram_jaccard_pairs(docs, 0.5, strategy="auto", profile_cap=1)
    pref = D.ngram_jaccard_pairs(docs, 0.5, strategy="prefix")
    assert auto.exceptAll(pref).count() == 0
    assert pref.exceptAll(auto).count() == 0


def test_ivf_trained_centroids_recall_on_clustered_corpus(spark):
    """Round-3 W1 closure: IVF centroids are TRAINED (deterministic integer
    k-means), so recall vs exact brute force stays high on clustered data —
    where the old lowest-id selection would collapse (here the low ids all
    sit in one cluster). Training is reproducible: two runs produce
    identical centroids."""
    import numpy as np

    from healthcare_data_harmonization_dataflow_spark.operators import (
        similarity as S,
    )

    rng = np.random.default_rng(7)
    centers = rng.normal(0.0, 1.0, (8, 16))
    rows = []
    for i in range(400):
        c = centers[i // 50]  # sequential blocks: ids 0..49 -> cluster 0 ...
        v = (c + rng.normal(0.0, 0.05, 16)).astype("float32").tolist()
        rows.append((i, v))
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    queries = emb.filter(F.col("vec_id") % 10 == 0)  # 40 queries, all clusters

    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in S.brute_force_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in S.ivf_topk(emb, queries, k=5, dim=16, n_probe=6).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"trained-IVF recall {recall:.3f} < 0.9"

    # determinism: the training pass is a pure function of the sample
    sample = [[int(x) for x in np.floor(np.array(v) * S.QUANT)] for _, v in rows]
    c1 = S.train_centroids(sample, 20)
    c2 = S.train_centroids(sample, 20)
    assert c1 == c2 and len(c1) == 20


def test_real_decoders_parse_actual_containers(spark):
    """Round-3 W2 closure: the default decoder really parses container
    bytes. Files here are built with struct.pack using parameters OUTSIDE
    the oracle query's constrained ranges (incl. multi-byte LE fields and a
    word-align padding chunk), so header parsing — not byte-pattern luck —
    produces the features."""
    import hashlib
    import struct

    from healthcare_data_harmonization_dataflow_spark.operators.multimodal import (
        decode_bmp,
        decode_ppm,
        decode_wav,
        default_decode,
    )

    # WAV: 44100 Hz stereo 16-bit, 1000 frames, plus a junk odd-size chunk
    # before fmt (exercises the chunk walk + word alignment)
    ch, sr, bits, nframes = 2, 44100, 16, 1000
    block = ch * bits // 8
    data = b"\x01\x02" * (nframes * block // 2)
    junk = b"JUNK" + struct.pack("<I", 3) + b"abc" + b"\x00"  # padded
    fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 1, ch, sr, sr * block, block, bits)
    body = junk + fmt + b"data" + struct.pack("<I", len(data)) + data
    wav = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body
    f = decode_wav(wav)
    assert (f["feat_width"], f["feat_height"], f["frames_sampled"]) == (ch, bits, nframes)
    assert f["n_bytes"] == len(wav)
    assert f["content_sha"] == hashlib.sha256(wav).hexdigest()

    # PPM with a comment line and 3-digit dimensions
    w, h = 320, 200
    ppm = b"P6\n# a comment\n320 200\n255\n" + b"\x7f" * (w * h * 3)
    f = decode_ppm(ppm)
    assert (f["feat_width"], f["feat_height"], f["frames_sampled"]) == (w, h, 1)

    # BMP with top-down rows (negative height)
    bmp = b"BM" + struct.pack("<IHHI", 26, 0, 0, 26) + struct.pack("<Iii", 12, 640, -480)
    f = decode_bmp(bmp)
    assert (f["feat_width"], f["feat_height"]) == (640, 480)

    # AVI: RIFF 'AVI ' -> LIST hdrl -> avih (width/height/frames dwords)
    from healthcare_data_harmonization_dataflow_spark.operators.multimodal import (
        decode_avi,
    )

    vw, vh, vf = 1920, 1080, 250
    avih = struct.pack("<14I", 40000, 0, 0, 0, vf, 0, 1, 0, vw, vh, 0, 0, 0, 0)
    avi = (
        b"RIFF" + struct.pack("<I", 80) + b"AVI "
        + b"LIST" + struct.pack("<I", 68) + b"hdrl"
        + b"avih" + struct.pack("<I", 56) + avih
    )
    f = decode_avi(avi)
    assert (f["feat_width"], f["feat_height"], f["frames_sampled"]) == (vw, vh, vf)
    assert default_decode(avi, "video")["feat_width"] == vw  # sniffed as AVI
    # truncated AVI (no avih) -> stub, not crash
    assert default_decode(avi[:16], "video")["n_bytes"] == 16

    # sniffing: right magic routes to the right parser; malformed payloads
    # with a known magic fall back to the deterministic stub, as do kinds
    # with no parser (video)
    assert default_decode(wav, "audio")["frames_sampled"] == nframes
    assert default_decode(ppm, "image")["feat_width"] == w
    truncated = wav[:20]
    stub = default_decode(truncated, "audio")
    assert stub["content_sha"] == hashlib.sha256(truncated).hexdigest()
    assert default_decode(b"not media", "video")["frames_sampled"] >= 1

    # the whole path through Arrow-batched mapInPandas on real bytes
    media = spark.createDataFrame(
        [("w1", "audio", wav), ("p1", "image", ppm), ("b1", "image", bmp)],
        "media_id string, kind string, content binary",
    )
    got = {r["media_id"]: r for r in extract_features(media).collect()}
    assert got["w1"]["frames_sampled"] == nframes
    assert got["p1"]["feat_width"] == w and got["p1"]["feat_height"] == h
    assert got["b1"]["feat_width"] == 640


def test_ngram_profile_cap_enforced_inside_profile_path(spark):
    """Review W3 closure: strategy='profile' FORCED on a no-collapse corpus
    must not run the O(P^2) broadcast nested-loop — the in-path exact count
    falls back to the prefix strategy with identical output."""
    import warnings as W

    from healthcare_data_harmonization_dataflow_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    # every doc a distinct token set: zero collapse, P == N
    docs = spark.range(60).selectExpr(
        "id AS doc_id",
        "concat('alpha beta w', id, ' w', id + 1000) AS text",
    )
    with W.catch_warnings(record=True) as got:
        W.simplefilter("always")
        forced = ngram_jaccard_pairs(
            docs, threshold=0.5, strategy="profile", profile_cap=10
        )
        rows_forced = {tuple(r) for r in forced.collect()}
    assert any("profile_cap" in str(w.message) for w in got)
    rows_prefix = {
        tuple(r)
        for r in ngram_jaccard_pairs(docs, threshold=0.5, strategy="prefix").collect()
    }
    assert rows_forced == rows_prefix
    # and a collapsing corpus under the cap still takes the profile path
    dups = spark.range(60).selectExpr(
        "id AS doc_id", "concat('same text ', id % 3) AS text"
    )
    with W.catch_warnings(record=True) as got2:
        W.simplefilter("always")
        ngram_jaccard_pairs(dups, strategy="profile", profile_cap=10).collect()
    assert not any("profile_cap" in str(w.message) for w in got2)


# ------------------------------------------------------- connected components
def test_connected_components_chain_and_isolates(spark):
    """Min-label propagation labels every node with its component's min id:
    a 5-node chain (worst-case diameter for the round count), a 2-clique,
    and isolated nodes from the universe; direction of the input pairs is
    irrelevant."""
    from healthcare_data_harmonization_dataflow_spark.operators.graph import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (4, 3), (5, 4), (10, 11)],  # chain 1-2-3-4-5, pair 10-11
        "doc1 long, doc2 long",
    )
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 5, 10, 11, 99]],
                                  "doc_id long")
    got = {
        r["doc_id"]: r["cluster"]
        for r in connected_components(edges, nodes=nodes).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 99: 99}


def test_connected_components_without_universe(spark):
    from healthcare_data_harmonization_dataflow_spark.operators.graph import (
        connected_components,
    )

    edges = spark.createDataFrame([(7, 3), (3, 9)], "doc1 long, doc2 long")
    got = {
        r["doc_id"]: r["cluster"] for r in connected_components(edges).collect()
    }
    assert got == {3: 3, 7: 3, 9: 3}


def test_lsh_cluster_edges_same_components_as_full_pairs(spark, sf_dir):
    """minhash_lsh_cluster_edges is a spanning subgraph of the LSH pair
    graph: connected_components over it must label every doc identically
    to CC over the full clique pair set (the dedup_clusters contract).
    The DuckDB oracle mirrors the star construction independently
    (minhash_lsh_cluster_edges_oracle_sql) because a recursive-CTE
    closure over the full clique pairs is intractable on template-heavy
    corpora; this test pins the engine-side equivalence theorem the
    star form relies on, at O(groups×bands) edges instead of
    O(Σ bucket²)."""
    from healthcare_data_harmonization_dataflow_spark.operators.dedup import (
        minhash_lsh_cluster_edges,
        minhash_lsh_pairs,
    )
    from healthcare_data_harmonization_dataflow_spark.operators.graph import (
        connected_components,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    nodes = docs.select("doc_id")
    full = connected_components(minhash_lsh_pairs(docs), nodes=nodes)
    star_edges = minhash_lsh_cluster_edges(docs)
    star = connected_components(star_edges, nodes=nodes, edges_unique=True)
    assert full.exceptAll(star).count() == 0
    assert star.exceptAll(full).count() == 0
    # the unique-pairs contract the edges_unique fast path relies on
    n = star_edges.count()
    assert star_edges.distinct().count() == n
    assert star_edges.filter("doc1 >= doc2").count() == 0
    # and it is genuinely star-reduced, never more edges than pairs
    assert n <= minhash_lsh_pairs(docs).count()


def test_lsh_cluster_edges_oracle_matches_engine(spark, sf_dir):
    """The DuckDB star-edge oracle (minhash_lsh_cluster_edges_oracle_sql)
    must produce exactly the engine's edge set — same signature groups,
    same band hubs, same member edges — so the dedup_clusters oracle
    closure runs over an identical graph."""
    import duckdb

    from healthcare_data_harmonization_dataflow_spark.operators.dedup import (
        minhash_lsh_cluster_edges,
        minhash_lsh_cluster_edges_oracle_sql,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    engine = sorted(
        (r["doc1"], r["doc2"]) for r in minhash_lsh_cluster_edges(docs).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    oracle = sorted(map(tuple, con.sql(minhash_lsh_cluster_edges_oracle_sql()).fetchall()))
    assert engine == oracle and len(engine) > 0


def test_edges_unique_fast_path_matches_default(spark):
    """edges_unique=True must change the plan (skip the distinct), never
    the result — including when the input repeats a pair in BOTH a
    canonical-unique set (valid) vs the default path on a messy set."""
    from healthcare_data_harmonization_dataflow_spark.operators.graph import (
        connected_components,
    )

    unique_edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "doc1 long, doc2 long"
    )
    a = {
        r["doc_id"]: r["cluster"]
        for r in connected_components(unique_edges, edges_unique=True).collect()
    }
    b = {
        r["doc_id"]: r["cluster"]
        for r in connected_components(unique_edges).collect()
    }
    assert a == b == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}


# ------------------------------------------------------- curation operators
def test_scrub_pii_redacts_and_counts(spark):
    from healthcare_data_harmonization_dataflow_spark.operators.curation import (
        scrub_pii,
    )

    df = spark.createDataFrame(
        [
            (1, "mail me at jo.doe+x@sub.example.org today"),
            (2, "ssn 987-65-4321 and phone (555) 867-5309"),
            (3, "plain text, no pii at all"),
            (4, "two mails a@b.io c@d.co and 555-123-4567"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in scrub_pii(df).collect()}
    assert rows[1]["n_email"] == 1 and "<EMAIL>" in rows[1]["clean_text"]
    assert "jo.doe" not in rows[1]["clean_text"]
    assert rows[2]["n_ssn"] == 1 and rows[2]["n_phone"] == 1
    assert "<SSN>" in rows[2]["clean_text"] and "<PHONE>" in rows[2]["clean_text"]
    assert rows[3]["clean_text"] == "plain text, no pii at all"
    assert rows[3]["n_email"] == rows[3]["n_ssn"] == rows[3]["n_phone"] == 0
    assert rows[4]["n_email"] == 2 and rows[4]["n_phone"] == 1
    # plan stays JVM-side (regexp codegen, no Python)
    plan = scrub_pii(df)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_contamination_flags_broadcast_probe(spark):
    from healthcare_data_harmonization_dataflow_spark.operators.curation import (
        contamination_flags,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "a clean document with nothing blocked"),
            (3, "contains quick brown fox and lazy dog twice"),
        ],
        "doc_id long, text string",
    )
    snips = spark.createDataFrame(
        [("quick brown fox",), ("lazy dog",)], "snip string"
    )
    got = {r["doc_id"]: r for r in contamination_flags(docs, snips).collect()}
    assert got[1]["n_hits"] == 2 and got[1]["contaminated"] is True
    assert got[2]["n_hits"] == 0 and got[2]["contaminated"] is False
    assert got[3]["n_hits"] == 2
    # the blocklist side is broadcast: no shuffle for the probe join
    plan = contamination_flags(docs, snips)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan


def test_stratified_sample_deterministic_hash_gate(spark):
    from healthcare_data_harmonization_dataflow_spark.operators.curation import (
        stratified_sample,
    )

    docs = spark.createDataFrame(
        [(i, f"text {i}", "en" if i % 2 == 0 else "zz") for i in range(200)],
        "doc_id long, text string, lang string",
    )
    rates = spark.createDataFrame(
        [("en", 500)], "lang string, keep_permille int"
    )
    out = stratified_sample(docs, rates)
    ids1 = sorted(r["doc_id"] for r in out.collect())
    ids2 = sorted(r["doc_id"] for r in stratified_sample(docs, rates).collect())
    assert ids1 == ids2  # pure function of the id: stable across runs
    assert all(i % 2 == 0 for i in ids1)  # 'zz' has no rate -> dropped
    # ~half of the 100 'en' docs survive a 500-permille gate
    assert 30 <= len(ids1) <= 70
    assert "keep_permille" not in out.columns
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # rates broadcast: no corpus shuffle


def test_dedup_lines_removes_corpus_frequent_lines(spark):
    from healthcare_data_harmonization_dataflow_spark.operators.curation import (
        dedup_lines,
    )

    docs = spark.createDataFrame(
        [
            (1, "unique one\nSubscribe now\nbody a"),
            (2, "Subscribe now\nbody b"),
            (3, "body c\nSubscribe now"),
            (4, "Subscribe now"),  # every line boilerplate -> empty doc
            (5, "untouched\nlines"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in dedup_lines(docs, min_docs=3).collect()}
    assert got[1]["clean_text"] == "unique one\nbody a"
    assert got[1]["n_lines_removed"] == 1
    assert got[2]["clean_text"] == "body b"
    assert got[3]["clean_text"] == "body c"
    assert got[4]["clean_text"] == "" and got[4]["n_lines_removed"] == 1
    assert got[5]["clean_text"] == "untouched\nlines"
    assert got[5]["n_lines_removed"] == 0
    assert len(got) == 5  # every doc survives, even all-boilerplate ones


def test_chunk_documents_overlapping_windows(spark):
    from healthcare_data_harmonization_dataflow_spark.operators.curation import (
        chunk_documents,
    )
    import pytest as _pytest

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(10))),  # 10 tokens
            (2, "only three tokens"),
            (3, ""),  # empty doc -> one empty chunk
        ],
        "doc_id long, text string",
    )
    got = {}
    for r in chunk_documents(docs, chunk_tokens=4, overlap=1).collect():
        got.setdefault(r["doc_id"], []).append(r)
    # stride 3 over 10 tokens: starts 0,3,6,9
    one = sorted(got[1], key=lambda r: r["chunk_idx"])
    assert [r["chunk_text"] for r in one] == [
        "w0 w1 w2 w3", "w3 w4 w5 w6", "w6 w7 w8 w9", "w9",
    ]
    assert [r["n_tokens"] for r in one] == [4, 4, 4, 1]
    assert [r["chunk_idx"] for r in one] == [0, 1, 2, 3]
    assert got[2][0]["chunk_text"] == "only three tokens"
    assert got[3][0]["chunk_text"] == "" and got[3][0]["n_tokens"] == 0
    with _pytest.raises(ValueError):
        chunk_documents(docs, chunk_tokens=4, overlap=4)
    # zero-shuffle guarantee: no Exchange anywhere in the plan
    plan = chunk_documents(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_pack_sequences_running_offset_binning(spark):
    from healthcare_data_harmonization_dataflow_spark.operators.curation import (
        pack_sequences,
    )

    chunks = spark.createDataFrame(
        [
            # group 0: doc 1 (3 chunks of 4 tokens), doc 2 (2 chunks of 5)
            (1, 0, 4), (1, 1, 4), (1, 2, 4), (2, 0, 5), (2, 1, 5),
            # group 1 (doc_id 10, group_size=8): its own offset space
            (10, 0, 7),
        ],
        "doc_id long, chunk_idx long, n_tokens long",
    )
    got = {
        (r["doc_id"], r["chunk_idx"]): r
        for r in pack_sequences(chunks, seq_len=10, group_size=8).collect()
    }
    # running offsets in group 0: 0,4,8,12,17 -> seq ids 0,0,0,1,1
    assert [got[(1, i)]["seq_id"] for i in range(3)] == [0, 0, 0]
    assert got[(1, 2)]["seq_offset"] == 8  # straddles into seq 1
    assert got[(2, 0)]["seq_id"] == 1 and got[(2, 0)]["seq_offset"] == 2
    assert got[(2, 1)]["seq_id"] == 1 and got[(2, 1)]["seq_offset"] == 7
    # group 1 restarts at offset 0
    assert got[(10, 0)]["grp"] == 1
    assert got[(10, 0)]["seq_id"] == 0 and got[(10, 0)]["seq_offset"] == 0


def test_lsh_topk_recall_on_clustered_corpus(spark):
    """Banded multi-table LSH recall vs exact brute force on clustered
    data — the any-band candidate rule must keep recall high while only
    (id, band, bucket) triples shuffle."""
    import numpy as np

    from healthcare_data_harmonization_dataflow_spark.operators import (
        similarity as S,
    )

    rng = np.random.default_rng(11)
    centers = rng.normal(0.0, 1.0, (8, 16))
    rows = []
    for i in range(400):
        c = centers[i // 50]
        v = (c + rng.normal(0.0, 0.05, 16)).astype("float32").tolist()
        rows.append((i, v))
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    queries = emb.filter(F.col("vec_id") % 10 == 0)

    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in S.brute_force_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in S.lsh_topk(emb, queries, k=5, dim=16).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"banded-LSH recall {recall:.3f} < 0.9"


def test_ngram_contamination_hash_overlap(spark):
    from healthcare_data_harmonization_dataflow_spark.operators.curation import (
        ngram_contamination,
        ngram_hashes,
    )

    base = "a b c d e f g h i j k l m"  # exactly 13 tokens -> one 13-gram
    docs = spark.createDataFrame(
        [
            (1, base + " extra tail words"),  # contains the benchmark gram
            (2, "totally different words " * 4),
            (3, base),  # the benchmark doc itself
            (4, "short doc"),  # < 13 tokens -> no grams at all
        ],
        "doc_id long, text string",
    )
    blocklist = ngram_hashes(docs.where("doc_id = 3"), n=13).select("gram")
    got = {
        r["doc_id"]: (r["n_gram_hits"], r["contaminated"])
        for r in ngram_contamination(docs, blocklist, n=13).collect()
    }
    assert got[1][1] is True and got[1][0] >= 1
    assert got[2] == (0, False)
    assert got[3][1] is True
    assert got[4] == (0, False)  # short docs are clean, not an error
    assert len(got) == 4  # every doc reported


def test_ngram_contamination_normalizes_case_and_punct(spark):
    """The GPT-3/PaLM method lowercases and strips punctuation before
    n-gramming: a capitalization/punctuation variant of a benchmark
    sentence must still be flagged."""
    from healthcare_data_harmonization_dataflow_spark.operators.curation import (
        ngram_contamination,
        ngram_hashes,
    )

    bench = "the quick brown fox jumps over the lazy dog near a quiet river"
    variant = "The quick, brown FOX jumps over the lazy dog - near a quiet river!"
    docs = spark.createDataFrame(
        [(1, bench), (2, variant), (3, "unrelated words " * 8)],
        "doc_id long, text string",
    )
    blocklist = ngram_hashes(docs.where("doc_id = 1"), n=13).select("gram")
    got = {
        r["doc_id"]: r["contaminated"]
        for r in ngram_contamination(docs, blocklist, n=13).collect()
    }
    assert got[2] is True, "case/punct variant escaped the 13-gram flag"
    assert got[3] is False


def test_curation_null_text_safety(spark):
    """NULL text must behave as '' in every curation operator: zero counts,
    document never silently dropped (explode of NULL emits no rows)."""
    from healthcare_data_harmonization_dataflow_spark.operators.curation import (
        chunk_documents,
        contamination_flags,
        dedup_lines,
        ngram_hashes,
        scrub_pii,
    )

    docs = spark.createDataFrame(
        [(1, None), (2, "mail me a@b.co now")], "doc_id long, text string"
    )
    r = {x["doc_id"]: x for x in scrub_pii(docs).collect()}
    assert (r[1]["n_email"], r[1]["clean_text"]) == (0, "")
    assert r[2]["n_email"] == 1

    dl = {x["doc_id"]: x for x in dedup_lines(docs, min_docs=2).collect()}
    assert set(dl) == {1, 2} and dl[1]["n_lines_removed"] == 0

    ch = chunk_documents(docs, chunk_tokens=4, overlap=1).groupBy("doc_id").count()
    assert {x["doc_id"] for x in ch.collect()} == {1, 2}  # null doc: 1 empty chunk

    assert ngram_hashes(docs, n=2).where("doc_id = 1").count() == 0

    snips = spark.createDataFrame([("a@b",)], "snip string")
    cf = {x["doc_id"]: x["n_hits"] for x in contamination_flags(docs, snips).collect()}
    assert cf == {1: 0, 2: 1}


def test_decode_avi_truncated_body_falls_to_stub():
    """A declared avih size >= 40 with fewer payload bytes present must not
    fabricate dimensions from out-of-range reads — it raises and the
    sniffing decoder falls to the deterministic hash stub."""
    import struct

    import pytest as _pytest

    from healthcare_data_harmonization_dataflow_spark.operators.multimodal import (
        decode_avi,
        default_decode,
    )

    avih = struct.pack("<9I", 40000, 0, 0, 0, 250, 0, 1, 0, 1920)  # 36 bytes
    avi = (
        b"RIFF" + struct.pack("<I", 60) + b"AVI "
        + b"LIST" + struct.pack("<I", 48) + b"hdrl"
        + b"avih" + struct.pack("<I", 56) + avih  # declares 56, has 36
    )
    with _pytest.raises(ValueError, match="truncated avih"):
        decode_avi(avi)
    f = default_decode(avi, "video")  # stub path, deterministic
    assert f["n_bytes"] == len(avi) and f["frames_sampled"] >= 1


def test_scrub_pii_paren_phone_and_sequential_counts(spark):
    """Review-found fixes: (1) '\\b\\(?' made the paren unmatchable, leaving
    a stray '(' after redacting '(555) 867-5309'; (2) counts computed on the
    ORIGINAL text could report a phone that was actually redacted as part of
    an email. Counts must equal emitted tokens exactly."""
    from healthcare_data_harmonization_dataflow_spark.operators.curation import (
        scrub_pii,
    )

    df = spark.createDataFrame(
        [
            (1, "call (555) 867-5309 now"),
            # the email swallows the phone-shaped digits: email counts 1,
            # phone counts 0, and no phantom <PHONE> token appears
            (2, "reach 555-123-4567@example.org today"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in scrub_pii(df).collect()}
    assert rows[1]["clean_text"] == "call <PHONE> now"  # paren consumed
    assert rows[1]["n_phone"] == 1
    assert rows[2]["n_email"] == 1 and rows[2]["n_phone"] == 0
    assert rows[2]["clean_text"] == "reach <EMAIL> today"
    for r in rows.values():  # counts == emitted tokens, per kind
        for kind in ("email", "ssn", "phone"):
            assert r[f"n_{kind}"] == r["clean_text"].count(f"<{kind.upper()}>")


def test_pack_sequences_rejects_non_integral_doc_id(spark):
    import pytest as _pytest

    from healthcare_data_harmonization_dataflow_spark.operators.curation import (
        pack_sequences,
    )

    chunks = spark.createDataFrame(
        [("uuid-a", 0, 4)], "doc_id string, chunk_idx long, n_tokens long"
    )
    with _pytest.raises(ValueError, match="integral doc_id"):
        pack_sequences(chunks)


def test_ngram_jaccard_prefix_length_integer_exact(spark):
    """Review-confirmed bug: float (1-t)*sz evaluated 0.8/10 tokens to
    prefix length 2 instead of 3, silently dropping a pair at EXACTLY the
    threshold. Both strategies must find it and agree."""
    from healthcare_data_harmonization_dataflow_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [
            (1, "f1 f2 x1 x2 x3 x4 x5 x6 x7 x8"),  # 10 tokens
            (2, "x1 x2 x3 x4 x5 x6 x7 x8"),  # jaccard exactly 0.8
        ],
        "doc_id long, text string",
    )
    for strat in ("prefix", "profile"):
        got = ngram_jaccard_pairs(docs, threshold=0.8, strategy=strat).collect()
        assert len(got) == 1, f"{strat} missed the threshold-exact pair"
        assert got[0]["jaccard_ppm"] == 800_000
    import pytest as _pytest

    with _pytest.raises(ValueError, match="threshold"):
        ngram_jaccard_pairs(docs, threshold=0.0)


def test_gopher_signals_reference_model(spark):
    from healthcare_data_harmonization_dataflow_spark.operators.curation import (
        _GOPHER_STOPS,
        gopher_signals,
    )

    clean = (
        "the quick brown fox jumps over a lazy dog and the cat sat on "
        "that mat while it rained out of spite in the garden near trees "
        "with many other animals around here today"
    )
    spam = "buy now " * 30  # one bigram dominates
    short = "too short to pass"
    rows = [(1, clean), (2, spam.strip()), (3, short), (4, None)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in gopher_signals(docs).collect()}

    # pure-python reference (same integer-ppm math, same tie-break)
    def ref(text):
        ws = [w for w in (text or "").lower().split(" ") if w]
        n = len(ws)
        chars = sum(len(w) for w in ws)
        alpha = sum(1 for w in ws if any("a" <= c <= "z" for c in w))
        stops = len({w for w in ws if w in _GOPHER_STOPS})
        fr = {}
        for k in (2, 3):
            grams = [" ".join(ws[i : i + k]) for i in range(n - k + 1)]
            cnt = {}
            for g in grams:
                cnt[g] = cnt.get(g, 0) + 1
            top = max(
                ((c, len(g.replace(" ", ""))) for g, c in cnt.items()),
                default=(0, 0),
            )
            fr[k] = top[0] * top[1] * 1_000_000 // max(chars, 1)
        return {
            "n_words": n,
            "mean_word_len_ppm": chars * 1_000_000 // max(n, 1),
            "alpha_ratio_ppm": alpha * 1_000_000 // max(n, 1),
            "n_stop_distinct": stops,
            "top_bigram_frac_ppm": fr[2],
            "top_trigram_frac_ppm": fr[3],
        }

    for doc_id, text in rows:
        expect = ref(text)
        for k, v in expect.items():
            assert got[doc_id][k] == v, (doc_id, k, got[doc_id][k], v)
    assert got[1]["gopher_keep"] is True  # clean doc passes every gate
    assert got[2]["gopher_keep"] is False  # repetition gate trips
    assert got[3]["gopher_keep"] is False  # min-words gate trips
    assert got[4]["gopher_keep"] is False  # NULL text -> zeros, dropped
    assert len(got) == 4  # every input doc yields a row


def test_quality_classifier_reference_model(spark):
    """quality_classifier must equal a pure-python reimplementation of the
    linear model (same md5 bucket hash, same nonnegative-shifted integer
    mean, same multiply-add), be monotone in the weighted features, and
    stay a single python-free codegen projection."""
    import hashlib

    from healthcare_data_harmonization_dataflow_spark.operators.curation import (
        _GOPHER_STOPS,
        QC_DEFAULT_SHAPE_WEIGHTS,
        QC_N_BUCKETS,
        QC_TOKEN_SHIFT,
        QC_WORDS_CAP,
        _qc_default_bucket_weights,
        quality_classifier,
    )

    rows = [
        (1, "the cat sat on the mat and that dog ran off with a bone"),
        (2, "!!!;;;...,,,:::!!!;;;...,,,"),  # punctuation wall
        (3, "word " * 2000),  # length cap engages
        (4, None),
        (5, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in quality_classifier(docs).collect()}

    bw = _qc_default_bucket_weights()
    sw = QC_DEFAULT_SHAPE_WEIGHTS

    def ref(text):
        ws = [w for w in (text or "").lower().split(" ") if w]
        n = len(ws)
        tok = sum(
            bw[int(hashlib.md5(w.encode()).hexdigest()[:15], 16) % QC_N_BUCKETS]
            + QC_TOKEN_SHIFT
            for w in ws
        )
        stop = sum(1 for w in ws if w in _GOPHER_STOPS)
        t = text or ""
        punct = sum(1 for c in t if c in ".,;:!?")
        return (
            sw["bias"]
            + (tok // max(n, 1) - QC_TOKEN_SHIFT)
            + sw["stopword_ratio_ppm"] * (stop * 1_000_000 // max(n, 1))
            + sw["punct_ratio_ppm"] * (punct * 1_000_000 // max(len(t), 1))
            + sw["n_words_capped"] * min(n, QC_WORDS_CAP)
        )

    for doc_id, text in rows:
        assert got[doc_id]["logit_micro"] == ref(text), (doc_id, text)
        assert got[doc_id]["qc_keep"] == (ref(text) >= 0)
    # the punctuation wall must score below the stopword-rich sentence
    assert got[2]["logit_micro"] < got[1]["logit_micro"]
    # plan hygiene: one pruned scan, zero python, zero exchanges
    plan = quality_classifier(docs)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "Exchange" not in plan

    # custom weights plumb through (a trained model is a drop-in)
    flat = quality_classifier(docs, bucket_weights=[0] * QC_N_BUCKETS)
    assert flat.count() == 5


def test_mixture_sample_sqrt_temperature_rates(spark):
    import math

    from healthcare_data_harmonization_dataflow_spark.operators.curation import (
        mixture_sample,
    )

    rows = [(i, "big" if i < 900 else "small", "en", 100) for i in range(1000)]
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, lang string, n_chars int"
    )
    out = mixture_sample(docs, budget_ppm=500_000)
    got = out.collect()

    # exact keep_ppm via the same IEEE ops: w = floor(sqrt(sz)) as ints
    w_big = math.floor(math.sqrt(900 * 100.0))  # 300
    w_small = math.floor(math.sqrt(100 * 100.0))  # 100
    tw = w_big + w_small
    n = 1000.0
    ppm = {
        "big": math.floor(min(1.0, ((500_000 / 1e6 * n) * (w_big / tw)) / 900.0) * 1e6),
        "small": math.floor(
            min(1.0, ((500_000 / 1e6 * n) * (w_small / tw)) / 100.0) * 1e6
        ),
    }
    assert ppm["small"] == 1_000_000  # small source capped at keep-all
    for r in got:
        assert r["keep_ppm"] == ppm[r["source"]]
    by_src = {}
    for r in got:
        by_src.setdefault(r["source"], []).append(r["doc_id"])
    assert len(by_src["small"]) == 100  # keep-all survives the gate
    # big source: hash gate at ~41.67% of 900 docs
    assert 300 <= len(by_src["big"]) <= 450
    # determinism: pure function of doc_id
    again = sorted(r["doc_id"] for r in mixture_sample(docs).collect())
    assert again == sorted(r["doc_id"] for r in got)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # rates broadcast: corpus unshuffled


def test_ngram_jaccard_prefix_hot_token_salt_exact(spark):
    from healthcare_data_harmonization_dataflow_spark.operators.dedup import (
        _ngram_jaccard_prefix,
        ngram_jaccard_pairs,
    )

    # dense corpus: every doc shares token 'hot' (df = n >> hot_df), plus
    # three identical docs and one near-dup pair that must survive
    rows = [(i, f"hot u{i}a u{i}b u{i}c") for i in range(40)]
    rows += [(100, "hot same same2 same3"), (101, "hot same same2 same3"),
             (102, "hot same same2 same3"),
             (200, "hot near near2 near3 extra"),
             (201, "hot near near2 near3 other")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    salted = _ngram_jaccard_prefix(
        docs, 0.5, "doc_id", salt_buckets=4, hot_df=10
    )
    unsalted = ngram_jaccard_pairs(docs, 0.5, strategy="profile")
    key = lambda r: (r["doc1"], r["doc2"], r["jaccard_ppm"])  # noqa: E731
    got = sorted(key(r) for r in salted.collect())
    want = sorted(key(r) for r in unsalted.collect())
    assert got == want and len(got) > 0  # salting changes nothing but skew
    assert (100, 101, 1_000_000) in got  # identical pair generated ONCE
    # the hot token is salted: the candidate join key includes the salt
    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert "xxhash64" in plan


def test_null_text_oracle_parity_end_to_end(spark):
    """The curation operators coalesce NULL text; their DuckDB oracles
    must make the SAME choice (DuckDB's concat ignores NULL args where
    Spark's propagates them) — run query and oracle on a corpus WITH a
    NULL-text row and compare exactly."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as entry

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": ["alpha beta. gamma delta", None, "alpha beta. end", ""],
            "lang": ["en", "en", "de", "en"],
            "source": ["s0", "s0", "s1", "s1"],
            "n_chars": [23, 0, 15, 0],
        }
    )
    con = duckdb.connect()
    con.register("documents", pdf)

    sdf = spark.createDataFrame(
        pdf.astype(object).where(pd.notnull(pdf), None),
        "doc_id long, text string, lang string, source string, n_chars int",
    )

    import unittest.mock as mock

    oracles = entry.oracle_sql()
    for name in ("dedup_lines", "doc_chunks", "quality_gopher"):
        with mock.patch.object(entry, "_docs", lambda s, d: sdf):
            got = entry.queries()[name](spark, "unused")
        cols = sorted(got.columns)
        spark_rows = sorted(
            (tuple(r[c] for c in cols) for r in got.collect()), key=repr
        )
        odf = con.sql(oracles[name]).df()
        duck_rows = sorted(
            (
                tuple(None if pd.isna(v) else v for v in (r[c] for c in cols))
                for _, r in odf.iterrows()
            ),
            key=repr,
        )
        assert spark_rows == duck_rows, name


def test_lsh_fp_rate_zero_candidates_matches_oracle(spark):
    """Mutually dissimilar docs share no LSH band, so there are zero
    candidate pairs: the verified count and fp_ppm must be 0 (the
    oracle's coalesced sum), not NULL."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as entry

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": [
                "alpha beta gamma delta epsilon",
                "red green blue yellow purple",
                "one two three four five",
            ],
        }
    )
    con = duckdb.connect()
    con.register("documents", pdf)
    sdf = spark.createDataFrame(pdf, "doc_id long, text string")

    import unittest.mock as mock

    with mock.patch.object(entry, "_docs", lambda s, d: sdf):
        got = entry.queries()["lsh_fp_rate"](spark, "unused").collect()
    oracle = con.sql(entry.oracle_sql()["lsh_fp_rate"]).fetchall()
    assert [tuple(r) for r in got] == oracle == [(0, 0, 0)]


# Even doc_ids are history, odd doc_ids the arriving batch (the
# dedup_incremental queries' default history_pred). Each fixture pins the
# survivors (doc_id, n_band_matches, near_dup), the same with and without
# verification.
_INCREMENTAL_DEGENERATE = {
    "empty_history": (
        [(1, "alpha beta gamma"), (3, "alpha beta gamma"), (5, "red green")],
        [(1, 0, False), (5, 0, False)],
    ),
    "null_or_empty_batch": (
        [(0, "alpha beta"), (2, "gamma delta"), (1, None), (3, ""),
         (5, None), (7, "   ")],
        [(1, 0, False), (7, 0, False)],
    ),
    "exact_dup_of_history": (
        [(0, "alpha beta gamma delta"), (2, "one two three"),
         (1, "alpha beta gamma delta"), (3, "delta gamma beta alpha"),
         (5, "fresh words only here")],
        [(3, 4, True), (5, 0, False)],
    ),
    "zero_band_matches": (
        [(0, "alpha beta gamma delta epsilon"),
         (2, "red green blue yellow purple"),
         (1, "one two three four five"), (3, "six seven eight nine ten")],
        [(1, 0, False), (3, 0, False)],
    ),
}


@pytest.mark.parametrize("query", ["dedup_incremental", "dedup_incremental_verified"])
@pytest.mark.parametrize("fixture", sorted(_INCREMENTAL_DEGENERATE))
def test_dedup_incremental_degenerate_inputs_match_oracle(spark, fixture, query):
    """The ingest-dedup decision (operators/dedup.py dedup_against_index,
    shared with the streaming stage) against the raw-value DuckDB oracle
    on degenerate batches: no history, only NULL/empty texts (NULL and ''
    collapse to one survivor), an exact duplicate of history, and no
    band match at all."""
    import unittest.mock as mock

    import duckdb
    import pandas as pd

    import __spark_entry__ as entry

    rows, want = _INCREMENTAL_DEGENERATE[fixture]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    con = duckdb.connect()
    con.register("documents", pdf)
    sdf = spark.createDataFrame(rows, "doc_id long, text string")

    with mock.patch.object(entry, "_docs", lambda s, d: sdf):
        got = entry.queries()[query](spark, "unused").collect()
    oracle = con.sql(entry.oracle_sql()[query]).fetchall()
    assert sorted(tuple(r) for r in got) == sorted(oracle) == want


def test_ngram_jaccard_profile_fallback_keeps_caller_settings(spark):
    """Falling back from the profile to the prefix strategy (more profiles
    than profile_cap) must keep the caller's salt_buckets/hot_df, and
    invalid values fail up front whichever strategy runs."""
    import unittest.mock as mock

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta"), (3, "alpha beta")],
        "doc_id long, text string",
    )
    with pytest.raises(ValueError, match="salt_buckets/hot_df"):
        D.ngram_jaccard_pairs(docs, strategy="profile", profile_cap=1, hot_df=0)
    with pytest.raises(ValueError, match="salt_buckets/hot_df"):
        D.ngram_jaccard_pairs(docs, strategy="prefix", salt_buckets=0)

    with mock.patch.object(
        D, "_ngram_jaccard_prefix", wraps=D._ngram_jaccard_prefix
    ) as prefix, pytest.warns(UserWarning, match="profile_cap=1"):
        got = D.ngram_jaccard_pairs(
            docs, 0.5, strategy="profile", profile_cap=1, salt_buckets=4,
            hot_df=10,
        ).collect()
    assert prefix.call_args.kwargs == {"salt_buckets": 4, "hot_df": 10}
    assert [tuple(r) for r in got] == [(1, 3, 1_000_000)]


def test_round5_closeout_queries_lead_the_registry():
    """The cross-engine correctness gate samples a 50-entry prefix of
    queries(): the round-5 close-out entries must sit inside it, each
    with an oracle."""
    import __spark_entry__ as entry

    closeout = [
        "lm_quality_filter", "span_dedup", "dsir_sample", "c4_filters",
        "text_normalize", "corpus_stats", "bpe_pair_counts", "bpe_encode",
        "dedup_incremental", "dedup_incremental_verified",
        "dedup_cluster_sizes", "lsh_fp_rate",
    ]
    assert list(entry.queries())[: len(closeout)] == closeout
    assert set(closeout) <= set(entry.oracle_sql())


def test_source_cap_two_level_equals_single_window(spark):
    """source_cap's salted two-level top-K must select the IDENTICAL
    survivor set as the semantic definition (one ranked window per source),
    under-cap sources must pass through uncapped, and NULL sources must
    group together like SQL PARTITION BY."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from healthcare_data_harmonization_dataflow_spark.operators.curation import (
        source_cap,
    )

    rows = []
    # srcA: 9 docs (over cap=4), srcB: 3 docs (under), NULL source: 6 (over)
    for i in range(9):
        rows.append((i, f"text {i}", "srcA"))
    for i in range(9, 12):
        rows.append((i, f"text {i}", "srcB"))
    for i in range(12, 18):
        rows.append((i, f"text {i}", None))
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")

    got = source_cap(docs, cap=4, n_salts=3)
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()
    )
    want = (
        docs.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= 4)
        .drop("_rk")
    )
    got_set = {tuple(r) for r in got.collect()}
    want_set = {tuple(r) for r in want.collect()}
    assert got_set == want_set
    # under-cap source untouched
    assert sum(1 for r in got_set if r[2] == "srcB") == 3
    # over-cap sources (incl. the NULL group) capped exactly
    assert sum(1 for r in got_set if r[2] == "srcA") == 4
    assert sum(1 for r in got_set if r[2] is None) == 4


def test_budget_select_greedy_reference_model(spark):
    """budget_select must equal a pure-python greedy reference: whole score
    buckets descending, boundary bucket filled in (md5(id), id) order while
    the running token sum fits; and never exceed the budget."""
    import hashlib

    from healthcare_data_harmonization_dataflow_spark.operators.curation import (
        _GOPHER_STOPS,
        budget_select,
    )

    texts = {
        0: "the quick brown fox and the lazy dog",
        1: "to be or not to be that is the question",
        2: "alpha beta gamma delta",
        3: "of mice and men with a plan",
        4: "have you seen that thing",
        5: "zzz yyy xxx www vvv uuu",
        6: "the the the the",
        7: "and of to be have with that the a",
    }
    rows = [(i, t, "en", "s0") for i, t in texts.items()]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )

    def score(t):
        ws = [w for w in t.lower().split(" ") if w]
        ns = sum(1 for w in ws if w in _GOPHER_STOPS)
        import math

        return len(ws), math.floor(ns * 1_000_000.0 / max(len(ws), 1))

    budget = 20
    feats = {i: score(t) for i, t in texts.items()}
    # python greedy reference
    by_bucket = {}
    for i, (tok, sc) in feats.items():
        by_bucket.setdefault(sc, []).append(i)
    kept, used = set(), 0
    for sc in sorted(by_bucket, reverse=True):
        btok = sum(feats[i][0] for i in by_bucket[sc])
        if used + btok <= budget:
            kept.update(by_bucket[sc])
            used += btok
            continue
        rem = budget - used
        run = 0
        for i in sorted(
            by_bucket[sc],
            key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i),
        ):
            run += feats[i][0]
            if run <= rem:
                kept.add(i)
        break

    got = budget_select(docs, token_budget=budget)
    got_ids = {r["doc_id"] for r in got.collect()}
    assert got_ids == kept
    assert sum(feats[i][0] for i in got_ids) <= budget
    # budget >= total keeps everything (the one-row agg must not annihilate)
    all_got = budget_select(docs, token_budget=10_000)
    assert all_got.count() == len(texts)


def test_lm_quality_reference_model(spark):
    """lm_quality must equal a pure-python reimplementation of the bigram
    Stupid-Backoff model (same integer-ppm math, same floored mean), rank
    in-distribution text above scrambled text above OOV gibberish, emit
    one row per input doc (short/empty/null docs score 0 = tail), and
    keep the model joins broadcast with no Python in the plan."""
    from collections import Counter

    from healthcare_data_harmonization_dataflow_spark.operators.curation import (
        LM_ALPHA_PPM,
        lm_quality,
    )

    train_rows = [(i, "the cat sat on the mat") for i in range(3)] + [
        (100 + i, "a dog ate my homework today") for i in range(2)
    ]
    score_rows = [
        (1, "the cat sat on the mat"),  # every bigram in-model
        (2, "mat the on cat sat the"),  # unigrams seen, bigrams backoff
        (3, "zzz qqq xxx yyy"),  # fully OOV -> 0
        (4, "single"),  # < 2 words -> 0
        (5, None),
        (6, ""),
    ]
    docs = spark.createDataFrame(score_rows, "doc_id long, text string")
    train = spark.createDataFrame(train_rows, "doc_id long, text string")
    res = lm_quality(docs, train_docs=train, head_ppm=500_000, middle_ppm=1)
    got = {
        r["doc_id"]: (r["lm_score_ppm"], r["lm_bucket"]) for r in res.collect()
    }
    assert set(got) == {1, 2, 3, 4, 5, 6}

    # pure-python mirror (vocab far under the prune caps, so raw words
    # stand in for the md5-64 hashes without collision risk)
    def toks(t):
        return [w for w in (t or "").lower().split(" ") if w]

    c1, c2 = Counter(), Counter()
    for _, t in train_rows:
        ws = toks(t)
        c1.update(ws)
        c2.update(f"{x} {y}" for x, y in zip(ws, ws[1:]))
    total = sum(c1.values())

    def ref(t):
        ws = toks(t)
        if len(ws) < 2:
            return 0
        s = 0
        for x, y in zip(ws, ws[1:]):
            bg = f"{x} {y}"
            if bg in c2 and x in c1:
                s += 1_000_000 * c2[bg] // c1[x]
            else:
                s += LM_ALPHA_PPM * c1.get(y, 0) // total
        return s // (len(ws) - 1)

    for doc_id, text in score_rows:
        assert got[doc_id][0] == ref(text), (doc_id, text)
    assert got[1][0] > got[2][0] > got[3][0] == 0
    assert got[4] == (0, "tail") and got[5] == (0, "tail") and got[6] == (0, "tail")
    assert got[1][1] == "head" and got[2][1] == "middle" and got[3][1] == "tail"

    # plan hygiene: model lookups broadcast, scoring python-free
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_lm_quality_prune_caps_and_tiebreak(spark):
    """The model prune must keep the top-K by (count desc, hash asc): with
    max_vocab=1 only the corpus-dominant unigram survives, every other
    token backs off to zero, and scores stay deterministic."""
    from healthcare_data_harmonization_dataflow_spark.operators.curation import (
        lm_quality,
    )

    # 'the' dominates; with max_vocab=1 and max_bigrams=1 only ('the',
    # 'the the') survive the prune
    train = spark.createDataFrame(
        [(1, "the the the the rare")], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [(1, "the the"), (2, "rare rare")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["lm_score_ppm"]
        for r in lm_quality(
            docs, train_docs=train, max_vocab=1, max_bigrams=1
        ).collect()
    }
    # doc 1: bigram 'the the' seen 3x, c1('the')=4 -> 750000
    assert got[1] == 750_000
    # doc 2: 'rare' pruned from the vocab -> full backoff to 0
    assert got[2] == 0


def test_span_dedup_reference_model(spark):
    """span_dedup must equal a pure-python EXACTSUBSTR mirror (md5 window
    hashes, >=2 total occurrences incl. within-doc repeats, maximal
    interval merge, floored ppm), emit one row per input doc (short /
    empty / null docs -> zeros), and keep the plan python-free."""
    import hashlib
    from collections import Counter

    from healthcare_data_harmonization_dataflow_spark.operators.dedup import (
        span_dedup,
    )

    k = 3
    rows = [
        (1, "p q r s t u"),  # shares the run 'p q r s' with doc 2
        (2, "m n p q r s"),
        (3, "h i j k h i j"),  # within-doc repeat of 'h i j' -> 2 spans
        (4, "clean words only here"),  # no duplicated window
        (5, "one two"),  # shorter than k
        (6, None),
        (7, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    res = span_dedup(docs, k=k)
    got = {
        r["doc_id"]: (r["n_dup_spans"], r["dup_tokens"], r["dup_frac_ppm"])
        for r in res.collect()
    }
    assert set(got) == {1, 2, 3, 4, 5, 6, 7}

    # pure-python mirror
    def toks(t):
        return [w for w in (t or "").lower().split(" ") if w]

    cnt = Counter()
    occ = {}
    for d, t in rows:
        ws = toks(t)
        lst = []
        for i in range(len(ws) - k + 1):
            h = hashlib.md5(" ".join(ws[i : i + k]).encode()).hexdigest()
            lst.append((i + 1, h))
            cnt[h] += 1
        occ[d] = lst
    for d, t in rows:
        ws = toks(t)
        spans = []
        for s in sorted(s for s, h in occ[d] if cnt[h] >= 2):
            e = s + k
            if spans and s <= spans[-1][1]:
                spans[-1][1] = max(spans[-1][1], e)
            else:
                spans.append([s, e])
        dt = sum(e - s for s, e in spans)
        nw = len(ws)
        exp = (len(spans), dt, (1_000_000 * dt) // nw if nw >= 1 else 0)
        assert got[d] == exp, (d, got[d], exp)

    # the constructed shapes actually exercised merge + within-doc repeat
    assert got[1] == (1, 4, 666_666)  # windows at 1,2 merged -> [1, 5)
    assert got[3][0] == 2  # two disjoint maximal spans
    assert got[4] == (0, 0, 0) and got[5] == (0, 0, 0)
    assert got[6] == (0, 0, 0) and got[7] == (0, 0, 0)

    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_span_dedup_contiguous_run_is_one_span(spark):
    """A duplicated region longer than k (every offset's window repeats)
    must collapse to ONE maximal span covering the whole region — and a
    fully duplicated doc reports dup_frac_ppm == 1_000_000."""
    from healthcare_data_harmonization_dataflow_spark.operators.dedup import (
        span_dedup,
    )

    body = "a b c d e f g h"
    docs = spark.createDataFrame(
        [(1, body), (2, body)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_dup_spans"], r["dup_tokens"], r["dup_frac_ppm"])
        for r in span_dedup(docs, k=3).collect()
    }
    assert got[1] == (1, 8, 1_000_000)
    assert got[2] == (1, 8, 1_000_000)


def test_dsir_reference_model(spark):
    """dsir_fit + dsir_select must equal a pure-python mirror end-to-end
    (md5-64 bucket hash, add-one-smoothed milli-nat log ratios computed
    independently with math.log, integer scoring, above-corpus-mean
    multiply-compare selection), and the scoring plan stays python-free."""
    import hashlib
    import math
    from collections import Counter

    from healthcare_data_harmonization_dataflow_spark.operators.curation import (
        dsir_fit,
        dsir_select,
    )

    rows = [
        (1, "alpha beta alpha gamma", "en"),
        (2, "alpha beta beta beta", "en"),
        (3, "delta epsilon zeta delta", "fr"),
        (4, "eta theta iota kappa", "fr"),
        (5, "alpha delta", "fr"),
        (6, None, "en"),
        (7, "", "fr"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    n_buckets = 64
    weights = dsir_fit(
        docs, docs.filter("lang = 'en'"), n_buckets=n_buckets
    )

    def toks(t):
        return [w for w in (t or "").lower().split(" ") if w]

    def bucket(w):
        return int(hashlib.md5(w.encode()).hexdigest()[:15], 16) % n_buckets

    tgt, raw = Counter(), Counter()
    for _, t, lang in rows:
        for w in toks(t):
            raw[bucket(w)] += 1
            if lang == "en":
                tgt[bucket(w)] += 1
    t_total = sum(tgt.values()) + n_buckets
    r_total = sum(raw.values()) + n_buckets
    ref_w = [
        math.floor(
            1000
            * (
                math.log(tgt.get(b, 0) + 1)
                - math.log(t_total)
                - math.log(raw.get(b, 0) + 1)
                + math.log(r_total)
            )
        )
        for b in range(n_buckets)
    ]
    assert weights == ref_w

    scores = {
        d: sum(ref_w[bucket(w)] for w in toks(t)) for d, t, _ in rows
    }
    s, n = sum(scores.values()), len(scores)
    res = dsir_select(docs, weights)
    got = {
        r["doc_id"]: (r["dsir_score_milli"], r["selected"])
        for r in res.collect()
    }
    assert got == {d: (sc, sc * n > s) for d, sc in scores.items()}
    # target-vocab docs above the mean, raw-only docs below
    assert got[1][1] and got[2][1]
    assert not got[3][1] and not got[4][1]

    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_c4_filters_semantics_exact(spark):
    from healthcare_data_harmonization_dataflow_spark.operators.curation import (
        c4_filters,
    )

    docs = spark.createDataFrame(
        [
            (
                1,
                "this is a good first sentence.\n"
                "here is another proper long sentence!\n"
                "click here\n"
                "does this sentence end with a question mark?\n"
                "no terminal punctuation on this one",
            ),
            (
                2,
                "please enable javascript to read this article today.\n"
                "one single good line is not enough to keep it.",
            ),
            (
                3,
                "a perfectly fine sentence number one right here.\n"
                "a perfectly fine sentence number two right here.\n"
                "a perfectly fine sentence number three right here.\n"
                "Lorem Ipsum dolor sit amet and so on.",
            ),
            (
                4,
                "a perfectly fine sentence number one right here.\n"
                "a perfectly fine sentence number two right here.\n"
                "a perfectly fine sentence number three right here.\n"
                "var f = function() { return 1; }",
            ),
            (5, None),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in c4_filters(docs).collect()}
    # doc 1: 'click here' (2 words) and the unterminated line drop; the
    # other 3 survive -> keep
    assert got[1]["keep"] and got[1]["n_lines_kept"] == 3
    assert got[1]["clean_text"].splitlines() == [
        "this is a good first sentence.",
        "here is another proper long sentence!",
        "does this sentence end with a question mark?",
    ]
    # doc 2: javascript line dropped; only 1 surviving line < 3 -> drop
    assert not got[2]["keep"] and got[2]["n_lines_kept"] == 1
    # docs 3/4: enough good lines but the doc-level gates fire
    assert got[3]["n_lines_kept"] == 4 and not got[3]["keep"]  # lorem ipsum
    assert got[4]["n_lines_kept"] == 3 and not got[4]["keep"]  # curly brace
    # doc 5: NULL text -> one empty line, nothing kept, keep = False
    assert got[5]["clean_text"] == "" and not got[5]["keep"]
    assert got[5]["n_lines_total"] == 1


def test_normalize_documents_canonical_form(spark):
    from healthcare_data_harmonization_dataflow_spark.functions.text import (
        normalize_documents,
    )

    docs = spark.createDataFrame(
        [
            (1, "Hello,   World! Call 555-1234 now."),
            (2, "hello world call 0 now"),  # already canonical
            (3, None),
            (4, "HELLO world\t\ncall 42 NOW!!!"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in normalize_documents(docs).collect()}
    assert got[1]["norm_text"] == "hello world call 0 0 now"
    assert got[2]["norm_text"] == "hello world call 0 now"
    assert got[3]["norm_text"] == "" and got[3]["norm_hash"] is not None
    assert got[4]["norm_text"] == "hello world call 0 now"
    # case/punct/digit/space variants of the same content collide
    assert got[2]["norm_hash"] == got[4]["norm_hash"]
    assert got[1]["norm_hash"] != got[2]["norm_hash"]


def test_corpus_stats_totals(spark):
    from healthcare_data_harmonization_dataflow_spark.operators.curation import (
        corpus_stats,
    )

    docs = spark.createDataFrame(
        [
            (1, "one two three", "en", "web"),
            (2, "four five", "en", "web"),
            (3, None, "en", "web"),  # NULL text: 0 tokens, doc counted
            (4, "uno", "es", "web"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    got = {
        (r["lang"], r["source"]): r for r in corpus_stats(docs).collect()
    }
    en = got[("en", "web")]
    assert en["n_docs"] == 3 and en["total_tokens"] == 5
    assert en["min_tokens"] == 0 and en["max_tokens"] == 3
    assert en["total_chars"] == len("one two three") + len("four five")
    es = got[("es", "web")]
    assert es["n_docs"] == 1 and es["total_tokens"] == 1


def test_bpe_pair_counts_reference_model(spark):
    """Weighted adjacent-pair counts must match a pure-python BPE first
    iteration over the same normalization."""
    import re
    from collections import Counter

    from healthcare_data_harmonization_dataflow_spark.operators.tokenize import (
        bpe_pair_counts,
    )

    texts = [
        "low lower lowest",
        "new newer newest, NEW!",
        "a ab abc low low",
        None,
        "x",  # single-char word -> no pairs
    ]
    wc = Counter()
    for t in texts:
        norm = re.sub(r"[!-/:-@\[-`{-~]", " ", (t or "").lower())
        for w in norm.split():
            wc[w] += 1
    ref = Counter()
    for w, c in wc.items():
        for i in range(len(w) - 1):
            ref[f"{w[i]} {w[i + 1]}"] += c
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    rows = bpe_pair_counts(docs, top_k=1000).collect()
    got = {r["pair"]: r["pair_count"] for r in rows}
    assert got == dict(ref)
    # rank is deterministic: count desc then pair asc
    ordered = sorted(rows, key=lambda r: r["rank"])
    expect = sorted(ref.items(), key=lambda kv: (-kv[1], kv[0]))
    assert [(r["pair"], r["pair_count"]) for r in ordered] == expect
    # 'lo' appears in low(x3 across docs) + lower + lowest -> sanity anchor
    assert got["l o"] == 5


def test_bpe_pair_counts_topk_plan_is_distributed(spark):
    """The top-K must compile to TakeOrderedAndProject, not a global
    single-partition window over every pair."""
    from healthcare_data_harmonization_dataflow_spark.operators.tokenize import (
        bpe_pair_counts,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta")], "doc_id long, text string"
    )
    plan = (
        bpe_pair_counts(docs, top_k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan


def _bpe_word_counts(texts):
    import re
    from collections import Counter

    wc = Counter()
    for t in texts:
        norm = re.sub(r"[!-/:-@\[-`{-~]", " ", (t or "").lower())
        for w in norm.split():
            wc[w] += 1
    return dict(wc)


def test_bpe_train_matches_reference_model(spark):
    """The Spark-built vocab must equal the pure-python word counts, so
    bpe_train learns the EXACT merge sequence of the reference trainer —
    including tie-breaks and the single-pass left-to-right
    merge-application semantics."""
    from healthcare_data_harmonization_dataflow_spark.operators.tokenize import (
        bpe_train,
        bpe_train_reference,
    )

    texts = [
        "low low low lower lowest",
        "new newer newest, NEW!",
        "wider wide widest low",
        None,
        "aaaa aaaa x",  # adjacent-merge case: 'a a a a' -> 'aa aa'
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = bpe_train(docs, n_merges=12)
    ref = bpe_train_reference(_bpe_word_counts(texts), n_merges=12)
    assert got == ref
    assert len(got) == 12


def test_bpe_train_single_pass_merge_semantics():
    """'aaaa' under merge (a,a): one left-to-right non-overlapping pass
    gives [aa, aa] (NOT [aa, a, a]) — the padded double-space replace must
    not starve adjacent occurrences of their shared boundary space."""
    from healthcare_data_harmonization_dataflow_spark.operators.tokenize import (
        bpe_train_reference,
    )

    merges = bpe_train_reference({"aaaa": 1}, n_merges=3)
    # round 1: (a,a) count 3; round 2: the two 'aa' symbols pair up
    assert merges[0] == ("a", "a", 3)
    assert merges[1] == ("aa", "aa", 1)


def test_bpe_train_counts_leading_whitespace_symbols():
    """Words split on ' ' only, so a word can start with a tab; the tab is
    a symbol and its pair counts like any other (only the padding spaces
    are stripped)."""
    from healthcare_data_harmonization_dataflow_spark.operators.tokenize import (
        bpe_train_reference,
    )

    assert bpe_train_reference({"\tab": 1}, n_merges=1) == [("\t", "a", 1)]


def test_bpe_encode_rejects_quote_and_backslash_symbols(spark):
    """Merge symbols are spliced into SQL string literals; a quote or a
    backslash must be refused before it reaches the plan."""
    from healthcare_data_harmonization_dataflow_spark.operators.tokenize import (
        bpe_encode,
    )

    docs = spark.createDataFrame([(1, "alpha")], "doc_id long, text string")
    for merge in [("'", "a", 1), ("a", "\\", 1)]:
        with pytest.raises(ValueError, match="quote or backslash"):
            bpe_encode(docs, [merge])


def test_bpe_encode_lossless_and_merged(spark):
    """Encoding is lossless (tokens re-concatenate to the normalized
    words) and actually applies the learned merges (frequent words
    compress below character count)."""
    from healthcare_data_harmonization_dataflow_spark.operators.tokenize import (
        bpe_encode,
        bpe_train,
    )

    texts = [
        "low low low low lower lowest",
        "new newer newest low",
        None,
        "",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges = bpe_train(docs, n_merges=8)
    out = {r["doc_id"]: r for r in bpe_encode(docs, merges).collect()}
    import re

    for i, t in enumerate(texts):
        norm = re.sub(r"[!-/:-@\[-`{-~]", " ", (t or "").lower())
        assert out[i]["tokens"].replace(" ", "") == "".join(norm.split())
        assert out[i]["n_tokens"] == len(out[i]["tokens"].split())
    # 'low' dominates the corpus: after 8 merges it must be 1 token, so
    # doc 0 (6 words) encodes to far fewer tokens than its 24 chars
    assert out[0]["n_tokens"] < 15
    assert " ".join(["low"] * 4) in out[0]["tokens"]


def test_bpe_encode_plan_is_single_projection(spark):
    """bpe_encode is one zero-shuffle codegen projection: no Exchange, no
    Python eval in the executed plan."""
    from healthcare_data_harmonization_dataflow_spark.operators.tokenize import (
        bpe_encode,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta")], "doc_id long, text string"
    )
    plan = (
        bpe_encode(docs, [("a", "l", 2), ("al", "p", 1)])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_bucketed_join_and_agg_have_no_exchange(spark, tmp_path):
    """Same-spec bucketed tables join and aggregate on the bucket key
    with ZERO Exchange — the co-located layout that keeps a 10^12-turn
    fact table off the network (sources/bucketed.py)."""
    from healthcare_data_harmonization_dataflow_spark.sources.bucketed import (
        colocated_join,
        read_bucketed,
        write_bucketed,
    )

    left = spark.createDataFrame(
        [(f"c{i % 7}", i, f"t{i}") for i in range(100)],
        "conv_id string, turn_idx int, text string",
    )
    right = spark.createDataFrame(
        [(f"c{i % 7}", f"tool{i}") for i in range(40)],
        "conv_id string, tool string",
    )
    spark.sql("DROP TABLE IF EXISTS bt_left")
    spark.sql("DROP TABLE IF EXISTS bt_right")
    write_bucketed(
        left, "bt_left", 8, ["conv_id"], sort_cols=["conv_id", "turn_idx"],
        path=str(tmp_path / "bt_left"),
    )
    write_bucketed(
        right, "bt_right", 8, ["conv_id"], path=str(tmp_path / "bt_right")
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = colocated_join(spark, "bt_left", "bt_right", ["conv_id"])
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        assert "Bucketed: true" in plan
        assert joined.count() == sum(
            (100 // 7 + (1 if i < 100 % 7 else 0))
            * (40 // 7 + (1 if i < 40 % 7 else 0))
            for i in range(7)
        )
        from pyspark.sql import functions as F

        agg = read_bucketed(spark, "bt_left").groupBy("conv_id").agg(
            F.count(F.lit(1)).alias("n")
        )
        aplan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in aplan, aplan
        # one side bucketed: ONLY the unbucketed (small) side shuffles to
        # the bucket layout; the fact table stays put
        plain = spark.createDataFrame(
            [(f"c{i % 7}", i) for i in range(30)], "conv_id string, x int"
        )
        half = read_bucketed(spark, "bt_left").join(plain, "conv_id")
        hplan = half._jdf.queryExecution().executedPlan().toString()
        assert hplan.count("Exchange hashpartitioning") == 1, hplan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


# 0-, 1- and 2-row embedding tables: the second vector is a scaled,
# slightly perturbed copy of the first, so the 2-row table has one
# near-duplicate pair (and each vector is the other's only neighbour).
_EMB_DEGENERATE = {
    n: [
        (i, [((j * 37 + 11) % 19 - 9) / 10.0 * (1.0 - 0.1 * i) + 0.01 * i * (j % 3)
             for j in range(64)])
        for i in range(n)
    ]
    for n in (0, 1, 2)
}


@pytest.mark.parametrize("n_rows", sorted(_EMB_DEGENERATE))
def test_embedding_operators_degenerate_corpora_match_oracle(spark, tmp_path, n_rows):
    """Every embedding operator against its DuckDB oracle on a corpus with
    no vector, one vector (no neighbour, no LSH candidate, one IVF cell)
    and two near-duplicate vectors: same rows in both engines, and every
    oracle parses (an empty corpus trains an empty centroid list)."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from healthcare_data_harmonization_dataflow_spark.operators import similarity as S

    rows = _EMB_DEGENERATE[n_rows]
    path = str(tmp_path / "embeddings.parquet")
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([r[0] for r in rows], pa.int64()),
                "embedding": pa.array([r[1] for r in rows], pa.list_(pa.float32())),
            }
        ),
        path,
    )
    emb = spark.read.parquet(path)
    queries = emb.filter(F.col("vec_id") < 10)
    cents = S.ivf_oracle_centroids(path)
    cases = {
        "brute": (S.brute_force_topk(emb, queries, k=5), S.brute_force_topk_oracle_sql(k=5)),
        "lsh": (S.lsh_topk(emb, queries, k=5), S.lsh_topk_oracle_sql(k=5)),
        "ivf": (S.ivf_topk(emb, queries, k=5), S.ivf_topk_oracle_sql(cents, k=5)),
        "cosine": (
            S.embedding_cosine_pairs(emb, threshold_ppm=300_000),
            S.embedding_cosine_pairs_oracle_sql(300_000),
        ),
        "semantic": (
            S.semantic_dedup(emb, threshold_ppm=400_000),
            S.semantic_dedup_oracle_sql(cents, threshold_ppm=400_000),
        ),
    }
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}')")
    got = {}
    for name, (df, sql) in cases.items():
        cols = df.columns
        engine = sorted(tuple(r) for r in df.collect())
        oracle = sorted(con.sql(f"SELECT {', '.join(cols)} FROM ({sql})").fetchall())
        assert engine == oracle, name
        got[name] = len(engine)
    # the two vectors are each other's neighbour and a near-duplicate pair;
    # fewer rows leave nothing to pair. SemDeDup trains min(K, N) cells, so
    # each vector is alone in its cell and survives.
    pairs = 2 if n_rows == 2 else 0
    assert got == {
        "brute": pairs, "lsh": pairs, "ivf": pairs,
        "cosine": pairs // 2, "semantic": n_rows,
    }
