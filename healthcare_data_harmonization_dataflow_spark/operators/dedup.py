"""Deduplication operators for training-data pipelines.

Not in the reference (its dedup semantics are "each input creates a new
resource", README.md:156) — these are the first-class training-data ops the
north-star adds: exact, MinHash+LSH, SimHash, and n-gram Jaccard dedup over
a ``documents(doc_id, text, ...)`` table.

Scale design notes (the part that matters at 100 TB):

* **Signatures are computed per-row with higher-order functions** —
  ``transform``/``filter``/``array_min`` over the token array — NOT by
  exploding tokens into a shuffle. A 100 TB corpus never shuffles tokens;
  only fixed-width signatures (8x8B minhash, 8B simhash) move.
* **Candidate generation is band-bucket equi-join**: docs sharing an LSH
  band/simhash chunk land in the same shuffle bucket; the join key is the
  band hash, so Catalyst uses a plain shuffled hash join with AQE skew
  splitting. No O(n^2) anywhere except inside a bucket.
* **SimHash banding is exact, not approximate**: splitting a 32-bit
  signature into 4 chunks guarantees (pigeonhole) every pair at Hamming
  distance <= 3 shares a chunk, so candidates + exact bit_count filter ==
  brute force. The DuckDB oracles verify this.

Each primitive has one spelling here: ``_band_slice`` is a MinHash band's
slice of the signature (the batch band join, the index's ``band_hash``
and the oracles), ``_expand_group_pairs`` turns qualifying signature-group
pairs back into document pairs for MinHash, SimHash and the n-gram
profile path, ``document_index_rows`` is one projection over its input,
and ``ngram_jaccard_pairs`` chooses its strategy by one estimate against
``NGRAM_PROFILE_CAP``.

Cross-engine determinism: token hash = first 15 hex digits of md5 as int64
(``functions.text.md5_int_spark(15)``, identical to DuckDB's
``md5_int_duck(15)``), so every signature matches the oracle bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from healthcare_data_harmonization_dataflow_spark.functions.text import (
    md5_int_duck,
    md5_int_spark,
    ppm_duck,
    ppm_spark,
    safe_words_duck,
    safe_words_spark,
    window_hashes_duck,
    window_hashes_spark,
    words_duck,
    words_spark,
)

# MinHash parameters (shared with the oracle SQL generators)
MINHASH_P = 2147483647  # 2^31 - 1, Mersenne prime
MINHASH_K = 8
MINHASH_BANDS = 4
MINHASH_ROWS_PER_BAND = MINHASH_K // MINHASH_BANDS
# a band's slice of the signature, renamed v0.. (the band-join keys)
_BAND_VALS = [f"v{r}" for r in range(MINHASH_ROWS_PER_BAND)]
_RNG_A = [1103515245, 1299709, 15485863, 32452843, 49979687, 67867967, 86028121, 104395301]
_RNG_B = [12345, 67891, 24680, 13579, 11111, 22222, 33333, 44444]

SIMHASH_BITS = 32
SIMHASH_HAM = 3  # pairs within this Hamming distance are near-dups
SIMHASH_CHUNKS = SIMHASH_HAM + 1  # pigeonhole: exact candidate generation


# the distinct word set every signature hashes (NULL text -> NULL)
def _wordset_spark(text_col: str = "text") -> str:
    return f"array_distinct({words_spark(f'lower({text_col})')})"


_WORDSET_DUCK = f"list_distinct({words_duck('lower(text)')})"


# ------------------------------------------------------------------ exact
def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: one shuffle on the text hash (group on md5, not the full
    text, so the exchange carries 16B keys instead of document bodies),
    keeping the smallest id as the canonical representative."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("_h"), F.col(id_col))
        .groupBy("_h")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).cast("long").alias("n_dups"))
        .select("keep_id", "n_dups")
    )


def exact_dedup_oracle_sql() -> str:
    return """
    SELECT min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS n_dups
    FROM documents GROUP BY md5(text)
    """


# ------------------------------------------------------------------ minhash
def minhash_signature(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-doc MinHash signature, computed per-row (no token shuffle)."""
    return _with_minhash(docs, text_col, F.col(id_col))


def _with_minhash(docs: DataFrame, text_col: str, *keep: Column) -> DataFrame:
    """The ``keep`` columns plus the signature mh0.. of ``text_col``, in
    one projection chain over ``docs``.

    Token hashes (md5 -> int64) are materialized ONCE into an array column;
    the K permutations are then cheap integer transforms over it — K times
    less hashing than recomputing md5 per hash function."""
    wh = md5_int_spark(15).format(e="w")
    with_hashes = docs.select(
        *keep,
        F.expr(f"transform({_wordset_spark(text_col)}, w -> {wh} % {MINHASH_P})").alias("_hs"),
    )
    return with_hashes.select(
        *with_hashes.columns[:-1],
        *[
            F.expr(
                f"array_min(transform(_hs, h -> ({_RNG_A[i]}L * h + {_RNG_B[i]}L) % {MINHASH_P}))"
            ).alias(f"mh{i}")
            for i in range(MINHASH_K)
        ],
    )


def _band_slice(b: int) -> "list[str]":
    """The signature columns of MinHash band ``b`` (``_BAND_VALS`` order)."""
    return [f"mh{b * MINHASH_ROWS_PER_BAND + r}" for r in range(MINHASH_ROWS_PER_BAND)]


def _expand_group_pairs(
    pairs: DataFrame,
    groups: DataFrame,
    score: "str | None" = None,
    identity: "Column | None" = None,
) -> DataFrame:
    """Signature groups back to document pairs ``(doc1 < doc2[, score])``:
    every member pair across each qualifying group pair of ``pairs``
    ``(m1, m2[, score])``, plus every member pair inside one group of
    ``groups`` (a ``members`` column) at the ``identity`` score. Groups
    partition the documents, so each doc pair comes out once."""
    s = [score] if score else []
    cross = (
        pairs.select(F.explode("m1").alias("d1"), "m2", *s)
        .select("d1", F.explode("m2").alias("d2"), *s)
        .select(F.least("d1", "d2").alias("doc1"), F.greatest("d1", "d2").alias("doc2"), *s)
    )
    intra = (
        groups.filter(F.size("members") >= 2)
        .select(F.explode("members").alias("d1"), "members")
        .select("d1", F.explode("members").alias("d2"))
        .filter(F.col("d1") < F.col("d2"))
        .select(
            F.col("d1").alias("doc1"),
            F.col("d2").alias("doc2"),
            *([identity.alias(score)] if score else []),
        )
    )
    return cross.unionByName(intra)


def _lsh_groups_bands(docs: DataFrame, id_col: str) -> "tuple[DataFrame, DataFrame]":
    """Shared LSH scaffolding: signature-collapsed groups (one row per
    distinct signature, members collected, gid = min member) and the
    per-band banding of those groups (one row per group × band)."""
    mh_cols = [f"mh{i}" for i in range(MINHASH_K)]
    groups = (
        minhash_signature(docs, id_col=id_col)
        .filter(F.col("mh0").isNotNull())
        .groupBy(*mh_cols)
        .agg(F.collect_list(id_col).alias("members"))
        .withColumn("gid", F.expr("array_min(members)"))
    )
    bands = groups.select(
        "gid",
        "members",
        F.posexplode(
            F.array(
                *[
                    F.struct(*[F.col(c).alias(v) for c, v in zip(_band_slice(b), _BAND_VALS)])
                    for b in range(MINHASH_BANDS)
                ]
            )
        ).alias("band", "vals"),
    )
    return groups, bands


def minhash_lsh_cluster_edges(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Star-reduced LSH edge set for CLUSTERING: a spanning subgraph with
    exactly the same connected components as ``minhash_lsh_pairs`` —
    every LSH band bucket is a clique in the pair graph, and a star
    (each group -> the bucket's min gid) spans a clique — at
    O(groups × bands + docs) edges instead of O(Σ bucket²) pairs.

    On a template-heavy corpus this removes the quadratic pair
    materialization entirely (sf0.1: 9.7M clique pairs -> ~group-count
    star edges), which is what dominates dedup_clusters' wall-clock; the
    label-propagation rounds were never the bottleneck. Use this as the
    edge input to connected_components when only cluster LABELS are
    needed; use minhash_lsh_pairs when the pairs themselves are the
    product (e.g. to verify candidates with an exact similarity).

    Output is (doc1, doc2) with doc1 < doc2, globally distinct:
    bucket-star edges over group ids, plus each member -> its gid.
    """
    groups, bands = _lsh_groups_bands(docs, id_col)
    hubs = bands.groupBy("band", "vals").agg(F.min("gid").alias("hub"))
    star = (
        bands.select("band", "vals", "gid")
        .join(hubs, ["band", "vals"])
        .filter(F.col("gid") != F.col("hub"))
        # the same (hub, gid) edge can recur across bands (groups agreeing
        # on several bands): distinct over the SMALL star set, not pairs
        .select(F.col("hub").alias("doc1"), F.col("gid").alias("doc2"))
        .distinct()
    )
    member_edges = (
        groups.filter(F.size("members") >= 2)
        .select(F.col("gid").alias("doc1"), F.explode("members").alias("doc2"))
        .filter(F.col("doc1") != F.col("doc2"))
    )
    return star.unionByName(member_edges)


def minhash_lsh_pairs(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """LSH candidate pairs: docs sharing any band of the signature.

    Signature-collapsed: docs with IDENTICAL signatures (exact dups and
    most near-dups — at J≈0.9 all K minhashes agree ~43% of the time)
    group first, so the band self-join runs over distinct-signature groups,
    not documents. On template-heavy corpora this shrinks the quadratic
    hot-bucket join by the square of the collapse factor; the expansion
    back to doc pairs is exactly the output size. Only fixed-width
    signatures ever shuffle, never text. Docs with empty token sets have
    null signatures and never pair (matches the raw band-join semantics,
    where null band values fail the equi-join — and the DuckDB oracle).
    """
    groups, bands = _lsh_groups_bands(docs, id_col)
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.vals") == F.col("b.vals"))
            & (F.col("a.gid") < F.col("b.gid")),
        )
        .select(F.col("a.members").alias("m1"), F.col("b.members").alias("m2"))
        .distinct()
    )
    return _expand_group_pairs(pairs, groups)


def _band_rows_duck(src: str, id_col: str, where: str = "") -> str:
    """One (id_col, band, v0..) row per MinHash band of each ``src`` row."""
    return " UNION ALL ".join(
        f"SELECT {id_col}, {b} AS band, "
        + ", ".join(f"{c} AS {v}" for c, v in zip(_band_slice(b), _BAND_VALS))
        + f" FROM {src}{where}"
        for b in range(MINHASH_BANDS)
    )


def minhash_lsh_pairs_oracle_sql() -> str:
    val_eq = " AND ".join(f"a.{v} = b.{v}" for v in _BAND_VALS)
    return f"""
    WITH sig AS ({minhash_signature_oracle_sql()}),
    bands AS ({_band_rows_duck("sig", "doc_id")})
    SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
    FROM bands a JOIN bands b
      ON a.band = b.band AND {val_eq} AND a.doc_id < b.doc_id
    """


def minhash_lsh_cluster_edges_oracle_sql() -> str:
    """DuckDB oracle for the star-reduced cluster edge set: the same
    signature-group / band-hub / member-edge construction, written
    independently in SQL. Used by the dedup_clusters oracle so the
    closure runs over O(groups × bands + docs) edges — the full clique
    pair set is connectivity-identical but makes the recursive-CTE
    closure intractable on template-heavy corpora (sf0.1: 9.7M pairs
    over ~5k docs ≈ 78% of all possible pairs; the semi-naive join
    explodes), while the star subgraph closes in seconds."""
    mh_cols = ", ".join(f"mh{i}" for i in range(MINHASH_K))
    val_keys = ", ".join(_BAND_VALS)
    return f"""
    WITH sig AS ({minhash_signature_oracle_sql()}),
    grp AS (
      SELECT {mh_cols}, min(doc_id) AS gid, count(*) AS n_members
      FROM sig WHERE mh0 IS NOT NULL
      GROUP BY {mh_cols}
    ),
    bandrows AS ({_band_rows_duck("grp", "gid")}),
    hubs AS (
      SELECT band, {val_keys}, min(gid) AS hub
      FROM bandrows GROUP BY band, {val_keys}
    ),
    star AS (
      SELECT DISTINCT h.hub AS doc1, b.gid AS doc2
      FROM bandrows b
      JOIN hubs h USING (band, {val_keys})
      WHERE b.gid <> h.hub
    ),
    member_edges AS (
      SELECT g.gid AS doc1, s.doc_id AS doc2
      FROM grp g JOIN sig s USING ({mh_cols})
      WHERE g.n_members >= 2 AND s.doc_id <> g.gid
    )
    SELECT doc1, doc2 FROM (
      SELECT doc1, doc2 FROM star
      UNION ALL
      SELECT doc1, doc2 FROM member_edges
    )
    """


def minhash_signature_oracle_sql() -> str:
    wh = md5_int_duck(15).format(e="w")
    terms = ",\n      ".join(
        f"list_min(list_transform({_WORDSET_DUCK}, "
        f"w -> ({_RNG_A[i]} * ({wh} % {MINHASH_P}) + {_RNG_B[i]}) % {MINHASH_P})) AS mh{i}"
        for i in range(MINHASH_K)
    )
    return f"SELECT doc_id,\n      {terms}\nFROM documents"


def jaccard_verify(
    pairs: DataFrame,
    left: DataFrame,
    right: DataFrame,
    threshold: float,
    keys: "tuple[str, str]" = ("doc1", "doc2"),
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """LSH candidate verification: ``pairs`` (keys[0], keys[1]) with a
    ``verified`` flag, distinct-word Jaccard >= ``threshold`` between the
    ``left`` doc keyed by keys[0] and the ``right`` doc keyed by keys[1]
    (each side is an (id_col, text_col) table; NULL text is the empty set).

    Only candidate pairs' ids and word arrays move, never the corpus. The
    ratio is |A∩B| / (|A| + |B| - |A∩B|): arithmetic union size (the arrays
    are distinct) over an int/int division, one correctly-rounded IEEE op,
    bit-equal to the DuckDB oracles. The intersect is materialized ONCE per
    pair: a duplicate inside the predicate is not reliably CSE'd through
    codegen, and it is the dominant cost."""
    words = F.expr(f"array_distinct({safe_words_spark(text_col)})")
    a, b = keys
    return (
        pairs.join(left.select(F.col(id_col).alias(a), words.alias("_wa")), a)
        .join(right.select(F.col(id_col).alias(b), words.alias("_wb")), b)
        .withColumn("_si", F.expr("size(array_intersect(_wa, _wb))"))
        .select(
            a,
            b,
            F.expr(
                "_si / greatest(size(_wa) + size(_wb) - _si, 1) >= "
                f"{float(threshold)!r}"
            ).alias("verified"),
        )
    )


def document_index_rows(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, content_hash, band, band_hash) rows for the dedup index:
    one band=-1 anchor row per doc (carries the exact-dedup hash even for
    docs with no tokens) plus one row per MinHash band. band_hash is
    xxhash64 over the band's signature slice — fixed-seed, deterministic
    across runs, 8 bytes on the wire. One projection over ``docs``: each
    row's hash and bands come from its own text, even when an id repeats."""
    sig = _with_minhash(
        docs,
        text_col,
        F.col(id_col).alias("doc_id"),
        F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("content_hash"),
    )
    anchor = F.struct(F.lit(-1).alias("band"), F.lit(0).cast("bigint").alias("band_hash"))
    bands = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(F.lit(b), *[F.col(c) for c in _band_slice(b)]).alias("band_hash"),
        )
        for b in range(MINHASH_BANDS)
    ]
    return sig.select(
        "doc_id",
        "content_hash",
        F.explode(
            F.when(F.col("mh0").isNull(), F.array(anchor)).otherwise(F.array(anchor, *bands))
        ).alias("bh"),
    ).select("doc_id", "content_hash", "bh.band", "bh.band_hash")


def dedup_against_index(
    batch: DataFrame,
    index: DataFrame,
    history_docs: "DataFrame | None" = None,
    verify_threshold: "float | None" = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The ingest-dedup decision: an arriving ``batch`` against the
    ``index`` of history (:func:`document_index_rows` rows). Returns the
    batch's SURVIVORS with ``content_hash``, every batch column,
    ``n_band_matches`` and ``near_dup``:

    * exact duplicates WITHIN the batch collapse to the min-id canonical
      (one hash-keyed shuffle, bounded by the batch);
    * exact duplicates of history are dropped via a left-anti join on the
      16-byte md5 key — text never moves;
    * ``n_band_matches`` counts the MinHash LSH bands shared with ANY
      history doc, probed on (band, band_hash) (the
      ``dedup_minhash_lsh_pairs`` decision rule up to a 64-bit xxhash
      collision between distinct band slices); ``near_dup`` flags >=1;
    * with ``verify_threshold``, a band match is only a CANDIDATE:
      ``near_dup`` additionally requires distinct-word Jaccard >= the
      threshold against a band-matched doc of ``history_docs`` (an
      (id_col, text_col) table). Only candidate PAIRS (ids + their two
      texts) move, never the corpus. ``history_docs=None`` means there is
      no history to verify against, so nothing is flagged.

    Deterministic: the same batch and index give the same rows. Docs with
    no tokens have null signatures and never band-match."""
    w = Window.partitionBy("content_hash").orderBy(F.col(id_col).asc())
    hashed = (
        batch.withColumn("content_hash", F.md5(F.coalesce(F.col(text_col), F.lit(""))))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    fresh = hashed.join(
        index.select("content_hash").distinct(), "content_hash", "left_anti"
    )
    probe = document_index_rows(fresh, text_col, id_col).filter("band >= 0")
    hist_bands = index.filter("band >= 0")
    matches = (
        probe.join(
            hist_bands.select("band", "band_hash").distinct(),
            ["band", "band_hash"],
        )
        .groupBy("doc_id")
        .agg(F.countDistinct("band").cast("int").alias("n_band_matches"))
    )
    out = fresh.join(matches, fresh[id_col] == matches.doc_id, "left").select(
        fresh["*"],
        F.coalesce(matches.n_band_matches, F.lit(0)).alias("n_band_matches"),
    )
    if verify_threshold is None:
        return out.withColumn("near_dup", F.col("n_band_matches") > 0)
    if history_docs is None:
        return out.withColumn("near_dup", F.lit(False))
    cand = (
        probe.join(
            hist_bands.select("band", "band_hash", F.col("doc_id").alias("_hist_id")),
            ["band", "band_hash"],
        )
        .select("doc_id", "_hist_id")
        .distinct()
    )
    verified = jaccard_verify(
        cand, out, history_docs, verify_threshold, ("doc_id", "_hist_id"),
        id_col=id_col, text_col=text_col,
    ).groupBy("doc_id").agg(F.max("verified").alias("_verified"))
    return out.join(verified, out[id_col] == verified.doc_id, "left").select(
        *[out[c] for c in out.columns],
        F.coalesce(verified._verified, F.lit(False)).alias("near_dup"),
    )


def incremental_dedup(
    docs: DataFrame,
    history_pred: str = "doc_id % 2 = 0",
    text_col: str = "text",
    id_col: str = "doc_id",
    verify_threshold: "float | None" = None,
) -> DataFrame:
    """Batch form of the streaming ingest-dedup stage
    (streaming/dedup_stream.py): rows matching ``history_pred`` are the
    committed corpus, the rest are one arriving batch. Runs the stage's
    own decision, :func:`dedup_against_index`, against the index of the
    history rows and returns the batch's SURVIVORS as
    ``(doc_id, n_band_matches, near_dup)``."""
    history = docs.filter(F.expr(history_pred))
    out = dedup_against_index(
        docs.filter(~F.expr(history_pred)),
        document_index_rows(history, text_col, id_col),
        history, verify_threshold, text_col=text_col, id_col=id_col,
    )
    return out.select(F.col(id_col).alias("doc_id"), "n_band_matches", "near_dup")


def incremental_dedup_oracle_sql(
    history_pred: str = "doc_id % 2 = 0",
    verify_threshold: "float | None" = None,
) -> str:
    val_keys = ", ".join(["band"] + _BAND_VALS)
    ctes = f"""
    WITH sig AS ({minhash_signature_oracle_sql()}),
    inc AS (
      SELECT doc_id, md5(coalesce(text, '')) AS ch
      FROM documents WHERE NOT ({history_pred})
    ),
    keep AS (
      SELECT doc_id, ch FROM (
        SELECT doc_id, ch,
               row_number() OVER (PARTITION BY ch ORDER BY doc_id) AS rn
        FROM inc
      ) WHERE rn = 1
    ),
    hist AS (
      SELECT DISTINCT md5(coalesce(text, '')) AS ch
      FROM documents WHERE {history_pred}
    ),
    fresh AS (
      SELECT doc_id FROM keep WHERE ch NOT IN (SELECT ch FROM hist)
    ),
    bands AS ({_band_rows_duck("sig", "doc_id", " WHERE mh0 IS NOT NULL")}),
    histbd AS (
      SELECT doc_id AS hist_id, {val_keys}
      FROM bands JOIN (
        SELECT doc_id FROM documents WHERE {history_pred}
      ) h USING (doc_id)
    ),
    m AS (
      SELECT b.doc_id,
             CAST(count(DISTINCT b.band) AS INT) AS n_band_matches
      FROM bands b
      JOIN fresh f USING (doc_id)
      JOIN (SELECT DISTINCT {val_keys} FROM histbd) hb USING ({val_keys})
      GROUP BY b.doc_id
    )"""
    near_dup = "coalesce(m.n_band_matches, 0) > 0"
    if verify_threshold is not None:
        ctes += f""",
    cand AS (
      SELECT DISTINCT b.doc_id, h.hist_id
      FROM bands b
      JOIN fresh f USING (doc_id)
      JOIN histbd h USING ({val_keys})
    ),
    ver AS (
      SELECT DISTINCT doc_id FROM ({jaccard_verify_oracle_sql(
          "SELECT * FROM cand", verify_threshold, ("doc_id", "hist_id"))})
      WHERE verified
    )"""
        near_dup = "f.doc_id IN (SELECT doc_id FROM ver)"
    return ctes + f"""
    SELECT f.doc_id,
           coalesce(m.n_band_matches, 0) AS n_band_matches,
           {near_dup} AS near_dup
    FROM fresh f LEFT JOIN m USING (doc_id)
    """


def jaccard_verify_oracle_sql(
    pairs: str,
    threshold: float,
    keys: "tuple[str, str]" = ("doc1", "doc2"),
    table: str = "documents",
) -> str:
    """DuckDB mirror of :func:`jaccard_verify`: every row of the ``pairs``
    query (keys[0], keys[1]) with its ``verified`` flag, both ids looked
    up in ``table``."""
    a, b = keys
    return f"""
    WITH dwords AS (
      SELECT doc_id, list_distinct({safe_words_duck('text')}) AS w FROM {table}
    ),
    sizes AS (
      SELECT p.{a}, p.{b}, len(list_intersect(x.w, y.w)) AS si,
             len(x.w) AS s1, len(y.w) AS s2
      FROM ({pairs}) p
      JOIN dwords x ON x.doc_id = p.{a}
      JOIN dwords y ON y.doc_id = p.{b}
    )
    SELECT {a}, {b}, si / greatest(s1 + s2 - si, 1) >= {float(threshold)!r} AS verified
    FROM sizes
    """


# ------------------------------------------------------------------ simhash
def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-doc 32-bit SimHash, per-row (no shuffle). Bit j is set when more
    than half the distinct tokens have bit j set in their hash."""
    wh = md5_int_spark(15).format(e="w")
    bit_terms = " + ".join(
        f"(case when 2 * size(filter(_hs, h -> (h >> {j}) & 1 = 1)) > size(_hs) "
        f"then cast({1 << j} as bigint) else 0L end)"
        for j in range(SIMHASH_BITS)
    )
    with_hashes = docs.select(
        F.col(id_col), F.expr(f"transform({_wordset_spark(text_col)}, w -> {wh})").alias("_hs")
    )
    return with_hashes.select(
        F.col(id_col),
        F.expr(f"case when size(_hs) = 0 then 0L else ({bit_terms}) end").alias("simhash"),
    )


def simhash_pairs(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Near-dup pairs at Hamming distance <= SIMHASH_HAM. Exact at scale:
    chunk-sharing candidates (pigeonhole-complete) + bit_count verification,
    run over DISTINCT simhash values (signature collapse): docs sharing a
    signature group first, the quadratic chunk join compares signature
    groups, qualifying group pairs expand back to doc pairs, and intra-group
    pairs are Hamming-0 by construction. On template-heavy corpora the
    distinct-value count is far below the doc count, shrinking the hot
    chunk buckets quadratically without changing the output by one row.
    """
    chunk_bits = SIMHASH_BITS // SIMHASH_CHUNKS
    groups = (
        simhash(docs, id_col=id_col)
        .groupBy("simhash")
        .agg(F.collect_list(id_col).alias("members"))
    )
    chunks = groups.select(
        "simhash",
        "members",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), c * chunk_bits).bitwiseAND(
                        F.lit((1 << chunk_bits) - 1)
                    )
                    for c in range(SIMHASH_CHUNKS)
                ]
            )
        ).alias("chunk", "chunk_val"),
    )
    a, b = chunks.alias("a"), chunks.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.simhash") < F.col("b.simhash")),
        )
        .select(
            F.col("a.members").alias("m1"),
            F.col("b.members").alias("m2"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= SIMHASH_HAM)
        .distinct()
    )
    return _expand_group_pairs(pairs, groups, "hamming", F.lit(0).cast("integer"))


def simhash_oracle_sql() -> str:
    wh = md5_int_duck(15).format(e="w")
    bit_terms = " + ".join(
        f"(CASE WHEN 2 * len(list_filter(_hs, h -> (h >> {j}) & 1 = 1)) > len(_hs) "
        f"THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(SIMHASH_BITS)
    )
    return f"""
    SELECT doc_id,
           CASE WHEN len(_hs) = 0 THEN 0 ELSE ({bit_terms}) END AS simhash
    FROM (SELECT doc_id, list_transform({_WORDSET_DUCK}, w -> {wh}) AS _hs FROM documents)
    """


def simhash_pairs_oracle_sql() -> str:
    """Brute-force oracle — verifies the banding is exact, not approximate."""
    return f"""
    WITH s AS ({simhash_oracle_sql()})
    SELECT a.doc_id AS doc1, b.doc_id AS doc2,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_HAM}
    """


# ------------------------------------------------------------ n-gram jaccard
# The one profile-vs-prefix decision: the profile path's all-pairs
# comparison is an O(P^2) broadcast nested-loop over P distinct token-set
# profiles, so it runs only when an HLL estimate of P is at most this cap.
NGRAM_PROFILE_CAP = 10_000
# prefix path: postings of tokens with document frequency >= NGRAM_HOT_DF
# are split NGRAM_SALT_BUCKETS ways (see _ngram_jaccard_prefix)
NGRAM_SALT_BUCKETS = 32
NGRAM_HOT_DF = 8192


def _ngram_wordsets(docs: DataFrame, id_col: str) -> DataFrame:
    """(id_col, ws): each doc's distinct words; docs with none never pair."""
    return docs.select(F.col(id_col), F.expr(_wordset_spark()).alias("ws")).filter(
        F.size("ws") > 0
    )


def ngram_jaccard_pairs(
    docs: DataFrame, threshold: float = 0.5, id_col: str = "doc_id"
) -> DataFrame:
    """Exact Jaccard-similar pairs over distinct-token sets:
    ``(doc1 < doc2, jaccard_ppm)`` for every pair at ``threshold`` or above.

    Scale note (shared by every pair-emitting dedup operator here): a
    group of n mutual duplicates yields C(n,2) intra pairs — the OUTPUT is
    inherently quadratic in group size, and the collect_list members row
    that feeds it grows with the group. For corpora with single templates
    duplicated hundreds of millions of times, consume the cluster labels
    (operators/graph.py::connected_components, star-shaped linear output)
    instead of the raw pair list; the pair form exists because the oracle
    contract verifies exact pairwise similarity values.

    Two exact strategies with identical output:

    * profile (:func:`_ngram_jaccard_profile`): collapse documents to
      distinct token-SET profiles first, compare profiles all-pairs, expand
      back to doc pairs. Wins when duplicates/templates are common (real
      crawl corpora: exact-dup collapse is the single biggest reducer) —
      but its profile comparison is an O(P^2) broadcast nested-loop, a
      scale hazard when profiles don't collapse (diverse corpus: P ~ N).
    * prefix (:func:`_ngram_jaccard_prefix`): PPJoin-style prefix-filtered
      inverted index — scales on diverse corpora with large vocabularies
      where few docs share rare tokens.

    One decision picks between them: one cheap map-side-partial pass (HLL
    over a hash of each doc's sorted token set — the profile identity,
    computable without the top-64 dictionary) estimates the profile count,
    and the profile path runs only when it is at most
    ``NGRAM_PROFILE_CAP``, bounding both the broadcast size and the P^2
    work. One extra O(N) pass to dodge an O(N^2) mistake.

    DENSE-CORPUS regime (measured, round 4): when the vocabulary is tiny
    relative to the corpus (every token is common), no exact strategy can
    prune — prefix tokens all have huge document frequency, so candidate
    generation approaches all-pairs and the candidate count per token is
    C(df, 2). This is inherent to exact similarity self-join on a dense
    similarity graph, not an implementation defect: the prefix path's
    own scaling on k disjoint replicas of such a corpus is ~linear in k
    (each replica's quadratic core is constant-size), but its absolute
    cost is ~quadratic in the replica. Benchmarks that sweep corpus size
    must call ONE strategy directly — the profile->prefix boundary
    otherwise compares two different algorithms and fits a meaningless
    exponent. For corpora like this, the scale path is MinHash-LSH
    (:func:`minhash_lsh_pairs`, measured exponent ~0.5) or cluster labels
    (operators/graph.py), both of which avoid exact pair enumeration.

    ``threshold`` must be in (0, 1]: at 0 every pair (even token-disjoint
    ones) trivially qualifies, which neither strategy's shared-token join
    can enumerate — the strategies would silently disagree.
    """
    if not 0 < threshold <= 1:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    # sort before hashing: the profile identity is the token SET (mask +
    # sorted rare), so docs differing only in word order must collapse
    p_est = _ngram_wordsets(docs, id_col).agg(
        F.approx_count_distinct(F.md5(F.concat_ws("\x1f", F.array_sort("ws")))).alias("p")
    ).first()["p"]
    if p_est <= NGRAM_PROFILE_CAP:
        return _ngram_jaccard_profile(docs, threshold, id_col)
    return _ngram_jaccard_prefix(docs, threshold, id_col)


def _ngram_jaccard_profile(docs: DataFrame, threshold: float, id_col: str) -> DataFrame:
    """Profile-collapsed exact Jaccard pairs.

    1. Token sets are dictionary-encoded: the 64 highest-document-frequency
       tokens become bits of an int64 ``mask``; the long tail stays as a
       sorted ``rare`` array. ``|A∩B| = popcount(maskA & maskB) +
       |rareA ∩ rareB|`` — exact for ANY vocabulary size, and the popcount
       covers exactly the high-frequency tokens that make the classic
       inverted-index join quadratic (sum over tokens of df²).
    2. Docs collapse to distinct (mask, rare) profiles (one hash shuffle).
       All-pairs similarity runs over PROFILES (popcount + intersect of
       usually-tiny rare arrays), not documents.
    3. Qualifying profile pairs expand back to doc pairs through the member
       lists; intra-profile pairs are Jaccard-1 by construction. Each doc
       pair appears exactly once — no distinct needed.

    Scale: the top-64 dictionary is a 64-row aggregate collected to the
    driver (constant size at any corpus scale) and shipped as a literal map
    expression — never a shuffle. Profile comparison is a broadcast
    nested-loop join, right when profile count << doc count, which is what
    ``ngram_jaccard_pairs`` checks before it calls this path.
    """
    threshold_ppm = round(threshold * 1_000_000)
    wordsets = _ngram_wordsets(docs, id_col)
    top = (
        wordsets.select(F.explode("ws").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.desc("df"), F.asc("tok"))
        .limit(64)
        .collect()
    )
    if not top:  # empty corpus: no pairs, keep the output schema
        return wordsets.select(
            F.col(id_col).alias("doc1"),
            F.col(id_col).alias("doc2"),
            F.lit(0).cast("long").alias("jaccard_ppm"),
        ).filter(F.lit(False))
    map_items = []
    for i, row in enumerate(top):
        map_items.extend([F.lit(row["tok"]), F.lit(i)])
    encoded = wordsets.withColumn("tokmap", F.create_map(*map_items)).select(
        F.col(id_col),
        F.expr(
            "aggregate(ws, 0L, (acc, w) -> acc | coalesce(shiftleft(1L, tokmap[w]), 0L))"
        ).alias("mask"),
        F.expr("array_sort(filter(ws, w -> tokmap[w] is null))").alias("rare"),
    )
    profiles = (
        encoded.groupBy("mask", "rare")
        .agg(F.collect_list(id_col).alias("members"))
        .select(
            F.expr("array_min(members)").alias("pid"),
            "mask",
            "rare",
            (F.bit_count("mask") + F.size("rare")).cast("long").alias("sz"),
            "members",
        )
    )
    # broadcast the SLIM profile table only: members arrays collectively
    # hold every doc id (O(corpus), not O(profile count)) and must never
    # ride a broadcast; the few qualifying profile PAIRS join members
    # back afterwards
    slim = profiles.select("pid", "mask", "rare", "sz")
    p1, p2 = slim.alias("p1"), F.broadcast(slim).alias("p2")
    cross = p1.join(p2, F.col("p1.pid") < F.col("p2.pid")).select(
        F.col("p1.pid").alias("pid1"),
        F.col("p2.pid").alias("pid2"),
        (
            F.bit_count(F.col("p1.mask").bitwiseAND(F.col("p2.mask")))
            + F.size(F.array_intersect("p1.rare", "p2.rare"))
        ).cast("long").alias("common"),
        (F.col("p1.sz") + F.col("p2.sz")).alias("szsum"),
    )
    qual = cross.withColumn(
        "jaccard_ppm", F.expr(ppm_spark("common", "szsum - common"))
    ).filter(F.col("jaccard_ppm") >= threshold_ppm)
    mem = profiles.select("pid", "members")
    pairs = (
        qual.join(mem.select(F.col("pid").alias("pid1"), F.col("members").alias("m1")), "pid1")
        .join(mem.select(F.col("pid").alias("pid2"), F.col("members").alias("m2")), "pid2")
        .select("m1", "m2", "jaccard_ppm")
    )
    return _expand_group_pairs(
        pairs, profiles, "jaccard_ppm", F.lit(1_000_000).cast("long")
    )


def _ngram_jaccard_prefix(docs: DataFrame, threshold: float, id_col: str) -> DataFrame:
    """Prefix-filtered (PPJoin-style, exact) inverted-index strategy:

    A pair at Jaccard >= t must share a token among each doc's first
    ``floor((1-t)*|d|) + 1`` tokens when tokens are globally ordered by
    ascending document frequency. So only those prefix tokens enter the
    inverted-index self-join — rare tokens first, which is what collapses
    the candidate count on skewed corpora — and candidates are verified
    exactly with one array_intersect per DISTINCT pair (no per-token
    multiplicity ever reaches a groupBy).

    HOT-TOKEN SALT (round 4): the candidate join's key is the token, so
    one token with document frequency df expands C(df, 2) pairs inside a
    SINGLE task — observed serializing whole stages on a dense corpus
    (jstack: one runnable executor thread for minutes). AQE's skew join
    cannot help: the skew is in join OUTPUT, not input partition bytes.
    Fix: postings of tokens with df >= ``NGRAM_HOT_DF`` are split
    ``NGRAM_SALT_BUCKETS`` ways by a hash of the left doc id, and the
    right side is replicated across the salts for those tokens only —
    each pair is still generated exactly once (at the left row's salt),
    and the hot token's quadratic expansion spreads over the salt
    buckets' tasks. Self-gating at scale: prefixes hold each doc's RAREST
    tokens, so on a large-vocabulary corpus almost nothing crosses the
    cutoff and the replication cost is ~zero.

    The cutoff is deliberately HIGH (8192 ~ C(df,2) = 33M pairs from one
    task, the point where one key's expansion rivals a whole stage):
    measured on a dense 5k-doc corpus whose ~40 hot tokens already
    saturate 32 cores, salting at df>=1024 was 26% SLOWER (x1 216 s ->
    272 s) — the B-fold build-side replication costs real work and buys
    nothing when concurrent hot keys >= cores. The salt is insurance for
    the few-ultra-hot-tokens regime, not a default rewrite of the join.
    """
    threshold_ppm = round(threshold * 1_000_000)
    wordsets = _ngram_wordsets(docs, id_col)
    toks = wordsets.select(id_col, F.size("ws").alias("sz"), F.explode("ws").alias("tok"))
    dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy(id_col).orderBy("df", "tok")
    # prefix length sz - ceil(t*sz) + 1 in INTEGER arithmetic: the float
    # form floor((1-t)*sz)+1 loses an ulp at thresholds like 0.8 with
    # sz=10 ((1-0.8)*10 = 1.9999...), shortening the prefix by one token
    # and silently DROPPING qualifying pairs
    plen = F.expr(
        f"sz - (sz * CAST({threshold_ppm} AS BIGINT) + 999999) DIV 1000000 + 1"
    )
    prefix = (
        toks.join(dfreq, "tok")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= plen)
        .select(id_col, "tok", (F.col("df") >= NGRAM_HOT_DF).alias("hot"))
    )
    # (id_col, tok, s) on both sides: only the salt rides the join shuffle
    a = prefix.select(
        id_col,
        "tok",
        F.when(F.col("hot"), F.pmod(F.xxhash64(F.col(id_col)), F.lit(NGRAM_SALT_BUCKETS)))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("s"),
    ).alias("a")
    b = prefix.select(
        id_col,
        "tok",
        F.explode(
            F.sequence(F.lit(0), F.when(F.col("hot"), NGRAM_SALT_BUCKETS - 1).otherwise(0))
        ).alias("s"),
    ).alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.s") == F.col("b.s"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("doc1"), F.col(f"b.{id_col}").alias("doc2"))
        .distinct()
    )
    ws1 = wordsets.select(F.col(id_col).alias("doc1"), F.col("ws").alias("ws1"))
    ws2 = wordsets.select(F.col(id_col).alias("doc2"), F.col("ws").alias("ws2"))
    # fixed-point ppm: a floored quotient is the same value in DuckDB
    # (unlike round-to-decimals, whose algorithms differ)
    verified = (
        cand.join(ws1, "doc1")
        .join(ws2, "doc2")
        .withColumn(
            "jaccard_ppm",
            F.expr(
                ppm_spark("size(array_intersect(ws1, ws2))", "size(array_union(ws1, ws2))")
            ),
        )
    )
    return verified.filter(F.col("jaccard_ppm") >= threshold_ppm).select(
        "doc1", "doc2", "jaccard_ppm"
    )


def ngram_jaccard_oracle_sql(threshold: float = 0.5) -> str:
    threshold_ppm = round(threshold * 1_000_000)
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest({_WORDSET_DUCK}) AS tok FROM documents
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS common
      FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT * FROM (
      SELECT doc1, doc2, {ppm_duck("common", "s1.sz + s2.sz - common")} AS jaccard_ppm
      FROM common
      JOIN sizes s1 ON s1.doc_id = doc1
      JOIN sizes s2 ON s2.doc_id = doc2
    ) WHERE jaccard_ppm >= {threshold_ppm}
    """


# --------------------------------------------------- exact substring spans
# Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
# Better") EXACTSUBSTR: any k-token window occurring >= 2 times anywhere in
# the corpus (across documents OR repeated within one) is a duplicated
# span; overlapping/contiguous duplicated windows merge into maximal spans.
# The reference suffix-array build is a single-machine design; the Spark
# re-expression moves only (doc_id, pos, 16B window-hash) triples:
#   1. per-row window hashes via higher-order functions (no token shuffle),
#   2. corpus-wide occurrence counts on the 16-byte hash (partial aggs),
#   3. hash-join occurrences back to the >=2 set,
#   4. per-document interval merge with window functions (island trick) —
#      the per-doc shuffle carries only hit positions, never text.
SPAN_K = 20


def span_dedup(
    docs: DataFrame,
    k: int = SPAN_K,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document duplicated-span stats under the EXACTSUBSTR rule.

    Returns one row per input document:
    ``(id_col, n_dup_spans, dup_tokens, dup_frac_ppm)`` — the count of
    maximal merged duplicated spans, the total tokens they cover, and the
    floored ppm fraction of the document's tokens that are duplicated
    (0/0/0 for clean or shorter-than-k docs).

    Hash = md5 of the space-joined k-token window (hex string, identical
    in DuckDB), so the oracle reproduces every stage bit-for-bit.
    """
    toks = docs.select(F.col(id_col), F.expr(safe_words_spark(text_col)).alias("ws"))
    grams = F.expr(window_hashes_spark("ws", k))
    occ = toks.select(F.col(id_col), F.explode(grams).alias("g")).select(
        id_col, F.col("g.s").alias("s"), F.col("g.h").alias("h")
    )
    # total occurrences (NOT distinct docs): a window repeated twice inside
    # one document is a duplicate under the rule
    dup = (
        occ.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .select("h")
    )
    hits = occ.join(dup, "h", "inner").select(
        id_col, "s", (F.col("s") + k).alias("e")
    )
    # island trick: a hit starts a new maximal span iff its start lies
    # strictly past the running max end of all earlier hits (s is unique
    # per doc, so the order is total and the running sum deterministic)
    w = Window.partitionBy(id_col).orderBy("s")
    prev_e = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    marked = hits.select(
        id_col,
        "s",
        "e",
        (F.col("s") > F.coalesce(prev_e, F.lit(-1))).cast("int").alias("ni"),
    )
    isl = marked.select(
        id_col,
        "s",
        "e",
        F.sum("ni").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("g"),
    )
    spans = isl.groupBy(id_col, "g").agg(
        F.min("s").alias("ss"), F.max("e").alias("ee")
    )
    agg = spans.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_dup_spans"),
        F.sum(F.col("ee") - F.col("ss")).cast("long").alias("dup_tokens"),
    )
    base = toks.select(F.col(id_col), F.size("ws").cast("long").alias("nw"))
    return base.join(agg, id_col, "left").select(
        id_col,
        F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
        F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
        F.expr(
            "case when nw >= 1 then (1000000 * coalesce(dup_tokens, 0)) div nw "
            "else 0 end"
        )
        .cast("long")
        .alias("dup_frac_ppm"),
    )


def span_dedup_oracle_sql(
    k: int = SPAN_K, table: str = "documents", id_col: str = "doc_id"
) -> str:
    """DuckDB SQL reproducing span_dedup exactly: same md5 window hashes,
    same >=2 total-occurrence rule, same island merge, same floored ppm."""
    return f"""
    WITH toks AS (SELECT {id_col}, {safe_words_duck('text')} AS ws FROM {table}),
    occ AS (
      SELECT {id_col}, g.s, g.h
      FROM toks, unnest({window_hashes_duck('ws', k)}) u(g)
    ),
    dup AS (SELECT h FROM occ GROUP BY h HAVING count(*) >= 2),
    hits AS (
      SELECT o.{id_col}, o.s, o.s + {k} AS e FROM occ o JOIN dup USING (h)
    ),
    marked AS (
      SELECT {id_col}, s, e,
             CASE WHEN s > coalesce(max(e) OVER (
                    PARTITION BY {id_col} ORDER BY s
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                  THEN 1 ELSE 0 END AS ni
      FROM hits
    ),
    isl AS (
      SELECT {id_col}, s, e,
             sum(ni) OVER (PARTITION BY {id_col} ORDER BY s
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
      FROM marked
    ),
    spans AS (SELECT {id_col}, g, min(s) AS ss, max(e) AS ee
              FROM isl GROUP BY {id_col}, g),
    agg AS (SELECT {id_col}, CAST(count(*) AS BIGINT) AS n_dup_spans,
                   CAST(sum(ee - ss) AS BIGINT) AS dup_tokens
            FROM spans GROUP BY {id_col})
    SELECT t.{id_col},
           CAST(coalesce(a.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
           CAST(coalesce(a.dup_tokens, 0) AS BIGINT) AS dup_tokens,
           CAST(CASE WHEN len(t.ws) >= 1
                     THEN (1000000 * coalesce(a.dup_tokens, 0)) // len(t.ws)
                     ELSE 0 END AS BIGINT) AS dup_frac_ppm
    FROM toks t LEFT JOIN agg a USING ({id_col})
    """
