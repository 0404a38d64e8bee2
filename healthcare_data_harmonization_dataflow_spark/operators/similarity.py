"""Similarity search over embedding columns (array<float>).

Brute-force top-k as the exact baseline, and a random-hyperplane-LSH
bucketed variant as the scale path. Scale notes:

* The score is computed with built-in higher-order functions
  (``zip_with`` + ``aggregate``) — JVM-side, no Python, no UDF.
* Brute force is a broadcast nested-loop of the (small) query set against
  the (huge) corpus: the corpus never shuffles; per-partition top-k is
  cut down by the ranking window only after the broadcast join.
* The LSH variant buckets corpus vectors by sign-pattern of R random
  hyperplanes; queries probe only their own bucket — candidate count drops
  ~2^R-fold, then exact re-ranking inside the bucket.

Determinism: scores are computed on floor-quantized int64 components
(``floor(double(x) * 1000)``), making ranking reproducible across engines
(float32 summation order would not be) — the DuckDB oracle matches
bit-for-bit. The float32 component is widened to double BEFORE the
multiply: a 24-bit mantissa times 1000 is exact in double, whereas a
float32 product rounds (DuckDB computes FLOAT * INTEGER in float32) and
flips the floor of values such as 0.1f * 1000.

Each cross-engine decision is spelled once per dialect and shared by every
operator (Spark) or every oracle (DuckDB): the quantized vector
(``_qe_expr`` / ``_QZ_DUCK``), the exact top-k re-rank (``_rescore`` +
``_topk`` / ``_topk_duck``), the quantized cosine (``_normed`` +
``_cosine_ppm`` / ``_NORMS_DUCK`` + ``_cosine_ppm_duck``) and the IVF cell
assignment (``_ivf_cells`` / ``_cells_duck``). The oracles share fragments
only with each other, never with the Spark side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

QUANT = 1000  # fixed-point quantization for cross-engine-exact scores


def _qe_expr(dim: int | None) -> str:
    """Quantized-int64 copy of the embedding, guarded by a dim assertion
    (``dim=None``: no fixed dimension).

    The assert rides INSIDE the expression (not a dropped side column, which
    Catalyst would prune away): a vector of the wrong dimensionality fails
    the job loudly instead of null-padding every plane dot and silently
    landing in bucket 0."""
    qe = f"transform(embedding, x -> cast(floor(cast(x as double) * {QUANT}) as bigint))"
    if dim is None:
        return qe
    return (
        f"case when assert_true(size(embedding) = {dim}, "
        f"'embedding dimension != {dim}') is null then {qe} end"
    )


_QDOT_QE = "aggregate(zip_with(_qa, _qb, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"


def _quantized(embeddings: DataFrame, id_col: str, dim: int | None, *keep) -> DataFrame:
    """(id, *keep, _qe): the id, any ``keep`` columns and the quantized vector."""
    return embeddings.select(F.col(id_col), *keep, F.expr(_qe_expr(dim)).alias("_qe"))


def _side(q: DataFrame, id_col: str, id_as: str, s: str) -> DataFrame:
    """One side of a scored pair: ``id_col`` as ``id_as`` and ``_qe``/``qn``
    as ``_q{s}``/``qn{s}`` (``s`` is ``a`` or ``b``, as ``_QDOT_QE`` reads)."""
    return q.withColumnsRenamed({id_col: id_as, "_qe": f"_q{s}", "qn": f"qn{s}"})


def _maybe_broadcast(df: DataFrame, small: bool) -> DataFrame:
    """Broadcast-hint the query side only when the caller vouches it is
    small; an all-pairs caller (queries ~ corpus) passes small=False and
    gets ordinary shuffle joins instead of an executor-OOM-sized hint."""
    return F.broadcast(df) if small else df


def _rescore(
    cand: DataFrame,
    embeddings: DataFrame,
    queries: DataFrame,
    id_col: str,
    dim: int,
    small_queries: bool,
) -> DataFrame:
    """Exact quantized score of each distinct candidate (query_id,
    neighbor_id) pair: vectors are fetched only for pairs that survived
    candidate generation, so each pair scores exactly once."""
    qa = _side(_quantized(queries, id_col, dim), id_col, "query_id", "a")
    qb = _side(_quantized(embeddings, id_col, dim), id_col, "neighbor_id", "b")
    return (
        cand.join(_maybe_broadcast(qa, small_queries), "query_id")
        .join(qb, "neighbor_id")
        .select("query_id", "neighbor_id", F.expr(_QDOT_QE).alias("qdot"))
    )


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """Exact top-k per query: rank by (qdot DESC, neighbor_id ASC), keep
    rank <= k — the tie-break makes the cut engine-independent."""
    w = Window.partitionBy("query_id").orderBy(F.desc("qdot"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"), "qdot")
    )


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k neighbors for each query vector (excluding itself).

    ``queries`` is expected small (it is broadcast); the corpus side streams
    through the nested-loop join without shuffling. There is no fixed
    dimension: a corpus vector whose dimension differs from the query's
    fails the job instead of scoring a null-padded ``zip_with``."""
    qa = _side(_quantized(queries, id_col, None), id_col, "query_id", "a")
    qb = _side(_quantized(embeddings, id_col, None), id_col, "neighbor_id", "b")
    same_dim = (
        "assert_true(size(_qa) = size(_qb), "
        "'embedding dimension != query dimension') is null"
    )
    scored = (
        F.broadcast(qa)
        .crossJoin(qb)
        .filter((F.col("query_id") != F.col("neighbor_id")) & F.expr(same_dim))
        .select("query_id", "neighbor_id", F.expr(_QDOT_QE).alias("qdot"))
    )
    return _topk(scored, k)


# ------------------------------------------------------ DuckDB oracle parts
_QZ_DUCK = f"""qz AS (SELECT vec_id,
                  list_transform(embedding,
                                 x -> CAST(floor(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT))
                    AS qe
           FROM embeddings)"""


def _qdot_duck(a: str, b: str) -> str:
    return f"list_sum(list_transform(list_zip({a}, {b}), p -> p[1] * p[2]))"


def _topk_duck(k: int) -> str:
    """Oracle tail shared by the three top-k oracles: exact quantized score
    of every (query_id, neighbor_id) pair in CTE ``cand``, ranked by
    (qdot DESC, neighbor_id ASC), rank <= k."""
    return f"""
    scored AS (
      SELECT c.query_id, c.neighbor_id, {_qdot_duck("qa.qe", "qb.qe")} AS qdot
      FROM cand c JOIN qz qa ON qa.vec_id = c.query_id
                  JOIN qz qb ON qb.vec_id = c.neighbor_id
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
           CAST(qdot AS BIGINT) AS qdot FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY qdot DESC, neighbor_id ASC) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


def brute_force_topk_oracle_sql(k: int = 5, n_queries: int = 10) -> str:
    return f"""
    WITH {_QZ_DUCK},
    cand AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id
      FROM qz a JOIN qz b ON a.vec_id != b.vec_id
      WHERE a.vec_id < {n_queries}
    ),
    {_topk_duck(k)}"""


# ------------------------------------------------------- LSH-bucketed ANN
LSH_DIM = 64  # embedding dimensionality of the documents/embeddings tables

# Banded multi-table LSH (the scale path): LSH_BANDS independent hash
# tables, each bucketing by the sign pattern of LSH_ROWS_PER_BAND
# hyperplanes -> 2^rows buckets per band. Bucket count scales with the
# corpus (raise rows_per_band as N grows: candidate work per band is
# N^2/2^rows); recall scales with bands (a pair is a candidate if it
# collides in ANY band). Plane weights are deterministic integers, so the
# DuckDB oracle reproduces buckets and candidates bit-for-bit.
LSH_BANDS = 8
LSH_ROWS_PER_BAND = 8


def _plane_weights(p: int, dim: int = LSH_DIM) -> list[int]:
    """Integer weights of pseudo-hyperplane ``p``: a fixed LCG stream, so
    both engines receive the SAME literal array — no runtime hashing, no
    transcendental functions whose last-ulp rounding could differ between
    engines and flip a sign."""
    state = (p * 2654435761 + 1013904223) & 0x7FFFFFFF
    out = []
    for _ in range(dim):
        state = (state * 1103515245 + 12345) & 0x7FFFFFFF
        out.append(state % 2001 - 1000)
    return out


def lsh_band_keys(
    embeddings: DataFrame,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS_PER_BAND,
    dim: int = LSH_DIM,
    id_col: str = "vec_id",
) -> DataFrame:
    """Exploded (id, band, bucket) keys of the banded multi-table LSH.

    Each of ``bands`` hash tables buckets a vector by the sign pattern of
    ``rows`` hyperplanes (2^rows buckets per band). Only the id + two small
    ints leave this operator — vectors never ride through the band join.
    Plane weights arrive as ONE broadcast row (array<array<bigint>>), not
    bands*rows*dim inline literals: the literal form generated hundreds of
    constants into whole-stage codegen and was observed to compile 10-50x
    slower under JIT code-cache pressure late in a long session."""
    spark = embeddings.sparkSession
    weights = [_plane_weights(p, dim) for p in range(bands * rows)]
    wdf = spark.createDataFrame([(weights,)], "_lshw array<array<bigint>>")
    # ONE expression with LET-BINDINGS (the transform(array(X), v -> ..)[0]
    # idiom): the quantized vector and the plane-dot array are each bound to
    # a lambda variable, so they are computed exactly ONCE per row. Spelling
    # them as withColumn intermediates instead lets CollapseProject inline
    # the full dot-array computation into the nested bucket-fold lambdas,
    # re-evaluating 64 dots for every (band, row) bit — measured at ~75 s
    # for 500 rows. Same arithmetic, O(1) tree, O(planes*dim) work per row.
    dots = (
        "transform(_lshw, pw -> aggregate(zip_with(qe, pw, "
        "(x, w) -> x * w), 0L, (acc, v) -> acc + v))"
    )
    fold = (
        f"transform(sequence(0, {bands - 1}), b -> cast("
        f"aggregate(sequence(0, {rows - 1}), 0, "
        f"(acc, r) -> acc + (case when ds[b * {rows} + r] >= 0 "
        f"then shiftleft(1, r) else 0 end)) as int))"
    )
    buckets = (
        f"transform(array({_qe_expr(dim)}), qe -> "
        f"transform(array({dots}), ds -> {fold})[0])[0]"
    )
    return (
        embeddings.crossJoin(F.broadcast(wdf))
        .withColumn("_bandbuckets", F.expr(buckets))
        .select(F.col(id_col), F.posexplode("_bandbuckets").alias("band", "bucket"))
    )


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS_PER_BAND,
    dim: int = LSH_DIM,
    small_queries: bool = True,
) -> DataFrame:
    """ANN top-k via banded LSH: a corpus vector is a candidate for a query
    iff they share a bucket in ANY band; exact integer re-rank inside the
    candidate set.

    Scale shape: the band equi-join shuffles only (id, band, bucket) triples;
    candidate id-pairs are distinct'ed BEFORE vectors are fetched, so each
    surviving pair scores exactly once. Candidate work per band is
    ~N^2/2^rows — raise ``rows`` as the corpus grows, raise ``bands`` for
    recall."""
    ck = lsh_band_keys(embeddings, bands, rows, dim, id_col)
    qk = lsh_band_keys(queries, bands, rows, dim, id_col).withColumnRenamed(
        id_col, "query_id"
    )
    cand = (
        _maybe_broadcast(qk, small_queries)
        .join(ck, ["band", "bucket"])
        .filter(F.col("query_id") != F.col(id_col))
        .select("query_id", F.col(id_col).alias("neighbor_id"))
        .distinct()
    )
    return _topk(_rescore(cand, embeddings, queries, id_col, dim, small_queries), k)


def _band_bucket_duck(band: int, rows: int, dim: int) -> str:
    """DuckDB expression for the band-``band`` bucket id over column qe."""
    bits = []
    for r in range(rows):
        ws = ", ".join(str(w) for w in _plane_weights(band * rows + r, dim))
        bits.append(
            f"(CASE WHEN list_sum(list_transform(list_zip(qe, [{ws}]), "
            f"pr -> pr[1] * pr[2])) >= 0 THEN {1 << r} ELSE 0 END)"
        )
    return "CAST((" + " + ".join(bits) + ") AS INT)"


def _banded_cte_duck(bands: int, rows: int, dim: int) -> str:
    """CTE prefix computing qe + band0..band{B-1} bucket columns."""
    band_cols = ", ".join(
        f"{_band_bucket_duck(b, rows, dim)} AS band{b}" for b in range(bands)
    )
    return f"""
    {_QZ_DUCK},
    bucketed AS (SELECT vec_id, qe, {band_cols} FROM qz)"""


def lsh_topk_oracle_sql(
    k: int = 5,
    n_queries: int = 10,
    dim: int = LSH_DIM,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS_PER_BAND,
) -> str:
    """DuckDB oracle reproducing lsh_topk exactly (same integer band
    buckets, same any-band candidate rule, same quantized scores and
    tie-break)."""
    any_band = " OR ".join(f"a.band{b} = b.band{b}" for b in range(bands))
    return f"""
    WITH {_banded_cte_duck(bands, rows, dim)},
    q AS (SELECT * FROM bucketed WHERE vec_id < {n_queries}),
    cand AS (
      SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
      FROM q a JOIN bucketed b ON a.vec_id != b.vec_id AND ({any_band})
    ),
    {_topk_duck(k)}"""


# ------------------------------------------------- embedding near-dup pairs
_QNORM = "aggregate(transform(_qe, x -> x * x), 0L, (acc, v) -> acc + v)"


def _normed(embeddings: DataFrame, id_col: str, dim: int, *keep) -> DataFrame:
    """(id, *keep, _qe, qn): the quantized vector and its squared norm.

    ``dim`` is bounded at 2048: the int64 norm product qna*qnb can reach
    (dim * QUANT^2)^2 and overflows past that bound — where Spark's
    non-ANSI multiply would silently WRAP (garbage cosines) while the
    DuckDB oracle errors. Fail loudly instead."""
    if dim > 2048:
        raise ValueError(
            f"dim={dim} exceeds 2048 — the int64 norm product would overflow "
            "(Spark wraps silently; the oracle errors); reduce QUANT or split "
            "the dimensions"
        )
    return _quantized(embeddings, id_col, dim, *keep).withColumn("qn", F.expr(_QNORM))


def _cosine_ppm(pairs: DataFrame) -> DataFrame:
    """``pairs`` (two ``_normed`` sides, see ``_side``) with the exact
    quantized cosine in ppm, ``floor(qdot * 1e6 / sqrt(qna * qnb))``.

    Cross-engine exactness: dot and squared norms are integer; the only
    float steps are one product, one IEEE-correctly-rounded sqrt, one
    division and one floor — all exactly rounded, hence bit-identical on
    any IEEE-754 engine. Zero-norm vectors never pair."""
    nprod = (F.col("qna") * F.col("qnb")).cast("double")
    return pairs.filter((F.col("qna") > 0) & (F.col("qnb") > 0)).withColumn(
        "cosine_ppm", F.floor(F.expr(_QDOT_QE) * 1000000.0 / F.sqrt(nprod)).cast("long")
    )


def embedding_cosine_pairs(
    embeddings: DataFrame,
    threshold_ppm: int = 900_000,
    id_col: str = "vec_id",
    dim: int = LSH_DIM,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS_PER_BAND,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: vectors sharing an LSH bucket
    in ANY band whose cosine similarity reaches ``threshold_ppm`` (ppm).

    Banded blocking is the scale path: the band equi-join moves only
    (id, band, bucket) triples — vectors never ride through it — and pair
    work per band is ~N^2/2^rows, so ``rows`` scales the bucket space with
    the corpus while ``bands`` buys recall. Candidate id-pairs are
    distinct'ed BEFORE vectors are fetched, so multi-band collisions score
    once. The score is the exact quantized cosine (``_cosine_ppm``);
    ``dim`` is bounded at 2048 (``_normed``).
    """
    qz = _normed(embeddings, id_col, dim)
    keys = lsh_band_keys(embeddings, bands, rows, dim, id_col)
    a, b = keys.alias("a"), keys.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("vec1"), F.col(f"b.{id_col}").alias("vec2")
        )
        .distinct()
    )
    scored = _cosine_ppm(
        cand.join(_side(qz, id_col, "vec1", "a"), "vec1").join(
            _side(qz, id_col, "vec2", "b"), "vec2"
        )
    )
    return scored.filter(F.col("cosine_ppm") >= threshold_ppm).select(
        "vec1", "vec2", "cosine_ppm"
    )


_NORMS_DUCK = """norms AS (
      SELECT vec_id, qe, list_sum(list_transform(qe, x -> x * x)) AS qn
      FROM qz
    )"""


def _cosine_ppm_duck(a: str, b: str) -> str:
    """Exact quantized cosine (ppm) of ``norms`` rows ``a`` and ``b``; the
    caller keeps ``a.qn > 0 AND b.qn > 0``."""
    return (
        f"floor({_qdot_duck(f'{a}.qe', f'{b}.qe')} * 1000000.0"
        f" / sqrt(CAST({a}.qn * {b}.qn AS DOUBLE)))"
    )


def embedding_cosine_pairs_oracle_sql(
    threshold_ppm: int = 900_000,
    dim: int = LSH_DIM,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS_PER_BAND,
) -> str:
    any_band = " OR ".join(f"a.band{b} = b.band{b}" for b in range(bands))
    return f"""
    WITH {_banded_cte_duck(bands, rows, dim)},
    {_NORMS_DUCK},
    cand AS (
      SELECT DISTINCT a.vec_id AS vec1, b.vec_id AS vec2
      FROM bucketed a JOIN bucketed b
        ON a.vec_id < b.vec_id AND ({any_band})
    ),
    pairs AS (
      SELECT c.vec1, c.vec2, {_cosine_ppm_duck("na", "nb")} AS cosine_ppm
      FROM cand c JOIN norms na ON na.vec_id = c.vec1
                  JOIN norms nb ON nb.vec_id = c.vec2
      WHERE na.qn > 0 AND nb.qn > 0
    )
    SELECT vec1, vec2, CAST(cosine_ppm AS BIGINT) AS cosine_ppm
    FROM pairs WHERE cosine_ppm >= {threshold_ppm}
    """


# -------------------------------------------------------------- IVF ANN
IVF_PROBE = 4
IVF_TRAIN_SAMPLE = 1024  # driver-side training sample size (bounded collect)
IVF_TRAIN_ITERS = 8  # fixed Lloyd's iterations — determinism over convergence


def scaled_centroid_count(n_rows: int) -> int:
    """K ~ sqrt(N), clamped to [1, 4096] — the classic IVF sizing:
    candidate work per query is ~ n_probe * N / K, so K ~ sqrt(N) balances
    inverted-list length against probe count as the corpus grows. A tiny
    corpus gets as few as one cell, so its near-duplicates can share one."""
    import math

    return max(1, min(4096, math.isqrt(max(n_rows, 1))))


def train_centroids(
    sample: list[list[int]], k: int, iters: int = IVF_TRAIN_ITERS
) -> list[list[int]]:
    """Deterministic integer Lloyd's k-means over a quantized sample.

    Everything is int64: init picks k evenly-spaced sample vectors (the
    sample arrives sorted by id), assignment is exact squared-L2 with ties
    to the lowest centroid index (argmin contract), and the update is the
    element-wise integer mean (floor division). Empty clusters keep their
    previous centroid. The SAME function runs for the Spark plan and for
    the oracle generator, so both engines receive identical centroid
    literals — cross-engine exactness never touches float arithmetic."""
    import numpy as np

    if not sample:
        return []  # empty corpus: no centroids, no assignments
    X = np.asarray(sample, dtype=np.int64)
    n = len(X)
    k = max(1, min(k, n))
    cents = X[[(i * n) // k for i in range(k)]].copy()
    x2 = (X * X).sum(axis=1)
    for _ in range(iters):
        # exact int64 squared distances via x^2 + c^2 - 2xc (avoids the
        # (n, k, dim) temporary a direct broadcast subtraction would build)
        c2 = (cents * cents).sum(axis=1)
        d = x2[:, None] + c2[None, :] - 2 * (X @ cents.T)
        assign = d.argmin(axis=1)  # ties -> lowest centroid index
        for j in range(k):
            members = X[assign == j]
            if len(members):
                cents[j] = members.sum(axis=0) // len(members)
    return [[int(v) for v in c] for c in cents]


def _ivf_cells(
    embeddings: DataFrame,
    n_centroids: int | None,
    id_col: str,
    dim: int,
    train_sample: int,
    train_iters: int,
):
    """Train the IVF cells once and return ``nearest(df, n_out)``: ``df``
    plus ``_cells``, the ids of its ``n_out`` nearest centroids ordered by
    (exact int64 squared-L2 distance, id) — deterministic.

    ``n_centroids=None`` scales K with the corpus (~sqrt(N), one count()
    job). Training runs on the quantized vectors of the ``train_sample``
    lowest-id rows (SQL-reproducible selection), refined by integer
    k-means: a constant-size driver collect (like the dedup top-64 table);
    at 100 TB raise ``train_sample`` — the collect is train_sample x dim
    int64s regardless of corpus size. The K centroids reach the executors
    as ONE broadcast row, and the assignment uses the let-binding idiom
    (see lsh_band_keys) so the quantized vector and the distance array are
    computed once per row."""
    if n_centroids is None:
        n_centroids = scaled_centroid_count(embeddings.count())
    # the sample must dominate K: with K >= sample size every sample row
    # becomes its own centroid, Lloyd's iterations are a no-op, and the
    # "trained" index degenerates to the lowest-id selection training
    # exists to replace. 8 samples per centroid keeps the mean meaningful.
    train_sample = max(train_sample, 8 * n_centroids)
    sample = (
        _quantized(embeddings, id_col, dim).orderBy(id_col).limit(train_sample).collect()
    )
    cents = train_centroids([list(r["_qe"]) for r in sample], n_centroids, train_iters)
    cdf = F.broadcast(
        embeddings.sparkSession.createDataFrame([(cents,)], "_ivfc array<array<bigint>>")
    )
    dists = (
        "transform(_ivfc, cw -> aggregate(zip_with(qe, cw, "
        "(x, c) -> (x - c) * (x - c)), 0L, (acc, v) -> acc + v))"
    )

    def nearest(df: DataFrame, n_out: int) -> DataFrame:
        ranked = (
            f"transform(array({dists}), ds -> "
            f"transform(slice(array_sort(zip_with(ds, sequence(0, {len(cents) - 1}), "
            f"(d, i) -> struct(d as d, i as i))), 1, {n_out}), s -> s.i))[0]"
        )
        cells = f"transform(array({_qe_expr(dim)}), qe -> {ranked})[0]"
        return df.crossJoin(cdf).withColumn("_cells", F.expr(cells))

    return nearest


def ivf_oracle_centroids(
    parquet_path: str,
    n_centroids: int | None = None,
    dim: int = LSH_DIM,
    train_sample: int = IVF_TRAIN_SAMPLE,
    train_iters: int = IVF_TRAIN_ITERS,
) -> list[list[int]]:
    """The oracle generator's copy of the training pass: identical sample
    selection + quantization via DuckDB, then the same train_centroids —
    so the literals embedded in the oracle SQL equal the ones the Spark
    plan broadcasts."""
    import duckdb

    con = duckdb.connect()
    if n_centroids is None:
        n = con.execute(
            f"SELECT count(*) FROM read_parquet('{parquet_path}')"
        ).fetchone()[0]
        n_centroids = scaled_centroid_count(n)
    # same K-scaled sample rule as _ivf_cells — the two passes must
    # select identical samples or the centroid literals diverge
    train_sample = max(train_sample, 8 * n_centroids)
    sample = [
        list(r[0])
        for r in con.execute(
            f"WITH embeddings AS (SELECT * FROM read_parquet('{parquet_path}')), "
            f"{_QZ_DUCK} SELECT qe FROM qz ORDER BY vec_id LIMIT {train_sample}"
        ).fetchall()
    ]
    return train_centroids(sample, n_centroids, train_iters)


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    n_centroids: int | None = None,
    n_probe: int = IVF_PROBE,
    dim: int = LSH_DIM,
    small_queries: bool = True,
    train_sample: int = IVF_TRAIN_SAMPLE,
    train_iters: int = IVF_TRAIN_ITERS,
) -> DataFrame:
    """IVF-style ANN top-k: corpus vectors are inverted-listed under their
    nearest TRAINED centroid (deterministic integer k-means over a bounded
    sample); each query probes its ``n_probe`` nearest centroids and
    re-ranks the union of those lists exactly.

    ``n_centroids=None`` scales K with the corpus (~sqrt(N), one count()
    job at build). Scale shape: the build pass is one broadcast of K
    centroid vectors + K distance evaluations per corpus vector (linear,
    no shuffle of vectors beyond the list equi-join); queries shuffle only
    (id, centroid) probe pairs. Candidate fraction ~ n_probe/n_centroids
    of the corpus — K grows with N, n_probe with recall needs. All math is
    quantized-int64, reproduced bit-for-bit by the DuckDB oracle."""
    nearest = _ivf_cells(embeddings, n_centroids, id_col, dim, train_sample, train_iters)
    corpus = nearest(embeddings, 1).select(
        F.col(id_col).alias("neighbor_id"), F.col("_cells")[0].alias("centroid")
    )
    qprobe = nearest(queries, n_probe).select(
        F.col(id_col).alias("query_id"), F.explode("_cells").alias("centroid")
    )
    cand = (
        _maybe_broadcast(qprobe, small_queries)
        .join(corpus, "centroid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    return _topk(_rescore(cand, embeddings, queries, id_col, dim, small_queries), k)


def _cells_duck(centroids: list[list[int]]) -> str:
    """Oracle CTEs shared by the IVF and SemDeDup oracles: the trained
    centroid literals (``cents``; an empty typed relation when there are
    none) and every qz vector's centroids ranked by (d, cid) in ``cells``
    (rn = 1 is the vector's own cell)."""
    if centroids:
        rows = ", ".join(f"({cid}, {list(qe)}::BIGINT[])" for cid, qe in enumerate(centroids))
        cents = f"SELECT * FROM (VALUES {rows}) AS t(cid, qe)"
    else:
        cents = "SELECT CAST(NULL AS INTEGER) AS cid, CAST(NULL AS BIGINT[]) AS qe WHERE false"
    return f"""
    cents AS ({cents}),
    dists AS (
      SELECT v.vec_id, c.cid,
             CAST(list_sum(list_transform(list_zip(v.qe, c.qe),
                  p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d
      FROM qz v CROSS JOIN cents c
    ),
    cells AS (
      SELECT vec_id, cid,
             row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
      FROM dists
    )"""


def ivf_topk_oracle_sql(
    centroids: list[list[int]],
    k: int = 5,
    n_queries: int = 10,
    n_probe: int = IVF_PROBE,
) -> str:
    """DuckDB oracle reproducing ivf_topk exactly: the TRAINED centroids
    are embedded as literals (produced by ivf_oracle_centroids, which runs
    the same deterministic training the Spark plan ran — like the LSH
    plane weights, no arithmetic is re-derived in SQL), same quantization,
    same (distance, id) probe ordering, same scores."""
    return f"""
    WITH {_QZ_DUCK},
    {_cells_duck(centroids)},
    cand AS (
      SELECT DISTINCT p.vec_id AS query_id, a.vec_id AS neighbor_id
      FROM cells p JOIN cells a ON p.cid = a.cid
      WHERE p.vec_id < {n_queries} AND p.rn <= {n_probe} AND a.rn = 1
        AND p.vec_id != a.vec_id
    ),
    {_topk_duck(k)}"""


# ------------------------------------------------------- semantic dedup
SEMDEDUP_THRESHOLD_PPM = 950_000


def semantic_dedup(
    embeddings: DataFrame,
    threshold_ppm: int = SEMDEDUP_THRESHOLD_PPM,
    id_col: str = "vec_id",
    n_centroids: int | None = None,
    dim: int = LSH_DIM,
    train_sample: int = IVF_TRAIN_SAMPLE,
    train_iters: int = IVF_TRAIN_ITERS,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public):
    cluster the corpus with the TRAINED integer k-means (the IVF training
    pass), then within each cluster drop every vector that has a
    smaller-id near-duplicate (exact quantized cosine >= ``threshold_ppm``
    ppm) in the SAME cluster. Returns the survivors as (id, cell).

    The keep rule is the deterministic greedy: a vector is dropped iff ANY
    smaller-id vector in its cell reaches the threshold — one
    representative (the lowest id) survives per near-duplicate
    neighborhood, independent of partitioning and engine.

    Scale shape (the reason this beats all-pairs cosine at 100 TB): the
    only vector movement is one broadcast of K centroid rows; assignment
    is K exact int64 distances per row inside codegen; the pair self-join
    is PER CELL, and K ~ sqrt(N) keeps expected cell size ~ sqrt(N), so
    pair work is ~N^1.5/2 instead of N^2/2 — and unlike banded LSH
    blocking, a vector lands in exactly ONE cell, so no distinct over
    multi-band collisions is needed. Skewed cells (a dense semantic mode)
    are the residual risk: raise ``n_centroids`` (more, smaller cells) —
    the same knob a production SemDeDup run tunes.

    Cross-engine exactness: identical centroid literals feed both engines
    (parity-by-construction, like ivf_topk), and the cosine is the same
    quantized one as embedding_cosine_pairs (``_cosine_ppm``), under the
    same dim <= 2048 overflow guard.
    """
    normed = _normed(embeddings, id_col, dim, "embedding")  # guards dim before training
    nearest = _ivf_cells(embeddings, n_centroids, id_col, dim, train_sample, train_iters)
    assigned = nearest(normed, 1).select(
        id_col, F.col("_cells")[0].cast("int").alias("cell"), "_qe", "qn"
    )
    dropped = (
        _cosine_ppm(
            _side(assigned, id_col, "id1", "a")
            .join(_side(assigned, id_col, "id2", "b"), "cell")
            .filter(F.col("id1") < F.col("id2"))
        )
        .filter(F.col("cosine_ppm") >= threshold_ppm)
        .select(F.col("id2").alias(id_col))
        .distinct()
    )
    return assigned.join(dropped, id_col, "left_anti").select(id_col, "cell")


def semantic_dedup_oracle_sql(
    centroids: list[list[int]],
    threshold_ppm: int = SEMDEDUP_THRESHOLD_PPM,
) -> str:
    """DuckDB oracle reproducing semantic_dedup exactly: the trained
    centroid literals arrive from ivf_oracle_centroids (the same training
    the Spark plan ran), assignment is the same (distance, id) argmin,
    the cosine the same quantized formula as the near-dup oracle."""
    return f"""
    WITH {_QZ_DUCK},
    {_cells_duck(centroids)},
    {_NORMS_DUCK},
    assigned AS (
      SELECT n.*, c.cid AS cell FROM norms n JOIN cells c USING (vec_id)
      WHERE c.rn = 1
    ),
    dropped AS (
      SELECT DISTINCT nb.vec_id
      FROM assigned na JOIN assigned nb
        ON na.cell = nb.cell AND na.vec_id < nb.vec_id
      WHERE na.qn > 0 AND nb.qn > 0
        AND {_cosine_ppm_duck("na", "nb")} >= {threshold_ppm}
    )
    SELECT a.vec_id, CAST(a.cell AS INT) AS cell
    FROM assigned a ANTI JOIN dropped d ON a.vec_id = d.vec_id
    """
