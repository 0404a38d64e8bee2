"""Distributed tokenizer-training primitives: the first BPE merge
iteration (Sennrich et al. 2016) computed corpus-wide.

``bpe_pair_counts`` is the inner loop of byte-pair-encoding training — the
adjacent-symbol-pair frequency table — expressed Spark-first:

1. **Word frequencies** (one map-side-combinable groupBy): text is
   normalized (lowercase, punctuation -> space) and whitespace-split; the
   shuffle moves (word, partial_count) rows, never documents. On 100 TB
   the distinct-word table is Zipf-bounded (tens of millions of rows, a
   few GB) — orders of magnitude smaller than the corpus.
2. **Pair expansion over DISTINCT words** (per-row higher-order function,
   zero extra shuffle): each distinct word expands to its length-1
   adjacent character pairs via ``transform(sequence(...))``; pair counts
   are weighted by the word frequency. Expanding distinct words instead
   of the corpus is the standard BPE-training trick — work is
   O(vocabulary), not O(corpus).
3. **Pair totals + deterministic top-K** (one tiny shuffle): the pair
   space is bounded by alphabet^2, so the final aggregate is a few
   thousand rows; the top-K window sort is on that tiny frame, not the
   corpus. Ties break count-desc then pair-asc — the same rule a
   single-node BPE trainer uses to stay reproducible.

``bpe_train`` runs step 1 once on Spark, collects the (word, count) table
and learns the full merge list from it on the Spark driver; after that one
aggregation no merge round touches the corpus again.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from healthcare_data_harmonization_dataflow_spark.functions.text import (
    norm_words_duck,
    norm_words_spark,
    words_duck,
    words_spark,
)


def _word_counts(docs: DataFrame, text_col: str) -> DataFrame:
    """(word, cnt) over the normalized corpus: one map-side-combinable
    groupBy that shuffles (word, partial_count) rows, never documents."""
    words = docs.select(
        F.explode(F.expr(norm_words_spark(text_col))).alias("word")
    )
    return words.groupBy("word").agg(F.count(F.lit(1)).cast("long").alias("cnt"))


def bpe_pair_counts(
    docs: DataFrame, text_col: str = "text", top_k: int = 50
) -> DataFrame:
    """Corpus-wide adjacent-character-pair frequencies (the first BPE merge
    iteration): ``pair`` ("x y"), ``pair_count``, and the deterministic
    ``rank`` (count desc, pair asc). Returns the top ``top_k`` pairs."""
    wc = _word_counts(docs, text_col)
    # Spark's sequence(1, 0) is DESCENDING ([1, 0]), not empty like
    # DuckDB's generate_series — single-char words must be excluded
    # explicitly (they contribute no pairs in either engine).
    pairs = wc.filter(F.expr("char_length(word) >= 2")).select(
        F.explode(
            F.expr(
                "transform(sequence(1, char_length(word) - 1), "
                "i -> concat(substring(word, i, 1), ' ', "
                "substring(word, i + 1, 1)))"
            )
        ).alias("pair"),
        "cnt",
    )
    totals = pairs.groupBy("pair").agg(F.sum("cnt").alias("pair_count"))
    # orderBy + limit compiles to TakeOrderedAndProject — a DISTRIBUTED
    # per-partition top-K merged on the driver, not a single-partition
    # global window over every pair. The rank window then runs over only
    # the top_k survivors.
    top = totals.orderBy(
        F.col("pair_count").desc(), F.col("pair").asc()
    ).limit(int(top_k))
    w = Window.orderBy(F.col("pair_count").desc(), F.col("pair").asc())
    return top.select(
        "pair",
        "pair_count",
        F.row_number().over(w).cast("int").alias("rank"),
    )


def _padded(join_expr: str) -> str:
    """Padded double-space symbol string: ``' s1  s2  ...  sn '``.

    The representation that makes literal ``replace`` an EXACT left-to-right
    non-overlapping BPE merge pass: every symbol is flanked by its own
    spaces, so the pattern ``' lhs  rhs '`` (a) can only match at symbol
    boundaries and (b) leaves one space behind after a match — the very
    space the next occurrence needs — so adjacent merges ("a a a a" with
    pair (a,a) -> "aa aa") are not starved the way a single-space join
    starves them. Both engines' ``replace`` scan left-to-right over
    non-overlapping occurrences, so the result is deterministic and
    identical cross-engine with zero regex involvement."""
    return f"concat(' ', {join_expr}, ' ')"


def _merge_pattern(lhs: str, rhs: str) -> tuple[str, str]:
    # the pattern is spliced into SQL string literals by the encoders; the
    # shared normalization strips every ASCII punctuation char, so a learned
    # symbol never holds a quote or backslash, but a caller-supplied one may
    if any(c in sym for sym in (lhs, rhs) for c in "'\\"):
        raise ValueError(
            f"BPE merge symbol holds a quote or backslash: {(lhs, rhs)!r}"
        )
    return f" {lhs}  {rhs} ", f" {lhs}{rhs} "


def bpe_train(
    docs: DataFrame, text_col: str = "text", n_merges: int = 20
) -> list[tuple[str, str, int]]:
    """BPE training (Sennrich et al. 2016 learn_bpe): ``n_merges``
    iterations of pair-count -> argmax -> merge over the corpus-wide
    word-frequency table. Returns the learned merge list as
    ``[(lhs, rhs, pair_count), ...]`` in training order.

    One combinable Spark groupBy builds the Zipf-bounded (word, cnt) vocab
    (documents shuffle nothing but (word, partial-count) rows, once); the
    vocab is collected and ``bpe_train_reference`` learns the merges from it
    on the Spark driver. Every merge round is O(vocabulary) work and no
    Spark job; the driver holds the distinct-word table, which Zipf's law
    keeps orders of magnitude smaller than the corpus."""
    vocab = _word_counts(docs, text_col).collect()
    return bpe_train_reference({r["word"]: r["cnt"] for r in vocab}, n_merges)


def bpe_train_reference(
    word_counts: dict[str, int], n_merges: int = 20
) -> list[tuple[str, str, int]]:
    """The BPE trainer over a (word -> count) table: pair counts weighted
    by word count, count-desc/pair-asc tie-break, and the padded-string
    single-pass merge application. ``bpe_train`` feeds it a Spark-built
    vocab and ``bpe_oracle_merges`` a DuckDB-built one, so both engines
    encode with the same merge literals."""
    vocab = {
        " " + "  ".join(w) + " ": int(c) for w, c in word_counts.items() if w
    }
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        counts: dict[str, int] = {}
        for padded, cnt in vocab.items():
            # strip the padding spaces only: a word may hold a tab or
            # newline (the split is on ' '), and that is a symbol too
            syms = padded.strip(" ").split("  ")
            for i in range(len(syms) - 1):
                p = syms[i] + " " + syms[i + 1]
                counts[p] = counts.get(p, 0) + cnt
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        lhs, rhs = best[0].split(" ")
        merges.append((lhs, rhs, best[1]))
        pat, rep = _merge_pattern(lhs, rhs)
        vocab = {p.replace(pat, rep): c for p, c in vocab.items()}
    return merges


def bpe_oracle_merges(
    parquet_path: str, text_col: str = "text", n_merges: int = 20
) -> list[tuple[str, str, int]]:
    """Merge list for the DuckDB oracle: word counts via DuckDB (the same
    ``norm_words_duck`` split the oracle SQL uses), then the shared
    pure-python trainer — the ivf_oracle_centroids pattern (similarity.py):
    both engines consume identical data-derived literals, so the encode
    query is hash-exact by construction while the TRAINING algorithm is
    independently pinned Spark-vs-python by pytest."""
    import duckdb

    rows = duckdb.sql(
        f"""
        SELECT word, CAST(count(*) AS BIGINT) AS cnt
        FROM (
          SELECT unnest({norm_words_duck(text_col)}) AS word
          FROM read_parquet('{parquet_path}')
        ) GROUP BY word
        """
    ).fetchall()
    return bpe_train_reference({w: c for w, c in rows}, n_merges)


def _encode_word_expr(
    merges: list[tuple[str, str, int]],
    char_split: str,
    join2: str,
    w: str = "w",
) -> str:
    """The per-word encode expression: chars -> padded -> merge chain ->
    single-space token string. Engine-agnostic skeleton; callers supply
    the char-split and double-space-join idioms."""
    expr = _padded(join2.format(inner=char_split.format(w=w)))
    for lhs, rhs, _ in merges:
        pat, rep = _merge_pattern(lhs, rhs)
        expr = f"replace({expr}, '{pat}', '{rep}')"
    return f"replace(trim({expr}), '  ', ' ')"


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str, int]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a learned merge list to every document: ``(doc_id, n_tokens,
    tokens)`` where ``tokens`` is the space-joined BPE token sequence.

    Zero shuffle — one codegen projection over the pruned scan. The merge
    list is corpus-size-independent (it rides into the plan as literals,
    the broadcast-free analogue of a broadcast join), and each word runs
    the merge chain as nested literal ``replace`` calls inside a
    ``transform`` — whole-stage-codegen end to end, no Python, no regex."""
    enc = _encode_word_expr(
        merges,
        char_split="transform(sequence(1, char_length({w})), "
        "i -> substring({w}, i, 1))",
        join2="array_join({inner}, '  ')",
    )
    words = norm_words_spark(text_col)
    return docs.select(
        id_col,
        F.expr(f"array_join(transform({words}, w -> {enc}), ' ')").alias(
            "tokens"
        ),
    ).select(
        id_col,
        F.expr(f"cast(size({words_spark('tokens')}) as int)").alias("n_tokens"),
        "tokens",
    )


def bpe_encode_oracle_sql(
    merges: list[tuple[str, str, int]],
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB SQL reproducing bpe_encode exactly: same normalization, same
    padded-double-space representation, same literal-replace merge chain,
    same tie-free output columns."""
    enc = _encode_word_expr(
        merges,
        char_split="list_transform(generate_series(1, length({w})), "
        "i -> substr({w}, i, 1))",
        join2="array_to_string({inner}, '  ')",
    )
    words = norm_words_duck(text_col)
    # a document with no word joins to NULL in DuckDB, '' in Spark
    return f"""
    WITH enc AS (
      SELECT {id_col},
             coalesce(array_to_string(list_transform({words}, w -> {enc}), ' '), '')
               AS tokens
      FROM {table}
    )
    SELECT {id_col}, CAST(len({words_duck('tokens')}) AS INT) AS n_tokens, tokens
    FROM enc
    """


def bpe_pair_counts_oracle_sql(
    table: str = "documents", text_col: str = "text", top_k: int = 50
) -> str:
    """DuckDB SQL reproducing bpe_pair_counts exactly (same normalization,
    same weighting, same tie-break)."""
    return f"""
    WITH w AS (
      SELECT unnest({norm_words_duck(text_col)}) AS word FROM {table}
    ),
    wc AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM w GROUP BY word),
    p AS (
      SELECT concat(substr(word, i, 1), ' ', substr(word, i + 1, 1)) AS pair,
             cnt
      FROM wc
      CROSS JOIN unnest(generate_series(1, length(word) - 1)) AS t(i)
    ),
    pc AS (SELECT pair, CAST(sum(cnt) AS BIGINT) AS pair_count
           FROM p GROUP BY pair),
    ranked AS (
      SELECT pair, pair_count,
             CAST(row_number() OVER (ORDER BY pair_count DESC, pair ASC)
                  AS INT) AS rank
      FROM pc
    )
    SELECT pair, pair_count, rank FROM ranked WHERE rank <= {int(top_k)}
    """
