"""Corpus-curation operators for training-data pipelines: PII scrubbing
and benchmark-contamination flagging.

Both are scale-first designs:

* ``scrub_pii`` is a pure chain of JVM-side ``regexp_replace`` /
  ``regexp_extract_all`` expressions (no Python, whole-stage codegen), so a
  100 TB corpus pass is a single pruned scan. The patterns live in module
  constants shared verbatim with the DuckDB oracle generators — Java regex
  and RE2 agree on this subset (character classes, bounded repetition,
  ``\\b`` with ASCII word chars; no backrefs or lookaround).

* ``contamination_flags`` joins the corpus against a SMALL blocklist of
  benchmark snippets via ``broadcast`` + ``contains`` (a nested-loop
  substring scan per document — embarrassingly parallel, the corpus never
  shuffles for the probe; only the (doc_id, hit) pairs shuffle for the
  count). This mirrors the decontamination pass an LLM data pipeline runs
  against eval-set n-grams: the blocklist is bounded (benchmarks are
  finite), the corpus is not.

The reference pipeline has no curation stage; these extend its
harmonization surface to the training-data operations the engine is
deployed for (per the project brief), alongside the dedup family in
operators/dedup.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from healthcare_data_harmonization_dataflow_spark.functions.text import (
    md5_int_duck,
    md5_int_spark,
)

# Shared Java/RE2-compatible PII patterns (both dialects: no lookaround, no
# backrefs, ASCII \b). Replacement order matters: emails first (their local
# part may contain digit runs), then SSNs (the more specific dashed-digit
# shape), then phones. PHONE_RE handles the parenthesized area-code form as
# an explicit alternative — `\b\(?` would make the paren unmatchable dead
# syntax (\b cannot hold between two non-word chars) and leave a stray '('
# after redaction.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
SSN_RE = r"\b\d{3}-\d{2}-\d{4}\b"
PHONE_RE = r"(?:\(\d{3}\)|\b\d{3})[ -]\d{3}-\d{4}\b"

_KINDS = (("email", EMAIL_RE), ("ssn", SSN_RE), ("phone", PHONE_RE))

# Decontamination text normalization (GPT-3 appendix C / PaLM style):
# lowercase + strip ASCII punctuation before n-gramming, so a
# capitalization or punctuation variant of a benchmark sentence still
# collides. Java's \p{Punct} and RE2's [[:punct:]] are the same 32 ASCII
# chars, so the Spark expression and the DuckDB oracle agree byte-for-byte.
NGRAM_NORM_SPARK_RE = r"\p{Punct}"
NGRAM_NORM_DUCK = (
    "list_filter(string_split(regexp_replace(lower(coalesce(text, '')), "
    "'[[:punct:]]', ' ', 'g'), ' '), w -> w != '')"
)


def _txt(text_col: str) -> Column:
    """NULL-safe text: curation operators treat NULL text as '' so counts
    are 0 and documents are never silently dropped (explode of NULL emits
    no rows; sizeOfNull is -1 under legacy config)."""
    return F.coalesce(F.col(text_col), F.lit(""))


def scrub_pii(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact emails / SSNs / phone numbers from ``text_col`` and count each
    kind. Adds ``clean_text`` plus ``n_<kind>`` long columns; everything is
    a Catalyst regexp expression (zero Python).

    Counts are SEQUENTIAL like the redaction: each kind is counted on the
    text with the earlier kinds already replaced, so ``n_<kind>`` equals
    exactly the number of ``<KIND>`` tokens emitted (a phone-shaped digit
    run inside an email address counts as the email it was redacted as,
    never as a phantom phone)."""
    stage: Column = _txt(text_col)
    out = docs
    for kind, pat in _KINDS:
        out = out.withColumn(
            f"n_{kind}",
            F.size(F.regexp_extract_all(stage, F.lit(pat), F.lit(0))).cast(
                "long"
            ),
        )
        stage = F.regexp_replace(stage, F.lit(pat), F.lit(f"<{kind.upper()}>"))
    return out.withColumn("clean_text", stage)


def pii_oracle_exprs(text_expr: str = "text") -> dict[str, str]:
    """DuckDB expressions computing the same counts/redaction (RE2; the 'g'
    flag makes regexp_replace global like Spark's). Mirrors scrub_pii's
    sequential count-then-replace staging exactly."""
    out = {}
    stage = text_expr
    stage = f"coalesce({stage}, '')"  # NULL-safe, mirroring scrub_pii
    for kind, pat in _KINDS:
        out[f"n_{kind}"] = (
            f"CAST(len(regexp_extract_all({stage}, '{pat}')) AS BIGINT)"
        )
        stage = f"regexp_replace({stage}, '{pat}', '<{kind.upper()}>', 'g')"
    out["clean_text"] = stage
    return out


def contamination_flags(
    docs: DataFrame, snippets: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Flag documents containing any blocklist snippet (exact substring).

    ``snippets`` must be SMALL (a benchmark/eval blocklist): it is
    broadcast, and each (document, snippet) pair costs one substring scan
    inside the join's nested loop — the corpus side never shuffles for the
    probe. Returns (doc_id, n_hits, contaminated); only the 16-byte
    (doc_id, hit) pairs shuffle for the per-document count. The blocklist
    is deduplicated here (repeated snippet rows would fan out the join and
    inflate counts) and empty snippets are dropped (contains('') is true
    for every document).
    """
    snip = (
        snippets.select(F.col("snip"))
        .where(F.length("snip") > 0)
        .distinct()
    )
    joined = docs.select("doc_id", _txt(text_col).alias("__t")).join(
        F.broadcast(snip), F.col("__t").contains(F.col("snip")), "left"
    )
    return (
        joined.groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("snip").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_hits")
        )
        .withColumn("contaminated", F.col("n_hits") > 0)
    )


def stratified_sample(
    docs: DataFrame,
    rates: DataFrame,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-stratum downsampling by hash thresholding.

    ``rates`` is a SMALL (stratum, keep_permille) table — broadcast, so the
    corpus never shuffles: each row computes a 52-bit md5 prefix of its id,
    keeps it iff ``hash % 1000 < keep_permille`` for its stratum. Unlike
    ``df.sampleBy`` (per-partition RNG: resample on retry/re-read, not
    reproducible across engines), the hash gate is a pure function of the
    row id — idempotent under task retries, stable across runs, and exactly
    reproducible by any engine with md5 (the DuckDB oracle). This is the
    standard language/quality-rebalancing pass of a training-data pipeline.
    Strata absent from ``rates`` are DROPPED (permille 0).
    """
    gate = F.expr(md5_int_spark(13).format(e=f"cast(`{id_col}` as string)")) % 1000
    # hygiene: only the two relevant columns join in (extra rates columns
    # must not leak into the corpus), and duplicate stratum rows would
    # duplicate corpus rows via join fan-out
    r = rates.select(stratum_col, "keep_permille").dropDuplicates(
        [stratum_col]
    )
    return (
        docs.join(F.broadcast(r), on=stratum_col, how="inner")
        .where(gate < F.col("keep_permille"))
        .drop("keep_permille")
    )


def stratified_sample_oracle_sql(
    rates: "list[tuple[str, int]]",
    stratum_col: str = "lang",
    id_col: str = "doc_id",
) -> str:
    """DuckDB SQL reproducing stratified_sample exactly (same md5-prefix
    gate), with the rates inlined as a VALUES list (values SQL-escaped)."""
    vals = ", ".join(
        "('{}', {})".format(str(s).replace("'", "''"), int(p))
        for s, p in rates
    )
    return f"""
        WITH rates({stratum_col}, keep_permille) AS (VALUES {vals})
        SELECT d.* FROM documents d
        JOIN rates r USING ({stratum_col})
        WHERE {md5_int_duck(13).format(e=f"CAST(d.{id_col} AS VARCHAR)")} % 1000
              < r.keep_permille
    """


def dedup_lines(
    docs: DataFrame, min_docs: int = 3, text_col: str = "text"
) -> DataFrame:
    """Corpus-level boilerplate removal: drop every line that appears in at
    least ``min_docs`` DISTINCT documents (the C4/RefinedWeb frequent-line
    pass — navigation chrome, cookie banners, footers).

    Scale shape (100 TB honest): lines explode WITH their position; the
    frequency count moves only (16-byte md5, doc_id) pairs — never text;
    the verdict is a hash join (text crosses the wire here) and reassembly
    is ONE aggregation computing clean_text and the removal count together
    (sort_array over (pos, line, boiler) structs, boilerplate filtered
    in-array) — so text crosses the wire exactly twice (verdict join +
    reassembly reducer), the floor for a global-frequency rewrite. Returns
    (doc_id, clean_text, n_lines_removed).
    """
    lines = docs.select(
        "doc_id",
        F.posexplode(F.split(_txt(text_col), "\n")).alias("pos", "line"),
    ).withColumn("lh", F.md5(F.col("line")))
    freq = (
        lines.groupBy("lh")
        .agg(F.count_distinct("doc_id").alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
        .select("lh", F.lit(True).alias("boiler"))
    )
    marked = lines.join(freq, "lh", "left")
    # ONE aggregation computes both outputs (separate kept/removed
    # aggregates could not share the exchange, so the explode+join pipeline
    # would execute twice and a third doc_id join-shuffle would merge them):
    # collect (pos, line, boiler) structs, sort by pos, drop boilerplate
    # in-array. A doc whose every line was boilerplate naturally yields an
    # empty clean_text (filter -> empty array -> concat_ws -> "").
    return marked.groupBy("doc_id").agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.filter(
                    F.sort_array(
                        F.collect_list(F.struct("pos", "line", "boiler"))
                    ),
                    lambda s: s["boiler"].isNull(),
                ),
                lambda s: s["line"],
            ),
        ).alias("clean_text"),
        F.sum(F.when(F.col("boiler").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_lines_removed"),
    )


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 128,
    overlap: int = 16,
    text_col: str = "text",
) -> DataFrame:
    """Split each document into overlapping token-window chunks — the
    training-prep pass before packing/tokenization. Tokens are SPACE-
    separated words (the corpus-wide convention shared with the dedup and
    text operators — normalize newlines/tabs upstream if the corpus uses
    them); windows start every ``chunk_tokens - overlap`` tokens; the last
    window may be short; an empty document yields one empty chunk. The
    stride is uniform by design: a trailing window whose start falls inside
    the previous window's coverage is still emitted (it is a suffix of the
    previous chunk), keeping chunk_idx = start // stride exact for random
    access; drop `chunk_idx = last` downstream if suffix tails are unwanted.

    Entirely per-row higher-order functions (split / sequence / transform /
    slice) followed by one posexplode: NO shuffle at any size — chunking a
    100 TB corpus is a single embarrassingly-parallel scan. Returns
    (doc_id, chunk_idx, chunk_text, n_tokens).
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = F.filter(F.split(_txt(text_col), " "), lambda w: w != "")
    starts = F.sequence(
        F.lit(0), F.greatest(F.size(toks) - 1, F.lit(0)), F.lit(stride)
    )
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            F.concat_ws(" ", F.slice(toks, s + 1, F.lit(chunk_tokens))).alias(
                "chunk_text"
            ),
            F.least(
                F.lit(chunk_tokens), F.greatest(F.size(toks) - s, F.lit(0))
            )
            .cast("long")
            .alias("n_tokens"),
        ),
    )
    return docs.select(
        "doc_id", F.posexplode(chunks).alias("chunk_idx", "c")
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("c.chunk_text").alias("chunk_text"),
        F.col("c.n_tokens").alias("n_tokens"),
    )


def pack_sequences(
    chunks: DataFrame, seq_len: int = 512, group_size: int = 1024
) -> DataFrame:
    """Assign chunks to fixed-token training sequences by running offset —
    the packing pass between chunking and tokenization. A single global
    order would serialize the corpus through one window partition, so
    packing happens WITHIN groups of ``group_size`` doc_ids: each group's
    chunks are ordered (doc_id, chunk_idx) and their running token offset
    assigns ``seq_id = offset // seq_len`` (a chunk belongs to the
    sequence where it starts and may straddle into the next — standard
    packing-with-attention-mask semantics). One shuffle (the window
    partition by group), embarrassingly parallel across groups. Returns
    (grp, seq_id, doc_id, chunk_idx, n_tokens, seq_offset).
    """
    from pyspark.sql import Window

    id_type = dict(chunks.dtypes).get("doc_id", "")
    if id_type not in ("tinyint", "smallint", "int", "bigint"):
        # a string/UUID id would cast to NULL in the division, silently
        # collapsing the whole corpus into ONE window partition — the exact
        # serialization grouping exists to avoid; fail loudly instead
        raise ValueError(
            f"pack_sequences needs an integral doc_id (got {id_type!r}); "
            "derive one first, e.g. xxhash64(doc_id)"
        )
    w = (
        Window.partitionBy("grp")
        .orderBy("doc_id", "chunk_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = F.col("cum") - F.col("n_tokens")  # token offset where it begins
    return (
        chunks.withColumn(
            "grp", F.floor(F.col("doc_id") / F.lit(group_size)).cast("long")
        )
        .withColumn("cum", F.sum("n_tokens").over(w))
        .select(
            "grp",
            F.floor(start / F.lit(seq_len)).cast("long").alias("seq_id"),
            "doc_id",
            "chunk_idx",
            "n_tokens",
            (start % F.lit(seq_len)).cast("long").alias("seq_offset"),
        )
    )


def ngram_hashes(
    docs: DataFrame, n: int = 13, text_col: str = "text"
) -> DataFrame:
    """Per-document DISTINCT hashes of word n-grams (md5 of the
    space-joined window). Text is NORMALIZED first — lowercase + ASCII
    punctuation stripped to spaces (the GPT-3/PaLM eval-overlap method) —
    so a case or punctuation variant of a benchmark sentence still
    collides with the blocklist. Returns (doc_id, gram) — 16-byte hashes
    only, never text."""
    norm = F.regexp_replace(
        F.lower(_txt(text_col)), NGRAM_NORM_SPARK_RE, " "
    )
    toks = F.filter(F.split(norm, " "), lambda w: w != "")
    # sequence(1, ub) DESCENDS when ub < 1 (Spark default step -1), so a
    # short document must yield an empty window list, not [1, 0]
    ub = F.size(toks) - (n - 1)
    starts = F.when(ub >= 1, F.sequence(F.lit(1), ub)).otherwise(
        F.array().cast("array<int>")
    )
    grams = F.transform(
        starts,
        lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, F.lit(n)))),
    )
    return (
        docs.select("doc_id", F.explode(grams).alias("gram"))
        .distinct()
    )


def ngram_contamination(
    docs: DataFrame, blocklist: DataFrame, n: int = 13, text_col: str = "text"
) -> DataFrame:
    """GPT-3/PaLM-style eval decontamination: count how many distinct
    n-gram hashes of each document collide with a benchmark blocklist.

    ``blocklist`` is a (gram) table of the eval sets' n-gram hashes —
    SMALL relative to the corpus, so it is broadcast and the corpus's
    grams are semi-probed without shuffling text or grams; only the
    (doc_id, matched-gram) pairs reach the per-document count. Returns
    (doc_id, n_gram_hits, contaminated) for EVERY document (0/false when
    clean).
    """
    hits = (
        ngram_hashes(docs, n=n, text_col=text_col)
        # dedupe here, not at call sites: repeated blocklist grams (two eval
        # docs sharing a 13-gram) would fan out the join and inflate counts
        .join(F.broadcast(blocklist.select("gram").distinct()), "gram", "inner")
        .groupBy("doc_id")
        .agg(F.count("gram").cast("long").alias("n_gram_hits"))
    )
    return (
        docs.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_gram_hits", F.lit(0)).cast("long").alias("n_gram_hits"),
            (F.coalesce("n_gram_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


# --------------------------------------------------------------------------
# Gopher-style quality gates (repetition + shape signals)
# --------------------------------------------------------------------------

# Shared constants for the Gopher-style gate (Rae et al. 2021, "Scaling
# Language Models" appendix A1.1, adapted to this corpus's single-line
# documents: the line/paragraph repetition signals degenerate, so the
# word-n-gram repetition family carries the repetition axis).
GOPHER_MIN_WORDS = 20
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN_PPM = 3_000_000  # mean word length in [3, 10]
GOPHER_MAX_MEAN_WORD_LEN_PPM = 10_000_000
GOPHER_MIN_ALPHA_RATIO_PPM = 800_000  # >= 80% words contain a letter
GOPHER_MIN_STOP_DISTINCT = 2  # >= 2 distinct English stopwords
GOPHER_MAX_BIGRAM_FRAC_PPM = 200_000  # top 2-gram <= 20% of chars
GOPHER_MAX_TRIGRAM_FRAC_PPM = 180_000  # top 3-gram <= 18% of chars

# Gopher's published stop list ("the be to of and that have with") plus
# the article "a" — the gate asks for >= 2 DISTINCT function words, and a
# corpus whose only function words are "the"/"a" (this fixture) must be
# able to pass it.
_GOPHER_STOPS = ("the", "a", "be", "to", "of", "and", "that", "have", "with")

# {col} is an explicit placeholder (str.format), not a bare 'text' to be
# str.replace'd — a second literal 'text' anywhere in the template (or a
# function name containing it) must never be rewritten by accident
_WS_SPARK_T = "filter(split(lower(coalesce({col}, '')), ' '), w -> w != '')"
_WS_DUCK = (
    "list_filter(string_split(lower(coalesce(text, '')), ' '), w -> w != '')"
)


def _stop_pred(var: str) -> str:
    return "(" + " OR ".join(f"{var} = '{w}'" for w in _GOPHER_STOPS) + ")"


def gopher_signals(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style quality signals + keep flag, per document.

    Shape/quality signals (word count, mean word length, alphabetic-word
    ratio, distinct-stopword count) are ONE codegen projection — no
    Python, no shuffle. The repetition signals (fraction of characters
    claimed by the most frequent word 2-gram / 3-gram) need a per-gram
    count, which is done scalably: grams explode as (doc_id, n,
    md5(gram), chars) — a 16-byte hash plus two ints shuffle, never gram
    text — partial-aggregated into counts, reduced to the per-doc top by
    ``max(struct(count, chars))`` (deterministic tie-break: more
    characters wins at equal count; ties beyond that have equal
    numerator), and joined back on doc_id. At 100 TB the gram stage is
    the cost: ~2 hashes per word, all map-side combinable, no quadratic
    path (contrast the per-row HOF alternative, O(words^2) per doc on
    long documents).

    All ratios are ppm via INTEGER division (floor), so the DuckDB oracle
    (``gopher_oracle_sql``) matches bit-for-bit. Returns one row per input
    document; empty/NULL text yields zeros and keep=false.
    """
    ws = docs.select(
        "doc_id", F.expr(_WS_SPARK_T.format(col=text_col)).alias("ws")
    )
    sig = ws.select(
        "doc_id",
        F.expr("cast(size(ws) as bigint)").alias("n_words"),
        F.expr(
            "aggregate(ws, 0L, (a, w) -> a + length(w))"
        ).alias("word_chars"),
        F.expr("cast(size(filter(ws, w -> w rlike '[a-z]')) as bigint)").alias(
            "n_alpha_words"
        ),
        F.expr(
            f"cast(size(array_distinct(filter(ws, w -> {_stop_pred('w')}))) as bigint)"
        ).alias("n_stop_distinct"),
    )
    # tagged 2-/3-gram stream; the filter-over-sequence guard avoids
    # sequence(1, 0) (which Spark renders as a DESCENDING [1, 0]) on docs
    # shorter than the gram
    grams = ws.select(
        "doc_id",
        F.expr(
            "inline(flatten(transform(array(2, 3), n -> "
            "transform("
            "  filter(sequence(1, greatest(size(ws) - n + 1, 1)),"
            "         i -> i <= size(ws) - n + 1),"
            "  i -> named_struct("
            "    'n', n,"
            "    'gh', md5(concat_ws(' ', slice(ws, i, n))),"
            "    'chars', cast(length(replace(concat_ws(' ', slice(ws, i, n)), ' ', '')) as bigint))"
            "))))"
        ),
    )
    tops = (
        grams.groupBy("doc_id", "n", "gh", "chars")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id", "n")
        .agg(F.max(F.struct("c", "chars")).alias("top"))
        .groupBy("doc_id")
        .agg(
            F.max(
                F.when(F.col("n") == 2, F.col("top.c") * F.col("top.chars"))
            ).alias("bi_prod"),
            F.max(
                F.when(F.col("n") == 3, F.col("top.c") * F.col("top.chars"))
            ).alias("tri_prod"),
        )
    )
    out = sig.join(tops, "doc_id", "left").select(
        "doc_id",
        "n_words",
        F.expr(
            "cast(word_chars * 1000000 div greatest(n_words, 1) as bigint)"
        ).alias("mean_word_len_ppm"),
        F.expr(
            "cast(n_alpha_words * 1000000 div greatest(n_words, 1) as bigint)"
        ).alias("alpha_ratio_ppm"),
        "n_stop_distinct",
        F.expr(
            "cast(coalesce(bi_prod, 0) * 1000000 div greatest(word_chars, 1) as bigint)"
        ).alias("top_bigram_frac_ppm"),
        F.expr(
            "cast(coalesce(tri_prod, 0) * 1000000 div greatest(word_chars, 1) as bigint)"
        ).alias("top_trigram_frac_ppm"),
    )
    return out.withColumn(
        "gopher_keep",
        (F.col("n_words") >= GOPHER_MIN_WORDS)
        & (F.col("n_words") <= GOPHER_MAX_WORDS)
        & (F.col("mean_word_len_ppm") >= GOPHER_MIN_MEAN_WORD_LEN_PPM)
        & (F.col("mean_word_len_ppm") <= GOPHER_MAX_MEAN_WORD_LEN_PPM)
        & (F.col("alpha_ratio_ppm") >= GOPHER_MIN_ALPHA_RATIO_PPM)
        & (F.col("n_stop_distinct") >= GOPHER_MIN_STOP_DISTINCT)
        & (F.col("top_bigram_frac_ppm") <= GOPHER_MAX_BIGRAM_FRAC_PPM)
        & (F.col("top_trigram_frac_ppm") <= GOPHER_MAX_TRIGRAM_FRAC_PPM),
    )


def gopher_oracle_sql() -> str:
    """DuckDB SQL reproducing gopher_signals bit-for-bit (same integer
    ppm math, same md5-collapsed gram counting, same struct-max
    tie-break)."""
    return f"""
    WITH w AS (
      SELECT doc_id, {_WS_DUCK} AS ws FROM documents
    ), sig AS (
      SELECT doc_id,
        CAST(len(ws) AS BIGINT) AS n_words,
        CAST(coalesce(list_sum(list_transform(ws, x -> length(x))), 0) AS BIGINT) AS word_chars,
        CAST(len(list_filter(ws, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS n_alpha_words,
        CAST(len(list_distinct(list_filter(ws, x -> {_stop_pred('x')}))) AS BIGINT) AS n_stop_distinct
      FROM w
    ), g AS (
      SELECT doc_id, n, md5(gram) AS gh,
             CAST(length(replace(gram, ' ', '')) AS BIGINT) AS chars
      FROM w, (VALUES (2), (3)) t(n),
           UNNEST(list_transform(range(greatest(len(ws) - n + 1, 0)),
                                 i -> array_to_string(ws[i + 1 : i + n], ' '))) u(gram)
    ), cnt AS (
      SELECT doc_id, n, gh, chars, count(*) AS c FROM g GROUP BY ALL
    ), top AS (
      SELECT doc_id, n, max(struct_pack(c := c, ch := chars)) AS s
      FROM cnt GROUP BY 1, 2
    ), prod AS (
      SELECT doc_id,
        max(CASE WHEN n = 2 THEN (s).c * (s).ch END) AS bi_prod,
        max(CASE WHEN n = 3 THEN (s).c * (s).ch END) AS tri_prod
      FROM top GROUP BY 1
    )
    SELECT sig.doc_id, n_words,
      CAST(word_chars * 1000000 // greatest(n_words, 1) AS BIGINT) AS mean_word_len_ppm,
      CAST(n_alpha_words * 1000000 // greatest(n_words, 1) AS BIGINT) AS alpha_ratio_ppm,
      n_stop_distinct,
      CAST(coalesce(bi_prod, 0) * 1000000 // greatest(word_chars, 1) AS BIGINT) AS top_bigram_frac_ppm,
      CAST(coalesce(tri_prod, 0) * 1000000 // greatest(word_chars, 1) AS BIGINT) AS top_trigram_frac_ppm,
      (n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS}
       AND CAST(word_chars * 1000000 // greatest(n_words, 1) AS BIGINT) BETWEEN {GOPHER_MIN_MEAN_WORD_LEN_PPM} AND {GOPHER_MAX_MEAN_WORD_LEN_PPM}
       AND CAST(n_alpha_words * 1000000 // greatest(n_words, 1) AS BIGINT) >= {GOPHER_MIN_ALPHA_RATIO_PPM}
       AND n_stop_distinct >= {GOPHER_MIN_STOP_DISTINCT}
       AND CAST(coalesce(bi_prod, 0) * 1000000 // greatest(word_chars, 1) AS BIGINT) <= {GOPHER_MAX_BIGRAM_FRAC_PPM}
       AND CAST(coalesce(tri_prod, 0) * 1000000 // greatest(word_chars, 1) AS BIGINT) <= {GOPHER_MAX_TRIGRAM_FRAC_PPM}
      ) AS gopher_keep
    FROM sig LEFT JOIN prod ON sig.doc_id = prod.doc_id
    """


# --------------------------------------------------------------------------
# Temperature-based source mixing (data-mixture rebalancing)
# --------------------------------------------------------------------------

def mixture_sample(
    docs: DataFrame, budget_ppm: int = 500_000, id_col: str = "doc_id"
) -> DataFrame:
    """sqrt-temperature source rebalancing: deterministically downsample
    the corpus to ``budget_ppm``/1e6 of its documents, allocating each
    source a share proportional to sqrt(its character volume) — the
    alpha=0.5 temperature mix multilingual/multi-domain training sets use
    to up-weight small sources relative to proportional sampling.

    Scale shape: per-source volume is ONE partial-aggregated groupBy over
    (source, n_chars) — bytes never move; the (source, keep_ppm) rate
    table is tiny (one row per source) and broadcast back, so the corpus
    never shuffles; each row passes a pure md5-prefix hash gate
    (idempotent under retries, reproducible across engines — same design
    as ``stratified_sample``).

    Cross-engine exactness: weights use ONLY IEEE-754 correctly-rounded
    operations (integer sums, sqrt, floor, *, /) in a fixed association
    order, so Spark and DuckDB produce bit-identical keep_ppm — no
    transcendentals (ln/pow), whose last-ulp behavior is libm-specific.
    Per-source weight w = floor(sqrt(char_volume)) is summed as INTEGERS
    (float summation order would be engine-dependent).
    """
    sizes = docs.groupBy("source").agg(
        F.sum("n_chars").cast("bigint").alias("sz"),
        F.count(F.lit(1)).alias("nd"),
    )
    w = sizes.select(
        "source",
        "nd",
        F.expr("cast(floor(sqrt(cast(sz as double))) as bigint)").alias("w"),
    )
    # grand totals via a global window over the per-source frame (one row
    # per source — tiny at any corpus scale): a separate w.agg() subtree
    # would RE-DERIVE the per-source aggregate from the corpus scan,
    # tripling the documents scans in composed pipelines (plan_audit
    # enforces the 2-scan ceiling on corpus_curate_v3)
    wt = Window.partitionBy()
    rates = w.select(
        "source",
        "nd",
        "w",
        F.sum("w").over(wt).alias("tw"),
        F.sum("nd").over(wt).alias("n"),
    ).select(
        "source",
        F.expr(
            f"cast(floor(least(1E0, "
            f"((cast({budget_ppm} as double) / 1E6 * cast(n as double)) * "
            f"(cast(w as double) / cast(tw as double))) / cast(nd as double)"
            f") * 1E6) as bigint)"
        ).alias("keep_ppm"),
    )
    gate = F.expr(md5_int_spark(13).format(e=f"cast(`{id_col}` as string)")) % 1_000_000
    return (
        docs.join(F.broadcast(rates), "source", "inner")
        .where(gate < F.col("keep_ppm"))
        .select(id_col, "source", "lang", "n_chars", "keep_ppm")
    )


def mixture_sample_oracle_sql(
    budget_ppm: int = 500_000,
    id_col: str = "doc_id",
    table: str = "documents",
    cte_prefix: str = "",
) -> str:
    """DuckDB SQL reproducing mixture_sample exactly (same integer weight
    sums, same fixed-order IEEE double formula, same md5 gate).

    ``table`` may name a CTE declared in ``cte_prefix`` (a string of
    ``name AS (...),`` clauses spliced before this query's own CTEs), so
    composed pipelines can re-derive the rates over a FILTERED corpus.
    """
    return f"""
    WITH {cte_prefix} s AS (
      SELECT source, CAST(sum(n_chars) AS BIGINT) AS sz, count(*) AS nd
      FROM {table} GROUP BY 1
    ), w AS (
      SELECT source, nd,
             CAST(floor(sqrt(CAST(sz AS DOUBLE))) AS BIGINT) AS w
      FROM s
    ), t AS (
      SELECT CAST(sum(w) AS BIGINT) AS tw, CAST(sum(nd) AS BIGINT) AS n FROM w
    ), r AS (
      -- 1e6 / 1e0 are DOUBLE literals in DuckDB; 1000000.0 would be
      -- DECIMAL and silently switch the arithmetic to decimal rounding
      SELECT source,
        CAST(floor(least(1e0,
          ((CAST({budget_ppm} AS DOUBLE) / 1e6 * CAST(n AS DOUBLE)) *
           (CAST(w AS DOUBLE) / CAST(tw AS DOUBLE))) / CAST(nd AS DOUBLE)
        ) * 1e6) AS BIGINT) AS keep_ppm
      FROM w, t
    )
    SELECT d.doc_id, d.source, d.lang, d.n_chars, r.keep_ppm
    FROM {table} d JOIN r USING (source)
    WHERE {md5_int_duck(13).format(e=f"CAST(d.{id_col} AS VARCHAR)")} % 1000000
          < r.keep_ppm
    """


# ------------------------------------------------- quality classifier
# Broadcast linear quality classifier — the fasttext-style learned filter
# every large corpus pipeline runs after the rule gates (CCNet / GPT-3's
# WebText-similarity LR, Falcon's quality LR). The MODEL is a literal:
# per-bucket token weights (hashed bag-of-words, the fasttext trick) plus
# shape-feature weights, shipped inside the codegen expression — no join,
# no shuffle, no Python; one pruned scan per corpus pass at any scale.
#
# Cross-engine exactness: the score is the LOGIT in integer micro-units
# (1e-6). sigmoid is monotone, so `keep = sigmoid(logit) >= 0.5` is
# EXACTLY `logit >= 0` — thresholding never needs exp(), whose last-ulp
# behavior is libm-specific. All arithmetic is integer multiply-add; the
# one division (mean token weight) runs over a NONNEGATIVE-shifted sum so
# floor == truncate in both engines.

QC_N_BUCKETS = 64
QC_TOKEN_SHIFT = 50_000  # token weights live in [-50000, 50000] micro


def _qc_default_bucket_weights() -> list[int]:
    """Deterministic stand-in for trained weights: md5 of the bucket index
    mapped into [-50000, 50000]. Computed driver-side with hashlib and
    spliced into BOTH engines' expressions as literals, so the 'model' is
    engine-independent by construction. A real deployment passes trained
    weights; the plumbing (literal map, hashed lookup) is identical."""
    import hashlib

    out = []
    for b in range(QC_N_BUCKETS):
        h = int(hashlib.md5(f"qcw-{b}".encode()).hexdigest()[:8], 16)
        out.append(h % (2 * QC_TOKEN_SHIFT + 1) - QC_TOKEN_SHIFT)
    return out


QC_DEFAULT_SHAPE_WEIGHTS = {
    # micro-units contributed per unit of the (ppm / capped-count) feature.
    # bias calibrated on the synthetic corpus so the default model splits
    # it (~60% keep) instead of degenerating to all-keep/all-reject
    "bias": -120_000,
    "stopword_ratio_ppm": 2,  # 15% stopwords -> +300000 micro
    "punct_ratio_ppm": -4,  # punctuation walls push toward reject
    "n_words_capped": 300,  # length prior, capped at 1000 words
}
QC_WORDS_CAP = 1000


def quality_classifier(
    docs: DataFrame,
    bucket_weights: "list[int] | None" = None,
    shape_weights: "dict[str, int] | None" = None,
    threshold_micro: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score every document with a linear quality model and flag keeps.

    Features, all integer and all inside one codegen projection:
    hashed-bag-of-words mean token weight (md5 -> bucket -> literal-array
    lookup), stopword ratio (ppm), punctuation ratio (ppm), capped word
    count. Returns (id_col, logit_micro, qc_keep) where qc_keep is
    `logit_micro >= threshold_micro` — identical to sigmoid-thresholding
    at sigmoid(threshold_micro/1e6).
    """
    bw = bucket_weights if bucket_weights is not None else _qc_default_bucket_weights()
    if len(bw) != QC_N_BUCKETS:
        raise ValueError(f"bucket_weights must have {QC_N_BUCKETS} entries")
    sw = dict(QC_DEFAULT_SHAPE_WEIGHTS)
    if shape_weights:
        sw.update(shape_weights)
    ws = _WS_SPARK_T.format(col=text_col)
    arr = "array(" + ", ".join(f"{w + QC_TOKEN_SHIFT}L" for w in bw) + ")"
    bucket = f"{md5_int_spark(15).format(e='w')} % {QC_N_BUCKETS}"
    tok_sum = f"aggregate({ws}, 0L, (acc, w) -> acc + element_at({arr}, cast({bucket} as int) + 1))"
    n_words = f"size({ws})"
    n_stop = f"size(filter({ws}, w -> {_stop_pred('w')}))"
    n_punct = f"length(regexp_replace(coalesce({text_col}, ''), '[^.,;:!?]', ''))"
    n_chars = f"length(coalesce({text_col}, ''))"
    logit = (
        f"{sw['bias']}L"
        f" + (({tok_sum}) div greatest({n_words}, 1) - {QC_TOKEN_SHIFT})"
        f" + {sw['stopword_ratio_ppm']}L * cast(floor({n_stop} * 1000000.0 / greatest({n_words}, 1)) as bigint)"
        f" + {sw['punct_ratio_ppm']}L * cast(floor({n_punct} * 1000000.0 / greatest({n_chars}, 1)) as bigint)"
        f" + {sw['n_words_capped']}L * least(cast({n_words} as bigint), {QC_WORDS_CAP})"
    )
    return docs.select(
        F.col(id_col),
        F.expr(logit).cast("long").alias("logit_micro"),
        (F.expr(logit) >= F.lit(threshold_micro)).alias("qc_keep"),
    )


def quality_classifier_oracle_sql(
    threshold_micro: int = 0, table: str = "documents"
) -> str:
    """DuckDB SQL reproducing quality_classifier bit-for-bit: same literal
    weights, same md5 bucket hash, same nonnegative-shifted integer mean,
    same integer multiply-add logit."""
    bw = _qc_default_bucket_weights()
    sw = QC_DEFAULT_SHAPE_WEIGHTS
    arr = "[" + ", ".join(str(w + QC_TOKEN_SHIFT) for w in bw) + "]"
    bucket = f"{md5_int_duck(15).format(e='w')} % {QC_N_BUCKETS}"
    tok_sum = (
        f"coalesce(list_sum(list_transform({_WS_DUCK}, "
        f"w -> list_extract({arr}, CAST({bucket} AS INT) + 1))), 0)"
    )
    n_words = f"len({_WS_DUCK})"
    n_stop = f"len(list_filter({_WS_DUCK}, w -> {_stop_pred('w')}))"
    n_punct = "length(regexp_replace(coalesce(text, ''), '[^.,;:!?]', '', 'g'))"
    n_chars = "length(coalesce(text, ''))"
    logit = (
        f"{sw['bias']}"
        f" + (CAST(({tok_sum}) AS BIGINT) // greatest({n_words}, 1) - {QC_TOKEN_SHIFT})"
        f" + {sw['stopword_ratio_ppm']} * CAST(floor({n_stop} * 1000000.0 / greatest({n_words}, 1)) AS BIGINT)"
        f" + {sw['punct_ratio_ppm']} * CAST(floor({n_punct} * 1000000.0 / greatest({n_chars}, 1)) AS BIGINT)"
        f" + {sw['n_words_capped']} * least(CAST({n_words} AS BIGINT), {QC_WORDS_CAP})"
    )
    return f"""
    SELECT doc_id,
           CAST({logit} AS BIGINT) AS logit_micro,
           ({logit}) >= {threshold_micro} AS qc_keep
    FROM {table}
    """


# --------------------------------------------------------- per-source caps
def source_cap(
    docs: DataFrame,
    cap: int,
    source_col: str = "source",
    id_col: str = "doc_id",
    n_salts: int = 16,
) -> DataFrame:
    """RefinedWeb-style per-source document cap: keep at most ``cap``
    documents from every source, chosen DETERMINISTICALLY (hash-ordered by
    ``md5(id)`` with the id as tie-break), so a retry, a re-read, or another
    engine selects the identical survivor set. This is the domain-cap pass
    a web-corpus pipeline runs so a single crawl-heavy domain cannot
    dominate the training mix.

    Scale shape (100 TB honest):

    * one tiny partial-agg shuffle computes per-source counts (#distinct
      sources rows — domains, not documents);
    * the counts broadcast back (NULL-safe equi-join), and every row of an
      UNDER-cap source bypasses ranking entirely — no row-level shuffle for
      the common case (most domains sit under any sane cap);
    * only OVER-cap sources rank, and they rank in TWO levels (the classic
      distributed top-K): level 1 takes the top ``cap`` within each of
      ``n_salts`` hash buckets per source in parallel, level 2 re-ranks the
      <= n_salts*cap survivors per source. A monster source therefore never
      lands on one partition at full size — its level-1 work spreads over
      ``n_salts`` partitions and level 2 sees at most ``n_salts * cap``
      rows. Exact: every true global top-``cap`` member is trivially within
      its own salt bucket's top ``cap``.

    NULL sources group together (NULL-safe join + window semantics), same
    as the SQL oracle's PARTITION BY.
    """
    order_cols = [
        F.md5(F.col(id_col).cast("string")).asc(),
        F.col(id_col).asc(),
    ]
    counts = (
        docs.groupBy(F.col(source_col).alias("_src"))
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    joined = docs.join(
        F.broadcast(counts),
        F.col(source_col).eqNullSafe(F.col("_src")),
        "inner",
    ).drop("_src")
    under = joined.where(F.col("_n") <= cap).drop("_n")
    over = joined.where(F.col("_n") > cap).drop("_n")
    salt = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salts))
    w1 = Window.partitionBy(source_col, "_salt").orderBy(*order_cols)
    cand = (
        over.withColumn("_salt", salt)
        .withColumn("_rk", F.row_number().over(w1))
        .where(F.col("_rk") <= cap)
        .drop("_rk")
    )
    w2 = Window.partitionBy(source_col).orderBy(*order_cols)
    capped = (
        cand.drop("_salt")
        .withColumn("_rk", F.row_number().over(w2))
        .where(F.col("_rk") <= cap)
        .drop("_rk")
    )
    return under.unionByName(capped)


def source_cap_oracle_sql(
    cap: int,
    source_col: str = "source",
    id_col: str = "doc_id",
    table: str = "documents",
) -> str:
    """DuckDB SQL reproducing source_cap exactly: the two-level top-K is
    semantically one ranked window per source."""
    return f"""
    SELECT * EXCLUDE (_rk) FROM (
      SELECT d.*, row_number() OVER (
               PARTITION BY {source_col}
               ORDER BY md5(CAST({id_col} AS VARCHAR)) ASC, {id_col} ASC
             ) AS _rk
      FROM {table} d
    ) WHERE _rk <= {cap}
    """


# ---------------------------------------------------- token-budget selection
def budget_select(
    docs: DataFrame,
    token_budget: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Select the highest-quality documents that fit a training-token
    budget: rank documents by an integer quality score (stopword-ratio ppm
    — the same fixed-point signal as functions/text.quality_cols), keep
    whole score buckets from the top down while their cumulative token
    count fits ``token_budget``, then fill the remainder from the single
    boundary bucket in deterministic ``(md5(id), id)`` order until the next
    document would overflow. Every engine with md5 reproduces the exact
    survivor set — no RNG, no float ordering.

    Returns (id_col, lang, source, tok, score_ppm) for the selected docs.

    Scale shape (100 TB honest):

    * TWO pruned corpus scans (verified in the executed plan): the bucket
      pass reads ONLY the text column, the selection pass reads the four
      output columns; (tok, score_ppm) stay in codegen and the only
      corpus-sized movement is the partial-agg shuffle of (score_ppm, tok)
      pairs down to <= 1e6+1 integer buckets (in practice a few thousand);
    * the cumulative-sum window runs over the BUCKET table (tiny, single
      partition by design) and yields a ONE-ROW broadcast of
      (boundary score, remaining tokens) — the corpus itself never
      shuffles for the selection: full buckets keep/drop via a broadcast
      comparison inside the scan;
    * only the boundary bucket's rows (one score-tie class) flow through a
      running-sum window; if a degenerate corpus put most mass on one exact
      score, sub-bucketing that one class by md5 prefix is the documented
      fallback (same two-level trick as source_cap).
    """
    ws = _WS_SPARK_T.format(col="text")
    n_words = f"size({ws})"
    n_stop = f"size(filter({ws}, w -> {_stop_pred('w')}))"
    score = f"cast(floor({n_stop} * 1000000.0 / greatest({n_words}, 1)) as bigint)"
    base = docs.select(
        F.col(id_col),
        F.col("lang"),
        F.col("source"),
        F.expr(f"cast({n_words} as bigint)").alias("tok"),
        F.expr(score).alias("score_ppm"),
    )
    buckets = base.groupBy("score_ppm").agg(F.sum("tok").alias("_btok"))
    w_cum = Window.orderBy(F.col("score_ppm").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = buckets.withColumn("_cum", F.sum("_btok").over(w_cum))
    bound = (
        cum.where(F.col("_cum") > token_budget)
        .orderBy(F.col("score_ppm").desc())
        .limit(1)
        .select(
            F.col("score_ppm").alias("_bscore"),
            (F.lit(token_budget) - (F.col("_cum") - F.col("_btok"))).alias(
                "_brem"
            ),
        )
        # aggregate to EXACTLY one row so the cross join below never
        # annihilates the corpus when the budget covers everything
        .agg(F.min("_bscore").alias("_bscore"), F.min("_brem").alias("_brem"))
    )
    sel = base.crossJoin(F.broadcast(bound))
    keep_full = sel.where(
        F.col("_bscore").isNull() | (F.col("score_ppm") > F.col("_bscore"))
    )
    w_run = Window.partitionBy("score_ppm").orderBy(
        F.md5(F.col(id_col).cast("string")).asc(), F.col(id_col).asc()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    boundary = (
        sel.where(F.col("score_ppm") == F.col("_bscore"))
        .withColumn("_run", F.sum("tok").over(w_run))
        .where(F.col("_run") <= F.col("_brem"))
        .drop("_run")
    )
    return keep_full.unionByName(boundary).drop("_bscore", "_brem")


def budget_select_oracle_sql(
    token_budget: int, id_col: str = "doc_id", table: str = "documents"
) -> str:
    """DuckDB SQL reproducing budget_select exactly (same integer score,
    same bucket cumulative sum, same hash-ordered boundary fill)."""
    n_words = f"len({_WS_DUCK})"
    n_stop = f"len(list_filter({_WS_DUCK}, w -> {_stop_pred('w')}))"
    score = f"CAST(floor({n_stop} * 1000000.0 / greatest({n_words}, 1)) AS BIGINT)"
    return f"""
    WITH base AS (
      SELECT {id_col}, lang, source,
             CAST({n_words} AS BIGINT) AS tok,
             {score} AS score_ppm
      FROM {table}
    ), buckets AS (
      SELECT score_ppm, SUM(tok) AS _btok FROM base GROUP BY score_ppm
    ), cum AS (
      SELECT score_ppm, _btok,
             SUM(_btok) OVER (ORDER BY score_ppm DESC
                              ROWS UNBOUNDED PRECEDING) AS _cum
      FROM buckets
    ), bound AS (
      SELECT min(_bscore) AS _bscore, min(_brem) AS _brem FROM (
        SELECT score_ppm AS _bscore,
               {token_budget} - (_cum - _btok) AS _brem
        FROM cum WHERE _cum > {token_budget}
        ORDER BY score_ppm DESC LIMIT 1
      )
    )
    SELECT {id_col}, lang, source, tok, score_ppm
    FROM base, bound
    WHERE _bscore IS NULL OR score_ppm > _bscore
    UNION ALL
    SELECT {id_col}, lang, source, tok, score_ppm FROM (
      SELECT base.*, bound._brem,
             SUM(tok) OVER (ORDER BY md5(CAST({id_col} AS VARCHAR)) ASC,
                            {id_col} ASC
                            ROWS UNBOUNDED PRECEDING) AS _run
      FROM base, bound WHERE base.score_ppm = bound._bscore
    ) WHERE _run <= _brem
    """


# ------------------------------------------- n-gram LM quality (CCNet-style)
# CCNet (Wenzek et al., "CCNet: Extracting High Quality Monolingual
# Datasets from Web Crawl Data") filters web text by the perplexity of a
# small n-gram language model trained on clean reference text, bucketing
# documents into head / middle / tail. Reproduced Spark-first with a
# bigram Stupid-Backoff model (Brants et al.) in pure integer ppm math —
# no transcendentals, so scores are bit-exact across engines. Higher
# score = more in-distribution (the inverse orientation of perplexity).
#
# Scale shape (100 TB): training shuffles only 8-byte token/bigram hashes
# with map-side combine; the model is pruned to (max_vocab, max_bigrams)
# rows — a bounded, broadcastable table like CCNet's pruned KenLM.
# Scoring explodes hashes (text never shuffles after the scan), probes
# three BROADCAST model joins, and reduces with one groupBy on the 8-byte
# doc id. The top-K prune is a TakeOrdered of model-size (constant) rows,
# independent of corpus scale.

LM_ALPHA_PPM = 400_000  # Stupid-Backoff discount (0.4) quantized to ppm
LM_HEAD_PPM = 260_000  # lm_bucket thresholds on the integer-ppm score
LM_MIDDLE_PPM = 130_000

# sequence(2, n) DESCENDS for n < 2 in Spark (sequence(2,1) = [2,1]) — the
# guard is load-bearing, not defensive.
_BIGRAMS_SPARK_T = (
    "case when size({ws}) >= 2 then transform(sequence(2, size({ws})), "
    "i -> concat(element_at({ws}, i - 1), ' ', element_at({ws}, i))) "
    "else cast(array() as array<string>) end"
)


def lm_quality(
    docs: DataFrame,
    train_docs: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_vocab: int = 65_536,
    max_bigrams: int = 262_144,
    alpha_ppm: int = LM_ALPHA_PPM,
    head_ppm: int = LM_HEAD_PPM,
    middle_ppm: int = LM_MIDDLE_PPM,
) -> DataFrame:
    """Score every document with a bigram LM and bucket head/middle/tail.

    Model: counts over ``train_docs`` (default: ``docs`` itself — CCNet
    trains on a clean slice; pass one), pruned to the ``max_vocab`` top
    unigrams and ``max_bigrams`` top bigrams (count desc, hash asc — a
    deterministic tie-break both engines reproduce). Per token position
    i >= 2 the score is

        seen bigram:  floor(1e6 * c(w_{i-1} w_i) / c(w_{i-1}))
        backoff:      floor(alpha_ppm * c(w_i) / total_tokens)

    (unigram counts AFTER pruning; total = sum over the pruned vocab, so
    the model is self-consistent). The document score is the floored mean
    over its n_words - 1 positions; docs under 2 words score 0. Returns
    (id_col, lm_score_ppm, lm_bucket) — one row per input document.
    """
    ws = _WS_SPARK_T.format(col=text_col)
    h = md5_int_spark(15).format
    tr = (train_docs if train_docs is not None else docs).select(
        F.expr(ws).alias("ws")
    )
    c1 = (
        tr.select(F.explode("ws").alias("w"))
        .select(F.expr(h(e="w")).alias("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("c1"))
        .orderBy(F.col("c1").desc(), F.col("h").asc())
        .limit(max_vocab)
    )
    total = c1.agg(
        F.greatest(F.coalesce(F.sum("c1"), F.lit(0)), F.lit(1)).alias("lm_total")
    )
    c2 = (
        tr.select(F.explode(F.expr(_BIGRAMS_SPARK_T.format(ws="ws"))).alias("bg"))
        .select(F.expr(h(e="bg")).alias("hb"))
        .groupBy("hb")
        .agg(F.count(F.lit(1)).alias("c2"))
        .orderBy(F.col("c2").desc(), F.col("hb").asc())
        .limit(max_bigrams)
    )

    toks = docs.select(F.col(id_col), F.expr(ws).alias("ws"))
    pair_t = (
        "case when size(ws) >= 2 then transform(sequence(2, size(ws)), "
        "i -> struct(element_at(ws, i - 1) as wp, element_at(ws, i) as w)) "
        "else cast(array() as array<struct<wp:string,w:string>>) end"
    )
    pairs = toks.select(id_col, F.explode(F.expr(pair_t)).alias("p")).select(
        id_col,
        F.expr(h(e="p.wp")).alias("hp"),
        F.expr(h(e="p.w")).alias("hw"),
        F.expr(h(e="concat(p.wp, ' ', p.w)")).alias("hb"),
    )
    scored = (
        pairs.join(F.broadcast(c2), "hb", "left")
        .join(
            F.broadcast(c1.select(F.col("h").alias("hp"), F.col("c1").alias("c1p"))),
            "hp",
            "left",
        )
        .join(
            F.broadcast(c1.select(F.col("h").alias("hw"), F.col("c1").alias("c1w"))),
            "hw",
            "left",
        )
        .crossJoin(F.broadcast(total))
        .select(
            id_col,
            F.expr(
                "case when c2 is not null and c1p is not null "
                "then (1000000 * c2) div c1p "
                f"else ({alpha_ppm} * coalesce(c1w, 0L)) div lm_total end"
            ).alias("sp"),
        )
        .groupBy(id_col)
        .agg(F.sum("sp").alias("s"))
    )
    base = docs.select(F.col(id_col), F.expr(f"size({ws})").cast("long").alias("nw"))
    out = base.join(scored, id_col, "left").select(
        F.col(id_col),
        F.expr("case when nw >= 2 then coalesce(s, 0L) div (nw - 1) else 0L end")
        .cast("long")
        .alias("lm_score_ppm"),
    )
    return out.select(
        id_col,
        "lm_score_ppm",
        F.expr(
            f"case when lm_score_ppm >= {head_ppm} then 'head' "
            f"when lm_score_ppm >= {middle_ppm} then 'middle' "
            "else 'tail' end"
        ).alias("lm_bucket"),
    )


def lm_quality_oracle_sql(
    train_pred: str,
    id_col: str = "doc_id",
    table: str = "documents",
    max_vocab: int = 65_536,
    max_bigrams: int = 262_144,
    alpha_ppm: int = LM_ALPHA_PPM,
    head_ppm: int = LM_HEAD_PPM,
    middle_ppm: int = LM_MIDDLE_PPM,
) -> str:
    """DuckDB SQL reproducing lm_quality bit-for-bit: same md5-prefix
    64-bit hashes, same count-desc/hash-asc prune, same integer-ppm
    Stupid-Backoff, same floored-mean document score. ``train_pred`` is
    the SQL predicate selecting the training slice of ``table``."""
    hd = md5_int_duck(15).format
    bigr = "list_transform(generate_series(2, len(ws)), i -> ws[i-1] || ' ' || ws[i])"
    return f"""
    WITH train AS (SELECT {_WS_DUCK} AS ws FROM {table} WHERE {train_pred}),
    uni AS (
      SELECT h, count(*) AS c1 FROM (
        SELECT {hd(e='w')} AS h FROM (SELECT unnest(ws) AS w FROM train)
      ) GROUP BY h ORDER BY c1 DESC, h ASC LIMIT {max_vocab}
    ),
    tot AS (SELECT greatest(coalesce(sum(c1), 0), 1) AS lm_total FROM uni),
    big AS (
      SELECT hb, count(*) AS c2 FROM (
        SELECT {hd(e='bg')} AS hb FROM (SELECT unnest({bigr}) AS bg FROM train)
      ) GROUP BY hb ORDER BY c2 DESC, hb ASC LIMIT {max_bigrams}
    ),
    toks AS (SELECT {id_col}, {_WS_DUCK} AS ws FROM {table}),
    pairs AS (
      SELECT {id_col},
             unnest(list_transform(generate_series(2, len(ws)), i -> ws[i-1])) AS wp,
             unnest(list_transform(generate_series(2, len(ws)), i -> ws[i])) AS w
      FROM toks
    ),
    per AS (
      SELECT p.{id_col},
             CASE WHEN b.c2 IS NOT NULL AND u1.c1 IS NOT NULL
                  THEN (1000000 * b.c2) // u1.c1
                  ELSE ({alpha_ppm} * coalesce(u2.c1, 0)) // t.lm_total END AS sp
      FROM pairs p
      LEFT JOIN big b ON b.hb = {hd(e="p.wp || ' ' || p.w")}
      LEFT JOIN uni u1 ON u1.h = {hd(e='p.wp')}
      LEFT JOIN uni u2 ON u2.h = {hd(e='p.w')}
      CROSS JOIN tot t
    ),
    sums AS (SELECT {id_col}, sum(sp) AS s FROM per GROUP BY {id_col}),
    scored AS (
      SELECT b.{id_col},
             CAST(CASE WHEN b.nw >= 2 THEN coalesce(s, 0) // (b.nw - 1)
                       ELSE 0 END AS BIGINT) AS lm_score_ppm
      FROM (SELECT {id_col}, CAST(len({_WS_DUCK}) AS BIGINT) AS nw
            FROM {table}) b
      LEFT JOIN sums USING ({id_col})
    )
    SELECT {id_col}, lm_score_ppm,
           CASE WHEN lm_score_ppm >= {head_ppm} THEN 'head'
                WHEN lm_score_ppm >= {middle_ppm} THEN 'middle'
                ELSE 'tail' END AS lm_bucket
    FROM scored
    """


# --------------------------------------------------------------------------
# DSIR — data selection with importance resampling (Xie et al. 2023)
# --------------------------------------------------------------------------
# Hashed bag-of-words importance weights: fit unigram bucket counts over a
# TARGET slice (the domain you want more of) and over the RAW corpus, then
# score every document by the sum of per-token log ratios
# log p_target(b) - log p_raw(b) (Laplace-smoothed) and keep docs whose
# total importance is positive (more target-like than raw).
#
# Scale design: fitting is two partial-agg bucket counts (only
# (bucket, count) pairs shuffle — at most n_buckets rows survive); the
# model collect is BOUNDED at 2 x n_buckets rows regardless of corpus size
# (the IVF-centroid precedent); scoring is a pure codegen projection
# against a broadcast literal weight array — the corpus never shuffles.
# Cross-engine determinism: the log-ratio table is computed by ONE pure
# Python function from integer counts both engines reproduce exactly, so
# identical literals feed the Spark plan and the DuckDB oracle (the
# parity-by-construction idiom ivf_oracle_centroids established); the
# per-document scoring is pure integer arithmetic.

DSIR_BUCKETS = 1024
DSIR_SCALE = 1000  # log-ratios in milli-nats


def dsir_log_ratios(
    target_counts: "dict[int, int]",
    raw_counts: "dict[int, int]",
    n_buckets: int = DSIR_BUCKETS,
    scale: int = DSIR_SCALE,
) -> "list[int]":
    """Integer log-ratio weights floor(scale * ln(p_t(b)/p_r(b))) with
    add-one smoothing. Pure Python on bounded integer counts — the single
    source of truth for BOTH engines' literals."""
    import math

    t_total = sum(target_counts.values()) + n_buckets
    r_total = sum(raw_counts.values()) + n_buckets
    return [
        math.floor(
            scale
            * (
                math.log(target_counts.get(b, 0) + 1)
                - math.log(t_total)
                - math.log(raw_counts.get(b, 0) + 1)
                + math.log(r_total)
            )
        )
        for b in range(n_buckets)
    ]


def _dsir_bucket_spark(tok: str, n_buckets: int) -> str:
    return f"cast({md5_int_spark(15).format(e=tok)} % {n_buckets} as int)"


def _dsir_bucket_duck(tok: str, n_buckets: int) -> str:
    return f"CAST({md5_int_duck(15).format(e=tok)} % {n_buckets} AS INT)"


def dsir_fit(
    docs: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    n_buckets: int = DSIR_BUCKETS,
    scale: int = DSIR_SCALE,
) -> "list[int]":
    """Fit the weight table distributively: two hashed-unigram bucket
    counts (partial aggs; only (bucket, count) pairs move), one bounded
    collect of <= 2 x n_buckets rows, then dsir_log_ratios."""
    ws = _WS_SPARK_T.format(col=text_col)
    b = _dsir_bucket_spark("w", n_buckets)

    def counts(df: DataFrame) -> "dict[int, int]":
        rows = (
            df.select(F.explode(F.expr(ws)).alias("w"))
            .select(F.expr(b).alias("b"))
            .groupBy("b")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        )
        return {r["b"]: r["c"] for r in rows}

    return dsir_log_ratios(counts(target), counts(docs), n_buckets, scale)


def dsir_oracle_weights(
    parquet_path: str,
    target_pred: str,
    n_buckets: int = DSIR_BUCKETS,
    scale: int = DSIR_SCALE,
) -> "list[int]":
    """The oracle generator's copy of the fit: identical tokenization,
    hash, and bucketing via DuckDB, then the same dsir_log_ratios — so the
    literals embedded in the oracle SQL equal the ones the Spark plan
    broadcasts."""
    import duckdb

    con = duckdb.connect()
    ws = _WS_DUCK
    b = _dsir_bucket_duck("w", n_buckets)

    def counts(pred: str) -> "dict[int, int]":
        rows = con.execute(
            f"SELECT {b} AS b, count(*) AS c FROM ("
            f"  SELECT unnest({ws}) AS w"
            f"  FROM read_parquet('{parquet_path}') WHERE {pred}"
            f") GROUP BY b"
        ).fetchall()
        return {r[0]: r[1] for r in rows}

    return dsir_log_ratios(counts(target_pred), counts("TRUE"), n_buckets, scale)


def dsir_select(
    docs: DataFrame,
    weights: "list[int]",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score every document against a fitted weight table and flag the
    target-like ones. Returns (id_col, dsir_score_milli, selected) — one
    row per input doc; selected iff the doc's summed importance exceeds
    the CORPUS MEAN importance (strictly). The relative rule is
    self-normalizing: the Laplace-smoothing bias that shifts every
    absolute score identically per token cancels out, so the selection
    stays meaningful at any corpus scale. The comparison is pure integer
    multiply-compare (score * n_docs > sum_scores) — no floor-division
    semantics to diverge between engines.

    Cost: one codegen projection over a broadcast literal array, one
    partial agg over (long, long), one broadcast of a single stats row.
    The corpus never shuffles."""
    n_buckets = len(weights)
    ws = _WS_SPARK_T.format(col=text_col)
    b = _dsir_bucket_spark("t", n_buckets)
    score = (
        f"coalesce(aggregate(transform({ws}, "
        f"t -> element_at(__dsir_w, {b} + 1)), "
        f"cast(0 as bigint), (acc, x) -> acc + x), 0L)"
    )
    scored = docs.withColumn("__dsir_w", F.lit(weights)).select(
        F.col(id_col),
        F.expr(score).cast("long").alias("dsir_score_milli"),
    )
    stats = scored.agg(
        F.sum("dsir_score_milli").alias("__s"),
        F.count(F.lit(1)).alias("__n"),
    )
    return scored.crossJoin(F.broadcast(stats)).select(
        id_col,
        "dsir_score_milli",
        (F.col("dsir_score_milli") * F.col("__n") > F.col("__s")).alias("selected"),
    )


def dsir_select_oracle_sql(
    weights: "list[int]",
    table: str = "documents",
    id_col: str = "doc_id",
) -> str:
    """DuckDB SQL reproducing dsir_select bit-for-bit against the same
    literal weight table."""
    n_buckets = len(weights)
    lit = "[" + ", ".join(str(w) for w in weights) + "]"
    b = _dsir_bucket_duck("t", n_buckets)
    return f"""
    WITH wt AS (SELECT {lit}::BIGINT[] AS w),
    scored AS (
      SELECT {id_col},
             CAST(coalesce(list_aggregate(
               list_transform({_WS_DUCK}, t -> wt.w[{b} + 1]),
               'sum'), 0) AS BIGINT) AS dsir_score_milli
      FROM {table}, wt
    ),
    stats AS (SELECT CAST(sum(dsir_score_milli) AS BIGINT) AS s,
                     CAST(count(*) AS BIGINT) AS n FROM scored)
    SELECT {id_col}, dsir_score_milli,
           dsir_score_milli * stats.n > stats.s AS selected
    FROM scored, stats
    """


# --------------------------------------------------------------------------
# C4-style rule-based cleaning (Raffel et al. 2020, "Exploring the Limits of
# Transfer Learning", section 2.2): the line/document rule filter every
# web-corpus pipeline runs BEFORE dedup and quality models. Line rules:
# keep a line only if it ends in terminal punctuation, has at least
# `min_line_words` whitespace words, and does not mention "javascript".
# Document rules: keep a document only if at least `min_doc_lines` lines
# survive and the raw text contains neither "lorem ipsum" nor a curly
# brace (the paper's code-page heuristic).
#
# Scale design: the whole pass is ONE codegen projection per document —
# split / filter / concat_ws higher-order expressions, zero Python, zero
# shuffle at any corpus size. The dropped text never leaves the scan.
# --------------------------------------------------------------------------

# Terminal-punctuation rule shared by both engines (Java regex and RE2
# agree on this subset: a character class + end anchor). The paper keeps
# lines ending in . ! ? or a closing quote.
_C4_TERMINAL_RE = '[.!?"]$'


def c4_filters(
    docs: DataFrame,
    text_col: str = "text",
    min_line_words: int = 5,
    min_doc_lines: int = 3,
) -> DataFrame:
    """C4 rule filter: per-document `clean_text` (surviving lines joined by
    newline), line counts, and the document-level `keep` verdict.

    Everything is whole-stage-codegen expressions over one pruned scan —
    a 100 TB pass is embarrassingly parallel with no shuffle."""
    ws = _WS_SPARK_T.format(col="l")
    raw = f"coalesce({text_col}, '')"
    kept = (
        f"filter(split({raw}, '\\n'), l -> "
        f"l rlike '{_C4_TERMINAL_RE}' "
        f"AND size({ws}) >= {int(min_line_words)} "
        f"AND NOT contains(lower(l), 'javascript'))"
    )
    return docs.select(
        "doc_id",
        F.expr(f"concat_ws('\\n', {kept})").alias("clean_text"),
        F.expr(f"cast(size({kept}) as bigint)").alias("n_lines_kept"),
        F.expr(f"cast(size(split({raw}, '\\n')) as bigint)").alias(
            "n_lines_total"
        ),
        F.expr(
            f"size({kept}) >= {int(min_doc_lines)} "
            f"AND NOT contains(lower({raw}), 'lorem ipsum') "
            f"AND NOT contains({raw}, '{{')"
        ).alias("keep"),
    )


def c4_filters_oracle_sql(
    table: str = "documents",
    text_col: str = "text",
    min_line_words: int = 5,
    min_doc_lines: int = 3,
) -> str:
    """DuckDB SQL reproducing c4_filters bit-for-bit (same regex subset,
    same word-split, same gates)."""
    raw = f"coalesce({text_col}, '')"
    kept = (
        f"list_filter(string_split({raw}, chr(10)), l -> "
        f"regexp_matches(l, '{_C4_TERMINAL_RE}') "
        f"AND len(list_filter(string_split(lower(l), ' '), w -> w != '')) "
        f">= {int(min_line_words)} "
        f"AND NOT contains(lower(l), 'javascript'))"
    )
    return f"""
    SELECT doc_id,
           coalesce(array_to_string({kept}, chr(10)), '') AS clean_text,
           CAST(len({kept}) AS BIGINT) AS n_lines_kept,
           CAST(len(string_split({raw}, chr(10))) AS BIGINT) AS n_lines_total,
           (len({kept}) >= {int(min_doc_lines)}
            AND NOT contains(lower({raw}), 'lorem ipsum')
            AND NOT contains({raw}, '{{')) AS keep
    FROM {table}
    """


# --------------------------------------------------------------------------
# Corpus report: the per-(lang, source) summary every pipeline materializes
# before and after curation to sanity-check mixture proportions. One
# map-side-combinable groupBy — the only shuffle moves one tiny row per
# (lang, source) pair per task, never text.
# --------------------------------------------------------------------------


def corpus_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-(lang, source) document/token/char totals and token-count
    min/max. Token = whitespace word, NULL text = 0 tokens (doc still
    counted)."""
    ws = _WS_SPARK_T.format(col=text_col)
    toks = F.expr(f"cast(size({ws}) as bigint)")
    return (
        docs.select(
            "lang",
            "source",
            toks.alias("__t"),
            F.length(F.coalesce(F.col(text_col), F.lit(""))).cast("long").alias("__c"),
        )
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("__t").alias("total_tokens"),
            F.sum("__c").alias("total_chars"),
            F.min("__t").alias("min_tokens"),
            F.max("__t").alias("max_tokens"),
        )
    )


def corpus_stats_oracle_sql(
    table: str = "documents", text_col: str = "text"
) -> str:
    duck_ws = (
        f"list_filter(string_split(lower(coalesce({text_col}, '')), ' '), "
        "w -> w != '')"
    )
    return f"""
    SELECT lang, source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len({duck_ws})) AS BIGINT) AS total_tokens,
           CAST(sum(length(coalesce({text_col}, ''))) AS BIGINT) AS total_chars,
           CAST(min(len({duck_ws})) AS BIGINT) AS min_tokens,
           CAST(max(len({duck_ws})) AS BIGINT) AS max_tokens
    FROM {table}
    GROUP BY lang, source
    """
