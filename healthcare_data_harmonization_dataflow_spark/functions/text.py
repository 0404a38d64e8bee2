"""Text-analysis functions for training-data pipelines.

Language-ID (stopword-profile heuristic), quality scoring, token counting,
and document fingerprinting — all pure Catalyst expressions (higher-order
functions over the token array), zero Python, so a 100 TB corpus pass stays
inside whole-stage codegen. Each has a matching DuckDB oracle generator
using the same constants, so the driver's correctness gate verifies values
bit-for-bit (fixed-point where float rounding could diverge).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_SPARK_WORDS = "filter(split(lower(text), ' '), w -> w != '')"
_DUCK_WORDS = "list_filter(string_split(lower(text), ' '), w -> w != '')"

# tiny deterministic stopword profiles (shared constants, both engines)
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "it"),
    "es": ("el", "la", "de", "que", "y", "en", "los", "se"),
    "de": ("der", "die", "das", "und", "ist", "von", "zu", "den"),
    "fr": ("le", "la", "de", "et", "les", "des", "en", "un"),
    "zh": ("的", "是", "在", "了", "和", "有", "我", "不"),
}

FP_P = 2147483647  # fingerprint modulus (2^31-1)
FP_MULT = 31


def _in_list(var: str, words: tuple[str, ...]) -> str:
    return "(" + " OR ".join(f"{var} = '{w}'" for w in words) + ")"


# ------------------------------------------------------------- token count
def token_count_col() -> Column:
    """Whitespace token count (BPE-ish refinement: also count word pieces
    split at letter/digit boundaries)."""
    return F.expr(f"size({_SPARK_WORDS})").cast("long")


def token_count_oracle_expr() -> str:
    return f"CAST(len({_DUCK_WORDS}) AS BIGINT)"


def bpe_ish_token_count_col() -> Column:
    """Sub-word-ish token count: split on whitespace AND letter/digit/punct
    boundaries (a cheap BPE proxy). Pure regexp, JVM-side."""
    return F.expr(
        r"size(filter(split(regexp_replace(lower(text), '(\\d+|[^a-z0-9\\s]+)', ' $1 '), '\\s+'), w -> w != ''))"
    ).cast("long")


# ------------------------------------------------------------ quality score
def quality_cols() -> list[Column]:
    """Length / punctuation-ratio / stopword-ratio quality signals, scaled to
    fixed-point (x1e6, floor) for cross-engine exactness."""
    n_words = f"size({_SPARK_WORDS})"
    n_stop = f"size(filter({_SPARK_WORDS}, w -> {_in_list('w', LANG_PROFILES['en'])}))"
    n_punct = "length(regexp_replace(text, '[^.,;:!?]', ''))"
    return [
        F.expr("length(text)").cast("long").alias("n_chars_measured"),
        F.expr(n_words).cast("long").alias("n_words"),
        F.expr(f"cast(floor({n_stop} * 1000000.0 / greatest({n_words}, 1)) as bigint)").alias(
            "stopword_ratio_ppm"
        ),
        F.expr(
            f"cast(floor({n_punct} * 1000000.0 / greatest(length(text), 1)) as bigint)"
        ).alias("punct_ratio_ppm"),
    ]


def quality_oracle_sql() -> str:
    n_words = f"len({_DUCK_WORDS})"
    n_stop = f"len(list_filter({_DUCK_WORDS}, w -> {_in_list('w', LANG_PROFILES['en'])}))"
    n_punct = "length(regexp_replace(text, '[^.,;:!?]', '', 'g'))"
    return f"""
    SELECT doc_id,
      CAST(length(text) AS BIGINT) AS n_chars_measured,
      CAST({n_words} AS BIGINT) AS n_words,
      CAST(floor({n_stop} * 1000000.0 / greatest({n_words}, 1)) AS BIGINT) AS stopword_ratio_ppm,
      CAST(floor({n_punct} * 1000000.0 / greatest(length(text), 1)) AS BIGINT) AS punct_ratio_ppm
    FROM documents
    """


# ---------------------------------------------------------------- lang id
def langid_col() -> Column:
    """Predicted language = argmax of stopword-profile hit counts (ties ->
    lexicographically smallest language code; 'und' when all zero)."""
    counts = {
        lang: f"size(filter({_SPARK_WORDS}, w -> {_in_list('w', words)}))"
        for lang, words in LANG_PROFILES.items()
    }
    langs = sorted(LANG_PROFILES)  # deterministic tie order
    best = f"greatest({', '.join(counts[lg] for lg in langs)})"
    case = " ".join(f"when {counts[lg]} = _best then '{lg}'" for lg in langs)
    return F.expr(
        f"case when _best = 0 then 'und' {case} end".replace("_best", f"({best})")
    ).alias("pred_lang")


def langid_oracle_sql() -> str:
    counts = {
        lang: f"len(list_filter({_DUCK_WORDS}, w -> {_in_list('w', words)}))"
        for lang, words in LANG_PROFILES.items()
    }
    langs = sorted(LANG_PROFILES)
    best = f"greatest({', '.join(counts[lg] for lg in langs)})"
    case = " ".join(f"WHEN {counts[lg]} = ({best}) THEN '{lg}'" for lg in langs)
    return f"""
    SELECT doc_id, lang,
           CASE WHEN ({best}) = 0 THEN 'und' {case} END AS pred_lang
    FROM documents
    """


# ------------------------------------------------------------- fingerprint
def fingerprint_col() -> Column:
    """Order-sensitive rolling document fingerprint:
    fold over words of (acc*31 + md5_int(word) mod P) mod P.
    Deterministic, sequence-aware (unlike a bag-of-words hash)."""
    wh = "cast(conv(substring(md5(w),1,15),16,10) as bigint)"
    return F.expr(
        f"aggregate({_SPARK_WORDS}, 0L, (acc, w) -> (acc * {FP_MULT} + ({wh} % {FP_P})) % {FP_P})"
    ).alias("fingerprint")


def fingerprint_oracle_sql() -> str:
    wh = "CAST(concat('0x', substr(md5(w),1,15)) AS BIGINT)"
    return f"""
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
                          list_transform({_DUCK_WORDS}, w -> {wh} % {FP_P})),
             (acc, h) -> (acc * {FP_MULT} + h) % {FP_P}
           ) AS fingerprint
    FROM documents
    """


# ------------------------------------------------------------ normalization
# Dedup-preprocessing canonical form (the normalization MinHash/suffix
# pipelines apply before shingling — cf. Lee et al. 2022 section 4.1):
# lowercase, punctuation -> space, digit runs -> '0', whitespace collapse,
# trim. Java's \p{Punct} and RE2's [[:punct:]] are the same 32 ASCII
# characters, and the explicit [ \t\n\r]+ class avoids the one place the
# two engines' \s definitions differ (\x0B). Pure regexp codegen: a
# 100 TB normalization pass is one pruned scan with zero shuffle.


def normalize_cols(text_col: str = "text") -> list:
    norm = (
        "trim(regexp_replace(regexp_replace(regexp_replace("
        f"lower(coalesce({text_col}, '')), "
        "'\\\\p{Punct}', ' '), "
        "'[0-9]+', '0'), "
        "'[ \\t\\n\\r]+', ' '))"
    )
    return [
        F.expr(norm).alias("norm_text"),
        F.expr(f"md5({norm})").alias("norm_hash"),
    ]


def normalize_oracle_sql(table: str = "documents", text_col: str = "text") -> str:
    norm = (
        "trim(regexp_replace(regexp_replace(regexp_replace("
        f"lower(coalesce({text_col}, '')), "
        "'[[:punct:]]', ' ', 'g'), "
        "'[0-9]+', '0', 'g'), "
        "'[ \t\n\r]+', ' ', 'g'))"
    )
    return f"""
    SELECT doc_id,
           {norm} AS norm_text,
           md5({norm}) AS norm_hash
    FROM {table}
    """


def normalize_documents(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """doc_id + canonical `norm_text` + its md5 `norm_hash` — the exact
    form to feed exact dedup / MinHash shingling so trivially-variant
    documents (case, punctuation, number strings, spacing) collide."""
    return docs.select("doc_id", *normalize_cols(text_col))
