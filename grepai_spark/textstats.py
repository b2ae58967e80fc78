"""Text analysis operators — language ID, quality scoring, token counting,
document fingerprinting.

Generalizes the reference's text normalization/scoring toolbox — tokenize +
short-word drop (/root/reference/search/hybrid.go:92-102), feature
normalization (rpg/features.go:11-25), token estimation `len/4`
(embedder/batch.go:14-18), content hashing (indexer/scanner.go:252) — into
the per-document quality stage a training-data pipeline runs before dedup
and sampling. Everything is built-in SQL expressions in BOTH dialects (no
UDFs): per-row map work that pipelines inside a single WholeStageCodegen
stage with the parquet scan — zero shuffles for the whole family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from grepai_spark.dedup import tokens_sql

# Tiny fixed stopword profiles (n-gram heuristic lexicons). Deterministic,
# inlined into both dialects.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "with", "for", "on"],
    "fr": ["le", "la", "les", "de", "et", "un", "une", "est", "pour", "dans"],
    "de": ["der", "die", "das", "und", "ein", "ist", "mit", "von", "zu", "den"],
    "es": ["el", "la", "los", "de", "y", "un", "una", "es", "para", "en"],
}
LANG_ORDER = ["en", "fr", "de", "es"]  # deterministic tie-break priority

FINGERPRINT_GRAM = 4
FINGERPRINT_PREFIX = 256
FINGERPRINT_K = 4
TOKEN_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"  # BPE-ish split on lowered text


def _str_list(vals: list[str], dialect: str) -> str:
    body = ", ".join(f"'{v}'" for v in vals)
    return f"array({body})" if dialect == "spark" else f"[{body}]"


def _hits_sql(toks: str, words: list[str], dialect: str) -> str:
    """Count token OCCURRENCES that are in `words` (not distinct overlap)."""
    lst = _str_list(words, dialect)
    if dialect == "spark":
        return f"size(filter({toks}, t -> array_contains({lst}, t)))"
    return f"len(list_filter({toks}, t -> list_contains({lst}, t)))"


def lang_scores_sql(
    col: str, dialect: str = "spark", toks: str | None = None
) -> dict[str, str]:
    """`toks` (r7): an already-bound token-array column name — hot Spark
    paths stage the tokenization once per row and pass its column here,
    because Catalyst cannot hoist subexpressions out of higher-order-
    function lambdas (the shingles_from_tokens_sql lesson). Defaults inline
    the split, which is what the (frozen) oracle generators emit."""
    toks = toks or tokens_sql(col, dialect)
    return {
        lang: _hits_sql(toks, words, dialect)
        for lang, words in LANG_STOPWORDS.items()
    }


def lang_pred_sql(
    col: str,
    dialect: str = "spark",
    scores: dict[str, str] | None = None,
) -> str:
    """argmax over the per-language stopword-hit scores with the fixed
    LANG_ORDER tie-break; all-zero scores fall back to 'und'. `scores`
    (r7): pre-staged per-language hit columns — the inline default embeds
    each score expression ~4x in the comparison chain."""
    s = scores or lang_scores_sql(col, dialect)
    first = LANG_ORDER[0]
    any_hit = " + ".join(f"({s[lang]})" for lang in LANG_ORDER)
    branches = []
    for i, lang in enumerate(LANG_ORDER):
        later = LANG_ORDER[i + 1 :]
        conds = " AND ".join(
            f"({s[lang]}) >= ({s[o]})" for o in later
        ) or "TRUE"
        branches.append(f"WHEN {conds} THEN '{lang}'")
    chain = " ".join(branches)
    return f"CASE WHEN ({any_hit}) = 0 THEN 'und' ELSE CASE {chain} ELSE '{LANG_ORDER[-1]}' END END"


def quality_sql(
    col: str,
    dialect: str = "spark",
    toks: str | None = None,
    en: str | None = None,
) -> dict[str, str]:
    """Per-document quality metrics, identical SQL semantics per dialect.
    `toks` / `en` (r7): pre-staged token-array / english-hit columns for
    hot Spark paths (see lang_scores_sql)."""
    toks = toks or tokens_sql(col, dialect)
    en = en or _hits_sql(toks, LANG_STOPWORDS["en"], dialect)
    if dialect == "spark":
        n_tok = f"size({toks})"
        alpha = f"length(regexp_replace(lower({col}), '[^a-z]', ''))"
        tok_chars = (
            f"aggregate({toks}, 0, (acc, t) -> acc + length(t))"
        )
    else:
        n_tok = f"len({toks})"
        alpha = f"length(regexp_replace(lower({col}), '[^a-z]', '', 'g'))"
        tok_chars = (
            f"list_sum(list_transform({toks}, t -> length(t)))"
        )
    n_chars = f"length({col})"
    return {
        "n_chars": f"CAST({n_chars} AS BIGINT)",
        "n_tokens": f"CAST({n_tok} AS BIGINT)",
        "avg_token_len": (
            f"round(CASE WHEN {n_tok} = 0 THEN 0.0"
            f" ELSE CAST({tok_chars} AS DOUBLE) / {n_tok} END, 6)"
        ),
        "alpha_ratio": (
            f"round(CASE WHEN {n_chars} = 0 THEN 0.0"
            f" ELSE CAST({alpha} AS DOUBLE) / {n_chars} END, 6)"
        ),
        "stopword_ratio": (
            f"round(CASE WHEN {n_tok} = 0 THEN 0.0"
            f" ELSE CAST({en} AS DOUBLE) / {n_tok} END, 6)"
        ),
    }


def quality_score_sql(
    col: str,
    dialect: str = "spark",
    toks: str | None = None,
    en: str | None = None,
) -> str:
    """Scalar [0,1] quality score: penalize empty/short docs, reward
    alphabetic content and a sane stopword rate. Fixed linear blend —
    deterministic and cheap (single pass). `toks`/`en` as in quality_sql."""
    q = quality_sql(col, dialect, toks=toks, en=en)
    len_term = (
        f"CASE WHEN {q['n_tokens']} >= 20 THEN 1.0"
        f" ELSE CAST({q['n_tokens']} AS DOUBLE) / 20 END"
    )
    return (
        f"round(0.4 * ({len_term}) + 0.4 * {q['alpha_ratio']}"
        f" + 0.2 * CASE WHEN {q['stopword_ratio']} > 0.05 THEN 1.0 ELSE 0.0 END, 6)"
    )


def token_counts_sql(col: str, dialect: str = "spark") -> dict[str, str]:
    """Whitespace token count, token-estimate len/4 (the reference's
    embedder/batch.go:14-18 rule), and a BPE-ish regex piece count."""
    if dialect == "spark":
        ws = (
            f"size(filter(split({col}, '[ \\\\t\\\\n]+'), x -> x != ''))"
        )
        bpe = f"size(regexp_extract_all(lower({col}), '{TOKEN_RE}', 0))"
    else:
        ws = (
            f"len(list_filter(regexp_split_to_array({col}, '[ \\t\\n]+'),"
            f" x -> x != ''))"
        )
        bpe = f"len(regexp_extract_all(lower({col}), '{TOKEN_RE}'))"
    est = f"CAST(ceil(length({col}) / 4.0) AS BIGINT)"
    return {
        "ws_tokens": f"CAST({ws} AS BIGINT)",
        "token_estimate": est,
        "bpe_pieces": f"CAST({bpe} AS BIGINT)",
    }


def fingerprint_sql(
    col: str,
    dialect: str = "spark",
    gram: int = FINGERPRINT_GRAM,
    prefix: int = FINGERPRINT_PREFIX,
    k: int = FINGERPRINT_K,
) -> str:
    """Winnowing-style fingerprint: the k smallest md5s of character
    `gram`-grams over the first `prefix` chars, concatenated.

    Rolling-hash analog with md5 as the gram hash; md5 hex order is identical
    across engines so the k-minima agree. The prefix cap bounds per-row work
    at O(prefix) regardless of document size."""
    if dialect == "spark":
        head = f"substring(lower({col}), 1, {prefix})"
        grams = (
            f"CASE WHEN length({head}) < {gram} THEN array(md5({head})) "
            f"ELSE transform(sequence(1, length({head}) - {gram - 1}),"
            f" i -> md5(substring({head}, i, {gram}))) END"
        )
        return f"concat_ws('', slice(array_sort(array_distinct({grams})), 1, {k}))"
    head = f"substr(lower({col}), 1, {prefix})"
    grams = (
        f"CASE WHEN length({head}) < {gram} THEN [md5({head})] "
        f"ELSE list_transform(range(1, length({head}) - {gram - 2}),"
        f" i -> md5(substr({head}, i, {gram}))) END"
    )
    return (
        f"array_to_string(list_sort(list_distinct({grams}))[1:{k}], '')"
    )


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------

def lang_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    scores = lang_scores_sql(text_col)
    return docs.select(
        "doc_id",
        F.expr(lang_pred_sql(text_col)).alias("pred_lang"),
        *[
            F.expr(scores[lang]).cast("int").alias(f"hits_{lang}")
            for lang in LANG_ORDER
        ],
    )


def text_quality(docs: DataFrame, text_col: str = "text") -> DataFrame:
    q = quality_sql(text_col)
    return docs.select(
        "doc_id",
        *[F.expr(expr).alias(name) for name, expr in q.items()],
        F.expr(quality_score_sql(text_col)).alias("quality"),
    )


def token_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    t = token_counts_sql(text_col)
    return docs.select(
        "doc_id", *[F.expr(expr).alias(name) for name, expr in t.items()]
    )


def doc_fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    return docs.select(
        "doc_id", F.expr(fingerprint_sql(text_col)).alias("fingerprint")
    )


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

def text_quality_oracle() -> str:
    q = quality_sql("text", "duckdb")
    cols = ", ".join(f"{expr} AS {name}" for name, expr in q.items())
    return (
        f"SELECT doc_id, {cols},"
        f" {quality_score_sql('text', 'duckdb')} AS quality FROM documents"
    )
