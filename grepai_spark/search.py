"""Retrieval operators — the reference's query side (SURVEY.md §2.5).

Q1 brute-force cosine top-k       (ref: /root/reference/store/gob.go:66-94)
Q3 text search                    (ref: search/hybrid.go:14-55)
Q4 reciprocal rank fusion          (ref: search/hybrid.go:60-89, k=60
                                   search/search.go:80-83)
Q5 structural boost               (ref: search/boost.go:14-55)
Q6 dedup-by-key top-1             (ref: search/dedup.go:6-17)
Q7 orchestration                  (ref: search/search.go:29-64)

All scoring stays JVM-side (zip_with/aggregate/array_intersect inside
whole-stage codegen); `orderBy(desc).limit(k)` lets Catalyst plan
TakeOrderedAndProject — per-partition top-k then a tiny merge, never a full
sort at scale. Every ordering carries a deterministic id tie-break (the
reference's reproducibility discipline, rpg/hierarchy.go:46-96).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dot_score(vec_col: str, query_vec: list[float]) -> F.Column:
    """Dot product of a float-array column with a literal query vector
    (ann.dot_sql); off-width or NULL vectors score NULL. Inputs are
    L2-normalized by the encoder, so dot == cosine."""
    from grepai_spark.ann import dot_sql

    return F.expr(dot_sql(vec_col, query_vec))


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Brute-force cosine top-k (Q1). At scale Catalyst turns the
    orderBy+limit into TakeOrderedAndProject: each partition keeps k rows,
    only k*partitions rows reach the driver-side merge."""
    return (
        df.withColumn("score", F.round(dot_score(vec_col, query_vec), 6))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
        .select(id_col, "score")
    )


def tokenize_query(query: str) -> list[str]:
    """Lowercase, drop words shorter than 2 chars (ref: search/hybrid.go:92-102)."""
    import re

    return sorted(
        {t for t in re.split(r"[^0-9a-z]+", query.lower()) if len(t) >= 2}
    )


def text_search(
    docs: DataFrame,
    query: str,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Word-match scoring: |query words found in doc| / |query words| (Q3)."""
    qtok = tokenize_query(query)
    if not qtok:
        return docs.select(id_col).limit(0).withColumn(
            "score", F.lit(0.0)
        )
    doc_tokens = F.array_distinct(
        F.split(F.lower(F.col(text_col)), r"[^0-9a-z]+")
    )
    score = F.round(
        F.size(F.array_intersect(doc_tokens, F.lit(qtok)))
        / F.lit(float(len(qtok))),
        6,
    )
    return (
        docs.withColumn("score", score)
        .where(F.col("score") > 0)
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
        .select(id_col, "score")
    )


def rrf_fuse(
    lists: list[DataFrame],
    id_col: str,
    k: int = 60,
    limit: int | None = None,
) -> DataFrame:
    """Reciprocal rank fusion: score[id] = sum over lists of 1/(k + rank),
    rank starting at 1 (Q4; ref formula 1/(k+rank+1) with 0-based rank,
    search/hybrid.go:75-78)."""
    ranked = []
    for df in lists:
        w = Window.orderBy(F.desc("score"), F.asc(id_col))
        ranked.append(
            df.select(id_col, F.row_number().over(w).alias("rank"))
        )
    u = ranked[0]
    for r in ranked[1:]:
        u = u.unionByName(r)
    fused = u.groupBy(id_col).agg(
        F.round(F.sum(1.0 / (F.lit(k) + F.col("rank"))), 6).alias("score")
    )
    out = fused.orderBy(F.desc("score"), F.asc(id_col))
    return out.limit(limit) if limit else out


def apply_boost(
    df: DataFrame,
    patterns: list[tuple[str, float]],
    field: str,
    score_col: str = "score",
) -> DataFrame:
    """Multiply score by per-pattern factors on substring match (Q5;
    ref: search/boost.go:14-55). Product of all matching factors."""
    factor = F.lit(1.0)
    for pat, f_ in patterns:
        factor = factor * F.when(
            F.col(field).contains(pat), F.lit(f_)
        ).otherwise(F.lit(1.0))
    return df.withColumn(
        score_col, F.round(F.col(score_col) * factor, 6)
    )


def dedup_top1(
    df: DataFrame,
    key: str,
    score_col: str = "score",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep the highest-scoring row per key (Q6; ref: search/dedup.go:6-17).
    Window top-1 — at scale a partial agg per partition then one shuffle on
    key, no global sort."""
    w = Window.partitionBy(key).orderBy(F.desc(score_col), F.asc(id_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def hybrid_search(
    docs_with_vec: DataFrame,
    query: str,
    query_vec: list[float],
    limit: int = 10,
    rrf_k: int = 60,
    boost_patterns: list[tuple[str, float]] | None = None,
    dedup_key: str | None = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Full search orchestration (Q7; ref Searcher.Search search/search.go:29-64):
    vector top-k + text top-k -> RRF -> boost -> dedup-by-source -> limit.
    Over-fetch 4x before dedup like the reference (search/search.go:35-39).
    """
    fetch = limit * 4
    vec = cosine_topk(
        docs_with_vec, query_vec, fetch, vec_col="embedding", id_col=id_col
    )
    txt = text_search(docs_with_vec, query, fetch, id_col=id_col)
    fused = rrf_fuse([vec, txt], id_col=id_col, k=rrf_k)
    enriched = fused.join(
        docs_with_vec.select(id_col, "source"), id_col
    )
    if boost_patterns:
        enriched = apply_boost(enriched, boost_patterns, field="source")
    if dedup_key:
        enriched = dedup_top1(enriched, dedup_key, id_col=id_col)
    return (
        enriched.orderBy(F.desc("score"), F.asc(id_col))
        .limit(limit)
        .select(id_col, "source", "score")
    )
