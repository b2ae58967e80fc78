"""Composed training-data cleaning pipeline over the documents table.

The end-to-end shape a 100 TB pretraining-corpus pass runs: quality gate ->
exact dedup -> near-dup clustering, emitting one status per document. Each
gate is the corresponding standalone operator (textstats quality score,
sha256 grouping, MinHash-LSH verified pairs) and the near-dup clusters are
resolved with the SAME connected-components canonicalizer the KG pipeline
uses (cc.py) — duplicate clusters keep their numeric-min doc_id, everything
else in the cluster is tagged.

Status priority (first failing gate wins, deterministic):
  low_quality  quality < quality_min
  exact_dup    not the min doc_id of its sha256(text) group
  near_dup     not the min doc_id of its MinHash-verified duplicate cluster
  kept         otherwise

Plan shape at scale: quality is pure codegen projection (zero shuffles);
exact dedup is one shuffle on a uniform hash key; the near-dup pair join is
the banded MinHash path (bounded buckets, exact verify) + CC over the
(tiny relative to corpus) duplicate-pair graph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from grepai_spark.cc import connected_components
from grepai_spark.dedup import JACCARD_THRESHOLD, minhash_lsh_pairs
from grepai_spark.textstats import quality_score_sql

QUALITY_MIN = 0.8
_PAD = 12  # zero-pad doc ids so the CC string min == numeric min


def corpus_clean(
    docs: DataFrame,
    quality_min: float = QUALITY_MIN,
    threshold: float = JACCARD_THRESHOLD,
) -> DataFrame:
    """(doc_id, quality, status) for every document.

    Construction runs Spark jobs: the shared per-doc gates and the MinHash
    candidate table are materialized once (localCheckpoint), and the
    near-dup component map comes from ITERATIVE connected components, whose
    convergence loop is inherently eager (cc.py).
    """
    # ONE corpus scan computes both per-doc gates (quality score + content
    # hash), materialized once: `base` feeds the quality projection, the
    # exact-dup census and its join-back, and the final assembly — unshared,
    # each consumer re-scans the corpus and re-hashes every document.
    # Tokenization staged (r7): inlined, the regex-split token expression
    # appears ~5x inside the quality score and HOF lambdas defeat
    # subexpression elimination (the _text_stats_select discipline).
    from grepai_spark.dedup import tokens_sql

    base = docs.withColumn("_cc_toks", F.expr(tokens_sql("text"))).select(
        "doc_id",
        F.round(
            F.expr(quality_score_sql("text", toks="_cc_toks")), 6
        ).alias("quality"),
        F.sha2(F.col("text"), 256).alias("h"),
    ).localCheckpoint(eager=True)
    q = base.select("doc_id", "quality")
    h = base.select("doc_id", "h")
    exact_min = h.groupBy("h").agg(F.min("doc_id").alias("keep_id"))
    exact = h.join(exact_min, "h").select(
        "doc_id", (F.col("doc_id") != F.col("keep_id")).alias("is_exact_dup")
    )
    pairs = minhash_lsh_pairs(docs, threshold=threshold).select(
        F.lpad(F.col("a_id").cast("string"), _PAD, "0").alias("src"),
        F.lpad(F.col("b_id").cast("string"), _PAD, "0").alias("dst"),
    )
    comp = connected_components(pairs).select(
        F.col("node").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("component"),
    )
    status = (
        F.when(F.col("quality") < quality_min, "low_quality")
        .when(F.col("is_exact_dup"), "exact_dup")
        .when(
            F.col("component").isNotNull()
            & (F.col("component") != F.col("doc_id")),
            "near_dup",
        )
        .otherwise("kept")
    )
    return (
        q.join(exact, "doc_id")
        .join(comp, "doc_id", "left")
        .select("doc_id", "quality", status.alias("status"))
    )


def corpus_clean_oracle(
    quality_min: float = QUALITY_MIN,
    threshold: float = JACCARD_THRESHOLD,
) -> str:
    from grepai_spark.dedup import minhash_lsh_pairs_oracle

    qscore = quality_score_sql("text", "duckdb")
    return f"""
WITH RECURSIVE
pairs AS (
  SELECT a_id AS src, b_id AS dst
  FROM ({minhash_lsh_pairs_oracle(threshold)}) p
),
bidir AS (
  SELECT src AS a, dst AS b FROM pairs
  UNION SELECT dst AS a, src AS b FROM pairs
),
pn AS (SELECT DISTINCT a FROM bidir),
reach AS (
  SELECT a, a AS b FROM pn
  UNION
  SELECT r.a, e.b FROM reach r JOIN bidir e ON r.b = e.a
),
comp AS (SELECT a AS doc_id, min(b) AS component FROM reach GROUP BY a),
q AS (SELECT doc_id, round({qscore}, 6) AS quality, sha256(text) AS h
      FROM documents),
em AS (SELECT h, min(doc_id) AS keep_id FROM q GROUP BY h)
SELECT q.doc_id, q.quality,
       CASE WHEN q.quality < {quality_min} THEN 'low_quality'
            WHEN q.doc_id <> em.keep_id THEN 'exact_dup'
            WHEN comp.component IS NOT NULL AND comp.component <> q.doc_id
                 THEN 'near_dup'
            ELSE 'kept' END AS status
FROM q
JOIN em ON q.h = em.h
LEFT JOIN comp ON q.doc_id = comp.doc_id
""".strip()
