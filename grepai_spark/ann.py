"""Approximate nearest neighbour / embedding similarity operators.

The reference answers vector queries three ways: brute-force cosine over every
chunk (/root/reference/store/gob.go:66-94), pgvector `<=>` index scans
(store/postgres.go:144-160), and Qdrant HNSW (store/qdrant.go:76-107). On
Spark the brute-force path stays (TakeOrderedAndProject — see search.cosine_topk);
this module adds the two scale paths a 100 TB embedding corpus needs:

* IVF top-k     — coarse cells (the `label` column plays the trained
                  quantizer's cell id), rank cells by centroid~query cosine,
                  probe the best `nprobe` cells, exact search inside. At scale
                  the cell ranking touches `n_cells` rows and the probe scans
                  ~nprobe/n_cells of the corpus — the standard IVF trade.
* sign-LSH      — random-hyperplane buckets (deterministic ±1 planes derived
                  from md5, inlined as literals into BOTH the Spark plan and
                  the DuckDB oracle); same-bucket candidates only.
* near-dup      — cell-blocked exact-cosine pair join (embedding-cosine
                  near-duplicate detection for training-data dedup).

Everything is built-in expressions (zip_with/aggregate) — JVM-side, inside
whole-stage codegen; no Python in the hot path. The wide projections are
built as SQL text, not Column calls (see the dedup module docstring).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from grepai_spark.skew import capped_block_pairs

EMBED_TABLE_DIM = 64  # driver's embeddings.parquet vector width
N_PLANES = 8
NEAR_DUP_COS = 0.4
IVF_NPROBE = 2
# per-cell membership cap for the near-dup pair join — the reference's
# block-cap skew guard (/root/reference/rpg/indexer.go:20): one hot cell
# must never go O(k^2) at corpus scale. skew.capped_block_pairs applies it,
# per cell and per LSH bucket.
NEAR_DUP_CELL_CAP = 1000


def planes(
    n_planes: int = N_PLANES, dim: int = EMBED_TABLE_DIM, seed: int = 0
) -> list[list[float]]:
    """Deterministic ±1 hyperplanes: sign of md5("p:d") (seed 0, the original
    set) or md5("s{seed}:p:d") (independent sets for OR-amplification).
    Literal constants, so Spark and DuckDB agree bit-for-bit on every plane
    coefficient."""
    out = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            key = f"{p}:{d}" if seed == 0 else f"s{seed}:{p}:{d}"
            h = hashlib.md5(key.encode()).hexdigest()
            row.append(1.0 if h[0] >= "8" else -1.0)
        out.append(row)
    return out


def _arr_lit(vals: list[float], dialect: str) -> str:
    """Array literal cast to double explicitly — bare decimal-point literals
    parse as DECIMAL in both engines, which would change arithmetic types."""
    body = ", ".join(f"{v:.1f}" if v in (1.0, -1.0) else repr(v) for v in vals)
    if dialect == "spark":
        return f"CAST(array({body}) AS array<double>)"
    return f"CAST([{body}] AS DOUBLE[])"


def _fold_dot(a_sql: str, b_sql: str) -> str:
    """Left-to-right dot of two array<double> expressions; NULL if either
    side is NULL, holds a NULL or has another width (zip_with pads with
    NULL). It is the one Spark dot form because the unrolled codegen chains
    it replaced measured slower on 4 cores under C1 JIT (traced perfbench
    curate: cosine_topk p50 0.32-0.33 -> 0.12-0.14 s)."""
    return (
        f"aggregate(zip_with({a_sql}, {b_sql}, (x, y) -> x * y),"
        f" CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def dot_sql(vec_col: str, vals: list[float], dialect: str = "spark") -> str:
    """Dot product of an array column with a literal vector — same sequential
    accumulation order in both engines -> same IEEE result."""
    lit = _arr_lit(vals, dialect)
    if dialect == "spark":
        return _fold_dot(f"CAST({vec_col} AS array<double>)", lit)
    return f"list_dot_product(CAST({vec_col} AS DOUBLE[]), {lit})"


def bucket_sql(
    vec_col: str,
    n_planes: int = N_PLANES,
    dim: int = EMBED_TABLE_DIM,
    dialect: str = "spark",
    seed: int = 0,
) -> str:
    """Sign-LSH bucket id as an n_planes-char '01' string.

    Spark folds ONE array<array<double>> literal of the planes with one
    transform, each plane's bit the same _fold_dot as dot_sql (same order,
    same bits): Catalyst analyzes every array literal's cast on its own, and
    one literal per plane cost 0.5 s of analysis per near_dup_lsh_pairs
    call (16 sets x 4 planes)."""
    ps = planes(n_planes, dim, seed)
    if dialect == "spark":
        rows = ", ".join(
            "array(" + ", ".join(f"{v:.1f}" for v in p) + ")" for p in ps
        )
        dot = _fold_dot(f"CAST({vec_col} AS array<double>)", "p")
        return (
            f"array_join(transform(CAST(array({rows}) AS array<array<double>>),"
            f" p -> IF({dot} >= 0, '1', '0')), '')"
        )
    return " || ".join(
        f"CASE WHEN {dot_sql(vec_col, p, dialect)} >= 0 THEN '1' ELSE '0' END"
        for p in ps
    )


def py_bucket(vec: list[float], n_planes: int = N_PLANES) -> str:
    """Driver-side twin for query vectors."""
    ps = planes(n_planes, len(vec))
    out = []
    for p in ps:
        acc = 0.0
        for x, y in zip(vec, p):
            acc += float(x) * y
        out.append("1" if acc >= 0 else "0")
    return "".join(out)


def probe_buckets(qb: str, hamming: int = 1) -> list[str]:
    """Multi-probe bucket list: the query's bucket plus every bucket within
    the given Hamming distance (flip each bit once for hamming=1 — 9 of 256
    buckets at 8 planes). A query vector near a hyperplane hashes a bit
    differently from its neighbors across it; probing the 1-flip buckets
    recovers exactly those misses, the same trick multi-probe LSH and
    pgvector's ivfflat `probes > 1` use."""
    out = [qb]
    if hamming >= 1:
        for i in range(len(qb)):
            out.append(qb[:i] + ("0" if qb[i] == "1" else "1") + qb[i + 1 :])
    return out


def cosine_vs_query_sql(
    vec_col: str, query_vec: list[float], dialect: str = "spark"
) -> str:
    """cosine(vec, q) with the norms spelled out (corpus vectors are NOT
    assumed normalized, unlike the turn encoder's output). A zero norm
    gives NULL, not ANSI Spark's DIVIDE_BY_ZERO (DuckDB's x / 0 is NULL);
    both engines sort it last under DESC."""
    d = dot_sql(vec_col, query_vec, dialect)
    qn = sum(x * x for x in query_vec) ** 0.5
    sq = dot_sql_self(vec_col, dialect)
    return f"({d}) / NULLIF(sqrt({sq}) * CAST('{qn!r}' AS DOUBLE), 0)"


def dot_sql_self(vec_col: str, dialect: str = "spark") -> str:
    """sum(x^2) over the array — a valid number at any width."""
    if dialect == "spark":
        return pair_dot_sql(vec_col, vec_col)
    return f"list_dot_product(CAST({vec_col} AS DOUBLE[]), CAST({vec_col} AS DOUBLE[]))"


def pair_dot_sql(a: str, b: str) -> str:
    """Dot product of two array columns (Spark dialect)."""
    return _fold_dot(
        f"CAST({a} AS array<double>)", f"CAST({b} AS array<double>)"
    )


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------

def ann_lsh_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int,
    n_planes: int = N_PLANES,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    hamming: int = 1,
) -> DataFrame:
    """Top-k among vectors in the query's sign-LSH bucket neighborhood.

    Multi-probe: the query bucket plus its Hamming-`hamming` neighbors (9 of
    2^8 at the defaults) — a near-hyperplane query no longer misses its
    across-the-plane neighbors. The bucket predicate is a plain IN filter ->
    at scale, bucket becomes a partition column and this is partition
    pruning: the scan reads ~(1+n_planes)/2^n_planes of the corpus. Exact
    cosine re-ranks inside the probed buckets.
    """
    qbs = probe_buckets(py_bucket(query_vec, n_planes), hamming)
    bucket = F.expr(bucket_sql(vec_col, n_planes))
    cos = F.expr(cosine_vs_query_sql(vec_col, query_vec))
    return (
        emb.where(bucket.isin(qbs))
        .withColumn("score", F.round(cos, 6))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
        .select(id_col, "score")
    )


def ann_lsh_topk_store(
    store: DataFrame,
    query_vec: list[float],
    k: int,
    n_planes: int = N_PLANES,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    hamming: int = 1,
) -> DataFrame:
    """Top-k over an already-opened bucket-partitioned embedding store: the
    multi-probe bucket list is a PARTITION filter (directory pruning — the
    scan never opens files outside the probed buckets), then exact cosine
    re-ranks inside. `store` should be opened once per store version (a
    catalog table at scale — the metastore caches the partition/file index;
    re-listing 2^n_planes directories per query is pure metadata overhead).
    Results are identical to ann_lsh_topk by construction (same planes,
    same bucket function, same probe set)."""
    qbs = probe_buckets(py_bucket(query_vec, n_planes), hamming)
    cos = F.expr(cosine_vs_query_sql(vec_col, query_vec))
    return (
        store.where(F.col("bucket").isin(qbs))
        .withColumn("score", F.round(cos, 6))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
        .select(id_col, "score")
    )


def ivf_centroids(
    emb: DataFrame,
    cell_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """(cell, dim, c): the IVF coarse-quantizer centroid table.

    At corpus scale this is built ONCE (a batch job over the embedding
    table: posexplode + groupBy(cell, dim), map-side combinable) and stored;
    every query then reads n_cells x dim rows instead of re-aggregating the
    full corpus. ivf_topk accepts it precomputed for exactly that reason.
    """
    comp = emb.select(
        F.col(cell_col).alias("cell"),
        F.posexplode(F.col(vec_col)).alias("dim", "val"),
    )
    return comp.groupBy("cell", "dim").agg(F.avg("val").alias("c"))


def ivf_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int,
    nprobe: int = IVF_NPROBE,
    cell_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF search: rank coarse cells by centroid·query, probe the best
    `nprobe` cells with exact cosine.

    Pass `centroids` (from :func:`ivf_centroids`, stored as a table) so the
    per-query cost is n_cells x dim + the probed fraction of the corpus —
    recomputing centroids per query would rescan everything. The probed
    scan is an IN-filter on the cell column (partition pruning at scale).
    """
    qn = sum(x * x for x in query_vec) ** 0.5
    cent = centroids if centroids is not None else ivf_centroids(
        emb, cell_col, vec_col
    )
    qarr = F.lit(query_vec).cast("array<double>")
    scored_cells = (
        cent.withColumn("q", F.element_at(qarr, F.col("dim") + 1))
        .groupBy("cell")
        .agg((F.sum(F.col("c") * F.col("q")) / F.lit(qn)).alias("cell_score"))
        .orderBy(F.desc("cell_score"), F.asc("cell"))
        .limit(nprobe)
    )
    probed = emb.join(
        F.broadcast(scored_cells.select(F.col("cell").alias(cell_col))),
        cell_col,
    )
    cos = F.expr(cosine_vs_query_sql(vec_col, query_vec))
    return (
        probed.withColumn("score", F.round(cos, 6))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
        .select(id_col, F.col(cell_col).alias("cell"), "score")
    )


def _pair_cos():
    """cos of a capped_block_pairs row from its carried vectors (a_v, b_v)
    and precomputed norms (a_nv, b_nv); NULL (never a pair) for a zero
    norm, as in the DuckDB oracles."""
    return F.expr(f"({pair_dot_sql('a_v', 'b_v')}) / NULLIF(a_nv * b_nv, 0)")


def _vec_norm_sql(vec_col: str) -> str:
    """Per-vector norm, computed ONCE per row before pairing — not per
    candidate pair, where it would be the dominant redundant work (each
    vector meets ~block-size partners)."""
    return f"sqrt({dot_sql_self(vec_col)})"


def near_dup_cosine_pairs(
    emb: DataFrame,
    threshold: float = NEAR_DUP_COS,
    cell_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cell_cap: int = NEAR_DUP_CELL_CAP,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked by coarse cell.

    Pair generation is skew.capped_block_pairs on the cell id — an
    equi-join, never a cross join, with cell membership capped
    deterministically (first `cell_cap` ids per cell) BEFORE pairing, the
    block-cap guard every blocked pair generator here shares: without it
    one hot cell goes O(k^2) no matter how well the join partitions.
    """
    rows = emb.selectExpr(
        f"{cell_col} AS cell",
        f"{id_col} AS id",
        f"{vec_col} AS v",
        f"{_vec_norm_sql(vec_col)} AS nv",
    )
    pairs = capped_block_pairs(rows, "cell", "id", cell_cap)
    return (
        pairs.withColumn("_cos", _pair_cos())
        .where(F.col("_cos") >= F.lit(threshold))
        .select("a_id", "b_id", "cell", F.round("_cos", 6).alias("cos"))
    )


NEAR_DUP_LSH_PLANES = 4  # fewer planes than top-k search: recall over pruning
NEAR_DUP_LSH_SETS = 16  # OR-amplification: union of independent plane sets


def near_dup_lsh_pairs(
    emb: DataFrame,
    threshold: float = NEAR_DUP_COS,
    n_planes: int = NEAR_DUP_LSH_PLANES,
    n_sets: int = NEAR_DUP_LSH_SETS,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bucket_cap: int = NEAR_DUP_CELL_CAP,
) -> DataFrame:
    """Embedding near-dup pairs WITHOUT a precomputed coarse-cell column:
    bucket = sign-LSH signature of the vector, OR-amplified across `n_sets`
    INDEPENDENT plane sets (seeded plane derivation), exactly like MinHash
    banding (dedup.minhash_lsh_pairs): two vectors at angle theta collide in
    at least one set with probability 1 - (1 - (1-theta/pi)^n_planes)^n_sets
    — >= 0.93 at the cos-0.4 boundary at the defaults (measured 0.95 on the
    sf0.01 fixture, tests/test_traindata.py), vs ~0.33 for the single-set
    variant r3 shipped (its known recall gap).

    Plan shape (one pass, not n_sets unioned self-joins): every vector's
    n_sets bucket signatures are computed in ONE projection and posexploded
    to (set_id, bkt) rows, so candidate generation is a single
    skew.capped_block_pairs call on (set_id, bkt) — one window cap and one
    equi-join regardless of n_sets, over a table materialized once (an
    unshared subtree would compute the n_sets x n_planes bucket signatures
    twice per vector). Vectors ride along into the join and the exact
    cosine check runs INSIDE the join stage (no further shuffle); only the
    ~threshold-passing survivors reach the final distinct. A pair colliding
    in r sets pays r cosine folds, but cross-set duplicate collisions are
    rare (~q x n_sets with q = per-set collision prob), and deduping
    candidates first would cost two extra id-joins over the full candidate
    volume — measured 4x slower at sf0.1. Each (set, bucket) carries the
    same deterministic cap guard as every other pair generator here.
    """
    sigs = ", ".join(
        bucket_sql(vec_col, n_planes, seed=s) for s in range(n_sets)
    )
    rows = emb.selectExpr(
        f"{id_col} AS id",
        f"{vec_col} AS v",
        f"{_vec_norm_sql(vec_col)} AS nv",
        f"posexplode(array({sigs})) AS (set_id, bkt)",
    )
    pairs = capped_block_pairs(rows, ["set_id", "bkt"], "id", bucket_cap)
    return (
        pairs.withColumn("_cos", _pair_cos())
        .where(F.col("_cos") >= F.lit(threshold))
        .select("a_id", "b_id", F.round("_cos", 6).alias("cos"))
        .distinct()
    )


def near_dup_lsh_pairs_oracle(
    threshold: float = NEAR_DUP_COS,
    n_planes: int = NEAR_DUP_LSH_PLANES,
    n_sets: int = NEAR_DUP_LSH_SETS,
    bucket_cap: int = NEAR_DUP_CELL_CAP,
) -> str:
    assign = "\n  UNION ALL\n".join(
        f"  SELECT {s} AS set_id, vec_id,"
        f" ({bucket_sql('embedding', n_planes, dialect='duckdb', seed=s)}) AS bkt"
        f" FROM embeddings"
        for s in range(n_sets)
    )
    dotp = "list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))"
    cos = f"({dotp}) / (a.nv * b.nv)"
    return f"""
WITH assign AS (
{assign}
),
capped AS (
  SELECT set_id, vec_id, bkt FROM (
    SELECT *, row_number() OVER (
      PARTITION BY set_id, bkt ORDER BY vec_id
    ) AS rn FROM assign
  ) x WHERE rn <= {bucket_cap}
),
normed AS (
  SELECT vec_id, embedding,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS nv
  FROM embeddings
)
SELECT DISTINCT ca.vec_id AS a_id, cb.vec_id AS b_id, round({cos}, 6) AS cos
FROM capped ca
JOIN capped cb ON ca.set_id = cb.set_id AND ca.bkt = cb.bkt
              AND ca.vec_id < cb.vec_id
JOIN normed a ON a.vec_id = ca.vec_id
JOIN normed b ON b.vec_id = cb.vec_id
WHERE {cos} >= {threshold}
""".strip()


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

def ann_lsh_topk_oracle(
    query_vec: list[float], k: int, n_planes: int = N_PLANES, hamming: int = 1
) -> str:
    qbs = probe_buckets(py_bucket(query_vec, n_planes), hamming)
    in_list = ", ".join(f"'{b}'" for b in qbs)
    bucket = bucket_sql("embedding", n_planes, dialect="duckdb")
    cos = cosine_vs_query_sql("embedding", query_vec, "duckdb")
    return f"""
SELECT vec_id, round({cos}, 6) AS score
FROM embeddings
WHERE ({bucket}) IN ({in_list})
ORDER BY score DESC, vec_id ASC
LIMIT {k}
""".strip()


def ivf_topk_oracle(
    query_vec: list[float], k: int, nprobe: int = IVF_NPROBE
) -> str:
    qn = sum(x * x for x in query_vec) ** 0.5
    qlit = _arr_lit([float(x) for x in query_vec], "duckdb")
    cos = cosine_vs_query_sql("embedding", query_vec, "duckdb")
    return f"""
WITH comp AS (
  SELECT label AS cell, generate_subscripts(embedding, 1) AS dim,
         unnest(CAST(embedding AS DOUBLE[])) AS val
  FROM embeddings
),
cent AS (
  SELECT cell, dim, avg(val) AS c FROM comp GROUP BY cell, dim
),
cells AS (
  SELECT cell, sum(c * ({qlit})[dim]) / CAST('{qn!r}' AS DOUBLE) AS cell_score
  FROM cent GROUP BY cell
  ORDER BY cell_score DESC, cell ASC LIMIT {nprobe}
)
SELECT e.vec_id, e.label AS cell, round({cos}, 6) AS score
FROM embeddings e JOIN cells ON e.label = cells.cell
ORDER BY score DESC, vec_id ASC
LIMIT {k}
""".strip()


def near_dup_cosine_pairs_oracle(
    threshold: float = NEAR_DUP_COS, cell_cap: int = NEAR_DUP_CELL_CAP
) -> str:
    dotp = "list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))"
    na = "sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))"
    nb = "sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))"
    cos = f"({dotp}) / ({na} * {nb})"
    return f"""
WITH capped AS (
  SELECT * FROM (
    SELECT vec_id, label, embedding,
           row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rn
    FROM embeddings
  ) x WHERE rn <= {cell_cap}
)
SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.label AS cell,
       round({cos}, 6) AS cos
FROM capped a
JOIN capped b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE {cos} >= {threshold}
""".strip()
