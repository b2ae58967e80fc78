"""Stored index artifacts — the indexer-writes / query-reads split.

The reference splits indexing from querying: the indexer persists its
stores once per corpus version (rpg/persistence.go, store/gob.go,
trace/store.go:129-167) and every query reads the persisted artifact
(rpg/query.go, trace/store.go:280-481) — queries never re-run extraction.
This module is that split for the graft: each artifact is built by ONE
batch job and served from storage through :class:`~grepai_spark.storage.
Catalog` (atomic swap commits; Iceberg tables in production, parquet
directories here). Query code opens a store and scans it.

Artifacts (table name -> layout):

* ``transcripts``   — the input table, spread on (conv_id, turn_idx): even
  32-way hashing of the FULL key, because hashing conv_id alone would put a
  mega-thread (25% of turns in the fixture) in one file — the exact skew
  the north rule says to handle.
* ``chunks``        — text + source + embedding in one row, the layout the
  reference's store serves search from (store/gob.go chunk records).
* ``kg_edges``      — the materialized graph, partitioned by ``pred`` so
  per-predicate consumers prune whole directories.
* ``graph_adj`` / ``graph_deg`` — prebuilt adjacency + degree census per
  traversal direction (``fwd`` / ``rev`` / ``both``), partitioned by
  ``dir``: the reference holds adjForward/adjReverse in its loaded model
  (rpg/model.go:70-80); deriving distinct adjacency + degrees from the edge
  table PER QUERY is a full edge-table shuffle per BFS at 100 TB. ``both``
  is stored pre-distincted (an (a,b) pair reachable in both directions must
  count once for the hub guard to match a per-query derivation).
* ``graph_adj_pred`` / ``graph_deg_pred`` — the same census per
  (direction, predicate), partitioned by (dir, pred): a single-predicate
  explore (the common filtered traversal) reads its two partition
  directories and never aggregates anything at query time.
* ``lsh_store``     — the embedding table physically partitioned by its
  sign-LSH bucket; multi-probe queries prune to ~(1+n_planes)/2^n_planes
  of the directories.
* ``ivf_centroids`` — the IVF coarse quantizer (n_cells x dim rows);
  queries must never re-aggregate the corpus.

Opened stores are cached per (session, sf_dir): production holds catalog
tables open the same way (the metastore caches the partition/file index;
re-listing directories per query is pure metadata overhead).
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from grepai_spark.storage import Catalog

_OPEN_CACHE: dict[tuple[str, str, str], DataFrame] = {}

# artifacts whose sf-fixture footprint is small enough that the scan
# collapses to one split without an explicit parallelism floor
_FLOOR_KINDS = {"transcripts", "chunks"}

_GRAPH_KINDS = {
    "graph_adj",
    "graph_deg",
    "graph_adj_pred",
    "graph_deg_pred",
}


def store_root(spark: SparkSession, sf_dir: str) -> str:
    """One Catalog root per (session, sf_dir) — the sandbox stand-in for
    the per-corpus-version catalog namespace a production pipeline owns."""
    tag = hashlib.md5(
        "\x00".join((spark.sparkContext.applicationId, sf_dir)).encode()
    ).hexdigest()[:12]
    return os.path.join("/tmp", f"grepai_stores_{tag}")


def _build(
    catalog: Catalog, spark: SparkSession, sf_dir: str, kind: str
) -> None:
    from grepai_spark import ann, synth

    if kind == "transcripts":
        catalog.overwrite(
            kind,
            synth.load_transcripts(spark, sf_dir).repartition(
                32, "conv_id", "turn_idx"
            ),
        )
    elif kind == "chunks":
        docs = synth.read_parallel(spark, f"{sf_dir}/documents.parquet")
        emb = synth.read_parallel(spark, f"{sf_dir}/embeddings.parquet")
        catalog.overwrite(
            kind,
            docs.join(emb.withColumnRenamed("vec_id", "doc_id"), "doc_id"),
        )
    elif kind == "kg_edges":
        from grepai_spark import pipeline
        from grepai_spark.synth import alias_dict_df

        edges = pipeline.kg_edges_df(
            spark, open_store(spark, sf_dir, "transcripts"), alias_dict_df(spark)
        )
        catalog.overwrite(kind, edges, partition_by=["pred"])
    elif kind in _GRAPH_KINDS:
        build_graph_artifacts(
            catalog, open_store(spark, sf_dir, "kg_edges")
        )
    elif kind == "lsh_store":
        emb = synth.read_parallel(spark, f"{sf_dir}/embeddings.parquet")
        catalog.overwrite(
            kind,
            emb.withColumn(
                "bucket", F.expr(ann.bucket_sql("embedding", ann.N_PLANES))
            ).repartition(F.col("bucket")),
            partition_by=["bucket"],
        )
    elif kind == "ivf_centroids":
        emb = synth.read_parallel(spark, f"{sf_dir}/embeddings.parquet")
        catalog.overwrite(kind, ann.ivf_centroids(emb))
    else:
        raise ValueError(f"unknown store kind: {kind}")


def build_graph_artifacts(catalog: Catalog, edges: DataFrame) -> None:
    """Build the graph-query plane's adjacency + degree artifacts from an
    edge table — once per graph version (the pipeline calls this after its
    edges stage; rebuilding per query was the round-4 scale anti-pattern).

    Four map-side-combinable shuffles over the edge table total; every BFS
    afterwards is broadcast-frontier joins against artifact scans.
    """
    fwd = edges.select(F.col("subj").alias("a"), F.col("obj").alias("b"))
    rev = edges.select(F.col("obj").alias("a"), F.col("subj").alias("b"))
    slices = [
        ("fwd", fwd),
        ("rev", rev),
        ("both", fwd.union(rev)),
    ]
    adj = None
    for name, s in slices:
        d = (
            s.where(F.col("a") != F.col("b"))
            .distinct()
            .select(F.lit(name).alias("dir"), "a", "b")
        )
        adj = d if adj is None else adj.unionByName(d)
    catalog.overwrite("graph_adj", adj, partition_by=["dir"])
    adj_stored = catalog.read("graph_adj")
    catalog.overwrite(
        "graph_deg",
        adj_stored.groupBy("dir", "a").agg(F.count("*").alias("deg")),
        partition_by=["dir"],
    )
    # per-(dir, pred) census: single-predicate traversals (the common
    # explore filter) read exactly their partitions with zero query-time
    # aggregation; 'both' is not stored per-pred (derive by distinct over
    # the two small directory slices when asked)
    base = edges.select("pred", F.col("subj").alias("a"), F.col("obj").alias("b"))
    rev_p = edges.select("pred", F.col("obj").alias("a"), F.col("subj").alias("b"))
    adj_p = (
        base.select(F.lit("fwd").alias("dir"), "pred", "a", "b")
        .unionByName(rev_p.select(F.lit("rev").alias("dir"), "pred", "a", "b"))
        .where(F.col("a") != F.col("b"))
        .dropDuplicates(["dir", "pred", "a", "b"])
    )
    catalog.overwrite("graph_adj_pred", adj_p, partition_by=["dir", "pred"])
    adj_p_stored = catalog.read("graph_adj_pred")
    catalog.overwrite(
        "graph_deg_pred",
        adj_p_stored.groupBy("dir", "pred", "a").agg(
            F.count("*").alias("deg")
        ),
        partition_by=["dir", "pred"],
    )


def open_store(spark: SparkSession, sf_dir: str, kind: str) -> DataFrame:
    """Open (building on first use) a stored artifact for this (session,
    sf_dir). The DataFrame handle is cached — the catalog-table-held-open
    contract; see module docstring."""
    from grepai_spark import synth

    key = (spark.sparkContext.applicationId, sf_dir, kind)
    df = _OPEN_CACHE.get(key)
    if df is None:
        catalog = Catalog(spark, store_root(spark, sf_dir))
        if not catalog.exists(kind):
            _build(catalog, spark, sf_dir, kind)
        df = (
            synth.read_parallel(spark, catalog.path(kind))
            if kind in _FLOOR_KINDS
            else catalog.read(kind)
        )
        _OPEN_CACHE[key] = df
    return df


# loaded graph model (r7): the reference holds adjForward/adjReverse in RAM
# once per loaded model (rpg/model.go:70-80); this memo is that load for a
# traversal selection — the selection DataFrames are built once per
# (session, sf_dir, selection), and because the handles are stable, the
# size probe graphq.bfs makes through dimcache runs once per selection: a
# small slice's rows, or a large one's "too large" verdict, serve every
# later BFS. Store artifacts are immutable per session (module contract),
# so the memo can never serve stale rows.
_ADJ_MEMO: dict[tuple, tuple[DataFrame, DataFrame]] = {}


def graph_adjacency(
    spark: SparkSession,
    sf_dir: str,
    direction: str = "both",
    preds: list[str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(adjacency, degree) for a traversal selection, served from the
    stored artifacts.

    * no predicate filter -> one partition of graph_adj / graph_deg
      (zero query-time aggregation, any direction);
    * single predicate, fwd/rev -> one partition each of graph_adj_pred /
      graph_deg_pred (zero query-time aggregation);
    * multi-predicate or both+predicates -> distinct + degree derived over
      the PRUNED graph_adj_pred slices — a shuffle over the selected
      distinct-edge subset, never over the raw edge table.
    """
    key = (
        spark.sparkContext.applicationId,
        sf_dir,
        direction,
        tuple(preds) if preds else None,
    )
    memo = _ADJ_MEMO.get(key)
    if memo is not None:
        return memo
    adj, deg = _graph_adjacency_dfs(spark, sf_dir, direction, preds)
    if len(_ADJ_MEMO) > 64:
        _ADJ_MEMO.clear()
    _ADJ_MEMO[key] = (adj, deg)
    return adj, deg


def _graph_adjacency_dfs(
    spark: SparkSession,
    sf_dir: str,
    direction: str,
    preds: list[str] | None,
) -> tuple[DataFrame, DataFrame]:
    if not preds:
        adj = (
            open_store(spark, sf_dir, "graph_adj")
            .where(F.col("dir") == direction)
            .select("a", "b")
        )
        deg = (
            open_store(spark, sf_dir, "graph_deg")
            .where(F.col("dir") == direction)
            .select("a", "deg")
        )
        return adj, deg
    dirs = [direction] if direction in ("fwd", "rev") else ["fwd", "rev"]
    sel = (
        open_store(spark, sf_dir, "graph_adj_pred")
        .where(F.col("dir").isin(dirs) & F.col("pred").isin(preds))
        .select("a", "b")
    )
    if len(preds) == 1 and len(dirs) == 1:
        deg = (
            open_store(spark, sf_dir, "graph_deg_pred")
            .where(
                (F.col("dir") == dirs[0]) & (F.col("pred") == preds[0])
            )
            .select("a", "deg")
        )
        return sel, deg
    sel = sel.distinct()
    return sel, sel.groupBy("a").agg(F.count("*").alias("deg"))
