"""Stage 3 — CANONICALIZE: connected components via large-star/small-star.

The reference merges co-referent symbols implicitly through semantic_sim edges
and dedup (/root/reference/rpg/indexer.go:700-885); we make canonicalization
explicit: connected components over the link-edge graph, each entity mapped to
its component minimum (a stable, deterministic id convention).

Algorithm: alternating large-star / small-star joins (Kiveris et al., "Connected
Components in MapReduce and Beyond" — see PAPERS.md), which converges in
O(log n) rounds vs O(diameter) for naive min-propagation. Each round is two
shuffles (groupBy node). `localCheckpoint` every few rounds truncates the plan
lineage so the driver doesn't accumulate an unbounded DAG — the iterative-loop
discipline Catalyst does not provide (SURVEY.md §4).

Determinism: component id = min member id under string ordering; both star
operations only ever emit (node, smaller-id) edges, so the fixpoint is unique
regardless of shuffle order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _symmetrize(edges: DataFrame) -> DataFrame:
    e = edges.select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    ).where(F.col("src") != F.col("dst"))
    return e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))


def _large_star(sym: DataFrame) -> DataFrame:
    """For each u: m = min(N(u) ∪ {u}); emit (v, m) for v in N(u), v > u."""
    m = (
        sym.groupBy("u")
        .agg(F.min("v").alias("nbr_min"))
        .select("u", F.least("u", "nbr_min").alias("m"))
    )
    return (
        sym.join(m, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges (hi, lo); for each hi: m = min(N ∪ {hi}); emit (x, m) for
    x in N(hi) ∪ {hi}, x != m."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
    ).where(F.col("src") != F.col("dst"))
    grouped = oriented.groupBy("u").agg(
        F.collect_set("v").alias("nbrs")
    )
    grouped = grouped.select(
        "u",
        F.array_min("nbrs").alias("m"),
        F.array_union("nbrs", F.array("u")).alias("members"),
    )
    return (
        grouped.select(
            "m", F.explode("members").alias("x")
        )
        .where(F.col("x") != F.col("m"))
        .select(F.col("x").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def _union_find(rows: list) -> list[tuple[str, str]]:
    """Pure driver-side union-find: edge rows -> sorted (node, component)
    pairs with component = min member id (the distributed fixpoint's id
    convention)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    for r in rows:
        if r[0] == r[1]:
            # self-loop: registers the node (matching the distributed path's
            # "every node appearing in edges" contract) but merges nothing
            parent.setdefault(r[0], r[0])
            continue
        a, b = find(r[0]), find(r[1])
        if a != b:
            # min-id root keeps the component id convention identical to the
            # distributed fixpoint
            lo, hi = (a, b) if a < b else (b, a)
            parent[hi] = lo
    nodes = {x for r in rows for x in (r[0], r[1])}
    return [(n, find(n)) for n in sorted(nodes)]


def _union_find_components(rows: list, spark) -> DataFrame:
    from grepai_spark.dimcache import local_df

    return local_df(spark, _union_find(rows), "node string, component string")


def connected_components(
    edges: DataFrame,
    max_iter: int = 50,
    checkpoint_every: int = 3,
) -> DataFrame:
    """edges(src, dst) -> (node, component) for every node appearing in edges.

    Isolated nodes don't appear; callers union them back (component = self).
    A graph small enough to collect (dimcache.collect_if_small) runs
    union-find on the driver instead of ~10 shuffle jobs of star
    iterations; both regimes give component = min member id.
    """
    from grepai_spark.dimcache import collect_if_small

    # self-loops included: their nodes must appear in the output
    # (component = self), same as the distributed path below
    head = collect_if_small(edges)
    if head is not None:
        return _union_find_components(head, edges.sparkSession)

    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    cur = edges.select("src", "dst").where(F.col("src") != F.col("dst")).distinct()
    prev_sig = None
    for it in range(max_iter):
        cur = _large_star(_symmetrize(cur))
        cur = _small_star(cur)
        # localCheckpoint each round: the star ops double plan depth fast and
        # the convergence check below forces evaluation anyway.
        cur = cur.localCheckpoint(eager=True)
        # order-insensitive signature; mod keeps the ANSI-mode sum overflow-free
        sig = cur.select(
            F.count("*").alias("n"),
            F.sum(F.xxhash64("src", "dst") % F.lit(1_000_000_007)).alias("h"),
        ).first()
        sig = (sig["n"], sig["h"])
        if sig == prev_sig:
            break
        prev_sig = sig
    # At fixpoint every edge points node -> component min.
    comp = (
        _symmetrize(cur)
        .groupBy(F.col("u").alias("node"))
        .agg(F.min("v").alias("nbr_min"))
        .select(
            "node", F.least("node", "nbr_min").alias("component")
        )
    )
    # Nodes that lost all edges at fixpoint (they were component minima whose
    # stars collapsed) map to themselves.
    missing = nodes.join(comp, "node", "left_anti").select(
        "node", F.col("node").alias("component")
    )
    return comp.union(missing)


def canonical_map(
    alias_dict: DataFrame, link_edges: DataFrame
) -> DataFrame:
    """canonical_id -> entity_id (component min) for EVERY dictionary entity,
    including singletons.

    When the dictionary and its link edges are both small enough to collect
    (dimcache.collect_if_small), the whole map is built on the driver —
    union-find, one Arrow LocalRelation out (dimcache.local_df, rows
    attached) — instead of a distinct shuffle + broadcast join job per call
    for a dictionary-scale product."""
    from grepai_spark.dimcache import collect_if_small, local_df

    head = collect_if_small(alias_dict)
    if head is not None:
        # link_edges(src, dst); the small similarity regime attached its
        # rows, so they come back with no job
        edges = collect_if_small(link_edges)
        if edges is not None:
            comp = dict(_union_find(edges))
            rows = [
                (c, comp.get(c, c))
                for c in sorted({r["canonical_id"] for r in head})
            ]
            return local_df(
                alias_dict.sparkSession,
                rows,
                "canonical_id string, entity_id string",
            )
    cc = connected_components(link_edges)
    all_canon = alias_dict.select(
        F.col("canonical_id").alias("node")
    ).distinct()
    return (
        # component map is dictionary-scale — broadcast, never SMJ
        all_canon.join(F.broadcast(cc), "node", "left")
        .select(
            F.col("node").alias("canonical_id"),
            F.coalesce("component", "node").alias("entity_id"),
        )
    )
