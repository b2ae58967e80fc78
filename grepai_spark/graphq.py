"""Graph query operators — the reference's trace/RPG query side (SURVEY.md §2.9).

G1 callers lookup       (ref: /root/reference/trace/store.go:280-289,358-385)
G2 callees lookup       (ref: trace/store.go:292-332)
G3 bounded BFS          (ref: trace/store.go:388-481)
G5 node search          (ref: rpg/query.go:85-202, scoring rpg/query.go:666-711)
G6 fetch node           (ref: rpg/query.go:205-273)

BFS is an iterative DataFrame loop — frontier ⋈ edges, depth-bounded, with a
distinct visited set. The reference's name-collision guard (don't traverse
through ambiguous symbols, trace/store.go:408-419) maps to a hub-degree guard:
nodes whose fan-out exceeds `hub_cap` are reported but not expanded — the same
safety valve that keeps a mega-hub from exploding the frontier at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from grepai_spark.naming import jaccard_sql, norm_tokens_sql

def _seg(expr_sql: str) -> "F.Column":
    """NULL-safe feature-path segment: a degenerate name whose first_token /
    norm_key comes out NULL (or '' on only one engine) must serialize the
    same way in Spark and the DuckDB oracles — concat_ws silently SKIPS
    NULLs while DuckDB's || propagates them, so every segment is coalesced
    to '' on both sides before joining with '/'."""
    return F.coalesce(F.expr(expr_sql), F.lit(""))


def callers(edges: DataFrame, name: str, pred: str = "calls") -> DataFrame:
    """Who calls `name` (G1): distinct callers with invocation counts."""
    return (
        edges.where((F.col("pred") == pred) & (F.col("obj") == name))
        .groupBy(F.col("subj").alias("caller"))
        .agg(F.count("*").alias("n_calls"))
        .orderBy("caller")
    )


def callees(edges: DataFrame, name: str, pred: str = "calls") -> DataFrame:
    """What `name` calls (G2)."""
    return (
        edges.where((F.col("pred") == pred) & (F.col("subj") == name))
        .groupBy(F.col("obj").alias("callee"))
        .agg(F.count("*").alias("n_calls"))
        .orderBy("callee")
    )


def bfs(
    edges: DataFrame,
    seed: str,
    depth: int = 2,
    direction: str = "both",
    preds: list[str] | None = None,
    hub_cap: int = 1000,
    adj: DataFrame | None = None,
    deg: DataFrame | None = None,
) -> DataFrame:
    """Bounded BFS (G3/G4): (node, depth) rows reachable from `seed` within
    `depth` hops. direction: fwd | rev | both. Nodes with fan-out > hub_cap
    are not expanded (collision/hub guard).

    Pass `adj` (distinct (a, b) for the selected direction/preds) and `deg`
    ((a, deg) over that adjacency) from the STORED graph artifacts
    (stores.graph_adjacency) — the reference's prebuilt adjForward /
    adjReverse (rpg/model.go:70-80). Deriving them here from the edge table
    is kept as the ad-hoc fallback, but it is a full edge-table shuffle per
    query — the indexer should build the census once per graph version.

    Each hop is one broadcast-able join of a small frontier against the
    adjacency — at scale the frontier stays tiny relative to it, so Spark
    broadcasts the frontier and the big side never shuffles.
    """
    if adj is None or deg is None:
        e = edges
        if preds:
            e = e.where(F.col("pred").isin(preds))
        fwd = e.select(F.col("subj").alias("a"), F.col("obj").alias("b"))
        rev = e.select(F.col("obj").alias("a"), F.col("subj").alias("b"))
        if direction == "fwd":
            adj = fwd
        elif direction == "rev":
            adj = rev
        else:
            adj = fwd.union(rev)
        adj = adj.where(F.col("a") != F.col("b")).distinct()
        # hub guard: degree pre-computation, expansion skips heavy nodes
        deg = adj.groupBy("a").agg(F.count("*").alias("deg"))

    # small-graph driver regime: a collectable adjacency runs the whole
    # traversal on the driver — the distributed loop costs ~3 jobs per hop
    # (join, checkpoint, isEmpty) of pure scheduling overhead on a graph
    # that fits in one hand. The stored selections (stores.graph_adjacency)
    # are memoized handles, so their rows, or their "too large" verdict,
    # load on the first traversal and serve every later one.
    from grepai_spark.dimcache import cached_rows, collect_if_small, local_df

    head = collect_if_small(adj)
    spark = edges.sparkSession
    if head is not None:
        deg_rows = cached_rows(deg)
        expandable_s = {
            r["a"] for r in deg_rows if r["deg"] <= hub_cap
        }
        nbrs: dict[str, list[str]] = {}
        for r in head:
            if r["a"] in expandable_s:
                nbrs.setdefault(r["a"], []).append(r["b"])
        visited_m: dict[str, int] = {seed: 0}
        frontier_s: set[str] = {seed}
        for d in range(1, depth + 1):
            nxt = {
                b
                for a in frontier_s
                for b in nbrs.get(a, ())
                if b not in visited_m
            }
            if not nxt:
                break
            for b in nxt:
                visited_m[b] = d
            frontier_s = nxt
        out = local_df(
            spark, sorted(visited_m.items()), "node string, depth bigint"
        )
        return out.orderBy("depth", "node")

    expandable = deg.where(F.col("deg") <= hub_cap).select("a")
    # Materialize the (small) adjacency once: every hop below re-joins it,
    # and without this the upstream plan (a stored-artifact scan in the
    # indexed path; the full extract pipeline in the fallback) would be
    # re-executed per depth level.
    adj_ok = adj.join(expandable, "a").localCheckpoint(eager=True)

    visited = local_df(spark, [(seed, 0)], "node string, depth bigint")
    frontier = visited
    for d in range(1, depth + 1):
        nxt = (
            F.broadcast(frontier.select(F.col("node").alias("a")))
            .join(adj_ok, "a")
            .select(F.col("b").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("depth", F.lit(d))
        )
        nxt = nxt.localCheckpoint(eager=True)
        if nxt.isEmpty():
            break
        visited = visited.union(nxt)
        frontier = nxt
    return visited.orderBy("depth", "node")


def glob_to_regex(pattern: str) -> str:
    """filepath.Match-subset glob -> anchored regex ('*' and '?' do not
    cross '/'), the reference's path-glob semantics
    (rpg/query.go:484-506). Computed driver-side so the Spark plan and the
    DuckDB oracle embed the IDENTICAL regex literal."""
    import re as _re

    out = "^"
    for ch in pattern:
        if ch == "*":
            out += "[^/]*"
        elif ch == "?":
            out += "[^/]"
        else:
            out += _re.escape(ch)
    return out + "$"


def glob_fallback_core(pattern: str) -> str:
    """The reference's contains-fallback for patterns filepath.Match can't
    express (e.g. **/*.go): strip a '**/' prefix and surrounding '*'s; the
    remainder is substring-matched (rpg/query.go:499-505)."""
    p = pattern.strip()
    if p.startswith("**/"):
        p = p[3:]
    return p.strip("*")


def search_nodes(
    vertices: DataFrame,
    query: str,
    k: int = 10,
    kind: str | None = None,
    scopes: list[str] | None = None,
    name_glob: str | None = None,
) -> DataFrame:
    """Jaccard(query tokens, name∪alias tokens) node search (G5;
    scoring ref: rpg/query.go:666-711).

    `scopes`: case-insensitive prefix filters on the node's feature path
    (ref matchesAnyScope, rpg/query.go:467-482) — a node passes if its
    feature path starts with ANY scope. `name_glob`: glob filter on the
    canonical name — the graft analog of the reference's file-path glob
    (rpg/query.go:484-506), including its contains-fallback."""
    from grepai_spark.naming import first_token_sql, norm_key_sql
    from grepai_spark.search import tokenize_query

    qtok = tokenize_query(query)
    v = vertices.withColumn(
        "node_tokens",
        F.expr(
            "array_distinct(flatten(transform("
            "array_union(array(canonical_name), aliases), "
            f"a -> {norm_tokens_sql('a')})))"
        ),
    )
    score = F.round(
        F.size(F.array_intersect(F.col("node_tokens"), F.lit(qtok)))
        / F.size(F.array_union(F.col("node_tokens"), F.lit(qtok))),
        6,
    )
    out = v.withColumn("score", score).where(F.col("score") > 0)
    if kind:
        out = out.where(F.col("kind") == kind)
    if scopes:
        fp = F.lower(
            F.concat_ws(
                "/",
                F.coalesce(F.col("kind"), F.lit("")),
                _seg(first_token_sql("canonical_name")),
                _seg(norm_key_sql("canonical_name")),
            )
        )
        cond = None
        for s in scopes:
            s = s.strip().lower()
            if not s:
                continue
            c = fp.startswith(s)
            cond = c if cond is None else (cond | c)
        if cond is not None:
            out = out.where(cond)
    if name_glob and name_glob.strip() not in ("", "**/*"):
        rx = glob_to_regex(name_glob)
        core = glob_fallback_core(name_glob)
        cond = F.col("canonical_name").rlike(rx)
        if core:
            cond = cond | F.col("canonical_name").contains(core)
        out = out.where(cond)
    return (
        out.orderBy(F.desc("score"), F.asc("entity_id"))
        .limit(k)
        .select("entity_id", "canonical_name", "score")
    )


def feature_paths(vertices: DataFrame) -> DataFrame:
    """G7 feature-path resolution (ref: rpg/query.go:397-456): each canonical
    entity's fixed-depth hierarchy path  kind / first-token cluster /
    normalized key. Pure projection — the reference's recursive parent walk
    collapses because the hierarchy has fixed depth (rpg/hierarchy.go)."""
    from grepai_spark.naming import first_token_sql, norm_key_sql

    return vertices.select(
        "entity_id",
        F.concat_ws(
            "/",
            F.coalesce(F.col("kind"), F.lit("")),
            _seg(first_token_sql("canonical_name")),
            _seg(norm_key_sql("canonical_name")),
        ).alias("feature_path"),
    )


def prune_orphan_vertices(
    vertices: DataFrame, edges: DataFrame
) -> DataFrame:
    """W4 orphan pruning (ref: rpg/evolver.go:284-323): drop vertices that no
    edge references. Two left_anti probes against the distinct endpoint sets
    — at scale each is a shuffle on entity id with the vertex side tiny."""
    endpoints = (
        edges.select(F.col("subj").alias("entity_id"))
        .union(edges.select(F.col("obj").alias("entity_id")))
        .distinct()
    )
    return vertices.join(endpoints, "entity_id", "left_semi")


PREVIEW_LEN = 200  # F8 truncation analog (ref trace/extractor.go:1038-1077)


def fetch_node(
    vertices: DataFrame,
    edges: DataFrame,
    entity_id: str,
    transcripts: DataFrame | None = None,
    preview_len: int = PREVIEW_LEN,
) -> DataFrame:
    """Node + incident edges with neighbor names (G6) as flat rows, plus the
    reference's FetchNode context (rpg/query.go:205-273,648-662):

    * parent_chain — the hierarchy walk (area > category > subcategory in
      the reference) collapsed to a projection, since the graft hierarchy
      has fixed depth: kind > first-token cluster > normalized key.
    * preview — the code-preview analog: the EARLIEST turn referencing this
      entity, truncated to `preview_len` chars (deterministic min over
      (conv_id, turn_idx)); joined from transcripts when provided.
    """
    from grepai_spark.naming import first_token_sql, norm_key_sql

    v = vertices.where(F.col("entity_id") == entity_id)
    out_e = edges.where(F.col("subj") == entity_id).select(
        F.lit("out").alias("dir"),
        "pred",
        F.col("obj").alias("neighbor"),
        "weight",
    )
    in_e = edges.where(F.col("obj") == entity_id).select(
        F.lit("in").alias("dir"),
        "pred",
        F.col("subj").alias("neighbor"),
        "weight",
    )
    both = out_e.union(in_e).groupBy("dir", "pred", "neighbor").agg(
        F.count("*").alias("n"), F.round(F.sum("weight"), 6).alias("w")
    )
    vmeta = v.select(
        "canonical_name",
        "kind",
        F.concat_ws(
            " > ",
            F.coalesce(F.col("kind"), F.lit("")),
            _seg(first_token_sql("canonical_name")),
            _seg(norm_key_sql("canonical_name")),
        ).alias("parent_chain"),
    )
    res = both.crossJoin(F.broadcast(vmeta))
    if transcripts is not None:
        # one-row aggregate (min struct) so an entity with no turn-level
        # edge still yields rows with an empty preview
        prev = (
            edges.where(
                (F.col("obj") == entity_id) & (F.col("conv_id") != "*")
            )
            .select("conv_id", "turn_idx")
            .join(
                transcripts.select("conv_id", "turn_idx", "text"),
                ["conv_id", "turn_idx"],
            )
            .agg(F.min(F.struct("conv_id", "turn_idx", "text")).alias("m"))
            .select(
                F.coalesce(
                    F.substring(F.col("m.text"), 1, preview_len), F.lit("")
                ).alias("preview")
            )
        )
        res = res.crossJoin(F.broadcast(prev))
    return res.orderBy("dir", "pred", "neighbor")
