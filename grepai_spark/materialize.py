"""Stage 4 — MATERIALIZE: canonical vertices + derived graph edges.

Analog of the reference's RPG node/edge persist (rpg/indexer.go:78-240):
one vertex row per canonical entity, plus the conversation- and tool-level
edges derived from the per-turn triples. The per-turn (subj, pred, obj)
triples themselves come from the fused edge map
(pipeline.kg_edges_from_map).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def build_vertices(
    alias_dict: DataFrame, canonical_map: DataFrame
) -> DataFrame:
    """One row per canonical entity (post-CC component).

    canonical_name = lexicographic min alias in the component (deterministic
    tie-break, mirroring the reference's sorted-iteration reproducibility,
    /root/reference/rpg/hierarchy.go:46-96).
    """
    joined = alias_dict.join(F.broadcast(canonical_map), "canonical_id")
    return joined.groupBy("entity_id").agg(
        F.min("alias").alias("canonical_name"),
        F.min("kind").alias("kind"),
        F.array_sort(F.collect_set("alias")).alias("aliases"),
    )


CONV_COMENTION_CAP_MIN = 50  # reference's absolute hub guard floor
CONV_COMENTION_CAP_FACTOR = 2.0  # hub = fan-out above 2x the median fan-out


def conv_comention_edges(
    edges: DataFrame,
    hub_cap_min: int = CONV_COMENTION_CAP_MIN,
    hub_cap_factor: float = CONV_COMENTION_CAP_FACTOR,
) -> DataFrame:
    """Conversation-level (conv_a)-[:mentions_with]->(conv_b) edges weighted
    by the number of canonical entities both conversations mention — the
    import-edge derivation analog (distinct cross-file pairs from invoke
    edges, /root/reference/rpg/indexer.go:600-644).

    Hub entities are skipped before pair expansion (the reference's hub
    guard, rpg/indexer.go:23-27): a ubiquitous entity links every
    conversation to every other and carries no signal — and would go
    quadratic at corpus scale. The reference's cap is an absolute constant
    (bounded repo, bounded imports); a corpus-relative cap is needed here
    because "ubiquitous" depends on the corpus — the cap is
    max(hub_cap_min, hub_cap_factor x median entity fan-out), so a
    power-law tail is cut on any corpus while a dense small corpus keeps
    its edges. The median is over the entity fan-out table
    (dictionary-scale — one tiny exact-percentile aggregate, broadcast
    back as a scalar).
    """
    per_conv = (
        edges.where(F.col("pred") == "mentions")
        .select(F.col("obj").alias("entity"), "conv_id")
        .distinct()
    )
    fanout = per_conv.groupBy("entity").agg(
        F.count("*").alias("n_convs")
    )
    med = fanout.agg(F.expr("percentile(n_convs, 0.5)").alias("med"))
    keep = (
        fanout.crossJoin(F.broadcast(med))
        .where(
            F.col("n_convs")
            <= F.greatest(
                F.lit(float(hub_cap_min)),
                F.lit(hub_cap_factor) * F.col("med"),
            )
        )
        .select("entity")
    )
    small = per_conv.join(keep, "entity")
    a = small.alias("a")
    b = small.alias("b")
    return (
        a.join(
            b,
            (F.col("a.entity") == F.col("b.entity"))
            & (F.col("a.conv_id") < F.col("b.conv_id")),
        )
        .groupBy(
            F.col("a.conv_id").alias("subj"),
            F.col("b.conv_id").alias("obj"),
        )
        .agg(F.count("*").alias("n_shared"))
        .select(
            "subj",
            F.lit("mentions_with").alias("pred"),
            "obj",
            F.col("n_shared").cast("float").alias("weight"),
        )
    )


def co_invocation_edges(
    call_triples: DataFrame,
    min_cooccur: int = 2,
    hub_cap: int = 50,
) -> DataFrame:
    """Tools co-invoked within the same conversation — the co-caller affinity
    analog (/root/reference/rpg/indexer.go:820-885): pairs co-occurring >= 2
    times across conversations become weighted edges; conversations invoking
    > hub_cap distinct tools are skipped (the reference's explicit hub guard
    against O(k^2) pair explosion on mega-threads).
    """
    per_conv = (
        call_triples.select("conv_id", F.col("obj").alias("tool"))
        .distinct()
    )
    # hub cap BEFORE the pair self-join — the skew guard must precede the blowup
    fanout = per_conv.groupBy("conv_id").agg(
        F.count("*").alias("n_tools")
    )
    small = per_conv.join(
        fanout.where(F.col("n_tools") <= hub_cap), ["conv_id"]
    )
    a = small.alias("a")
    b = small.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.conv_id") == F.col("b.conv_id"))
            & (F.col("a.tool") < F.col("b.tool")),
        )
        .groupBy(
            F.col("a.tool").alias("subj"), F.col("b.tool").alias("obj")
        )
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") >= min_cooccur)
    )
    return pairs.select(
        "subj",
        F.lit("co_invoked").alias("pred"),
        "obj",
        F.lit("*").alias("conv_id"),
        F.lit(-1).cast("int").alias("turn_idx"),
        F.col("cnt").cast("float").alias("weight"),
    )
