"""Stored index artifacts (stores.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from grepai_spark import stores

SF_DIR = "/root/testdata/sf0.001"


@pytest.mark.parametrize(
    "kind",
    [
        "transcripts",
        "chunks",
        "kg_edges",
        "lsh_store",
        "ivf_centroids",
        "graph_adj",
        "graph_deg",
        "graph_adj_pred",
        "graph_deg_pred",
    ],
)
def test_open_store_builds_and_reads(spark, kind):
    df = stores.open_store(spark, SF_DIR, kind)
    assert df.count() > 0
    # held-open contract: second open returns the cached handle
    assert stores.open_store(spark, SF_DIR, kind) is df


def test_store_contents_match_their_derivations(spark):
    from grepai_spark import pipeline
    from grepai_spark.synth import alias_dict_df

    t = stores.open_store(spark, SF_DIR, "transcripts")
    edges = pipeline.kg_edges_df(spark, t, alias_dict_df(spark))
    stored = stores.open_store(spark, SF_DIR, "kg_edges")
    key = ["subj", "pred", "obj", "conv_id", "turn_idx"]
    assert sorted(map(tuple, edges.select(key).collect())) == sorted(
        map(tuple, stored.select(key).collect())
    )


def test_graph_adjacency_matches_per_query_derivation(spark):
    """Every (direction, preds) selection served from the stored census
    equals the distinct adjacency + degree a per-query derivation from the
    edge table produces."""
    edges = stores.open_store(spark, SF_DIR, "kg_edges")

    def derive(direction, preds):
        e = edges.where(F.col("pred").isin(preds)) if preds else edges
        fwd = e.select(F.col("subj").alias("a"), F.col("obj").alias("b"))
        rev = e.select(F.col("obj").alias("a"), F.col("subj").alias("b"))
        adj = {"fwd": fwd, "rev": rev}.get(direction, fwd.union(rev))
        adj = adj.where(F.col("a") != F.col("b")).distinct()
        deg = adj.groupBy("a").agg(F.count("*").alias("deg"))
        return adj, deg

    cases = [
        ("both", None),
        ("fwd", None),
        ("rev", None),
        ("fwd", ["calls"]),
        ("both", ["calls"]),
        ("fwd", ["calls", "mentions"]),
    ]
    for direction, preds in cases:
        sa, sd = stores.graph_adjacency(spark, SF_DIR, direction, preds)
        da, dd = derive(direction, preds)
        assert sorted(map(tuple, sa.collect())) == sorted(
            map(tuple, da.collect())
        ), (direction, preds)
        assert sorted(map(tuple, sd.collect())) == sorted(
            map(tuple, dd.collect())
        ), (direction, preds)
