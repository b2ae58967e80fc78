"""Graph traversal + aggregation semantics on hand-built fixtures."""

from __future__ import annotations

from grepai_spark import aggs, graphq

EDGES = [
    # subj, pred, obj, conv_id, turn_idx, weight
    ("a", "calls", "t1", "c1", 0, 1.0),
    ("b", "calls", "t1", "c1", 1, 1.0),
    ("a", "calls", "t2", "c2", 0, 1.0),
    ("t2", "calls", "t3", "c2", 1, 1.0),
    ("hub", "calls", "x1", "c3", 0, 1.0),
    ("hub", "calls", "x2", "c3", 1, 1.0),
    ("hub", "calls", "x3", "c3", 2, 1.0),
]
COLS = ["subj", "pred", "obj", "conv_id", "turn_idx", "weight"]


def _edges(spark):
    return spark.createDataFrame(EDGES, COLS)


def test_callers_callees(spark):
    e = _edges(spark)
    got = {(r.caller, r.n_calls) for r in graphq.callers(e, "t1").collect()}
    assert got == {("a", 1), ("b", 1)}
    got = {(r.callee, r.n_calls) for r in graphq.callees(e, "a").collect()}
    assert got == {("t1", 1), ("t2", 1)}


def test_bfs_depths_and_early_stop(spark, regimes):
    e = _edges(spark)
    for regime in regimes():
        got = {
            (r.node, r.depth) for r in graphq.bfs(e, "t3", depth=3).collect()
        }
        # t3 <- t2 <- a <- {t1} <- {b}
        assert got == {
            ("t3", 0),
            ("t2", 1),
            ("a", 2),
            ("t1", 3),
        }, regime
        # the frontier empties after depth 1: the depth cap is not reached
        got = {
            (r.node, r.depth) for r in graphq.bfs(e, "x1", depth=5).collect()
        }
        assert got == {
            ("x1", 0), ("hub", 1), ("x2", 2), ("x3", 2)
        }, regime


def test_bfs_hub_guard(spark, regimes):
    e = _edges(spark)
    for regime in regimes():
        # hub has degree 3; with hub_cap=2 it is reported but not expanded
        got = {
            (r.node, r.depth)
            for r in graphq.bfs(e, "x1", depth=2, hub_cap=2).collect()
        }
        assert got == {("x1", 0), ("hub", 1)}, regime
        # without the guard the other spokes appear at depth 2
        got2 = {
            (r.node, r.depth) for r in graphq.bfs(e, "x1", depth=2).collect()
        }
        assert got2 == {("x1", 0), ("hub", 1), ("x2", 2), ("x3", 2)}, regime


def test_feature_freq_deterministic_ties(spark):
    m = spark.createDataFrame(
        [("c", 0, "u", "Bb", 1, "entity"), ("c", 1, "u", "Aa", 1, "entity")],
        ["conv_id", "turn_idx", "role", "mention", "pos", "kind"],
    )
    rows = aggs.feature_freq_topn(m, 10).collect()
    # equal counts -> alphabetical order decides rank
    assert [(r.mention, r.rank) for r in rows] == [("Aa", 1), ("Bb", 2)]
