"""Connected components: large-star/small-star vs a union-find oracle."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from grepai_spark.cc import canonical_map, connected_components
from grepai_spark.link import alias_similarity_edges
from grepai_spark.synth import alias_dict_df


def _uf_components(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def test_cc_random_graphs(spark, regimes):
    """Both regimes — driver union-find fast path and the distributed star
    loop — must agree with the oracle."""
    rng = random.Random(42)
    for trial in range(3):
        n = 60
        nodes = [f"n{i:03d}" for i in range(n)]
        edges = [
            (rng.choice(nodes), rng.choice(nodes)) for _ in range(n // 2)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        df = spark.createDataFrame(edges, ["src", "dst"])
        touched = {x for e in edges for x in e}
        want = _uf_components(edges, sorted(touched))
        for regime in regimes():
            got = {
                r["node"]: r["component"]
                for r in connected_components(df).collect()
            }
            assert got == want, f"trial {trial} {regime}"


def test_cc_chain_and_cycle(spark, regimes):
    # long chain (worst case for naive propagation) + a cycle
    chain = [(f"c{i:02d}", f"c{i + 1:02d}") for i in range(20)]
    cycle = [("z1", "z2"), ("z2", "z3"), ("z3", "z1")]
    df = spark.createDataFrame(chain + cycle, ["src", "dst"])
    for regime in regimes():
        got = {
            r["node"]: r["component"]
            for r in connected_components(df).collect()
        }
        assert all(got[f"c{i:02d}"] == "c00" for i in range(21)), regime
        assert got["z1"] == got["z2"] == got["z3"] == "z1", regime


def test_canonical_map_merges_query_parser(spark):
    d = alias_dict_df(spark)
    sim = alias_similarity_edges(d)
    pairs = {(r.src, r.dst) for r in sim.collect()}
    assert ("e_parse_query", "e_query_parser_fast") in pairs
    # fetch_data vs fetch_rows share block 'data'? no — blocks are first token;
    # both 'data...'/'fetch...' — either way Jaccard 1/3 keeps them apart.
    assert not any(
        {a, b} == {"e_fetch_data", "e_fetch_rows"} for a, b in pairs
    )
    cmap = {
        r.canonical_id: r.entity_id for r in canonical_map(d, sim).collect()
    }
    assert cmap["e_query_parser_fast"] == "e_parse_query"
    assert cmap["e_parse_query"] == "e_parse_query"
    assert cmap["e_fetch_data"] == "e_fetch_data"
    assert cmap["e_fetch_rows"] == "e_fetch_rows"
    assert cmap["t_payments_charge"] == "t_payments_charge"
