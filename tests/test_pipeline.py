"""Full pipeline: P/R vs golden triples, idempotent resume, determinism."""

from __future__ import annotations

import pytest

from grepai_spark import pipeline
from grepai_spark.oracle import Triple, golden_triples, precision_recall
from grepai_spark.synth import ALIAS_ROWS, alias_dict_df


def _triple_set(edges_df):
    return {
        Triple(r.subj, r.pred, r.obj, r.conv_id, r.turn_idx)
        for r in edges_df.collect()
    }


def _edge_rows(edges_df):
    return sorted(
        (r.subj, r.pred, r.obj, r.conv_id, r.turn_idx, r.weight)
        for r in edges_df.collect()
    )


def _assert_counters_are_table_counts(spark, res, out):
    """run()'s edges/vertices counters come from rows it holds, not from
    count() jobs; they must still be the tables' row counts."""
    from grepai_spark.storage import Catalog

    catalog = Catalog(spark, out)
    assert res.counters["edges"] == catalog.read("edges").count()
    assert res.counters["vertices"] == catalog.read("vertices").count()


def _append_one_turn(spark, transcripts):
    """``transcripts`` plus one turn that re-derives conv-b's bucket."""
    import datetime

    from grepai_spark.schemas import TRANSCRIPTS

    return transcripts.unionByName(
        spark.createDataFrame(
            [("conv-b", 2, "user", "now MergeSort it", "",
              datetime.datetime(2024, 1, 2))],
            schema=TRANSCRIPTS,
        )
    )


def _golden(transcripts_df):
    rows = [r.asDict() for r in transcripts_df.collect()]
    return golden_triples(rows, ALIAS_ROWS)


def test_pipeline_pr_on_sf0001(spark, sf_transcripts, tmp_path):
    d = alias_dict_df(spark)
    res = pipeline.run(spark, sf_transcripts, d, str(tmp_path / "out"))
    got = _triple_set(res.edges)
    want = _golden(sf_transcripts)
    p, r = precision_recall(got, want)
    assert p >= 0.95 and r >= 0.95, (p, r)
    assert p == 1.0 and r == 1.0  # clean fixture: must be exact
    # one edge derivation: the resumable run writes exactly the rows of the
    # fused flagship query, weight included
    assert _edge_rows(res.edges) == _edge_rows(
        pipeline.kg_edges_df(spark, sf_transcripts, d)
    )
    # vertices: QueryParserFast merged away by CC
    v = {row.entity_id for row in res.vertices.collect()}
    assert "e_parse_query" in v and "e_query_parser_fast" not in v
    # build_vertices emits one row per canonical entity
    assert res.counters["canonical_entities"] == res.counters["vertices"]


def test_pipeline_resume_after_kill(spark, tiny_transcripts, tmp_path):
    out = str(tmp_path / "out")
    d = alias_dict_df(spark)
    # clean run for the expected output
    clean = pipeline.run(spark, tiny_transcripts, d, str(tmp_path / "clean"))
    want = _triple_set(clean.edges)

    with pytest.raises(pipeline.InjectedFailure):
        pipeline.run(spark, tiny_transcripts, d, out, fail_after="edges")
    res = pipeline.run(spark, tiny_transcripts, d, out)
    # resume skipped the already-done edges buckets
    assert res.counters["edges_buckets_pending"] == 0
    assert _triple_set(res.edges) == want
    _assert_counters_are_table_counts(spark, res, out)


def test_pipeline_rerun_noop(spark, tiny_transcripts, tmp_path):
    out = str(tmp_path / "out")
    d = alias_dict_df(spark)
    r1 = pipeline.run(spark, tiny_transcripts, d, out)
    _assert_counters_are_table_counts(spark, r1, out)
    r2 = pipeline.run(spark, tiny_transcripts, d, out)
    assert r2.counters["edges_buckets_pending"] == 0
    assert _triple_set(r1.edges) == _triple_set(r2.edges)
    _assert_counters_are_table_counts(spark, r2, out)


def test_pipeline_rerun_over_changed_input(spark, tiny_transcripts, tmp_path):
    """A rerun recomputes only the buckets whose input changed and leaves
    the tables equal to a clean run over the new input: one appended turn
    re-derives its conversation's bucket; a bucket edited to yield no edge
    at all is emptied, not left holding its old rows."""
    from grepai_spark.schemas import TRANSCRIPTS

    out = str(tmp_path / "out")
    d = alias_dict_df(spark)
    pipeline.run(spark, tiny_transcripts, d, out)
    appended = _append_one_turn(spark, tiny_transcripts)
    silent = [
        (c, i, role, "nothing to see" if c == "conv-d" else text, tool, t)
        for c, i, role, text, tool, t in map(tuple, appended.collect())
    ]
    for n, step in enumerate(
        [appended, spark.createDataFrame(silent, schema=TRANSCRIPTS)]
    ):
        res = pipeline.run(spark, step, d, out)
        assert res.counters["edges_buckets_pending"] == 1
        clean = pipeline.run(spark, step, d, str(tmp_path / f"clean{n}"))
        assert _edge_rows(res.edges) == _edge_rows(clean.edges)
        _assert_counters_are_table_counts(spark, res, out)


def test_zero_pending_resume_job_budget(
    spark, tiny_transcripts, tmp_path, count_jobs
):
    """A zero-pending resume runs only the content-hash aggregate (2 jobs
    under AQE): lineage is read and the metrics row appended with pyarrow
    on the driver, and the vertices overwrite is gated on the dictionary
    signature. It ran 17 when the gates were left-anti joins, the canonical
    map a checkpoint of a Python-list DataFrame and the counters count()
    jobs, and 7 while lineage and metrics went through Spark and vertices
    was rewritten every run; a reintroduced Python-RDD scan,
    schema-inference job, gate join or ungated write fails this."""
    out = str(tmp_path / "out")
    d = alias_dict_df(spark)
    pipeline.run(spark, tiny_transcripts, d, out)
    res, n = count_jobs(lambda: pipeline.run(spark, tiny_transcripts, d, out))
    assert res.counters["edges_buckets_pending"] == 0
    assert n <= 2, n


def test_one_turn_append_job_budget(
    spark, tiny_transcripts, tmp_path, count_jobs
):
    """Appending one turn recomputes its bucket with one pass per step: the
    content-hash aggregate, the edges derive and swap and the graph
    artifacts; the lineage write and the metrics append run on the driver
    and the unchanged dictionary leaves vertices alone. It ran 24 when
    mark_done re-derived the stage to count its rows and merged lineage
    through a read-back and an anti-join, and 21 while lineage and metrics
    went through Spark and vertices was rewritten every run."""
    out = str(tmp_path / "out")
    d = alias_dict_df(spark)
    pipeline.run(spark, tiny_transcripts, d, out)
    appended = _append_one_turn(spark, tiny_transcripts)
    res, n = count_jobs(lambda: pipeline.run(spark, appended, d, out))
    assert res.counters["edges_buckets_pending"] == 1
    assert n <= 15, n


def _vertex_rows(vertices_df):
    return sorted(
        (r.entity_id, r.canonical_name, r.kind, tuple(r.aliases))
        for r in vertices_df.collect()
    )


def _vertex_files(out):
    import os

    d = os.path.join(out, "vertices")
    return sorted(f for f in os.listdir(d) if not f.startswith((".", "_")))


def _dict_df(spark, rows):
    from grepai_spark.dimcache import local_df
    from grepai_spark.schemas import ALIAS_DICT

    return local_df(spark, rows, ALIAS_DICT)


def test_vertices_gated_on_dictionary_signature(
    spark, tiny_transcripts, tmp_path
):
    """run() rewrites vertices only when the dictionary signature changed:
    an unchanged dictionary leaves its files in place; adding or removing
    an alias, or flipping use_lsh, rewrites it to the new dictionary's
    vertices."""
    out = str(tmp_path / "out")
    d = alias_dict_df(spark)
    res = pipeline.run(spark, tiny_transcripts, d, out)
    files = _vertex_files(out)
    res = pipeline.run(spark, tiny_transcripts, d, out)
    assert _vertex_files(out) == files
    assert _vertex_rows(res.vertices) == _vertex_rows(
        pipeline.kg_vertices_df(spark, d)
    )
    plus = _dict_df(
        spark, [*ALIAS_ROWS, ("mergeSorter", "e_merge_sort", "entity")]
    )
    minus = _dict_df(spark, [r for r in ALIAS_ROWS if r[0] != "hash_join"])
    for step, use_lsh in ((plus, False), (minus, False), (minus, True)):
        res = pipeline.run(spark, tiny_transcripts, step, out, use_lsh=use_lsh)
        assert _vertex_files(out) != files
        files = _vertex_files(out)
        assert _vertex_rows(res.vertices) == _vertex_rows(
            pipeline.kg_vertices_df(spark, step)
        )
        assert res.counters["vertices"] == len(_vertex_rows(res.vertices))
    assert _vertex_rows(res.vertices) != _vertex_rows(
        pipeline.kg_vertices_df(spark, plus)
    )


def test_vertices_gate_rewrites_what_it_cannot_vouch_for(
    spark, tiny_transcripts, tmp_path, monkeypatch
):
    """vertices is rewritten when no lineage row vouches for it: a catalog
    written before the gate (no stage=vertices lineage partition) is
    rewritten once and marked; a deleted vertices table is rewritten; a
    crash in the vertices mark_done converges on the next run."""
    import os
    import shutil

    from grepai_spark import lineage

    out = str(tmp_path / "out")
    d = alias_dict_df(spark)
    want = _vertex_rows(pipeline.kg_vertices_df(spark, d))
    pipeline.run(spark, tiny_transcripts, d, out)

    def vertices_lineage():
        from grepai_spark.schemas import LINEAGE
        from grepai_spark.storage import Catalog

        rows = Catalog(spark, out).read("lineage", LINEAGE).collect()
        return [r for r in rows if r["stage"] == "vertices"]

    # a catalog the ungated pipeline wrote: no vertices lineage
    shutil.rmtree(os.path.join(out, "lineage", "stage=vertices"))
    files = _vertex_files(out)
    res = pipeline.run(spark, tiny_transcripts, d, out)
    assert _vertex_files(out) != files
    assert _vertex_rows(res.vertices) == want
    (row,) = vertices_lineage()
    assert (row["bucket"], row["status"], row["rows_in"], row["rows_out"]) == (
        0, "done", len(ALIAS_ROWS), len(want)
    )
    files = _vertex_files(out)
    pipeline.run(spark, tiny_transcripts, d, out)
    assert _vertex_files(out) == files

    shutil.rmtree(os.path.join(out, "vertices"))
    res = pipeline.run(spark, tiny_transcripts, d, out)
    assert _vertex_rows(res.vertices) == want

    # killed after the overwrite, before the mark: the next run rewrites
    # vertices again (idempotent) and marks it
    mark_done = lineage.mark_done

    def crash_on_vertices(catalog, stage, *a):
        if stage == "vertices":
            raise pipeline.InjectedFailure("killed before the vertices mark")
        return mark_done(catalog, stage, *a)

    monkeypatch.setattr(lineage, "mark_done", crash_on_vertices)
    with pytest.raises(pipeline.InjectedFailure):
        pipeline.run(spark, tiny_transcripts, d, out, use_lsh=True)
    monkeypatch.undo()
    files = _vertex_files(out)
    res = pipeline.run(spark, tiny_transcripts, d, out, use_lsh=True)
    assert _vertex_files(out) != files
    assert _vertex_rows(res.vertices) == want
    files = _vertex_files(out)
    pipeline.run(spark, tiny_transcripts, d, out, use_lsh=True)
    assert _vertex_files(out) == files
    assert len(vertices_lineage()) == 1


def test_lineage_after_one_turn_append(
    spark, tiny_transcripts, tmp_path, local_tz_not_utc
):
    """mark_done writes each stage's lineage partition from the rows the
    driver holds: after a one-turn append the table holds one row per
    (stage, bucket), the untouched rows keep every field (updated_ts
    included), and each bucket's rows_out is its row count in the stage's
    table."""
    from grepai_spark import lineage
    from grepai_spark.schemas import LINEAGE
    from grepai_spark.storage import Catalog

    out = str(tmp_path / "out")
    d = alias_dict_df(spark)

    def lineage_rows():
        cat = Catalog(spark, out)
        rows = cat.read(lineage.LINEAGE_TABLE, LINEAGE).collect()
        by_key = {(r["stage"], r["bucket"]): r.asDict() for r in rows}
        assert len(by_key) == len(rows)  # one row per (stage, bucket)
        return by_key

    pipeline.run(spark, tiny_transcripts, d, out, embed=True)
    before = lineage_rows()
    res = pipeline.run(
        spark, _append_one_turn(spark, tiny_transcripts), d, out, embed=True
    )
    assert res.counters["edges_buckets_pending"] == 1
    assert res.counters["vectors_buckets_pending"] == 1
    after = lineage_rows()
    assert after.keys() == before.keys()
    changed = sorted(k for k in after if after[k] != before[k])
    assert [s for s, _ in changed] == ["edges", "vectors"]
    assert changed[0][1] == changed[1][1]
    for k in changed:
        assert after[k]["content_hash"] != before[k]["content_hash"]
        assert after[k]["updated_ts"] > before[k]["updated_ts"]
    cat = Catalog(spark, out)
    for stage, table in (("edges", "edges"), ("vectors", "turn_vectors")):
        counts = dict(cat.read(table).groupBy("bucket").count().collect())
        for (s, b), r in after.items():
            if s == stage:
                assert r["status"] == "done"
                assert r["rows_out"] == counts.get(b, 0), (stage, b)


def test_pipeline_on_hostile_dictionary(
    spark, tmp_path, regimes, hostile_alias_rows
):
    """The non-ASCII hostile dictionary forces link's distributed tail;
    run in both regimes, so the distributed CC result also goes through
    run()'s rows-held canonical map. The written edges equal the flagship
    query's on the same dictionary, and the counters the table counts."""
    import datetime

    from grepai_spark.schemas import ALIAS_DICT, TRANSCRIPTS

    ts = datetime.datetime(2024, 1, 1)
    t = spark.createDataFrame(
        [
            ("conv-h", 0, "user", "call naïveRôle then role_naive", "", ts),
            ("conv-h", 1, "assistant", "FetchData and fetch_data", "x.y", ts),
            ("conv-i", 0, "user", "sharedTokenSet3 hub_alias_0007 __", "", ts),
            ("conv-i", 1, "user", "DataFetcher, ParseQuery", None, ts),
        ],
        schema=TRANSCRIPTS,
    )
    d = spark.createDataFrame(hostile_alias_rows, schema=ALIAS_DICT)
    for regime in regimes():
        out = str(tmp_path / regime)
        res = pipeline.run(spark, t, d, out)
        want = _edge_rows(pipeline.kg_edges_df(spark, t, d))
        assert len(want) > 4, regime
        assert _edge_rows(res.edges) == want, regime
        _assert_counters_are_table_counts(spark, res, out)


def test_pipeline_lsh_variant_same_output(spark, tiny_transcripts, tmp_path):
    d = alias_dict_df(spark)
    a = pipeline.run(spark, tiny_transcripts, d, str(tmp_path / "a"))
    b = pipeline.run(
        spark, tiny_transcripts, d, str(tmp_path / "b"), use_lsh=True
    )
    assert _triple_set(a.edges) == _triple_set(b.edges)


@pytest.mark.parametrize("use_lsh", [False, True])
def test_alias_entity_map_same_in_distributed_regimes(
    spark, regimes, use_lsh
):
    """The one alias-map tail gives the same map whether linking and CC ran
    on the driver (default for this dictionary) or distributed."""
    d = alias_dict_df(spark)
    got = {r: pipeline.alias_entity_map(d, use_lsh) for r in regimes()}
    assert got["distributed"] == got["driver"]
    # recomputed, not served from the memo
    assert got["distributed"] is not got["driver"]


def test_pipeline_null_text_and_tool(spark, tmp_path):
    """Null or empty text/tool degrade to "no edge from that column": a
    tool with null text is one calls edge, a null-tool turn still yields
    its mentions, and turns with neither yield nothing."""
    import datetime

    from grepai_spark.schemas import TRANSCRIPTS

    ts = datetime.datetime(2024, 1, 1)
    rows = [
        ("conv-n", 0, "assistant", None, "payments.charge", ts),
        ("conv-n", 1, "user", "", None, ts),
        ("conv-n", 2, "user", None, None, ts),
        ("conv-n", 3, "user", "please run FetchData now", None, ts),
    ]
    t = spark.createDataFrame(rows, schema=TRANSCRIPTS)
    res = pipeline.run(spark, t, alias_dict_df(spark), str(tmp_path / "out"))
    assert _triple_set(res.edges) == {
        Triple("assistant", "calls", "payments.charge", "conv-n", 0),
        Triple("user", "mentions", "e_fetch_data", "conv-n", 3),
    }


def test_pipeline_parallelism_invariance(spark, sf_transcripts, tmp_path):
    """Same triples regardless of partitioning (determinism criterion #7)."""
    d = alias_dict_df(spark)
    a = pipeline.run(
        spark,
        sf_transcripts.repartition(2),
        d,
        str(tmp_path / "p2"),
        n_buckets=4,
    )
    b = pipeline.run(
        spark,
        sf_transcripts.repartition(16),
        d,
        str(tmp_path / "p16"),
        n_buckets=32,
    )
    assert _triple_set(a.edges) == _triple_set(b.edges)


def test_pipeline_embed_stage_resumes_and_caches(spark, tiny_transcripts, tmp_path):
    from grepai_spark.storage import Catalog

    out = str(tmp_path / "out_embed")
    d = alias_dict_df(spark)
    r1 = pipeline.run(spark, tiny_transcripts, d, out, embed=True)
    assert r1.counters["vectors_buckets_pending"] > 0
    # duplicate text across conv-a/0 and conv-c/1 -> encoded once
    assert r1.counters["embed_cache_misses"] < r1.counters["embed_distinct_texts"] + 1
    cat = Catalog(spark, out)
    vecs = cat.read("turn_vectors")
    assert vecs.count() == tiny_transcripts.count()
    dup = {
        (r["conv_id"], r["turn_idx"]): tuple(r["vector"])
        for r in vecs.collect()
    }
    # content-hash cache: identical text => identical vector
    assert dup[("conv-a", 0)] == dup[("conv-c", 1)]

    # rerun: nothing pending, cache fully warm
    r2 = pipeline.run(spark, tiny_transcripts, d, out, embed=True)
    assert r2.counters["vectors_buckets_pending"] == 0


def test_pipeline_resume_after_embed_kill(spark, tiny_transcripts, tmp_path):
    out = str(tmp_path / "out_embed_kill")
    d = alias_dict_df(spark)
    with pytest.raises(pipeline.InjectedFailure):
        pipeline.run(
            spark, tiny_transcripts, d, out, embed=True, fail_after="embed"
        )
    res = pipeline.run(spark, tiny_transcripts, d, out, embed=True)
    # the kill came after embed and before edges: vectors skip, edges run
    assert res.counters["vectors_buckets_pending"] == 0
    assert res.counters["edges_buckets_pending"] > 0
    clean = pipeline.run(
        spark, tiny_transcripts, d, str(tmp_path / "clean2"), embed=True
    )
    assert _triple_set(res.edges) == _triple_set(clean.edges)


def test_embed_cache_consistent_after_kill_between_merges(
    spark, tiny_transcripts, tmp_path
):
    """Crash point BETWEEN the cache merge and the turn_vectors merge
    (VERDICT r4 #8): the first run commits the embedding cache but dies
    before writing turn_vectors; the re-run must (a) converge to exactly
    the turn_vectors a clean run produces and (b) encode NOTHING — every
    distinct text is already a cache hit."""
    from grepai_spark.storage import Catalog

    out = str(tmp_path / "out_cache_kill")
    d = alias_dict_df(spark)
    with pytest.raises(pipeline.InjectedFailure):
        pipeline.run(
            spark, tiny_transcripts, d, out, embed=True,
            fail_after="embed_cache",
        )
    cat = Catalog(spark, out)
    assert cat.exists("embedding_cache")  # cache merge committed pre-kill
    assert not cat.exists("turn_vectors")  # vectors merge never ran
    res = pipeline.run(spark, tiny_transcripts, d, out, embed=True)
    assert res.counters["embed_cache_misses"] == 0
    assert res.counters["embed_encoded_rows"] == 0  # zero re-encoding
    clean = pipeline.run(
        spark, tiny_transcripts, d, str(tmp_path / "clean3"), embed=True
    )
    got = {
        (r["conv_id"], r["turn_idx"]): tuple(r["vector"])
        for r in cat.read("turn_vectors").collect()
    }
    want = {
        (r["conv_id"], r["turn_idx"]): tuple(r["vector"])
        for r in Catalog(spark, str(tmp_path / "clean3"))
        .read("turn_vectors")
        .collect()
    }
    assert got == want


def test_run_maintains_graph_artifacts(
    spark, tiny_transcripts, tmp_path, regimes
):
    """pipeline.run writes the graph-query plane's stored adjacency +
    degree census alongside the edge table (stores.build_graph_artifacts);
    a BFS over the artifacts equals a BFS that derives adjacency from the
    edges per query (the ad-hoc fallback path)."""
    from grepai_spark import graphq
    from grepai_spark.storage import Catalog
    from pyspark.sql import functions as F

    out = str(tmp_path / "out_graph")
    d = alias_dict_df(spark)
    res = pipeline.run(spark, tiny_transcripts, d, out)
    cat = Catalog(spark, out)
    for t in ("graph_adj", "graph_deg", "graph_adj_pred", "graph_deg_pred"):
        assert cat.exists(t), t
    adj = (
        cat.read("graph_adj").where(F.col("dir") == "both").select("a", "b")
    )
    deg = (
        cat.read("graph_deg")
        .where(F.col("dir") == "both")
        .select("a", "deg")
    )
    seed = "payments.charge"
    for regime in regimes():
        via_store = graphq.bfs(res.edges, seed, depth=2, adj=adj, deg=deg)
        via_derive = graphq.bfs(res.edges, seed, depth=2)
        assert sorted(map(tuple, via_store.collect())) == sorted(
            map(tuple, via_derive.collect())
        ), regime


def test_merge_rewrites_only_dirty_buckets(spark, tmp_path):
    """Partition-scoped merge (Iceberg overwritePartitions stand-in): merging
    updates for one bucket must leave every other bucket's files untouched
    on disk — not rewrite the whole table."""
    import glob
    import os
    import time

    from grepai_spark.storage import Catalog

    cat = Catalog(spark, str(tmp_path / "cat_merge"))
    df = spark.createDataFrame(
        [(b, i) for b in range(4) for i in range(10)], "bucket int, v int"
    )
    cat.merge_by_key("t", df, ["bucket"], partition_by=["bucket"])

    def mtimes():
        return {
            p: os.path.getmtime(p)
            for p in glob.glob(str(tmp_path / "cat_merge/t/bucket=*/*.parquet"))
        }

    before = mtimes()
    assert before
    time.sleep(1.1)
    upd = spark.createDataFrame(
        [(2, i + 100) for i in range(5)], "bucket int, v int"
    )
    cat.merge_by_key("t", upd, ["bucket"], partition_by=["bucket"])
    after = mtimes()
    for p, m in before.items():
        if "bucket=2" not in p:
            assert after.get(p) == m, f"clean bucket file rewritten: {p}"
    got = {(r["bucket"], r["v"]) for r in cat.read("t").collect()}
    want = {(b, i) for b in (0, 1, 3) for i in range(10)} | {
        (2, i + 100) for i in range(5)
    }
    assert got == want


def test_fused_kg_edges_plan_has_no_exchange(spark, tmp_path):
    """Regression guard for the headline plan property: on a stored table
    the fused kg_edges derivation is ONE narrow map — no Exchange node may
    appear (a reintroduced shuffle is the single biggest scale regression
    this pipeline could take)."""
    from grepai_spark.synth import alias_dict_df, load_transcripts

    store = str(tmp_path / "store.parquet")
    load_transcripts(spark, "/root/testdata/sf0.001").write.parquet(store)
    t = spark.read.parquet(store)
    df = pipeline.kg_edges_df(spark, t, alias_dict_df(spark))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "ArrowEvalPython" in plan or "BatchEvalPython" in plan


def test_latest_metrics_view_dedups_append_only_log(spark, tmp_path):
    """S8 contract (ADVICE r3): the metrics table is an append-only run log;
    latest_metrics is the documented reader — one row per metric, max run_ts
    wins."""
    import datetime

    from grepai_spark.pipeline import latest_metrics
    from grepai_spark.storage import Catalog

    cat = Catalog(spark, str(tmp_path / "mcat"))
    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    t1 = datetime.datetime(2024, 1, 2, 12, 0, 0)
    rows = [
        ("edges", 10, t0),
        ("edges", 25, t1),
        ("vertices", 5, t0),
    ]
    cat.append(
        "metrics",
        spark.createDataFrame(
            rows, "metric string, value long, run_ts timestamp"
        ),
    )
    got = {
        r["metric"]: r["value"] for r in latest_metrics(cat).collect()
    }
    assert got == {"edges": 25, "vertices": 5}
