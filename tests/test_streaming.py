"""Structured Streaming incremental plane: drain, resume, idempotence."""

from __future__ import annotations

import os

import pytest

from grepai_spark import extract, streaming
from grepai_spark.storage import Catalog
from grepai_spark.synth import ALIAS_ROWS


def _write_slice(df, path):
    df.coalesce(1).write.mode("overwrite").parquet(path)


def _drain(spark, src, out, ck):
    """Drain `src` into the KG edge sink with the synthetic alias dictionary."""
    from grepai_spark.synth import alias_dict_df

    streaming.incremental_kg_edges(
        spark, f"{src}/slice*", out, ck, alias_dict_df(spark)
    )


def _calls(cat):
    """(conv_id, turn_idx, obj) of every calls row in the KG edge sink —
    the slice extract.call_triples derives."""
    return [
        (r["conv_id"], r["turn_idx"], r["obj"])
        for r in cat.read(streaming.KG_EDGES_TABLE)
        .where("pred = 'calls'")
        .collect()
    ]


def _call_triples(df):
    return {
        (r["conv_id"], r["turn_idx"], r["obj"])
        for r in extract.call_triples(df).collect()
    }


def test_streaming_drains_and_resumes(spark, tiny_transcripts, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    os.makedirs(src, exist_ok=True)

    first = tiny_transcripts.where("conv_id in ('conv-a', 'conv-b')")
    second = tiny_transcripts.where("conv_id in ('conv-c', 'conv-d')")
    _write_slice(first, f"{src}/slice1")

    _drain(spark, src, out, ck)
    cat = Catalog(spark, out)
    assert set(_calls(cat)) == _call_triples(first)

    # second drain picks up ONLY the new slice (checkpoint = resume gate)
    _write_slice(second, f"{src}/slice2")
    _drain(spark, src, out, ck)
    got2 = set(_calls(cat))
    assert got2 == _call_triples(tiny_transcripts)

    # idempotence: draining again with nothing new changes nothing
    _drain(spark, src, out, ck)
    assert set(_calls(cat)) == got2


def test_streaming_merge_is_idempotent_on_redelivery(
    spark, tiny_transcripts, tmp_path, regimes
):
    """Re-delivering the same slice through a FRESH checkpoint (at-least-once
    delivery) must not duplicate edges — the MERGE key absorbs it — with
    the batch merged on the driver and in Spark."""
    for regime in regimes():
        src = str(tmp_path / regime / "src2")
        out = str(tmp_path / regime / "out2")
        os.makedirs(src, exist_ok=True)
        _write_slice(tiny_transcripts, f"{src}/slice1")

        _drain(spark, src, out, str(tmp_path / regime / "ckA"))
        _drain(spark, src, out, str(tmp_path / regime / "ckB"))
        keys = _calls(Catalog(spark, out))
        assert len(keys) == len(set(keys))
        assert set(keys) == _call_triples(tiny_transcripts)


def test_streaming_kg_edges_match_batch(
    spark, tiny_transcripts, tmp_path, regimes
):
    """The fused streaming derivation must converge to EXACTLY the batch
    flagship's edge set, across micro-batch splits and re-delivery, with
    the batch derived on the driver and in Spark."""
    for regime in regimes():
        _match_batch(spark, tiny_transcripts, tmp_path / regime)


def _match_batch(spark, tiny_transcripts, tmp_path):
    from grepai_spark import pipeline
    from grepai_spark.synth import alias_dict_df

    src = str(tmp_path / "ksrc")
    out = str(tmp_path / "kout")
    ck = str(tmp_path / "kck")
    os.makedirs(src, exist_ok=True)
    d = alias_dict_df(spark)

    first = tiny_transcripts.where("conv_id in ('conv-a', 'conv-b')")
    second = tiny_transcripts.where("conv_id in ('conv-c', 'conv-d')")
    _write_slice(first, f"{src}/slice1")
    streaming.incremental_kg_edges(spark, f"{src}/slice*", out, ck, d)
    _write_slice(second, f"{src}/slice2")
    # re-deliver slice1's conversations too (idempotent MERGE must dedup)
    _write_slice(first, f"{src}/slice3")
    streaming.incremental_kg_edges(spark, f"{src}/slice*", out, ck, d)

    cat = Catalog(spark, out)
    got = {
        (r["subj"], r["pred"], r["obj"], r["conv_id"], r["turn_idx"])
        for r in cat.read(streaming.KG_EDGES_TABLE).collect()
    }
    want = {
        (r["subj"], r["pred"], r["obj"], r["conv_id"], r["turn_idx"])
        for r in pipeline.kg_edges_df(spark, tiny_transcripts, d).collect()
    }
    assert got == want

    # null or empty text/tool reach the drain too: a tool with null text is
    # one calls edge, a null-tool turn keeps its mention, and turns with
    # neither add nothing
    import datetime

    from grepai_spark.schemas import TRANSCRIPTS

    ts = datetime.datetime(2024, 1, 1)
    nulls = spark.createDataFrame(
        [
            ("conv-n", 0, "assistant", None, "payments.charge", ts),
            ("conv-n", 1, "user", "", None, ts),
            ("conv-n", 2, "user", None, None, ts),
            ("conv-n", 3, "user", "please run FetchData now", None, ts),
        ],
        schema=TRANSCRIPTS,
    )
    _write_slice(nulls, f"{src}/slice4")
    streaming.incremental_kg_edges(spark, f"{src}/slice*", out, ck, d)
    got = {
        (r["subj"], r["pred"], r["obj"], r["conv_id"], r["turn_idx"])
        for r in cat.read(streaming.KG_EDGES_TABLE).collect()
    }
    assert got - want == {
        ("assistant", "calls", "payments.charge", "conv-n", 0),
        ("user", "mentions", "e_fetch_data", "conv-n", 3),
    }
    assert want <= got


def test_stateful_conversation_stats(spark, tiny_transcripts, tmp_path):
    """applyInPandasWithState counters persist across micro-batches and
    across RESTARTS (state store in the checkpoint), converging to the
    batch groupBy totals."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "ssrc")
    out = str(tmp_path / "sout")
    ck = str(tmp_path / "sck")
    os.makedirs(src, exist_ok=True)

    first = tiny_transcripts.where("conv_id in ('conv-a', 'conv-b')")
    second = tiny_transcripts.where("conv_id in ('conv-a', 'conv-c', 'conv-d')")
    _write_slice(first, f"{src}/slice1")
    streaming.conversation_stats_stream(spark, f"{src}/slice*", out, ck)
    # restart with a second file: conv-a arrives AGAIN, so its state must
    # resume from the checkpoint and count the newly delivered rows on top
    # (per-delivery counting, like the reference re-indexing a re-saved
    # file); conv-c/conv-d start fresh
    _write_slice(second, f"{src}/slice2")
    streaming.conversation_stats_stream(spark, f"{src}/slice*", out, ck)

    cat = Catalog(spark, out)
    got = {
        r["conv_id"]: (r["turn_count"], r["tool_calls"], r["last_turn_idx"])
        for r in cat.read(streaming.CONV_STATS_TABLE).collect()
    }
    want_df = (
        first.unionByName(second)
        .groupBy("conv_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("tool") != "", 1).otherwise(0)).alias("t"),
            F.max("turn_idx").alias("m"),
        )
    )
    want = {
        r["conv_id"]: (r["n"], r["t"], r["m"]) for r in want_df.collect()
    }
    assert got == want


def _bucket_file_mtimes(table_dir: str) -> dict[str, float]:
    """{bucket=N/part-file: mtime} for every parquet data file."""
    out = {}
    for entry in os.listdir(table_dir):
        sub = os.path.join(table_dir, entry)
        if not (entry.startswith("bucket=") and os.path.isdir(sub)):
            continue
        for f in os.listdir(sub):
            if f.endswith(".parquet"):
                out[f"{entry}/{f}"] = os.path.getmtime(os.path.join(sub, f))
    return out


def test_streaming_merge_rewrites_only_dirty_buckets(
    spark, tiny_transcripts, tmp_path
):
    """The streaming sink is bucketed: a micro-batch touching only conv-c/d
    must leave conv-a/b's bucket files untouched on disk (same inode+mtime),
    proving the merge is O(dirty buckets), not O(table)."""
    from grepai_spark import lineage

    src = str(tmp_path / "src3")
    out = str(tmp_path / "out3")
    ck = str(tmp_path / "ck3")
    os.makedirs(src, exist_ok=True)

    first = tiny_transcripts.where("conv_id = 'conv-a'")
    second = tiny_transcripts.where("conv_id <> 'conv-a'")
    _write_slice(first, f"{src}/slice1")
    _drain(spark, src, out, ck)

    table_dir = os.path.join(out, streaming.KG_EDGES_TABLE)
    before = _bucket_file_mtimes(table_dir)
    assert before, "expected bucket=N partition layout"

    # buckets the second slice will touch. Scope-replacing MERGE (round 6)
    # dirties the bucket of EVERY delivered turn — including turns whose new
    # extraction is empty, whose old rows it must be able to clear — so the
    # dirty set is keyed by the delivered conversations, not just those
    # producing call edges.
    scope2 = lineage.with_bucket(second)
    dirty = {r["bucket"] for r in scope2.select("bucket").distinct().collect()}
    assert dirty, "fixture must deliver second-slice turns"

    _write_slice(second, f"{src}/slice2")
    _drain(spark, src, out, ck)

    after = _bucket_file_mtimes(table_dir)
    clean_before = {
        k: v
        for k, v in before.items()
        if int(k.split("=")[1].split("/")[0]) not in dirty
    }
    assert clean_before, "fixture must leave at least one clean bucket"
    for k, mtime in clean_before.items():
        assert after.get(k) == mtime, f"clean bucket file rewritten: {k}"

    # and the merged content is still exactly right
    assert set(_calls(Catalog(spark, out))) == _call_triples(tiny_transcripts)


def test_stream_resumes_over_unbucketed_legacy_table(
    spark, tiny_transcripts, tmp_path
):
    """ADVICE r3: a sink table written by a pre-bucketed version (no bucket
    column) must migrate cleanly on the next drain instead of failing the
    bucket-keyed merge, and end up in the bucketed layout with the union of
    old + new edges."""
    from grepai_spark import pipeline
    from grepai_spark.synth import alias_dict_df

    src = str(tmp_path / "msrc")
    out = str(tmp_path / "mout")
    ck = str(tmp_path / "mck")
    os.makedirs(src, exist_ok=True)

    first = tiny_transcripts.where("conv_id in ('conv-a', 'conv-b')")
    second = tiny_transcripts.where("conv_id not in ('conv-a', 'conv-b')")

    # legacy layout: edges WITHOUT a bucket column, unpartitioned
    cat = Catalog(spark, out)
    cat.overwrite(
        streaming.KG_EDGES_TABLE,
        pipeline.kg_edges_df(spark, first, alias_dict_df(spark)),
    )
    assert "bucket" not in cat.read(streaming.KG_EDGES_TABLE).columns

    _write_slice(second, f"{src}/slice1")
    _drain(spark, src, out, ck)

    migrated = cat.read(streaming.KG_EDGES_TABLE)
    assert "bucket" in migrated.columns
    table_dir = os.path.join(out, streaming.KG_EDGES_TABLE)
    assert any(e.startswith("bucket=") for e in os.listdir(table_dir))
    assert set(_calls(cat)) == _call_triples(tiny_transcripts)
    # the sink had no dictionary record: it is adopted and recorded
    with open(f"{table_dir}.dictionary_signature") as fh:
        want = pipeline._dictionary(alias_dict_df(spark), False).signature
        assert fh.read() == want


def test_stream_refuses_a_changed_dictionary(
    spark, tiny_transcripts, tmp_path
):
    """The edge sink records its dictionary signature: a restart with the
    same dictionary drains on, one with another dictionary raises before
    any batch runs and leaves the sink as it was."""
    from grepai_spark.dimcache import local_df
    from grepai_spark.schemas import ALIAS_DICT

    src = str(tmp_path / "dsrc")
    out = str(tmp_path / "dout")
    ck = str(tmp_path / "dck")
    os.makedirs(src, exist_ok=True)
    first = tiny_transcripts.where("conv_id in ('conv-a', 'conv-b')")
    second = tiny_transcripts.where("conv_id not in ('conv-a', 'conv-b')")
    _write_slice(first, f"{src}/slice1")
    _drain(spark, src, out, ck)
    cat = Catalog(spark, out)
    before = set(_calls(cat))
    assert before == _call_triples(first)

    _write_slice(second, f"{src}/slice2")
    minus = local_df(
        spark, [r for r in ALIAS_ROWS if r[0] != "hash_join"], ALIAS_DICT
    )
    with pytest.raises(ValueError, match="dictionary"):
        streaming.incremental_kg_edges(spark, f"{src}/slice*", out, ck, minus)
    assert set(_calls(cat)) == before
    _drain(spark, src, out, ck)
    assert set(_calls(cat)) == _call_triples(tiny_transcripts)


def _edge_set(df):
    return {
        (r["subj"], r["pred"], r["obj"], r["conv_id"], r["turn_idx"])
        for r in df.collect()
    }


def test_daemon_trigger_reindexes_modified_turns(
    spark, tiny_transcripts, tmp_path
):
    """W1/W2 daemon mode (VERDICT r5 #5): a processingTime-trigger stream is
    the watch daemon — it keeps folding arriving files in until stopped —
    and redelivering a MODIFIED turn must converge the sink to the batch
    truth over the LATEST content (ref cli/watch.go:2007-2133 re-index on
    modify). Two modifications are pushed through the live stream: one that
    REWRITES a turn's edges (old tool call gone, new mention appears) and
    one that leaves the turn with ZERO edges (every old row must vanish —
    the case an upsert-by-produced-key merge can never handle)."""
    import datetime
    import time

    from pyspark.sql import functions as F

    from grepai_spark import pipeline
    from grepai_spark.synth import alias_dict_df

    src = str(tmp_path / "dsrc")
    out = str(tmp_path / "dout")
    ck = str(tmp_path / "dck")
    os.makedirs(src, exist_ok=True)
    d = alias_dict_df(spark)
    schema = tiny_transcripts.schema

    def wait_for(want: set, deadline_s: float = 180.0) -> set:
        cat = Catalog(spark, out)
        end = time.monotonic() + deadline_s
        got = set()
        while time.monotonic() < end:
            # a dead stream never converges: fail with its own error
            if q.exception() is not None or not q.isActive:
                pytest.fail(f"stream stopped: {q.exception()}")
            try:  # reads can race a partition swap mid-trigger
                got = _edge_set(
                    cat.read(streaming.KG_EDGES_TABLE).select(
                        "subj", "pred", "obj", "conv_id", "turn_idx"
                    )
                )
            except Exception:
                got = set()
            if got == want:
                return got
            time.sleep(0.5)
        return got

    _write_slice(tiny_transcripts, f"{src}/slice1")
    q = streaming.incremental_kg_edges(
        spark,
        f"{src}/slice*",
        out,
        ck,
        d,
        trigger={"processingTime": "1 second"},
    )
    try:
        assert q.isActive
        want0 = _edge_set(pipeline.kg_edges_df(spark, tiny_transcripts, d))
        assert wait_for(want0) == want0

        # modification 1: conv-a turn 1 loses its tool call, gains a mention
        later = datetime.datetime(2024, 1, 2)
        mod1 = spark.createDataFrame(
            [("conv-a", 1, "assistant", "done, used FetchData", "", later)],
            schema=schema,
        )
        _write_slice(mod1, f"{src}/slice2")
        t1 = tiny_transcripts.where(
            ~((F.col("conv_id") == "conv-a") & (F.col("turn_idx") == 1))
        ).unionByName(mod1)
        want1 = _edge_set(pipeline.kg_edges_df(spark, t1, d))
        assert want1 != want0
        assert wait_for(want1) == want1

        # modification 2: the same turn becomes inert (zero edges)
        mod2 = spark.createDataFrame(
            [("conv-a", 1, "assistant", "nothing to see", "",
              later + datetime.timedelta(hours=1))],
            schema=schema,
        )
        _write_slice(mod2, f"{src}/slice3")
        t2 = tiny_transcripts.where(
            ~((F.col("conv_id") == "conv-a") & (F.col("turn_idx") == 1))
        ).unionByName(mod2)
        want2 = _edge_set(pipeline.kg_edges_df(spark, t2, d))
        assert not any(
            c == "conv-a" and t == 1 for _, _, _, c, t in want2
        )
        assert wait_for(want2) == want2
    finally:
        q.stop()


def test_same_batch_conflicting_redelivery_resolves_to_latest(
    spark, tiny_transcripts, tmp_path, regimes
):
    """Both versions of a turn landing in ONE micro-batch must resolve to
    the latest ts deterministically (streaming._latest_version and its
    driver twin _latest_rows), not race two versions into the merge."""
    import datetime

    from pyspark.sql import functions as F

    from grepai_spark import pipeline
    from grepai_spark.synth import alias_dict_df

    for regime in regimes():
        src = str(tmp_path / regime / "csrc")
        out = str(tmp_path / regime / "cout")
        ck = str(tmp_path / regime / "cck")
        os.makedirs(src, exist_ok=True)
        d = alias_dict_df(spark)

        mod = spark.createDataFrame(
            [("conv-a", 1, "assistant", "edited: call QueryParser", "",
              datetime.datetime(2024, 1, 2))],
            schema=tiny_transcripts.schema,
        )
        # one drain, both files available: maxFilesPerTrigger=4 puts the
        # original and the modification in the same trigger
        _write_slice(tiny_transcripts, f"{src}/slice1")
        _write_slice(mod, f"{src}/slice2")
        streaming.incremental_kg_edges(spark, f"{src}/slice*", out, ck, d)

        truth_t = tiny_transcripts.where(
            ~((F.col("conv_id") == "conv-a") & (F.col("turn_idx") == 1))
        ).unionByName(mod)
        want = _edge_set(pipeline.kg_edges_df(spark, truth_t, d))
        got = _edge_set(
            Catalog(spark, out)
            .read(streaming.KG_EDGES_TABLE)
            .select("subj", "pred", "obj", "conv_id", "turn_idx")
        )
        assert got == want


def test_streaming_kg_edges_match_duckdb_oracle_at_sf(
    spark, tmp_path, regimes
):
    """W2 locked to the driver's truth (VERDICT r4 #7): the sf0.01 corpus
    replayed as micro-batches through incremental_kg_edges must converge to
    row-for-row the same edge set the batch kg_edges DuckDB oracle
    computes — the same cross-engine check the driver runs on the batch
    query, applied to the streaming plane's merged table, with each batch
    derived on the driver and in Spark."""
    import duckdb

    from grepai_spark import oracles
    from grepai_spark.synth import alias_dict_df, load_transcripts

    sf_dir = "/root/testdata/sf0.01"
    got = {}
    for regime in regimes():
        src = str(tmp_path / regime / "sfsrc")
        out = str(tmp_path / regime / "sfout")
        ck = str(tmp_path / regime / "sfck")
        # replay the corpus as 6 files -> maxFilesPerTrigger=4 gives 2 batches
        load_transcripts(spark, sf_dir).repartition(6).write.parquet(src)
        streaming.incremental_kg_edges(
            spark, src, out, ck, alias_dict_df(spark)
        )
        got[regime] = sorted(
            (r["subj"], r["pred"], r["obj"], r["conv_id"], r["turn_idx"],
             round(r["weight"], 6))
            for r in Catalog(spark, out)
            .read(streaming.KG_EDGES_TABLE)
            .collect()
        )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'"
    )
    want = sorted(
        (s, p, o, c, t, round(w, 6))
        for s, p, o, c, t, w in con.execute(
            oracles.kg_edges_oracle()
        ).fetchall()
    )
    assert got == {r: want for r in got}


def test_stateful_stats_daemon_trigger(spark, tiny_transcripts, tmp_path):
    """The stateful counters also run in daemon mode: a processingTime
    trigger keeps the applyInPandasWithState operator live, state carries
    across triggers inside one run, and the returned query is the
    caller's lifecycle handle."""
    import time

    from pyspark.sql import functions as F

    src = str(tmp_path / "sdsrc")
    out = str(tmp_path / "sdout")
    ck = str(tmp_path / "sdck")
    os.makedirs(src, exist_ok=True)

    first = tiny_transcripts.where("conv_id in ('conv-a', 'conv-b')")
    second = tiny_transcripts.where("conv_id in ('conv-c', 'conv-d')")
    _write_slice(first, f"{src}/slice1")
    q = streaming.conversation_stats_stream(
        spark, f"{src}/slice*", out, ck,
        trigger={"processingTime": "1 second"},
    )
    try:
        assert q.isActive
        _write_slice(second, f"{src}/slice2")
        want_df = (
            first.unionByName(second)
            .groupBy("conv_id")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.when(F.col("tool") != "", 1).otherwise(0)).alias("t"),
                F.max("turn_idx").alias("m"),
            )
        )
        want = {
            r["conv_id"]: (r["n"], r["t"], r["m"]) for r in want_df.collect()
        }
        cat = Catalog(spark, out)
        end = time.monotonic() + 180
        got = {}
        while time.monotonic() < end:
            try:
                got = {
                    r["conv_id"]: (
                        r["turn_count"], r["tool_calls"], r["last_turn_idx"]
                    )
                    for r in cat.read(streaming.CONV_STATS_TABLE).collect()
                }
            except Exception:
                got = {}
            if got == want:
                break
            time.sleep(0.5)
        assert got == want
    finally:
        q.stop()


def test_stream_waves_run_one_job_and_keep_one_file_per_bucket(
    spark, tmp_path, monkeypatch
):
    """Waves that re-touch the same buckets (an edited first turn and a
    new turn per conversation) each run at most 1 Spark job, counted by
    the query's job group, the first (sink-creating) wave included, and
    no Python UDF (the edge-detector UDF cannot be built); every sink
    bucket is one parquet file, and the sink equals the batch
    kg_edges_df of the latest turns."""
    import datetime

    from conftest import TINY_ROWS

    from grepai_spark import pipeline
    from grepai_spark.schemas import TRANSCRIPTS
    from grepai_spark.synth import alias_dict_df

    src, out, ck = (str(tmp_path / d) for d in ("wsrc", "wout", "wck"))
    d = alias_dict_df(spark)
    sc = spark.sparkContext
    latest = {(r[0], r[1]): r for r in TINY_ROWS}
    convs = sorted({r[0] for r in TINY_ROWS})

    def no_udf(amap):
        raise AssertionError("a wave that fits built the edge-detector UDF")

    for wave in range(6):
        ts = datetime.datetime(2024, 2, 1) + datetime.timedelta(hours=wave)
        rows = list(latest.values()) if wave == 0 else [
            (c, 0, "user", f"{latest[(c, 0)][3]} w{wave}", "", ts)
            for c in convs
        ] + [
            (c, 10 + wave, "user", f"run FetchData w{wave}",
             "payments.charge" if wave % 2 else "", ts)
            for c in convs
        ]
        latest.update(((r[0], r[1]), r) for r in rows)
        _write_slice(
            spark.createDataFrame(rows, TRANSCRIPTS), f"{src}/slice{wave}"
        )
        with monkeypatch.context() as m:
            m.setattr(extract, "make_edge_detector", no_udf)
            q = streaming.incremental_kg_edges(
                spark, f"{src}/slice*", out, ck, d
            )
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = sc.statusTracker().getJobIdsForGroup(str(q.runId))
        assert len(q.recentProgress) == 1
        assert len(jobs) <= 1, f"wave {wave}: {len(jobs)} jobs"

    table_dir = os.path.join(out, streaming.KG_EDGES_TABLE)
    files = {
        e: [f for f in os.listdir(os.path.join(table_dir, e))
            if f.endswith(".parquet")]
        for e in os.listdir(table_dir)
        if e.startswith("bucket=")
    }
    assert files and all(len(f) <= 1 for f in files.values()), files
    cols = ["subj", "pred", "obj", "conv_id", "turn_idx", "weight"]
    want = pipeline.kg_edges_df(
        spark, spark.createDataFrame(list(latest.values()), TRANSCRIPTS), d
    )
    got = Catalog(spark, out).read(streaming.KG_EDGES_TABLE).select(*cols)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.select(*cols).collect())
    )


def test_adversarial_micro_batch_matches_batch_in_both_regimes(
    spark, tiny_transcripts, tmp_path, regimes, monkeypatch
):
    """One micro-batch of hostile rows: NULL and empty text and tool, a
    non-ASCII character beside an alias, an alias inside a ``` fence,
    versions of a turn with equal ts that differ only in text or tool
    (strings ordered as UTF-8 bytes: U+1F600 sorts above U+FF5E, the
    reverse of UTF-16 order), and versions with a NULL role. In both
    regimes the sink equals kg_edges_df of the latest versions, and the
    latest versions are Spark's _latest_version pick."""
    import datetime

    from grepai_spark import pipeline
    from grepai_spark.schemas import TRANSCRIPTS
    from grepai_spark.synth import alias_dict_df

    t0 = datetime.datetime(2024, 3, 1)
    t1 = t0 + datetime.timedelta(seconds=1)
    one = [
        ("adv-1", 0, "user", None, None, t0),
        ("adv-1", 1, "user", "", "", t0),
        ("adv-1", 2, "assistant", None, "payments.charge", t0),
        ("adv-1", 3, "user", "", "auth.register", t0),
        ("adv-1", 4, "user", "héllo—FetchData, éhash_join", None, t0),
        ("adv-1", 5, "user", "```FetchData``` then MergeSort", "", t0),
    ]
    versions = [
        # equal ts and role, text differs: the UTF-8 byte order decides
        ("adv-2", 0, "user", "～ FetchData", None, t0),
        ("adv-2", 0, "user", "😀 hash_join", None, t0),
        # equal ts, role and text, tool differs: NULL < '' < a tool
        ("adv-2", 1, "user", "run MergeSort", None, t0),
        ("adv-2", 1, "user", "run MergeSort", "diagnostics.trace", t0),
        ("adv-2", 1, "user", "run MergeSort", "", t0),
        # a later ts wins over larger content
        ("adv-2", 2, "user", "zz FetchData", "auth.register", t0),
        ("adv-2", 2, "user", "aa QueryParser", None, t1),
        # a NULL role is the lowest role; a NULL-role turn keeps NULL subj
        ("adv-3", 0, None, "zz FetchData", "payments.charge", t0),
        ("adv-3", 0, "tool", "nothing here", None, t0),
        ("adv-3", 1, None, "QueryParser ok", "diagnostics.trace", t0),
        # a redelivered tiny turn: its stale tool edge must go
        ("conv-a", 1, "assistant", "now MergeSort", None, t1),
    ]
    latest = one + [versions[i] for i in (1, 3, 6, 8, 9, 10)]
    batch = spark.createDataFrame(one + versions, TRANSCRIPTS)
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    assert sorted(
        map(tuple, streaming._latest_version(batch).select(*cols).collect())
    ) == sorted(latest)

    spark_picks = []
    real = streaming._latest_version
    monkeypatch.setattr(
        streaming, "_latest_version",
        lambda b: spark_picks.append(b) or real(b),
    )
    truth = tiny_transcripts.where(
        "NOT (conv_id = 'conv-a' AND turn_idx = 1)"
    ).unionByName(spark.createDataFrame(latest, TRANSCRIPTS))
    for regime in regimes():
        spark_picks.clear()
        src = str(tmp_path / regime / "src")
        out = str(tmp_path / regime / "out")
        ck = str(tmp_path / regime / "ck")
        d = alias_dict_df(spark)
        _write_slice(tiny_transcripts, f"{src}/slice1")
        streaming.incremental_kg_edges(spark, f"{src}/slice*", out, ck, d)
        _write_slice(batch, f"{src}/slice2")
        streaming.incremental_kg_edges(spark, f"{src}/slice*", out, ck, d)
        assert bool(spark_picks) == (regime == "distributed")
        got = _edge_set(Catalog(spark, out).read(streaming.KG_EDGES_TABLE))
        want = _edge_set(pipeline.kg_edges_df(spark, truth, d))
        assert ("tool", "calls", "payments.charge", "adv-3", 0) not in want
        assert (None, "calls", "diagnostics.trace", "adv-3", 1) in want
        assert got == want
