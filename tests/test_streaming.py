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
    spark, tiny_transcripts, tmp_path
):
    """Re-delivering the same slice through a FRESH checkpoint (at-least-once
    delivery) must not duplicate edges — the MERGE key absorbs it."""
    src = str(tmp_path / "src2")
    out = str(tmp_path / "out2")
    os.makedirs(src, exist_ok=True)
    _write_slice(tiny_transcripts, f"{src}/slice1")

    _drain(spark, src, out, str(tmp_path / "ckA"))
    _drain(spark, src, out, str(tmp_path / "ckB"))
    keys = _calls(Catalog(spark, out))
    assert len(keys) == len(set(keys))
    assert set(keys) == _call_triples(tiny_transcripts)


def test_streaming_kg_edges_match_batch(spark, tiny_transcripts, tmp_path):
    """The fused streaming derivation must converge to EXACTLY the batch
    flagship's edge set, across micro-batch splits and re-delivery."""
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
    spark, tiny_transcripts, tmp_path
):
    """Both versions of a turn landing in ONE micro-batch must resolve to
    the latest ts deterministically (streaming._latest_version), not race
    two versions into the merge."""
    import datetime

    from pyspark.sql import functions as F

    from grepai_spark import pipeline
    from grepai_spark.synth import alias_dict_df

    src = str(tmp_path / "csrc")
    out = str(tmp_path / "cout")
    ck = str(tmp_path / "cck")
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


def test_streaming_kg_edges_match_duckdb_oracle_at_sf(spark, tmp_path):
    """W2 locked to the driver's truth (VERDICT r4 #7): the sf0.01 corpus
    replayed as micro-batches through incremental_kg_edges must converge to
    row-for-row the same edge set the batch kg_edges DuckDB oracle
    computes — the same cross-engine check the driver runs on the batch
    query, applied to the streaming plane's merged table."""
    import duckdb

    from grepai_spark import oracles
    from grepai_spark.synth import alias_dict_df, load_transcripts

    sf_dir = "/root/testdata/sf0.01"
    src = str(tmp_path / "sfsrc")
    out = str(tmp_path / "sfout")
    ck = str(tmp_path / "sfck")
    # replay the corpus as 6 files -> maxFilesPerTrigger=4 gives 2 batches
    load_transcripts(spark, sf_dir).repartition(6).write.parquet(src)
    streaming.incremental_kg_edges(
        spark, src, out, ck, alias_dict_df(spark)
    )
    got = sorted(
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
    assert got == want


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
