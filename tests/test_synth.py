"""Spark and DuckDB must derive byte-identical transcripts from events."""

from __future__ import annotations

import duckdb

from tests.conftest import SF_DIR
from grepai_spark.synth import transcripts_duckdb_sql


def _key(r):
    return (r["conv_id"], r["turn_idx"])


def test_spark_matches_duckdb(spark, sf_transcripts):
    got = {
        _key(r): (r["role"], r["text"], r["tool"])
        for r in sf_transcripts.collect()
    }
    want_rows = duckdb.sql(transcripts_duckdb_sql(SF_DIR)).fetchall()
    want = {(c, i): (ro, tx, tl) for c, i, ro, tx, tl, _ in want_rows}
    assert got == want


def test_fixture_properties(sf_transcripts):
    df = sf_transcripts.toPandas()
    assert (df.conv_id == "conv-mega").sum() > 0.15 * len(df)  # mega-thread skew
    assert (df.text == "").sum() > 0  # empty turns
    assert (df.text.str.len() > 4000).sum() > 0  # long turns
    assert df.text.duplicated().sum() > 0  # dup texts (cache path)
    # turn_idx dense + unique per conv
    g = df.groupby("conv_id").turn_idx
    assert (g.min() == 0).all()
    assert ((g.max() + 1) == g.count()).all()


def test_text_byte_equality_invariant(spark, sf_transcripts):
    """Per-row invariant: text passes through the pipeline untouched under
    stable (conv_id, turn_idx) ordering."""
    a = sf_transcripts.orderBy("conv_id", "turn_idx").select("text").collect()
    b = (
        sf_transcripts.repartition(7, "conv_id")
        .sortWithinPartitions("conv_id", "turn_idx")
        .orderBy("conv_id", "turn_idx")
        .select("text")
        .collect()
    )
    assert [r["text"] for r in a] == [r["text"] for r in b]


def test_events_read_with_declared_schema(spark, count_jobs):
    """load_transcripts reads events.parquet with the declared EVENTS
    schema: it equals what parquet inference returns, the transcripts rows
    are the inferred read's, and building the DataFrame runs no job (an
    inferred read runs one to take the schema from a footer)."""
    from grepai_spark.schemas import EVENTS
    from grepai_spark.synth import load_transcripts, transcripts_sql

    events = f"{SF_DIR}/events.parquet"
    assert EVENTS == spark.read.parquet(events).schema
    t, n = count_jobs(lambda: load_transcripts(spark, SF_DIR))
    assert n == 0
    got = sorted(map(tuple, t.collect()), key=lambda r: r[:2])
    spark.read.parquet(events).createOrReplaceTempView("gs_events_inferred")
    want = spark.sql(transcripts_sql("gs_events_inferred")).collect()
    assert got == sorted(map(tuple, want), key=lambda r: r[:2])
    assert t.schema == spark.sql(transcripts_sql("gs_events_inferred")).schema
