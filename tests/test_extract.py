"""Extraction stage vs the pure-Python oracle and the SQL twin."""

from __future__ import annotations

import duckdb

from tests.conftest import SF_DIR, TINY_ROWS
from grepai_spark import extract
from grepai_spark.synth import ALIAS_ROWS, alias_dict_df, transcripts_duckdb_sql


def test_call_triples_tiny(spark, tiny_transcripts):
    got = {
        (r.subj, r.pred, r.obj, r.conv_id, r.turn_idx)
        for r in extract.call_triples(tiny_transcripts).collect()
    }
    want = {
        (role, "calls", tool, conv, idx)
        for conv, idx, role, _text, tool, _ts in TINY_ROWS
        if tool
    }
    assert got == want


def test_mentions_tiny_word_boundary(spark, tiny_transcripts):
    m = extract.detect_mentions(tiny_transcripts, alias_dict_df(spark))
    got = {(r.conv_id, r.turn_idx, r.mention) for r in m.collect()}
    assert ("conv-a", 0, "FetchData") in got
    assert ("conv-b", 0, "fetch_data") in got
    assert ("conv-b", 0, "QueryParserFast") in got
    assert ("conv-b", 1, "QueryParser") in got
    assert ("conv-c", 0, "MergeSort") in got
    # word boundary: xFetchDatay must NOT match
    assert ("conv-d", 0, "FetchData") not in got
    assert ("conv-d", 0, "hash_join") in got
    # QueryParserFast contains no QueryParser word-boundary match
    assert ("conv-b", 0, "QueryParser") not in got


def test_mentions_udf_vs_sql_oracle(spark, sf_transcripts):
    """The pandas-UDF detector must equal the declarative SQL twin on both
    engines at sf0.001."""
    udf_rows = {
        (r.conv_id, r.turn_idx, r.role, r.mention, r.pos, r.kind)
        for r in extract.detect_mentions(
            sf_transcripts, alias_dict_df(spark)
        ).collect()
    }
    ddb = duckdb.sql(
        extract.mentions_oracle_sql(transcripts_duckdb_sql(SF_DIR), "duckdb")
    ).fetchall()
    assert udf_rows == set(map(tuple, ddb))
    assert len(udf_rows) > 500  # sanity: corpus is mention-dense


def test_link_exact_vs_duckdb_oracle(spark, sf_transcripts, regimes):
    """Exact linking equals its DuckDB oracle with the dictionary deduped on
    the driver and with the distributed distinct() dimension."""
    from grepai_spark import link, oracles

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{SF_DIR}/events.parquet'"
    )
    want = sorted(con.execute(oracles.link_exact_oracle()).fetchall())
    d = alias_dict_df(spark)
    m = extract.detect_mentions(sf_transcripts, d)
    for regime in regimes():
        got = sorted(
            tuple(r) for r in link.link_mentions_exact(m, d).collect()
        )
        assert got == want, regime
    assert len(want) > 500


def test_oracle_golden_triples_tiny():
    from grepai_spark.oracle import golden_triples

    rows = [
        dict(conv_id=c, turn_idx=i, role=r, text=t, tool=tool)
        for c, i, r, t, tool, _ in TINY_ROWS
    ]
    triples = golden_triples(rows, ALIAS_ROWS)
    trip = {(t.subj, t.pred, t.obj, t.conv_id, t.turn_idx) for t in triples}
    # canonicalization: QueryParserFast merges into e_parse_query (Jaccard 2/3)
    assert ("user", "mentions", "e_parse_query", "conv-b", 0) in trip
    assert ("agent:buyer", "mentions", "e_parse_query", "conv-b", 1) in trip
    # DataFetcher-style snake/camel variants share e_fetch_data
    assert ("user", "mentions", "e_fetch_data", "conv-a", 0) in trip
    assert ("user", "mentions", "e_fetch_data", "conv-b", 0) in trip
    assert ("assistant", "calls", "payments.charge", "conv-a", 1) in trip
    assert not any(t.obj == "e_query_parser_fast" for t in triples)


def test_fence_masked_mentions(spark):
    """P5/P6 analog (ref trace/extractor.go:540-702): mentions inside ```
    code fences are not matches; outside they are; pos stays the first
    literal occurrence in the ORIGINAL text (oracle strpos semantics)."""
    import datetime

    from grepai_spark.extract import detect_mentions, mask_fences
    from grepai_spark.schemas import TRANSCRIPTS
    from grepai_spark.synth import alias_dict_df

    ts = datetime.datetime(2024, 1, 1)
    rows = [
        # only inside a fence -> masked out
        ("f1", 0, "user", "see ```FetchData()``` for details", "", ts),
        # outside a fence -> matched
        ("f2", 0, "user", "```x``` run FetchData now", "", ts),
        # inside AND outside -> matched; pos = first LITERAL occurrence
        ("f3", 0, "user", "```FetchData``` then FetchData", "", ts),
        # seam must not join words across the mask
        ("f4", 0, "user", "Fetch```x```Data is not FetchData", "", ts),
        # unterminated fence: not masked (balanced fences only)
        ("f5", 0, "user", "```unterminated FetchData", "", ts),
    ]
    t = spark.createDataFrame(rows, schema=TRANSCRIPTS)
    got = {
        r["conv_id"]: (r["mention"], r["pos"])
        for r in detect_mentions(t, alias_dict_df(spark)).collect()
        if r["mention"] == "FetchData"
    }
    assert "f1" not in got
    assert got["f2"] == ("FetchData", 13)
    assert got["f3"] == ("FetchData", 4)       # literal pos inside the fence
    assert got["f4"] == ("FetchData", 25)
    assert got["f5"] == ("FetchData", 17)
    assert mask_fences("a```b```c") == "a c"
