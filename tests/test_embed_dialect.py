"""Three-way lockstep for the round-6 md5-keyed twins on ADVERSARIAL input:

* the encoder slot hash (embed.slot_hash_sql vs embed._token_slot) — the
  function every stored vector's geometry depends on;
* the full embed plane (vector_slot_stats over embed_with_cache output vs
  turn_vector_stats_oracle recomputing from raw text in DuckDB) — hashing,
  first-occurrence context prefix, 2048-char truncation, tokenization,
  slot/sign placement, all exercised past the fixture's ASCII blandness;
* both similarity-linking paths (alias_similarity_edges and
  alias_similarity_edges_lsh vs the DuckDB block / banding replay) on a
  hostile dictionary that actually exercises the per-block cap;
* every dot-product form (ann.dot_sql / dot_sql_self / pair_dot_sql /
  cosine_vs_query_sql / bucket_sql, search.dot_score) vs a Python twin and
  DuckDB's list_dot_product on NULL, NULL-element, empty and off-width
  vectors.

Same discipline as test_naming_dialect / test_mentions_dialect (round 5
found two real dialect bugs this way): the driver's oracle gate only ever
sees fixture data, so twin divergence on hostile input must be hunted
separately.
"""

from __future__ import annotations

import math
import random
import sys

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from grepai_spark import ann, embed, link, oracles, search  # noqa: E402


def test_slot_hash_three_way_lockstep():
    """Tokens reaching the slot hash are always [0-9a-z]+ (the tokenizer's
    alphabet), so the hostile dimension is length and distribution, not
    unicode."""
    rng = random.Random(13)
    toks = ["a", "0", "z9", "x" * 500, "0" * 64, "deadbeef"] + [
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz0123456789") for _ in range(rng.randrange(1, 40)))
        for _ in range(300)
    ]
    py = [
        int.from_bytes(__import__("hashlib").md5(t.encode()).digest()[:4], "big")
        for t in toks
    ]
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"i": range(len(toks)), "tok": toks}))
    duck = [
        r[0]
        for r in con.execute(
            f"SELECT {embed.slot_hash_sql('tok', 'duckdb')} FROM t ORDER BY i"
        ).fetchall()
    ]
    assert duck == py


def test_slot_hash_spark_dialect_matches_python(spark):
    toks = ["a", "x" * 500, "deadbeef", "q7", "00", "zz9"]
    sdf = spark.createDataFrame(pd.DataFrame({"i": range(len(toks)), "tok": toks}))
    got = [
        r[0]
        for r in sdf.orderBy("i")
        .select(F.expr(embed.slot_hash_sql("tok", "spark")))
        .collect()
    ]
    import hashlib

    want = [int(hashlib.md5(t.encode()).hexdigest()[:8], 16) for t in toks]
    assert got == want
    # and the derived (idx, sign) matches the python twin used by py_encode
    for t, h in zip(toks, want):
        idx, sign = embed._token_slot(t, 768)
        assert idx == h % 768
        assert sign == (1.0 if (h >> 16) & 1 else -1.0)


_HOSTILE_TEXTS = [
    "",
    " ",
    "please run FetchData on the table",  # fixture-ish
    "unicode héllo—世界 and MergeSort",
    "UPPER lower MiXeD 0123 ___ --- ...",
    "a" * 5000,  # truncation: token split by the 2048 boundary
    ("word " * 600),  # truncation mid-corpus of short tokens
    "émile çava über niño 日本語テキスト",
    "tabs\tand\nnewlines\r\nand  double  spaces",
    "punct!@#$%^&*()only<>?:{}|",
    "digits 000 111 999 00a a00",
    "quote'inside \"double\" back\\slash",
    "x" * 2047 + "Y" + "z" * 100,  # boundary straddles a case change
]


def test_embed_plane_matches_duckdb_on_hostile_corpus(spark, tmp_path):
    """embed_with_cache -> stored vectors -> vector_slot_stats must equal
    the DuckDB raw-text replay on a corpus with unicode, empties, 2048+
    texts and cross-conversation duplicate texts (first-occurrence prefix
    rule)."""
    from grepai_spark.schemas import TRANSCRIPTS
    from grepai_spark.storage import Catalog

    import datetime

    rows = []
    for i, txt in enumerate(_HOSTILE_TEXTS):
        rows.append(
            (f"conv-{i % 3}", i, "user" if i % 2 else "assistant", txt, "",
             datetime.datetime(2024, 1, 1, 0, i))
        )
    # duplicate text in a DIFFERENT conversation: cache key collapses them,
    # and the prefix of the (min conv_id, turn_idx) occurrence wins
    rows.append(("conv-9", 0, "user", _HOSTILE_TEXTS[2],
                 "", datetime.datetime(2024, 1, 2)))
    t = spark.createDataFrame(rows, schema=TRANSCRIPTS)

    cat = Catalog(spark, str(tmp_path / "cat"))
    _, counters = embed.embed_with_cache(cat, t)
    assert counters["encoded_rows"] == counters["cache_misses"]
    got = sorted(
        tuple(r)
        for r in embed.vector_slot_stats(cat.read("embedding_cache")).collect()
    )

    con = duckdb.connect()
    con.register(
        "ht",
        pd.DataFrame(
            rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
        ),
    )
    want = sorted(
        tuple(r)
        for r in con.execute(
            embed.turn_vector_stats_oracle("SELECT * FROM ht")
        ).fetchall()
    )
    assert got == want


@pytest.mark.parametrize("lsh", [False, True], ids=["blocked", "lsh"])
def test_lsh_linking_matches_duckdb_on_hostile_dict(
    spark, hostile_alias_rows, lsh
):
    """alias_similarity_edges (first-token blocks) and
    alias_similarity_edges_lsh (MinHash bands) vs the DuckDB replay on a
    dict with near-dup token sets, zero-token names, unicode, and one hub
    wide enough (> LSH_BUCKET_CAP and > BLOCK_CAP aliases) that the
    per-block cap decides the candidate set. The non-ASCII aliases keep
    both paths off the driver regime, so this checks the distributed tail
    (skew.capped_block_pairs + Jaccard verify)."""
    from grepai_spark.schemas import ALIAS_DICT

    rows = hostile_alias_rows
    d = spark.createDataFrame(rows, schema=ALIAS_DICT)
    edges = link.alias_similarity_edges_lsh if lsh else link.alias_similarity_edges
    got = sorted((r["src"], r["dst"]) for r in edges(d).collect())

    con = duckdb.connect()
    con.register(
        "hd", pd.DataFrame(rows, columns=["alias", "canonical_id", "kind"])
    )
    want = sorted(
        tuple(r)
        for r in con.execute(
            oracles.alias_sim_edges_oracle(lsh=lsh, dict_rel="hd")
        ).fetchall()
    )
    assert got == want
    assert got, "hostile dict must actually produce similarity edges"


# The dot-product contract every vector query depends on. The vector
# values are float32 (like embeddings.parquet), so the Python twin's
# double arithmetic sees exactly what both engines see after their casts.
_V64 = [float(np.float32(math.sin(i + 1))) for i in range(64)]
_W64 = _V64[::-1]
_Q64 = [
    1.0 if i % 3 == 0 else -1.0 if i % 3 == 1 else (i % 7 - 3) / 10
    for i in range(64)
]
_EDGE_VECS = {
    "w64": _V64,
    "w63": _V64[:63],
    "null": None,
    "null_elem": _V64[:5] + [None] + _V64[6:],
    "empty": [],
    "w65": _V64 + [0.5],
    "zero": [0.0] * 64,  # every dot is 0.0: the >= 0 boundary, all '1' bits
}
# near_dup_lsh_pairs' plane sets are seeds 0..NEAR_DUP_LSH_SETS-1; the last
# one's planes come from other md5 keys than seed 0's
_SEED = ann.NEAR_DUP_LSH_SETS - 1


def _py_dot(a, b):
    """Sequential left-to-right dot; NULL on a NULL side or element and on
    a width mismatch."""
    if a is None or b is None or len(a) != len(b) or None in a or None in b:
        return None
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def _py_cosine(v, q):
    d = _py_dot(v, q)
    if d is None or _py_dot(v, v) == 0.0:
        return None
    return d / (math.sqrt(_py_dot(v, v)) * sum(x * x for x in q) ** 0.5)


def _py_bucket_bits(v, n_planes=ann.N_PLANES, seed=0):
    bits = []
    for p in ann.planes(n_planes, seed=seed):
        d = _py_dot(v, p)
        bits.append("1" if d is not None and d >= 0 else "0")
    return "".join(bits)


@pytest.mark.parametrize("name", list(_EDGE_VECS))
def test_dot_forms_match_python_and_duckdb(spark, name):
    """dot_sql, dot_sql_self, pair_dot_sql, cosine_vs_query_sql, bucket_sql
    (seed 0 and a near-dup seed) and search.dot_score on the vector shapes
    that break dot products: a NULL or off-width vector gives a NULL
    literal or pair dot, an off-width self-dot is still a number, and a
    zero vector has a NULL cosine and sits on every plane's >= 0
    boundary."""
    v = _EDGE_VECS[name]
    sdf = spark.createDataFrame([(v, _W64)], "v array<float>, w array<float>")
    row = sdf.select(
        F.expr(ann.dot_sql("v", _Q64)),
        F.expr(ann.dot_sql_self("v")),
        F.expr(ann.pair_dot_sql("v", "w")),
        F.expr(ann.cosine_vs_query_sql("v", _Q64)),
        F.expr(ann.bucket_sql("v")),
        search.dot_score("v", _Q64),
        F.expr(ann.bucket_sql("v", ann.NEAR_DUP_LSH_PLANES, seed=_SEED)),
    ).first()
    want = (
        _py_dot(v, _Q64),
        _py_dot(v, v),
        _py_dot(v, _W64),
        _py_cosine(v, _Q64),
        _py_bucket_bits(v),
        _py_dot(v, _Q64),
        _py_bucket_bits(v, ann.NEAR_DUP_LSH_PLANES, _SEED),
    )
    assert tuple(row) == want
    if name == "zero":
        # a zero norm: NULL cosine, and every plane's >= 0 boundary
        assert row[3] is None and row[4] == "1" * ann.N_PLANES

    if v is not None and len(v) != 64:
        assert row[0] is None and row[2] is None and row[3] is None
        if None not in v:
            assert isinstance(row[1], float)
    if v is None or None in v:
        return
    # DuckDB's list_dot_product agrees value for value where widths match
    con = duckdb.connect()
    con.register(
        "t",
        pa.table(
            {
                "v": pa.array([v], pa.list_(pa.float32())),
                "w": pa.array([_W64], pa.list_(pa.float32())),
            }
        ),
    )
    duck_self = con.execute(
        f"SELECT {ann.dot_sql_self('v', 'duckdb')} FROM t"
    ).fetchone()[0]
    assert duck_self == want[1]
    if len(v) == 64:
        duck = con.execute(
            f"SELECT {ann.dot_sql('v', _Q64, 'duckdb')},"
            " list_dot_product(CAST(v AS DOUBLE[]), CAST(w AS DOUBLE[])),"
            f" {ann.cosine_vs_query_sql('v', _Q64, 'duckdb')},"
            f" {ann.bucket_sql('v', dialect='duckdb')},"
            f" {ann.bucket_sql('v', ann.NEAR_DUP_LSH_PLANES, dialect='duckdb', seed=_SEED)}"
            " FROM t"
        ).fetchone()
        assert duck == (want[0], want[2], want[3], want[4], want[6])
        assert want[4] == ann.py_bucket(v)
