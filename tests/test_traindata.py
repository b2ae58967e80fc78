"""Training-data pipeline operators: dedup, ANN, text analysis, multimodal.

Mirrors the reference's inline-fixture style (tiny input + exact expected
set, cf. /root/reference/trace/extractor_test.go) plus oracle cross-checks
against DuckDB on the driver's documents/embeddings tables at sf0.001.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pytest

from tests.conftest import SF_DIR
from grepai_spark import ann, dedup, multimodal, textstats
from grepai_spark.embed import py_encode
from grepai_spark.synth import transcripts_duckdb_sql


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in ("documents", "embeddings"):
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return c


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def test_dedup_exact_finds_planted_duplicate(spark, tiny_transcripts):
    got = dedup.dedup_exact(tiny_transcripts).collect()
    dup_texts = {r["content_hash"]: r for r in got}
    # "please run FetchData on the table" appears in conv-a/0 and conv-c/1
    assert any(
        r["n_copies"] == 2
        and r["keep_conv_id"] == "conv-a"
        and r["keep_turn_idx"] == 0
        for r in got
    )
    # groups of 1 are not reported
    assert all(r["n_copies"] >= 2 for r in dup_texts.values())


def test_dedup_exact_vs_oracle(spark, sf_transcripts, con):
    got = {
        (r["content_hash"], r["n_copies"], r["keep_conv_id"], r["keep_turn_idx"])
        for r in dedup.dedup_exact(sf_transcripts).collect()
    }
    want = set(
        con.execute(
            dedup.dedup_exact_oracle(transcripts_duckdb_sql(SF_DIR))
        ).fetchall()
    )
    assert got == want


# ---------------------------------------------------------------------------
# near-dup pair families (ngram / minhash / simhash)
# ---------------------------------------------------------------------------

def _pairs(df):
    return {(r[0], r[1]) for r in df.collect()}


def test_ngram_pairs_match_oracle(spark, docs, con):
    got = _pairs(dedup.ngram_jaccard_pairs(docs))
    want = {
        (a, b)
        for a, b, _ in con.execute(
            dedup.ngram_jaccard_pairs_oracle()
        ).fetchall()
    }
    assert got == want
    assert len(got) > 0, "sf0.001 documents should contain planted near-dups"


def test_minhash_recall_vs_exact_ngram(spark, docs):
    """Banding at (4 bands x 2 rows) must recover essentially all pairs at
    Jaccard >= 0.5; planted dups sit near 0.99 so recall should be total."""
    exact = _pairs(dedup.ngram_jaccard_pairs(docs))
    lsh = _pairs(dedup.minhash_lsh_pairs(docs))
    assert lsh <= exact  # verification guarantees precision == 1
    assert len(lsh) >= 0.95 * len(exact)


@pytest.mark.parametrize("op", ["simhash_pairs", "minhash_lsh_pairs"])
def test_near_dup_plan_build_py4j_budget(docs, count_py4j, op):
    """Building a near-dup operator stays under a py4j budget: its wide
    projections are SQL text, parsed once on the JVM. Built from Columns,
    every term cost its own round trips: ~5,900 commands for simhash_pairs
    and ~1,400 for minhash_lsh_pairs, against ~450 each as SQL text."""
    _, n = count_py4j(lambda: getattr(dedup, op)(docs))
    assert n < 1_000


def test_simhash_pairs_are_near_dups(spark, docs):
    """Every hamming<=3 pair (32-bit simhash) must be an ngram near-dup at a
    loose threshold — simhash is coarser but must not hallucinate."""
    sim = _pairs(dedup.simhash_pairs(docs))
    loose = _pairs(dedup.ngram_jaccard_pairs(docs, threshold=0.3))
    assert sim <= loose
    assert len(sim) > 0


def _rows6(rows):
    return sorted(
        tuple(round(v, 6) if isinstance(v, float) else v for v in r)
        for r in rows
    )


@pytest.mark.parametrize(
    "op, oracle, table",
    [
        (dedup.minhash_lsh_pairs, dedup.minhash_lsh_pairs_oracle, "docs"),
        (dedup.simhash_pairs, dedup.simhash_pairs_oracle, "docs"),
        (ann.near_dup_lsh_pairs, ann.near_dup_lsh_pairs_oracle, "emb"),
    ],
    ids=["minhash_lsh_pairs", "simhash_pairs", "near_dup_lsh_pairs"],
)
def test_capped_pair_generators_match_oracle(request, con, op, oracle, table):
    """The banded pair generators built on skew.capped_block_pairs return
    exactly their DuckDB oracle's rows (ids and verified score) on the
    sf0.001 tables. near_dup_cosine_pairs has its own oracle test below;
    the link tails are checked in test_embed_dialect."""
    got = _rows6(op(request.getfixturevalue(table)).collect())
    want = _rows6(con.execute(oracle()).fetchall())
    assert got == want
    assert got, "sf0.001 should contain planted near-dups"


def test_simhash_rejects_hamming_beyond_pigeonhole(spark, docs):
    """max_hamming >= bands breaks the pigeonhole guarantee (a pair could
    differ in every band and never become a candidate), so it is refused
    outright rather than answered incompletely."""
    with pytest.raises(ValueError, match="pigeonhole"):
        dedup.simhash_pairs(docs, max_hamming=dedup.SIMHASH_BANDS)


def test_shingles_short_text_edge_cases(spark):
    df = spark.createDataFrame(
        [(1, "one two"), (2, ""), (3, "a b c d")], ["doc_id", "text"]
    )
    rows = {
        r["doc_id"]: r["shingles"]
        for r in dedup.with_shingles(df).collect()
    }
    assert rows[1] == []  # < n tokens -> no shingles
    assert rows[2] == []
    assert rows[3] == ["a b c", "b c d"]


# ---------------------------------------------------------------------------
# ANN family
# ---------------------------------------------------------------------------

QV = py_encode("scan filter join aggregate window", dim=64)


def test_ann_lsh_topk_vs_oracle(spark, emb, con):
    got = [tuple(r) for r in ann.ann_lsh_topk(emb, QV, 20).collect()]
    want = con.execute(ann.ann_lsh_topk_oracle(QV, 20)).fetchall()
    assert got == [(v, pytest.approx(s, abs=1e-6)) for v, s in want]


def test_ivf_topk_probes_best_cells(spark, emb, con):
    got = [tuple(r) for r in ann.ivf_topk(emb, QV, 20).collect()]
    want = con.execute(ann.ivf_topk_oracle(QV, 20)).fetchall()
    assert [(g[0], g[1]) for g in got] == [(w[0], w[1]) for w in want]
    # IVF results must be a subset of brute-force cosine ranking's universe
    assert len(got) == 20


def test_ann_topk_over_a_zero_vector_vs_oracle(spark, emb):
    """One all-zero embedding has no cosine: ann_lsh_topk and ivf_topk
    score it NULL and rank it last, as their DuckDB oracles do, instead of
    failing the query on a zero-norm division."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    vecs = t.column("embedding").to_pylist()
    # a query whose probe set holds the zero vector's all-'1' bucket
    q = next(v for v in vecs if ann.py_bucket(v).count("0") <= 1)
    cell = ann.ivf_topk(emb, q, 1).first()["cell"]
    zero_id = 10**9
    zero = (zero_id, [0.0] * 64, cell)
    with_zero = emb.unionByName(spark.createDataFrame([zero], emb.schema))
    c = duckdb.connect()
    c.register(
        "embeddings",
        pa.concat_tables(
            [t, pa.Table.from_pylist([dict(zip(t.column_names, zero))],
                                     t.schema)]
        ),
    )
    k = t.num_rows + 1  # every candidate: the NULL row is the last
    for got_df, sql in (
        (ann.ann_lsh_topk(with_zero, q, k), ann.ann_lsh_topk_oracle(q, k)),
        (ann.ivf_topk(with_zero, q, k), ann.ivf_topk_oracle(q, k)),
    ):
        got = [tuple(r) for r in got_df.collect()]
        want = c.execute(sql).fetchall()
        assert got[-1][0] == zero_id and got[-1][-1] is None
        assert got[:-1] == [
            (*w[:-1], pytest.approx(w[-1], abs=1e-6)) for w in want[:-1]
        ]
        assert want[-1] == got[-1]


def test_ann_lsh_is_subset_of_brute(spark, emb):
    from grepai_spark.search import cosine_topk

    brute = {r["vec_id"] for r in cosine_topk(emb, QV, 500).collect()}
    lsh = {r["vec_id"] for r in ann.ann_lsh_topk(emb, QV, 20).collect()}
    assert lsh <= brute


def test_bucket_parity_python_vs_spark(spark, emb):
    """py_bucket (driver twin) must agree with the SQL bucket expression."""
    from pyspark.sql import functions as F

    rows = emb.limit(50).select(
        "vec_id",
        "embedding",
        F.expr(ann.bucket_sql("embedding")).alias("b"),
    ).collect()
    for r in rows:
        assert ann.py_bucket(list(r["embedding"])) == r["b"]


def test_near_dup_cosine_vs_oracle(spark, emb, con):
    got = _pairs(ann.near_dup_cosine_pairs(emb))
    want = {
        (a, b)
        for a, b, _, _ in con.execute(
            ann.near_dup_cosine_pairs_oracle()
        ).fetchall()
    }
    assert got == want


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

def test_lang_id_heuristic(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat with a hat"),
            (2, "le chat est dans la maison pour le diner"),
            (3, "der hund und die katze ist mit von"),
            (4, "zzz qqq xxx"),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["pred_lang"] for r in textstats.lang_id(df).collect()}
    assert got == {1: "en", 2: "fr", 3: "de", 4: "und"}


def test_text_quality_vs_oracle(spark, docs, con):
    got = {
        r["doc_id"]: (r["n_tokens"], r["quality"])
        for r in textstats.text_quality(docs).collect()
    }
    want = {
        r[0]: (r[2], r[6])
        for r in con.execute(textstats.text_quality_oracle()).fetchall()
    }
    assert got.keys() == want.keys()
    for k in got:
        assert got[k][0] == want[k][0]
        assert got[k][1] == pytest.approx(want[k][1], abs=1e-6)


def test_token_counts_est_rule(spark):
    df = spark.createDataFrame([(1, "abcd" * 10)], ["doc_id", "text"])
    r = textstats.token_counts(df).collect()[0]
    assert r["token_estimate"] == 10  # ceil(40/4), embedder/batch.go:14-18
    assert r["ws_tokens"] == 1


def test_doc_fingerprint_stable_and_discriminative(spark, docs):
    fps = textstats.doc_fingerprint(docs).collect()
    by_id = {r["doc_id"]: r["fingerprint"] for r in fps}
    # deterministic: re-run gives identical values
    again = {
        r["doc_id"]: r["fingerprint"]
        for r in textstats.doc_fingerprint(docs).collect()
    }
    assert by_id == again
    # discriminative enough to split the corpus despite the tiny synthetic
    # vocabulary (char-4-gram space is shared by design, so heavy collision
    # between similar docs is the point of winnowing fingerprints)
    assert len(set(by_id.values())) > 1


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------

def test_media_meta_byte_lengths(spark, docs, con):
    got = {
        r["doc_id"]: r["n_bytes"]
        for r in multimodal.media_meta(docs).collect()
    }
    want = dict(
        con.execute(
            "SELECT doc_id, octet_length(encode(text)) FROM documents"
        ).fetchall()
    )
    assert got == want


def test_extract_features_batch_shape(spark, docs):
    media = multimodal.attach_binary(docs)
    feats = multimodal.extract_features(media).collect()
    assert len(feats) == docs.count()
    for r in feats[:20]:
        v = np.array(r["byte_features"])
        assert v.shape == (multimodal.N_FEATURE_BUCKETS,)
        if r["n_bytes"] > 0:
            assert abs(float(v.sum()) - 1.0) < 1e-5  # L1-normalized


def test_extract_features_empty_payload(spark):
    df = spark.createDataFrame([(1, "")], ["doc_id", "text"])
    r = multimodal.extract_features(multimodal.attach_binary(df)).collect()[0]
    assert r["n_bytes"] == 0
    assert list(r["byte_features"]) == [0.0] * multimodal.N_FEATURE_BUCKETS


def test_decode_image_codec_boundary():
    # JPEG is the declared codec boundary (SURVEY §2) — a clear error, not
    # a silent wrong answer; PPM and PNG decode natively (tests below)
    with pytest.raises(ValueError):
        multimodal.decode_image(b"\xff\xd8\xff")


def test_frame_sample_counts_match_meta(spark, docs):
    media = multimodal.attach_binary(docs)
    frames = multimodal.frame_sample(media)
    got = {
        r["doc_id"]: r["cnt"]
        for r in frames.groupBy("doc_id").count().withColumnRenamed("count", "cnt").collect()
    }
    meta = {
        r["doc_id"]: r["n_sampled"]
        for r in multimodal.frame_meta(docs).collect()
    }
    for doc_id, n_sampled in meta.items():
        assert got.get(doc_id, 0) == n_sampled, doc_id
    # sampled frame indices follow the every-k pattern
    sample = frames.where("doc_id = 0").collect()
    idxs = sorted(r["frame_idx"] for r in sample)
    assert idxs == list(range(0, (idxs[-1] + 1) if idxs else 0, multimodal.FRAME_SAMPLE_EVERY))[: len(idxs)]


def test_near_dup_cell_cap_bounds_hot_cell(spark):
    """One hot cell must never go O(k^2): membership is capped
    deterministically (first `cell_cap` ids) before pairing."""
    rows = [(i, 0, [1.0, 0.0]) for i in range(50)]
    emb = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    )
    out = ann.near_dup_cosine_pairs(emb, threshold=0.9, cell_cap=10)
    pairs = {(r["a_id"], r["b_id"]) for r in out.collect()}
    # only the first 10 ids participate -> C(10,2) pairs, none beyond id 9
    assert len(pairs) == 45
    assert max(b for _, b in pairs) == 9


def test_ivf_precomputed_centroids_match(spark, emb):
    """ivf_topk with a stored centroid table (the at-scale path) must return
    exactly what the inline recomputation returns."""
    cent = ann.ivf_centroids(emb)
    a = [tuple(r) for r in ann.ivf_topk(emb, QV, 20).collect()]
    b = [tuple(r) for r in ann.ivf_topk(emb, QV, 20, centroids=cent).collect()]
    assert a == b


def test_near_dup_lsh_is_verified_subset(spark, emb):
    """LSH-bucketed near-dups: every returned pair truly has cos >= t
    (exact verify), and the pair set is a subset of the unblocked truth."""
    got = {(r["a_id"], r["b_id"]): r["cos"]
           for r in ann.near_dup_lsh_pairs(emb).collect()}
    # brute-force truth (small fixture): all pairs with cos >= threshold
    import itertools
    rows = emb.select("vec_id", "embedding").collect()
    vecs = {r["vec_id"]: list(r["embedding"]) for r in rows}
    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = sum(x * x for x in a) ** 0.5
        nb = sum(x * x for x in b) ** 0.5
        return d / (na * nb)
    truth = {
        tuple(sorted(p)): cos(vecs[p[0]], vecs[p[1]])
        for p in itertools.combinations(vecs, 2)
        if cos(vecs[p[0]], vecs[p[1]]) >= ann.NEAR_DUP_COS
    }
    assert set(got) <= set(truth)
    for k, v in got.items():
        assert abs(v - truth[k]) < 1e-4


def test_corpus_clean_statuses(spark, docs):
    from grepai_spark.corpus import corpus_clean

    rows = corpus_clean(docs).collect()
    assert len(rows) == docs.count()
    by_status = {}
    for r in rows:
        by_status.setdefault(r["status"], set()).add(r["doc_id"])
    assert set(by_status) <= {"kept", "low_quality", "exact_dup", "near_dup"}
    assert by_status.get("kept"), "nothing survived cleaning"
    # exact-dup ground truth: every doc whose text appeared earlier
    # (numeric-min keeper) and whose quality passes the gate
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    first_by_text = {}
    for did in sorted(texts):
        first_by_text.setdefault(texts[did], did)
    passq = by_status.get("kept", set()) | by_status.get("exact_dup", set()) | by_status.get("near_dup", set())
    want_exact = {
        did for did in passq if first_by_text[texts[did]] != did
    }
    assert by_status.get("exact_dup", set()) == want_exact


def test_ppm_round_trip_and_decode_errors():
    import numpy as np
    import pytest as _pytest

    img = multimodal.decode_ppm(multimodal.synth_ppm(123))
    assert img.shape == (3 + 123 % 4, 4 + 123 % 5, 3)
    assert img.dtype == np.uint8
    with _pytest.raises(ValueError):
        multimodal.decode_ppm(b"P5\n2 2\n255\n....")
    with _pytest.raises(ValueError):
        multimodal.decode_ppm(b"P6\n2 2\n255\nxx")  # short raster
    with _pytest.raises(ValueError):
        multimodal.decode_image(b"\xff\xd8\xff\xe0JFIF")  # jpeg: boundary
    with _pytest.raises(ValueError):
        multimodal.decode_image(b"GIF89a")


def test_png_round_trip_all_filters_and_shapes():
    """The real PNG codec: encode -> decode is the identity for grey/RGB/
    RGBA across shapes, with every scanline filter type exercised; corrupt
    payloads raise."""
    import numpy as np
    import pytest as _pytest

    rng_like = lambda n: np.fromiter(
        ((i * 37 + 11) % 256 for i in range(n)), dtype=np.uint8, count=n
    )
    for shape in [(3, 4, 3), (7, 5, 3), (1, 1, 3), (6, 2, 4), (4, 9, 1)]:
        n = shape[0] * shape[1] * shape[2]
        img = rng_like(n).reshape(shape)
        for ft in range(5):  # force a single filter type per image too
            got = multimodal.decode_png(
                multimodal.encode_png(img, filter_for_row=lambda y: ft)
            )
            assert got.shape == shape and (got == img).all(), (shape, ft)
        got = multimodal.decode_png(multimodal.encode_png(img))
        assert (got == img).all(), shape
    # synth_png round-trips to the closed-form raster via decode_image
    for doc_id in (1, 3, 5, 123, 999):
        img = multimodal.decode_image(multimodal.synth_png(doc_id))
        w, h = 4 + doc_id % 5, 3 + doc_id % 4
        want = np.fromiter(
            ((doc_id * 7 + i * 13) % 256 for i in range(w * h * 3)),
            dtype=np.uint8,
            count=w * h * 3,
        ).reshape(h, w, 3)
        assert (img == want).all(), doc_id
    # corruption: flipped byte -> CRC mismatch; truncation -> clear error
    payload = bytearray(multimodal.synth_png(7))
    payload[30] ^= 0xFF
    with _pytest.raises(ValueError):
        multimodal.decode_png(bytes(payload))
    with _pytest.raises(ValueError):
        multimodal.decode_png(multimodal.synth_png(7)[:-8])
    with _pytest.raises(ValueError):
        multimodal.decode_png(b"not a png")


def test_image_features_matches_decoded_pixels(spark, docs):
    import numpy as np

    feats = {
        r["doc_id"]: r
        for r in multimodal.image_features(
            multimodal.synth_images(docs.limit(20))
        ).collect()
    }
    for doc_id, r in feats.items():
        img = multimodal.decode_ppm(multimodal.synth_ppm(doc_id))
        sums = img.reshape(-1, 3).sum(axis=0, dtype=np.int64)
        assert (r["height"], r["width"]) == img.shape[:2]
        assert (r["sum_r"], r["sum_g"], r["sum_b"]) == tuple(int(x) for x in sums)


def test_ann_lsh_bucketed_prunes_partitions(spark, emb):
    """The bucket-partitioned ANN store the driver queries read
    (stores.open_store "lsh_store"): identical top-k to the expression
    path, and the scan's physical plan carries the bucket as a PARTITION
    filter (directory pruning), not a row filter."""
    from grepai_spark import stores

    q = py_encode("scan filter join", dim=64)
    store = stores.open_store(spark, SF_DIR, "lsh_store")
    got = ann.ann_lsh_topk_store(store, q, 10)
    want = ann.ann_lsh_topk(emb, q, 10)
    assert [tuple(r) for r in got.collect()] == [
        tuple(r) for r in want.collect()
    ]

    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # the bucket predicate must appear among the partition filters, and the
    # data filters must NOT re-evaluate the 8-plane bucket expression
    import re as _re

    pf = _re.search(r"PartitionFilters: \[[^\]]*bucket[^\]]*\]", plan)
    assert pf, plan


SF01_DIR = "/root/testdata/sf0.01"


def test_near_dup_lsh_recall_vs_brute_force(spark):
    """VERDICT r3 #4 acceptance: the OR-amplified LSH (independent seeded
    plane sets, unioned like MinHash bands) recovers >= 0.9 of the
    brute-force cosine near-dup pairs on the sf0.01 embeddings — the
    single-set variant measured ~0.71 here."""
    import pyarrow.parquet as pq

    emb01 = spark.read.parquet(f"{SF01_DIR}/embeddings.parquet")
    got = {
        tuple(sorted((r["a_id"], r["b_id"])))
        for r in ann.near_dup_lsh_pairs(emb01).collect()
    }
    t = pq.read_table(f"{SF01_DIR}/embeddings.parquet").to_pandas()
    V = np.vstack(t["embedding"].to_numpy()).astype(np.float64)
    ids = t["vec_id"].to_numpy()
    nrm = V / np.linalg.norm(V, axis=1, keepdims=True)
    S = nrm @ nrm.T
    iu = np.triu_indices(len(ids), k=1)
    mask = S[iu] >= ann.NEAR_DUP_COS
    truth = {
        tuple(sorted((int(a), int(b))))
        for a, b in zip(ids[iu[0][mask]], ids[iu[1][mask]])
    }
    assert len(truth) >= 20, "fixture must contain near-dup pairs"
    assert got <= truth  # exact verify: no false positives ever
    recall = len(got & truth) / len(truth)
    assert recall >= 0.9, f"recall {recall:.3f} ({len(got & truth)}/{len(truth)})"


def test_ann_multiprobe_beats_single_bucket(spark, emb):
    """VERDICT r3 #5 acceptance: Hamming-1 multi-probe recovers strictly
    more of the exact top-20 (and a fuller candidate pool) than the
    single-bucket probe — a query near a hyperplane no longer loses its
    across-the-plane neighbors."""
    from grepai_spark.search import cosine_topk

    exact = {r["vec_id"] for r in cosine_topk(emb, QV, 20).collect()}
    single = {
        r["vec_id"] for r in ann.ann_lsh_topk(emb, QV, 20, hamming=0).collect()
    }
    multi = {
        r["vec_id"] for r in ann.ann_lsh_topk(emb, QV, 20, hamming=1).collect()
    }
    assert len(multi) > len(single)
    assert len(multi & exact) > len(single & exact)
    # the bucketed-store path returns the identical multi-probe result
    # (asserted in test_ann_lsh_bucketed_prunes_partitions)
