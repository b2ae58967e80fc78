"""Deduplication operators — the training-data-pipeline extension.

The reference dedups at three granularities: content-hash embedding reuse
(/root/reference/store/store.go:105-109, indexer/indexer.go:352-417), reference
row dedup by composite key (trace/extractor.go:1017-1035), and blocked Jaccard
similarity for near-duplicate features (rpg/indexer.go:496-518,700-757). This
module generalizes those into the dedup family a 100 TB corpus pipeline needs:

* exact dedup            — sha256 groupBy (the content-hash path, scaled out)
* n-gram Jaccard pairs   — inverted-index candidate join + exact verify
* MinHash + LSH pairs    — banding prefilter (sublinear candidates) + verify
* SimHash pairs          — 32-bit signature, banded hamming<=k candidates

Every candidate generator is an equi-join (shuffle on a well-distributed key:
shingle, band key, or signature band) — never an O(n^2) cross join. The
banded generators (MinHash, SimHash) take their candidates from
skew.capped_block_pairs, the capped self-join every blocked pair generator
in this repo shares (the reference's block cap, rpg/indexer.go:20), and keep
only their own verify. The n-gram generator keeps its own self-join: it
drops hub shingles (document frequency > DF_CAP) for EVERY document, which
is a corpus-wide filter, not a per-block cap. Either way one ubiquitous key
cannot create a quadratic pair explosion at scale, and correctness is
preserved because candidates are verified exactly afterwards.

Hash parity: md5/sha256 hex strings are bit-identical between Spark and
DuckDB, so MinHash minima (lexicographic min over md5 hex) and SimHash bits
(hex-digit >= '8') replay exactly in the oracle SQL.

Plan building: wide projections are SQL text. The per-row hashes, bit
sums, signatures and band keys are written as one selectExpr (or one
F.expr per aggregate), not as chains of Column calls: in PySpark classic
every Column function call is its own py4j round trip to the JVM, and
built that way simhash_pairs sent ~5,900 commands per call and spent most
of its wall building its plan, not running it. The SQL spells the same
expression trees, so plans and results are unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from grepai_spark.skew import capped_block_pairs

SHINGLE_N = 3
DF_CAP = 100  # max docs sharing a shingle before it is dropped as a hub
MINHASH_BANDS = 4
MINHASH_ROWS = 2
SIMHASH_BITS = 32
SIMHASH_BANDS = 4
SIMHASH_MAX_HAMMING = 3
JACCARD_THRESHOLD = 0.5  # mirrors /root/reference/rpg/indexer.go:19


# ---------------------------------------------------------------------------
# dual-dialect SQL fragments (spark | duckdb)
# ---------------------------------------------------------------------------

def tokens_sql(col: str, dialect: str = "spark") -> str:
    """Lowercase word tokens, surface order, empties dropped."""
    if dialect == "spark":
        return f"filter(split(lower({col}), '[^0-9a-z]+'), x -> x != '')"
    return (
        f"list_filter(regexp_split_to_array(lower({col}), '[^0-9a-z]+'),"
        f" x -> x != '')"
    )


def shingles_from_tokens_sql(toks: str, n: int = SHINGLE_N) -> str:
    """Spark shingle expression over an ALREADY-BOUND token array column.

    Keeping tokenization in its own projection matters: inlining the
    regex-split expression here would re-evaluate it inside the per-shingle
    lambda (Catalyst cannot hoist subexpressions out of higher-order
    functions) — measured 10x slower at sf0.1.
    """
    return (
        f"array_distinct(CASE WHEN size({toks}) < {n}"
        f" THEN CAST(array() AS array<string>)"
        f" ELSE transform(sequence(1, size({toks}) - {n - 1}),"
        f" i -> concat_ws(' ', slice({toks}, i, {n}))) END)"
    )


def shingles_sql(col: str, n: int = SHINGLE_N, dialect: str = "spark") -> str:
    """Distinct word n-gram shingles of the text column."""
    toks = tokens_sql(col, dialect)
    if dialect == "spark":
        return shingles_from_tokens_sql(toks, n)
    grams = (
        f"list_transform(range(1, greatest(len({toks}) - {n - 2}, 1)), "
        f"i -> array_to_string(({toks})[i:i+{n - 1}], ' '))"
    )
    return f"list_distinct({grams})"


def minhash_sql(sh_col: str, seed: int, dialect: str = "spark") -> str:
    """MinHash_seed(shingles) = lexicographic min of md5('<seed>:'||g).

    md5 hex strings are identical across engines, so so are their minima.
    """
    if dialect == "spark":
        return (
            f"array_min(transform({sh_col}, g -> md5(concat('{seed}:', g))))"
        )
    return (
        f"list_aggregate(list_transform({sh_col},"
        f" g -> md5('{seed}:' || g)), 'min')"
    )


def simhash_sql(sh_col: str, bits: int = SIMHASH_BITS, dialect: str = "spark") -> str:
    """32-bit SimHash over a shingle set as a BIGINT (bit 1 = MSB).

    Bit j uses hex digit j of md5(shingle): digit >= '8' contributes +1, else
    -1; the signature bit is the sign of the sum. The signature is an INTEGER
    on purpose: band keys become shift/mask field extractions and the exact
    hamming check one bit_count(xor) per pair — the '01'-string formulation
    this replaces paid a 32-branch CASE chain per candidate pair and carried
    32-char strings through the pair shuffle (measured ~3 s of the sf0.1
    query; the candidate stage dominates SimHash, not the signatures).
    """
    if dialect == "spark":
        bit = (
            f"IF(2 * size(filter({sh_col}, g -> substring(md5(g), j, 1) >= '8'))"
            f" >= size({sh_col}), shiftleft(1L, {bits} - j), 0L)"
        )
        return f"aggregate(sequence(1, {bits}), 0L, (acc, j) -> acc + {bit})"
    bit = (
        f"CASE WHEN 2 * len(list_filter({sh_col}, g -> substr(md5(g), j, 1) >= '8'))"
        f" >= len({sh_col}) THEN (1::BIGINT << ({bits} - j)) ELSE 0 END"
    )
    return (
        f"CAST(list_sum(list_transform(range(1, {bits + 1}), j -> {bit}))"
        f" AS BIGINT)"
    )


def hamming_sql(a: str, b: str, dialect: str = "spark") -> str:
    """Hamming distance between two integer signatures: popcount of xor.
    Only the xor spelling differs — `^` is exponentiation in DuckDB."""
    if dialect == "spark":
        return f"bit_count({a} ^ {b})"
    return f"bit_count(xor({a}, {b}))"


def set_jaccard_sql(a: str, b: str, dialect: str = "spark") -> str:
    """Jaccard over two already-distinct string arrays."""
    if dialect == "spark":
        return (
            f"CAST(size(array_intersect({a}, {b})) AS DOUBLE)"
            f" / CAST(size(array_union({a}, {b})) AS DOUBLE)"
        )
    return (
        f"CAST(len(list_intersect({a}, {b})) AS DOUBLE)"
        f" / CAST(len(list_distinct(list_concat({a}, {b}))) AS DOUBLE)"
    )


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------

def dedup_exact(
    df: DataFrame,
    text_col: str = "text",
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Exact duplicate groups by sha256(text): (content_hash, n_copies,
    keeper keys). Only groups with >1 copy are returned.

    One shuffle on content_hash (uniform key — no skew by construction); the
    window and count share the same partitioning so Catalyst plans a single
    exchange. This is the 10^12-row analog of the reference's content-hash
    skip (/root/reference/indexer/indexer.go:161-164).
    """
    order_cols = order_cols or ["conv_id", "turn_idx"]
    h = df.withColumn("content_hash", F.sha2(F.col(text_col), 256))
    # r7: one map-side-combinable aggregate replaces the two window
    # functions (count + row_number sort) — the shuffle now carries one
    # partial row per distinct hash per map task instead of every turn row,
    # and no per-partition sort runs. min(struct(order_cols)) is exactly
    # the row_number-1 keeper: struct comparison is lexicographic in field
    # order, matching the window's (asc, asc) ordering.
    agg = h.groupBy("content_hash").agg(
        F.count("*").alias("n_copies"),
        F.min(F.struct(*[F.col(c) for c in order_cols])).alias("_keep"),
    )
    return agg.where(F.col("n_copies") > 1).select(
        "content_hash",
        F.col("n_copies").cast("long").alias("n_copies"),
        *[F.col(f"_keep.{c}").alias(f"keep_{c}") for c in order_cols],
    )


def with_shingles(
    docs: DataFrame, text_col: str = "text", n: int = SHINGLE_N
) -> DataFrame:
    """Two projections on purpose — see shingles_from_tokens_sql."""
    return (
        docs.withColumn("_toks", F.expr(tokens_sql(text_col)))
        .withColumn("shingles", F.expr(shingles_from_tokens_sql("_toks", n)))
        .drop("_toks")
    )


def _verified_pairs(
    cand: DataFrame, sh: DataFrame, threshold: float, id_col: str
) -> DataFrame:
    """Join candidate id pairs back to shingle sets and verify exact Jaccard."""
    sa = sh.select(
        F.col(id_col).alias("a_id"), F.col("shingles").alias("sh_a")
    )
    sb = sh.select(
        F.col(id_col).alias("b_id"), F.col("shingles").alias("sh_b")
    )
    jac = F.expr(set_jaccard_sql("sh_a", "sh_b"))
    return (
        cand.join(sa, "a_id")
        .join(sb, "b_id")
        .withColumn("_jac_raw", jac)
        .where(F.col("_jac_raw") >= F.lit(threshold))
        .select("a_id", "b_id", F.round("_jac_raw", 6).alias("jac"))
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    n: int = SHINGLE_N,
    df_cap: int = DF_CAP,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-duplicate pairs by word-n-gram Jaccard >= threshold, computed over
    the STOP-SHINGLE-FILTERED sets (shingles in more than `df_cap` docs are
    removed for everyone — they carry no discriminative signal and would make
    one inverted-index bucket quadratic at corpus scale).

    Count-based exact Jaccard: shared = co-occurrence count per pair from the
    inverted index, |A∪B| = |A|+|B|-shared. No shingle arrays are ever
    materialized per pair — the whole operator is explode -> two groupBys ->
    one size join, all map-side-combinable shuffles on uniform keys.
    """
    sh = with_shingles(docs, text_col, n).select(id_col, "shingles")
    # Materialize the posting list ONCE: it feeds three consumers (the
    # hub-shingle DF census, the per-doc size census, and the pair counts),
    # and Spark re-executes an unshared subtree per consumer — at corpus
    # scale that is three full scans + re-shingling passes for one logical
    # derivation. localCheckpoint is this repo's in-session
    # materialize-once idiom (blocks release with the plan via
    # ContextCleaner, unlike CacheManager-pinned persist).
    posting = sh.select(
        F.col(id_col), F.explode("shingles").alias("g")
    ).localCheckpoint(eager=True)
    non_hub = (
        posting.groupBy("g")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") <= df_cap)
        .select("g")
    )
    p2 = posting.join(non_hub, "g")
    # Materialize the hub-FILTERED posting once too (r7): p2 feeds three
    # consumers (pair counts + both sides of the size join), and an
    # unshared p2 subtree re-ran the non_hub census and the hub join per
    # consumer — the before-plan carried the non_hub aggregate and the
    # filter join 3x each (24 exchanges total).
    p2 = p2.localCheckpoint(eager=True)
    sizes = p2.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    # Pair counts via a plain self-equi-join on the MATERIALIZED filtered
    # posting (r7): the one-pass bucket expansion existed to avoid
    # re-executing the posting producer twice, but with p2 materialized the
    # join reads storage/blocks twice for free and stays entirely inside
    # whole-stage codegen — the ObjectHashAggregate + interpreted nested
    # transform() of _bucket_pair_counts was 1.8 s of the sf0.1 wall vs
    # 0.54 s for this join at identical candidate volume (1.27M pairs).
    pa = p2.select("g", F.col(id_col).alias("a_id"))
    pb = p2.select("g", F.col(id_col).alias("b_id"))
    shared = (
        pa.join(pb, "g")
        .where(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count("*").alias("shared"))
    )
    sa = sizes.select(
        F.col(id_col).alias("a_id"), F.col("n_sh").alias("na")
    )
    sb = sizes.select(
        F.col(id_col).alias("b_id"), F.col("n_sh").alias("nb")
    )
    jac = F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared"))
    return (
        shared.join(sa, "a_id")
        .join(sb, "b_id")
        .withColumn("_jac_raw", jac)
        .where(F.col("_jac_raw") >= F.lit(threshold))
        .select("a_id", "b_id", F.round("_jac_raw", 6).alias("jac"))
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    bands: int = MINHASH_BANDS,
    rows_per_band: int = MINHASH_ROWS,
    n: int = SHINGLE_N,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding + exact Jaccard verify.

    bands=4 x rows=2 puts the S-curve threshold at (1/4)^(1/2) = 0.5 — matched
    to the reference's Jaccard threshold (rpg/indexer.go:19). Candidates =
    pairs sharing any band key; the band join is an equi-join on an
    (almost) uniformly distributed 2x-md5 key, so it shuffles evenly at any
    scale. Verification makes the banding a pure recall/efficiency knob.
    """
    n_hashes = bands * rows_per_band
    # Materialized ONCE (same rationale as ngram_jaccard_pairs' posting):
    # the shingle sets feed the signature derivation AND both sides of the
    # exact-Jaccard verify join — unshared, that is three scans +
    # re-shingling passes over the corpus.
    sh = (
        with_shingles(docs, text_col, n)
        .select(id_col, "shingles")
        .localCheckpoint(eager=True)
    )
    # Hashing happens on the EXPLODED posting list in a flat projection —
    # md5 inside a higher-order-function lambda is interpreted row-at-a-time
    # (no codegen); explode + groupBy(min) keeps it in WholeStageCodegen and
    # the min() agg combines map-side, so the shuffle carries only
    # n_docs x n_hashes tiny rows.
    hashed = sh.selectExpr(id_col, "explode(shingles) AS g").selectExpr(
        id_col, *[f"md5(concat('{i}:', g)) AS h{i}" for i in range(n_hashes)]
    )
    sigs = hashed.groupBy(id_col).agg(
        *[F.expr(f"min(h{i}) AS mh{i}") for i in range(n_hashes)]
    )
    band_keys = ", ".join(
        "concat_ws('|', '{}', {})".format(
            bnd,
            ", ".join(
                f"mh{bnd * rows_per_band + r}" for r in range(rows_per_band)
            ),
        )
        for bnd in range(bands)
    )
    # (band_key, id) is unique (band tags partition the key space), so the
    # per-bucket cap keeps the first DF_CAP distinct ids, as the oracle does
    banded = sigs.selectExpr(
        f"{id_col} AS id", f"explode(array({band_keys})) AS band_key"
    )
    cand = (
        capped_block_pairs(banded, "band_key", "id", DF_CAP)
        .select("a_id", "b_id")
        .dropDuplicates()
    )
    return _verified_pairs(cand, sh, threshold, id_col)


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = SIMHASH_MAX_HAMMING,
    bits: int = SIMHASH_BITS,
    bands: int = SIMHASH_BANDS,
    n: int = SHINGLE_N,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-duplicate pairs by SimHash hamming distance <= max_hamming.

    Pigeonhole banding: split the 32-bit signature into `bands` blocks; any
    pair within hamming <= bands-1 shares at least one identical block, so a
    per-block equi-join finds all candidates without a cross join. The exact
    hamming check then filters. Returns (a_id, b_id, hamming).
    """
    if max_hamming > bands - 1:
        raise ValueError(
            f"pigeonhole banding needs max_hamming < bands, got "
            f"max_hamming={max_hamming}, bands={bands}"
        )
    sh = with_shingles(docs, text_col, n).select(id_col, "shingles")
    # Same codegen strategy as minhash_lsh_pairs: ONE md5 per shingle in a
    # flat projection, then 32 conditional sums in a map-side-combining agg —
    # never a per-bit rescan of the shingle array in an interpreted lambda.
    # The hex digest is parsed ONCE into four staged 32-bit integer blocks;
    # each bit count is then an integer shift/mask sum instead of a per-bit
    # substring + string compare. digit >= '8' over 0-9a-f is exactly the
    # nibble's top bit, so (block >> (4*(7-pos)+3)) & 1 reproduces the
    # predicate bit-for-bit.
    hb = (
        sh.selectExpr(id_col, "explode(shingles) AS g")
        .selectExpr(id_col, "md5(g) AS h")
        .selectExpr(
            id_col,
            *[
                f"CAST(conv(substring(h, {1 + 8 * k}, 8), 16, 10) AS BIGINT)"
                f" AS b{k}"
                for k in range(bits // 8)
            ],
        )
    )

    def _bit(j: int) -> str:
        k, pos = (j - 1) // 8, (j - 1) % 8
        return f"shiftright(b{k}, {4 * (7 - pos) + 3}) & 1"

    bit_sums = hb.groupBy(id_col).agg(
        F.expr("count(*) AS n_sh"),
        *[F.expr(f"sum({_bit(j)}) AS c{j}") for j in range(1, bits + 1)],
    )
    # integer signature (bit 1 = MSB) — see simhash_sql for why not a string
    bit_terms = " + ".join(
        f"CASE WHEN c{j} * 2 >= n_sh THEN {1 << (bits - j)} ELSE 0 END"
        for j in range(1, bits + 1)
    )
    block = bits // bands
    mask = (1 << block) - 1
    # band key = band index tag + the band's bit field (shift/mask)
    keys = ", ".join(
        f"CAST({bnd * (mask + 1)}"
        f" + (shiftright(sig, {bits - (bnd + 1) * block}) & {mask}) AS BIGINT)"
        for bnd in range(bands)
    )
    # (bk, id) is unique (band tags partition the key space) and docs carry
    # one sig each, so the capped members are the oracle's
    banded = bit_sums.selectExpr(
        id_col, f"CAST({bit_terms} AS BIGINT) AS sig"
    ).selectExpr(f"{id_col} AS id", "sig", f"explode(array({keys})) AS bk")
    ham = hamming_sql("a_sig", "b_sig")
    return (
        capped_block_pairs(banded, "bk", "id", DF_CAP)
        .withColumn("hamming", F.expr(f"CAST({ham} AS INT)"))
        .where(f"hamming <= {max_hamming}")
        .dropDuplicates(["a_id", "b_id"])
        .select("a_id", "b_id", "hamming")
    )


# ---------------------------------------------------------------------------
# DuckDB oracles (independent declarative re-derivations)
# ---------------------------------------------------------------------------

def dedup_exact_oracle(transcripts_rel: str) -> str:
    return f"""
WITH h AS (
  SELECT conv_id, turn_idx, sha256(text) AS content_hash
  FROM ({transcripts_rel}) t
), g AS (
  SELECT content_hash, conv_id, turn_idx,
         count(*) OVER (PARTITION BY content_hash) AS n_copies,
         row_number() OVER (PARTITION BY content_hash
                            ORDER BY conv_id, turn_idx) AS rn
  FROM h
)
SELECT content_hash, CAST(n_copies AS BIGINT) AS n_copies,
       conv_id AS keep_conv_id, turn_idx AS keep_turn_idx
FROM g WHERE rn = 1 AND n_copies > 1
""".strip()


def _doc_shingles_cte(n: int = SHINGLE_N) -> str:
    return (
        f"sh AS (SELECT doc_id, {shingles_sql('text', n, 'duckdb')} AS shingles"
        f" FROM documents)"
    )


def _verify_sql(cand_cte: str, threshold: float, n: int) -> str:
    jac = set_jaccard_sql("sa.shingles", "sb.shingles", "duckdb")
    return f"""
WITH {_doc_shingles_cte(n)},
{cand_cte}
SELECT c.a_id, c.b_id, round({jac}, 6) AS jac
FROM cand c
JOIN sh sa ON sa.doc_id = c.a_id
JOIN sh sb ON sb.doc_id = c.b_id
WHERE {jac} >= {threshold}
""".strip()


def ngram_jaccard_pairs_oracle(
    threshold: float = JACCARD_THRESHOLD,
    n: int = SHINGLE_N,
    df_cap: int = DF_CAP,
) -> str:
    return f"""
WITH {_doc_shingles_cte(n)},
posting AS (
  SELECT doc_id, unnest(shingles) AS g FROM sh
),
non_hub AS (
  SELECT g FROM posting GROUP BY g HAVING count(*) <= {df_cap}
),
p2 AS (SELECT p.doc_id, p.g FROM posting p JOIN non_hub USING (g)),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM p2 GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS shared
  FROM p2 a JOIN p2 b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT s.a_id, s.b_id,
       round(CAST(s.shared AS DOUBLE) / (sa.n_sh + sb.n_sh - s.shared), 6) AS jac
FROM shared s
JOIN sizes sa ON sa.doc_id = s.a_id
JOIN sizes sb ON sb.doc_id = s.b_id
WHERE CAST(s.shared AS DOUBLE) / (sa.n_sh + sb.n_sh - s.shared) >= {threshold}
""".strip()


def minhash_lsh_pairs_oracle(
    threshold: float = JACCARD_THRESHOLD,
    bands: int = MINHASH_BANDS,
    rows_per_band: int = MINHASH_ROWS,
    n: int = SHINGLE_N,
) -> str:
    keys = []
    for bnd in range(bands):
        parts = " || '|' || ".join(
            minhash_sql("shingles", bnd * rows_per_band + r, "duckdb")
            for r in range(rows_per_band)
        )
        keys.append(f"'{bnd}|' || {parts}")
    key_list = ", ".join(keys)
    cand = f"""
banded AS (
  SELECT doc_id, unnest([{key_list}]) AS band_key
  FROM sh WHERE len(shingles) > 0
),
capped AS (
  SELECT band_key, doc_id,
         row_number() OVER (PARTITION BY band_key ORDER BY doc_id) AS rn
  FROM (SELECT DISTINCT band_key, doc_id FROM banded)
),
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM capped a JOIN capped b
    ON a.band_key = b.band_key AND a.doc_id < b.doc_id
  WHERE a.rn <= {DF_CAP} AND b.rn <= {DF_CAP}
)""".strip()
    return _verify_sql(cand, threshold, n)


def simhash_pairs_oracle(
    max_hamming: int = SIMHASH_MAX_HAMMING,
    bits: int = SIMHASH_BITS,
    bands: int = SIMHASH_BANDS,
    n: int = SHINGLE_N,
) -> str:
    block = bits // bands
    mask = (1 << block) - 1
    keys = ", ".join(
        f"{bnd * (mask + 1)} + ((sig >> {bits - (bnd + 1) * block}) & {mask})"
        for bnd in range(bands)
    )
    ham = hamming_sql("a.sig", "b.sig", "duckdb")
    return f"""
WITH {_doc_shingles_cte(n)},
sig AS (
  SELECT doc_id, {simhash_sql('shingles', bits, 'duckdb')} AS sig
  FROM sh WHERE len(shingles) > 0
),
banded AS (SELECT doc_id, sig, unnest([{keys}]) AS bk FROM sig),
capped AS (
  SELECT bk, doc_id, sig,
         row_number() OVER (PARTITION BY bk ORDER BY doc_id) AS rn
  FROM (SELECT DISTINCT bk, doc_id, sig FROM banded)
)
SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
       CAST({ham} AS INT) AS hamming
FROM capped a JOIN capped b ON a.bk = b.bk AND a.doc_id < b.doc_id
WHERE a.rn <= {DF_CAP} AND b.rn <= {DF_CAP} AND {ham} <= {max_hamming}
""".strip()
