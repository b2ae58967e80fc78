"""Stage 2 — LINK: blocked entity linking.

Two linking paths, mirroring the reference:

* exact path — mentions join the broadcast alias dictionary on the surface
  form (and a normalized key), the analog of name-based callee resolution via
  hash lookup (/root/reference/rpg/indexer.go:527-598). Broadcast-hash join:
  no shuffle of the big side.
* similarity path — aliases of DIFFERENT canonicals are compared pairwise
  within a block (first normalized token), Jaccard >= 0.5 creates a
  same-entity link edge; blocks are capped to bound the O(k^2) pair explosion,
  exactly the reference's own skew mitigation (verb blocking + block cap 100,
  /root/reference/rpg/indexer.go:17-27,661-757).

A MinHash banding block key is provided as the scale path (LSH prefilter per
the north rule): at 10^12 turns first-token blocks can still be huge; MinHash
bands keep candidate sets sublinear. Both block keys feed the same tail: on
the driver (small ASCII dictionaries) the Python twins in
_py_pairs_from_buckets, otherwise _distributed_sim_edges — candidates from
skew.capped_block_pairs (the capped self-join every blocked pair generator
shares), then the same Jaccard verify.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from grepai_spark.naming import first_token_sql, jaccard_sql, norm_tokens_sql
from grepai_spark.skew import capped_block_pairs

JACCARD_THRESHOLD = 0.5  # ref: rpg/indexer.go:19
BLOCK_CAP = 100  # ref: maxFeatureGroupSize, rpg/indexer.go:20


def with_norm_tokens(alias_dict: DataFrame) -> DataFrame:
    return alias_dict.withColumn("norm_tokens", F.expr(norm_tokens_sql("alias")))


# Below this many dictionary rows the similarity linking runs on the driver
# (collect + pure-Python twins) instead of as ~5 tiny shuffle jobs. Lower
# than dimcache.DRIVER_ROWS because the Python banding is per-alias work,
# not a collect: measured on 4 cores, the driver regime took 4.74 s vs
# 2.39 s for the distributed LSH tail at 50k aliases and 9.57 s vs 3.08 s
# at 100k, with equal edge sets. The Python twins
# (py_first_token / py_norm_tokens / py_jaccard) are lockstep-tested against
# the SQL expressions (tests/test_naming_dialect), so regime choice cannot
# change the edge set; non-ASCII aliases fall back to the distributed path
# because Python code-point ordering and Java UTF-16 ordering only provably
# agree on ASCII (the cap's deterministic order depends on it).
SMALL_DICT_ROWS = 10_000


def _collect_small_dict(alias_dict: DataFrame) -> list | None:
    """The dict's rows if it is small and ASCII-only, else None. The size
    decision and the rows go through dimcache, so one probe per handle
    serves every linking call in the session."""
    from grepai_spark.dimcache import collect_if_small

    rows = collect_if_small(alias_dict, SMALL_DICT_ROWS)
    if rows is None:
        return None
    if any(max(r["alias"]) >= "\x80" for r in rows if r["alias"]):
        return None
    return rows


def _py_pairs_from_buckets(
    buckets: dict[str, list], threshold: float, cap: int
) -> list[tuple[str, str]]:
    """Shared verify step of both driver-side regimes: within each bucket,
    cap members (already alias-sorted), pair a.alias < b.alias with distinct
    canonical ids, keep Jaccard >= threshold. Same float arithmetic as the
    SQL (len ints -> IEEE double division)."""
    from grepai_spark.naming import py_jaccard

    out: set[tuple[str, str]] = set()
    for members in buckets.values():
        members = members[:cap]
        for i, (a_alias, a_cid, a_toks) in enumerate(members):
            for b_alias, b_cid, b_toks in members[i + 1 :]:
                if a_cid == b_cid or a_alias == b_alias:
                    # the SQL pair predicate is a STRICT a.alias < b.alias:
                    # duplicate surface forms never pair
                    continue
                if py_jaccard(a_toks, b_toks) >= threshold:
                    out.add((a_cid, b_cid))
    return sorted(out)


def _distributed_sim_edges(
    d: DataFrame, key_col: str, cap: int, threshold: float
) -> DataFrame:
    """Distributed tail of both similarity paths: alias pairs sharing
    `key_col` among the first `cap` aliases of each block (alias order),
    with distinct canonical ids and Jaccard >= threshold, as (src, dst)."""
    jac = F.expr(jaccard_sql("a_norm_tokens", "b_norm_tokens"))
    return (
        capped_block_pairs(d, key_col, "alias", cap)
        .where(F.col("a_canonical_id") != F.col("b_canonical_id"))
        .where(jac >= F.lit(threshold))
        .select(
            F.col("a_canonical_id").alias("src"),
            F.col("b_canonical_id").alias("dst"),
        )
        .dropDuplicates(["src", "dst"])
    )


def link_mentions_exact(mentions: DataFrame, alias_dict: DataFrame) -> DataFrame:
    """mention rows -> + canonical_id via broadcast exact join on surface form.

    r7: for a collectable dictionary the (alias, canonical_id) dim is
    deduped on the driver from the loaded-dimension rows — the .distinct()
    was a shuffle job on every call just to dedupe the broadcast side."""
    from grepai_spark.dimcache import collect_if_small, local_df

    rows = collect_if_small(alias_dict, SMALL_DICT_ROWS)
    if rows is not None:
        pairs = sorted({(r["alias"], r["canonical_id"]) for r in rows})
        dim_df = local_df(
            mentions.sparkSession, pairs, "alias string, canonical_id string"
        )
    else:
        dim_df = alias_dict.select("alias", "canonical_id").distinct()
    dim = F.broadcast(dim_df)
    return mentions.join(dim, mentions["mention"] == dim["alias"], "left").drop(
        "alias"
    )


def alias_similarity_edges(
    alias_dict: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    block_cap: int = BLOCK_CAP,
) -> DataFrame:
    """(src, dst) canonical-id pairs whose aliases are Jaccard-similar.

    Blocked self-join: block key = first normalized token. Within a block only
    the first `block_cap` aliases (deterministic alias order) participate in
    pairing — the reference's cap against quadratic blowup. The pair join is an
    equi-join on the block key, so Spark shuffles once on the (tiny) dict; at
    dictionary scale this is trivially broadcastable, and the same shape holds
    for mention-level dedup at corpus scale.

    r7: small ASCII dictionaries (the common serving case — the reference
    holds the whole dictionary in RAM) run entirely on the driver via the
    lockstep-tested Python twins: one bounded probe, zero shuffle jobs.
    """
    head = _collect_small_dict(alias_dict)
    if head is not None:
        from grepai_spark.naming import py_first_token, py_norm_tokens

        buckets: dict[str, list] = {}
        for r in sorted(head, key=lambda r: r["alias"]):
            toks = py_norm_tokens(r["alias"])
            if not toks:
                continue
            blk = py_first_token(r["alias"])
            buckets.setdefault(blk, []).append(
                (r["alias"], r["canonical_id"], toks)
            )
        pairs = _py_pairs_from_buckets(buckets, threshold, block_cap)
        from grepai_spark.dimcache import local_df

        return local_df(alias_dict.sparkSession, pairs, "src string, dst string")
    d = (
        with_norm_tokens(alias_dict)
        .where(F.size("norm_tokens") > 0)
        .select(
            "alias",
            "canonical_id",
            "norm_tokens",
            # block by the SURFACE-order first word, like the reference's verb
            # blocking — not the sorted token set's minimum.
            F.expr(first_token_sql("alias")).alias("block"),
        )
    )
    return _distributed_sim_edges(d, "block", block_cap, threshold)


def mention_tool_overlap(
    mentions: DataFrame,
    calls: DataFrame,
    window: int = 2,
) -> DataFrame:
    """Range join (L3 analog): link each in-text mention to tool invocations
    within ±`window` turns of it in the SAME conversation — the
    line-range-overlap join that maps chunks to symbols in the reference
    (/root/reference/rpg/indexer.go:387-442, predicate rpg/indexer.go:473-475).

    Plan shape: each mention EXPLODES to its (2*window+1) candidate turn
    keys, then a pure equi-join on (conv_id, t_turn). Joining on conv_id
    alone with the band as a post-join filter would materialize
    |mentions| x |calls| rows per conversation first — quadratic in exactly
    the mega-thread case the north rule names (one conv holding ~25% of all
    turns), and AQE can only split partitions, not shrink the per-key pair
    count. The explode trades that for a fixed (2*window+1)x row expansion;
    per composite key the group is a single turn, so no key is ever hot.
    """
    m = mentions.select(
        "conv_id",
        F.col("turn_idx").alias("m_turn"),
        "mention",
    ).withColumn(
        "t_turn",
        F.explode(
            F.sequence(
                F.col("m_turn") - window, F.col("m_turn") + window
            )
        ),
    )
    c = calls.select(
        "conv_id",
        F.col("turn_idx").alias("t_turn"),
        F.col("obj").alias("tool"),
    )
    return m.join(c, ["conv_id", "t_turn"]).select(
        "conv_id",
        "m_turn",
        "mention",
        "t_turn",
        "tool",
        F.abs(F.col("t_turn") - F.col("m_turn")).cast("int").alias("dist"),
    )


LSH_BANDS = 4
LSH_ROWS = 2
LSH_BUCKET_CAP = 200  # same role as BLOCK_CAP, per band bucket


def minhash_link_sql(tokens_col: str, seed: int, dialect: str = "spark") -> str:
    """MinHash_seed(tokens) = lexicographic min of md5('<seed>:'||token) —
    the SAME md5-keyed lockstep twin the dedup signatures use
    (dedup.minhash_sql): md5 hex strings are identical in Spark, DuckDB and
    Python, so the banding is replayable verbatim inside a DuckDB oracle
    (xxhash64, the previous key, exists only Spark-side and made the LSH
    linking path uncheckable by the driver's cross-engine gate)."""
    if dialect == "spark":
        return (
            f"array_min(transform({tokens_col},"
            f" t -> md5(concat('{seed}:', t))))"
        )
    return (
        f"list_aggregate(list_transform({tokens_col},"
        f" t -> md5('{seed}:' || t)), 'min')"
    )


def minhash_block_key(
    df: DataFrame,
    tokens_col: str = "norm_tokens",
    bands: int = LSH_BANDS,
    rows_per_band: int = LSH_ROWS,
) -> DataFrame:
    """Attach MinHash LSH band keys: explode to one row per band.

    minhash_i(tokens) = min over tokens of md5('<i>:'||token); a band key
    concatenates the band index and `rows_per_band` consecutive minhashes
    into one string. Two sets sharing any band key become join candidates —
    the standard banding scheme (see PAPERS.md), replacing the reference's
    single-token verb block for skewed dictionaries. Pure built-in exprs —
    JVM-side, no UDF — and md5-keyed so a DuckDB oracle replays the exact
    candidate set (see minhash_link_sql).
    """
    band_cols = []
    for bnd in range(bands):
        parts = [
            F.expr(minhash_link_sql(tokens_col, bnd * rows_per_band + r))
            for r in range(rows_per_band)
        ]
        band_cols.append(
            F.concat_ws("|", F.lit(str(bnd)), *parts).alias(f"bk{bnd}")
        )
    df = df.select("*", F.array(*band_cols).alias("_bands"))
    return df.select(
        *[c for c in df.columns if c != "_bands"],
        F.explode("_bands").alias("band_key"),
    )


def alias_similarity_edges_lsh(
    alias_dict: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    bands: int = LSH_BANDS,
    rows_per_band: int = LSH_ROWS,
    bucket_cap: int = LSH_BUCKET_CAP,
) -> DataFrame:
    """LSH-banded variant of alias_similarity_edges (scale path).

    Candidates = pairs sharing a band key; verified with exact Jaccard. A
    superset-recall prefilter: anything the banding misses was below ~0.3
    similarity with high probability. Band buckets are capped at
    `bucket_cap` members (deterministic alias order — the same discipline
    as BLOCK_CAP and the dedup DF_CAP) so one degenerate bucket can never
    go quadratic at dictionary scale.

    r7: same small-ASCII-dictionary driver regime as
    :func:`alias_similarity_edges` — hashlib md5 hex equals Spark/DuckDB
    md5 hex, so the banding replays exactly.
    """
    head = _collect_small_dict(alias_dict)
    if head is not None:
        import hashlib

        from grepai_spark.naming import py_norm_tokens

        buckets: dict[str, list] = {}
        for r in sorted(head, key=lambda r: r["alias"]):
            toks = py_norm_tokens(r["alias"])
            if not toks:
                continue
            for bnd in range(bands):
                mins = [
                    min(
                        hashlib.md5(
                            f"{bnd * rows_per_band + rr}:{t}".encode()
                        ).hexdigest()
                        for t in toks
                    )
                    for rr in range(rows_per_band)
                ]
                key = "|".join([str(bnd), *mins])
                buckets.setdefault(key, []).append(
                    (r["alias"], r["canonical_id"], toks)
                )
        pairs = _py_pairs_from_buckets(buckets, threshold, bucket_cap)
        from grepai_spark.dimcache import local_df

        return local_df(alias_dict.sparkSession, pairs, "src string, dst string")
    d = (
        with_norm_tokens(alias_dict)
        .where(F.size("norm_tokens") > 0)
        .select("alias", "canonical_id", "norm_tokens")
    )
    banded = minhash_block_key(d, bands=bands, rows_per_band=rows_per_band)
    return _distributed_sim_edges(banded, "band_key", bucket_cap, threshold)
