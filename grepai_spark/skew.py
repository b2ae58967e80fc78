"""Explicit skew handling — capped block pairs, salting for hot keys.

The reference caps hot groups outright (block cap 100
/root/reference/rpg/indexer.go:20, hub cap 50 rpg/indexer.go:26). Caps are
kept where they mirror reference semantics, and the block cap of every
blocked pair generator (dedup SimHash/MinHash, ann near-dup cosine/LSH,
link's distributed similarity tails) lives here: :func:`capped_block_pairs`
is their one candidate step, and each caller keeps only its block key and
exact verify predicate. The other standard tool is SALTING, for exact
aggregations that must not drop data when one key is huge (the mega-thread:
one conv_id holding ~25% of all turns in the fixture, millions of turns in
production).

Two-phase shape for non-combinable aggregations (collect_set & friends):

    phase 1: groupBy(key, salt)  — the hot key's rows spread over n_salt
             reducers; each emits a partial set
    phase 2: groupBy(key)        — n_salt partial sets per key merge into one

Combinable aggregations (count/sum/min/max) do NOT need this: Spark's
partial aggregation already combines map-side. Salting pays one extra small
shuffle to make the per-reducer state bounded — the trade you want when a
single group's collect state would not fit one task.

AQE's skewJoin handles the JOIN side of the same problem (enabled in
session.py); salting handles the AGGREGATION side, which AQE cannot split
because a group must end on one reducer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

N_SALT = 16


def capped_block_pairs(
    rows: DataFrame, key: str | list[str], order: str, cap: int
) -> DataFrame:
    """Candidate pairs of `rows` that share a block `key`: the filter half
    of filter-and-verify, common to every blocked pair generator.

    Each block keeps only its first `cap` rows by `order` (row_number — a
    deterministic cap, so one hot block never goes O(k^2) and re-runs pick
    the same members). The capped table is materialized ONCE
    (localCheckpoint) because both join sides read it; an unshared subtree
    would run the caller's block-key derivation (signatures, hashes) twice.

    Parallelism floor: the window's shuffle is an explicit keyed
    repartition to at least 2x cores (the session's shuffle width when that
    is wider). AQE would coalesce a plain window shuffle of a small table
    to ~1 partition, and the pair join's verify would inherit it and run as
    one task; an explicit repartition is exempt from coalescing. It is the
    window's only exchange, the materialized table keeps its hash
    partitioning, and the self-join on `key` adds no exchange. Nothing is
    probed: asking an unmaterialized plan for its partition count runs its
    shuffle stages.

    Returns the equi self-join on `key` with a_<order> < b_<order>; every
    non-key column appears twice, prefixed a_ and b_ by one selectExpr per
    side.
    """
    keys = [key] if isinstance(key, str) else list(key)
    spark = rows.sparkSession
    width = max(
        2 * spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions")),
    )
    w = Window.partitionBy(*keys).orderBy(order)
    capped = (
        rows.repartition(width, *keys)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= cap)
        .drop("_rn")
        .localCheckpoint(eager=True)
    )
    rest = [c for c in capped.columns if c not in keys]
    a, b = (
        capped.selectExpr(*keys, *[f"{c} AS {p}_{c}" for c in rest])
        for p in ("a", "b")
    )
    return a.join(b, keys).where(f"a_{order} < b_{order}")


def with_salt(df: DataFrame, n_salt: int = N_SALT) -> DataFrame:
    """Deterministic row-level salt — hash of the whole row, NOT random:
    re-runs produce identical partials, keeping lineage/resume and tests
    deterministic (the reference's seeded-RNG discipline,
    /root/reference/rpg/indexer.go:60-64)."""
    return df.withColumn(
        "_salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(n_salt)).cast(
            "int"
        ),
    )


def salted_collect_set(
    df: DataFrame,
    key: str,
    value: str,
    out_col: str = "values",
    n_salt: int = N_SALT,
) -> DataFrame:
    """Exact distinct-set per key via two-phase salted aggregation.

    Output: (key, out_col sorted array, n_<out_col> int). Sorted for
    determinism regardless of shuffle order.
    """
    salted = with_salt(df.select(key, value), n_salt)
    partial = salted.groupBy(key, "_salt").agg(
        F.collect_set(value).alias("_partial")
    )
    merged = partial.groupBy(key).agg(
        F.array_sort(
            F.array_distinct(F.flatten(F.collect_list("_partial")))
        ).alias(out_col)
    )
    return merged.withColumn(f"n_{out_col}", F.size(out_col))


def conv_tool_profile(
    transcripts: DataFrame, n_salt: int = N_SALT
) -> DataFrame:
    """Per-conversation distinct tool profile — the collect-style aggregation
    a mega-thread would blow up without salting."""
    t = transcripts.where(F.col("tool") != "").select("conv_id", "tool")
    return salted_collect_set(t, "conv_id", "tool", out_col="tools", n_salt=n_salt)


def conv_tool_profile_oracle(transcripts_rel: str) -> str:
    # tools serialized: the driver's canonicalizer can't hash list cells
    return f"""
SELECT conv_id,
       array_to_string(list_sort(list_distinct(list(tool))), ',') AS tools,
       CAST(len(list_distinct(list(tool))) AS INT) AS n_tools
FROM ({transcripts_rel}) t
WHERE tool <> ''
GROUP BY conv_id
""".strip()
