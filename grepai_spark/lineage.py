"""Per-partition lineage checkpoints — the resume protocol.

Replaces the reference's incremental gates — mod-time gate
(/root/reference/indexer/indexer.go:138-145), content-hash skip
(indexer/indexer.go:161-164, NeedsReindex indexer/indexer.go:726-742) and
"doc without chunks is retried" lost-data rule (indexer/indexer.go:136-141) —
with a lineage table keyed by (stage, bucket):

    lineage(stage, bucket, content_hash, status, rows_in, rows_out, updated_ts)

A bucket is skipped iff a row exists with status='done' AND the same
content_hash (order-insensitive hash of the bucket's input rows). Anything
else — missing, failed, or hash-changed — is recomputed and its output
partition overwritten idempotently. This makes the whole pipeline resumable
mid-run: killing between stages loses at most uncommitted buckets.

The gate is decided from rows, on the driver: the run collects its
``n_buckets`` hash rows (one aggregate), the lineage table is read once per
Catalog handle, and :func:`pending_buckets` compares the two in Python — no
join job for a decision over a few dozen rows. The table is stages x buckets
rows, so it never goes through Spark: it is read with pyarrow
(``Catalog.read_rows``) and :func:`mark_done` writes the stage's whole
lineage partition from the held rows as one parquet file
(``Catalog.write_partition``), with ``rows_out`` from the stage write's
parquet footers. Neither runs a Spark job, no stage is re-derived to count
it, and :func:`stage_rows_out` needs no read. Spark reads the table back
with the declared ``LINEAGE`` schema.

A gate needs no bucketing: ``pipeline.run`` gates its dictionary-scale
vertices table on one row (bucket 0) whose content hash is the dictionary's
signature.
"""

from __future__ import annotations

import datetime
from weakref import WeakKeyDictionary

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

from grepai_spark.schemas import LINEAGE
from grepai_spark.storage import Catalog

LINEAGE_TABLE = "lineage"


def with_bucket(df: DataFrame, n_buckets: int, key: str = "conv_id") -> DataFrame:
    """Deterministic bucket assignment. xxhash64 is seed-stable across runs and
    cluster sizes, so lineage survives re-runs at different parallelism.

    This doubles as the skew treatment: a mega-conversation lands in one
    bucket, but buckets only gate lineage — within a run, Spark's own
    partitioning plus AQE skew-split spread the heavy bucket across tasks.
    """
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int")
    )


def bucket_content_hashes(transcripts_b: DataFrame) -> DataFrame:
    """(bucket, content_hash, rows_in): order-insensitive per-bucket input hash.

    sum(xxhash64(row)) is commutative -> identical regardless of partitioning
    or shuffle order; 64-bit wraparound is fine for a change detector.
    """
    h = F.xxhash64("conv_id", "turn_idx", "role", "text", "tool")
    # mod keeps the ANSI-mode sum overflow-free up to ~2^33 rows per bucket;
    # combine two residues so the change-detector keeps ~60 bits of entropy.
    return transcripts_b.groupBy("bucket").agg(
        F.concat_ws(
            ":",
            F.sum(h % F.lit(1_000_000_007)),
            F.sum(h % F.lit(998_244_353)),
        ).alias("content_hash"),
        F.count("*").alias("rows_in"),
    )


# Catalog handle -> its lineage rows by (stage, bucket): read once (the
# first gate of a run) and kept current by mark_done, so a run's later gates
# and its edges counter need no second read. pipeline.run opens one Catalog
# per run, so the held rows live exactly one run.
_HELD: "WeakKeyDictionary[Catalog, dict[tuple[str, int], Row]]" = (
    WeakKeyDictionary()
)


def _held(catalog: Catalog) -> dict[tuple[str, int], Row]:
    held = _HELD.get(catalog)
    if held is None:
        lin = catalog.read_rows(LINEAGE_TABLE, LINEAGE)
        held = _HELD[catalog] = {(r["stage"], r["bucket"]): r for r in lin}
    return held


def pending_buckets(catalog: Catalog, stage: str, hash_rows: list) -> list:
    """The rows of ``hash_rows`` (:func:`bucket_content_hashes`, collected)
    whose (bucket, content_hash) has no done lineage row for ``stage``."""
    held = _held(catalog)

    def done(r) -> bool:
        row = held.get((stage, r["bucket"]))
        return (
            row is not None
            and row["status"] == "done"
            and row["content_hash"] == r["content_hash"]
        )

    return [r for r in hash_rows if not done(r)]


def mark_done(
    catalog: Catalog, stage: str, pending: list, rows_out: dict[int, int]
) -> None:
    """Mark the ``pending`` hash rows done for ``stage``.

    rows_out: bucket -> the stage's output row count for that bucket (a
    bucket it lacks wrote none). The stage's rows are rebuilt from the held
    rows and swapped in as the whole ``stage=`` partition of the lineage
    table, written on the driver (no Spark job); untouched buckets keep
    every field."""
    held = _held(catalog)
    now = datetime.datetime.now(datetime.timezone.utc)
    rows = {
        b: [r[f] for f in LINEAGE.names]  # by name: reads put stage last
        for (s, b), r in held.items()
        if s == stage
    }
    for r in pending:
        b = r["bucket"]
        rows[b] = [
            stage, b, r["content_hash"], "done", r["rows_in"],
            rows_out.get(b, 0), now,
        ]
    for row in rows.values():
        # held rows carry collect()'s local naive timestamps and Arrow
        # would take a naive value as UTC: make it aware so a kept row does
        # not shift
        row[-1] = row[-1] and row[-1].astimezone(datetime.timezone.utc)
    written = catalog.write_partition(
        LINEAGE_TABLE, LINEAGE, "stage", stage, [rows[b] for b in sorted(rows)]
    )
    held.update(((stage, r["bucket"]), r) for r in written)


def stage_rows_out(catalog: Catalog, stage: str) -> int:
    """Sum of ``rows_out`` over ``stage``'s lineage rows. Every output
    partition a stage writes is marked with its own count, so for a
    bucket-partitioned stage table this is the table's row count."""
    return sum(
        r["rows_out"] for (s, _), r in _held(catalog).items() if s == stage
    )
