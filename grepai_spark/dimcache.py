"""Loaded-dimension row cache — the reference's in-RAM model tables.

The reference loads its dictionary and graph model into memory once per
process and serves every lookup from RAM (symbol maps rpg/indexer.go:527,
adjForward/adjReverse rpg/model.go:70-80). The Spark analog of "loaded
model" is a driver-side row list for a BROADCAST-SIDE DIMENSION — the alias
dictionary, a driver-computed similarity edge list, a dictionary-scale
canonical map. Re-collecting one of those costs a full Spark action
(~0.15-0.35 s of pure driver/job overhead at any data size — measured r7),
which turns dictionary-scale serving paths into chains of fixed-cost jobs.

It also owns the one size decision of every dictionary- and graph-scale
path that has a driver regime and a distributed one (link, CC, BFS):
:func:`collect_if_small` returns a handle's rows when there are at most
``cutoff`` of them and ``None`` otherwise, measuring with at most one
bounded probe per handle and memoizing BOTH outcomes, so a later caller
asking the same question of the same handle runs no job.

Two sources of rows, in priority order:

* rows ATTACHED by a driver-side producer (``attach_rows``): the producer
  already holds the rows in Python (it computed them), so a consumer that
  needs them back pays nothing instead of a collect job.
* a WeakKeyDictionary memo keyed by the DataFrame HANDLE: the same handle
  always describes the same immutable plan, so its collected rows are
  reusable for the handle's lifetime. Keying by object identity (not plan
  content) means a re-created DataFrame over changed data can never serve
  stale rows — the cache dies with the handle.

ONLY for dimension tables whose backing data is immutable for the handle's
lifetime (the session-memoized alias dict, LocalRelations, per-session
store artifacts). Never cache corpus-scale query results here — collecting
them is the anti-pattern this module exists to avoid.
"""

from __future__ import annotations

from weakref import WeakKeyDictionary

from pyspark.sql import DataFrame

# Rows up to this many run the driver regime (union-find, driver BFS, the
# driver-built canonical map); above it the distributed plan runs. Read at
# call time, so tests that patch it switch every site at once.
DRIVER_ROWS = 100_000

_ROWS: "WeakKeyDictionary[DataFrame, list]" = WeakKeyDictionary()
# handle -> largest bound its row count is known to exceed (never its rows)
_LARGER: "WeakKeyDictionary[DataFrame, int]" = WeakKeyDictionary()


def attach_rows(df: DataFrame, rows: list) -> DataFrame:
    """Record that `rows` ARE the content of `df` (producer-side)."""
    _ROWS[df] = rows
    return df


def attached_rows(df: DataFrame) -> list | None:
    """Rows previously attached/collected for this handle, else None —
    never triggers a job."""
    return _ROWS.get(df)


def cached_rows(df: DataFrame) -> list:
    """Collect (once per handle) and memoize the full row list."""
    rows = _ROWS.get(df)
    if rows is None:
        rows = df.collect()
        _ROWS[df] = rows
    return rows


def collect_if_small(df: DataFrame, cutoff: int | None = None) -> list | None:
    """``df``'s rows if it has at most ``cutoff`` (default
    :data:`DRIVER_ROWS`) of them, else ``None``.

    Rows already in hand for the handle answer with no job, and so does a
    memoized "larger than a bound >= cutoff". Otherwise one bounded probe
    reads at most ``cutoff + 1`` rows: a small result is memoized as the
    handle's rows, a large one only as "larger than cutoff". The probe
    collects through Arrow — ``limit().collect()`` scans partitions
    incrementally (several jobs), ``limit().toArrow()`` is one job — and
    converts with PySpark's own Arrow-to-Row conversion, so the rows equal
    ``collect()``'s.
    """
    from pyspark.sql.conversion import ArrowTableToRowsConversion

    if cutoff is None:
        cutoff = DRIVER_ROWS
    rows = _ROWS.get(df)
    if rows is not None:
        return rows if len(rows) <= cutoff else None
    if _LARGER.get(df, -1) >= cutoff:
        return None
    rows = ArrowTableToRowsConversion.convert(
        df.limit(cutoff + 1).toArrow(), df.schema
    )
    if len(rows) > cutoff:
        _LARGER[df] = cutoff
        return None
    _ROWS[df] = rows
    return rows
