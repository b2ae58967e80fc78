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

* rows ATTACHED by :func:`local_df`: the producer already holds the rows
  in Python (it computed them), so a consumer that needs them back pays
  nothing instead of a collect job.
* a WeakKeyDictionary memo keyed by the DataFrame HANDLE: the same handle
  always describes the same immutable plan, so its collected rows are
  reusable for the handle's lifetime. Keying by object identity (not plan
  content) means a re-created DataFrame over changed data can never serve
  stale rows — the cache dies with the handle.

ONLY for dimension tables whose backing data is immutable for the handle's
lifetime (the session-memoized alias dict, LocalRelations, per-session
store artifacts). Never cache corpus-scale query results here — collecting
them is the anti-pattern this module exists to avoid.

It also owns the way back: :func:`local_df` is the one place rows the
driver holds enter Spark. In classic PySpark ``createDataFrame(<list>)``
plans a ``LogicalRDD`` over a pickled Python RDD, so EVERY scan of the
result round-trips through a Python worker (~0.3 s of fixed cost per
scan: on 4 cores a 12-row ``localCheckpoint`` took 0.40 s and a parquet
append 0.48 s, medians of 6). ``createDataFrame(<pyarrow.Table>)`` plans a
``LocalRelation`` instead — rows embedded in the plan, no Python worker —
and the same two operations take 0.08 s and 0.18 s. :func:`local_df`
also attaches the rows (as ``collect()`` would return them), so a consumer
that wants them back runs no job.
"""

from __future__ import annotations

from weakref import WeakKeyDictionary

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# Rows up to this many run the driver regime (union-find, driver BFS, the
# driver-built canonical map); above it the distributed plan runs. Read at
# call time, so tests that patch it switch every site at once.
DRIVER_ROWS = 100_000

_ROWS: "WeakKeyDictionary[DataFrame, list]" = WeakKeyDictionary()
# handle -> largest bound its row count is known to exceed (never its rows)
_LARGER: "WeakKeyDictionary[DataFrame, int]" = WeakKeyDictionary()


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


def arrow_table(rows: list, schema: StructType):
    """``rows`` (tuples or Rows, positional in ``schema`` order) as a
    ``pyarrow.Table`` of the types Spark exchanges with Arrow: a
    ``TimestampType`` column is ``timestamp[us, tz=UTC]``, so an aware
    datetime keeps its instant and a naive one is taken as UTC."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    return pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )


def local_df(
    spark: SparkSession, rows: list, schema: StructType | str
) -> DataFrame:
    """``rows`` (tuples or Rows, positional in ``schema`` order; a DDL
    string is accepted) as an Arrow-backed ``LocalRelation``, with the rows
    attached exactly as ``collect()`` returns them.

    The only ``createDataFrame`` in the package: see the module docstring
    for why a Python list must not go in directly."""
    from pyspark.sql.conversion import ArrowTableToRowsConversion

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    table = arrow_table(rows, schema)
    df = spark.createDataFrame(table, schema)
    _ROWS[df] = ArrowTableToRowsConversion.convert(table, schema)
    return df
