"""dimcache.collect_if_small: one bounded probe per handle, both outcomes
memoized; dimcache.local_df: driver rows as an Arrow LocalRelation with
the rows attached."""

from __future__ import annotations

import pytest

from grepai_spark import dimcache


def test_collect_if_small_probes_once_per_handle(spark, count_jobs):
    df = spark.range(0, 40, 1, 8).selectExpr(
        "cast(id AS string) AS a", "id * 2 AS b"
    )
    rows, n = count_jobs(lambda: dimcache.collect_if_small(df, 100))
    assert rows == df.collect()
    assert n == 1
    again, n = count_jobs(lambda: dimcache.collect_if_small(df, 100))
    assert again is rows and n == 0
    # rows in hand answer a smaller cutoff too, with no job
    assert count_jobs(lambda: dimcache.collect_if_small(df, 39)) == (
        None, 0
    )

    big = spark.range(0, 40, 1, 8).selectExpr("cast(id AS string) AS a")
    assert count_jobs(lambda: dimcache.collect_if_small(big, 10)) == (
        None, 1
    )
    assert count_jobs(lambda: dimcache.collect_if_small(big, 10)) == (
        None, 0
    )
    # "larger than 10" answers cutoff 5 with no job
    assert count_jobs(lambda: dimcache.collect_if_small(big, 5)) == (
        None, 0
    )
    assert big not in dimcache._ROWS  # a large handle keeps no rows
    # a larger cutoff is a new question: it probes again
    rows, n = count_jobs(lambda: dimcache.collect_if_small(big, 50))
    assert rows == big.collect() and n >= 1


@pytest.mark.parametrize(
    "rows",
    [
        [("a", 1, 2**40), (None, None, None), ("héllo—世界", -3, 0)],
        [],
    ],
    ids=["rows", "empty"],
)
def test_local_df_is_local_relation_with_rows_attached(spark, count_jobs, rows):
    df = dimcache.local_df(spark, rows, "s string, i int, b bigint")
    plan = df._jdf.queryExecution().analyzed().toString()
    assert "LogicalRDD" not in plan and "LocalRelation" in plan, plan
    held, n = count_jobs(lambda: dimcache.cached_rows(df))
    assert n == 0
    assert df.collect() == held
    assert [tuple(r) for r in held] == rows
    assert [r["s"] for r in held] == [r[0] for r in rows]
