"""dimcache.collect_if_small: one bounded probe per handle, both outcomes
memoized."""

from __future__ import annotations

import itertools

from grepai_spark import dimcache

_GROUPS = itertools.count()


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran), counted by job group once the
    listener bus has delivered every job event."""
    sc = spark.sparkContext
    group = f"dimcache-test-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_collect_if_small_probes_once_per_handle(spark):
    df = spark.range(0, 40, 1, 8).selectExpr(
        "cast(id AS string) AS a", "id * 2 AS b"
    )
    rows, n = _jobs(spark, lambda: dimcache.collect_if_small(df, 100))
    assert rows == df.collect()
    assert n == 1
    again, n = _jobs(spark, lambda: dimcache.collect_if_small(df, 100))
    assert again is rows and n == 0
    # rows in hand answer a smaller cutoff too, with no job
    assert _jobs(spark, lambda: dimcache.collect_if_small(df, 39)) == (
        None, 0
    )

    big = spark.range(0, 40, 1, 8).selectExpr("cast(id AS string) AS a")
    assert _jobs(spark, lambda: dimcache.collect_if_small(big, 10)) == (
        None, 1
    )
    assert _jobs(spark, lambda: dimcache.collect_if_small(big, 10)) == (
        None, 0
    )
    # "larger than 10" answers cutoff 5 with no job
    assert _jobs(spark, lambda: dimcache.collect_if_small(big, 5)) == (
        None, 0
    )
    assert dimcache.attached_rows(big) is None  # a large handle keeps no rows
    # a larger cutoff is a new question: it probes again
    rows, n = _jobs(spark, lambda: dimcache.collect_if_small(big, 50))
    assert rows == big.collect() and n >= 1
