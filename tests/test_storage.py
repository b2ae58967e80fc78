"""Catalog merges: merge_by_key's atomic partition swap, replace_by_scope's
dirty-partition row merge; footer row counts."""

from __future__ import annotations

import os

import pytest
from pyspark.sql.types import StructType

from grepai_spark.storage import Catalog


def test_merge_subset_branch_rewrites_only_dirty_partitions(
    spark, tmp_path, regimes
):
    """A row-level upsert (replace_by_scope with the updates as their own
    scope, keys a superset of the partition column) rewrites only the
    partitions the updates touch."""
    for regime in regimes():
        cat = Catalog(spark, str(tmp_path / "cat" / regime))
        df = spark.createDataFrame(
            [(0, "a", 1), (0, "b", 2), (1, "c", 3), (2, "d", 4)],
            "bucket int, k string, v int",
        )
        keys = ["bucket", "k"]
        cat.replace_by_scope("t", df, df, keys, partition_by=["bucket"])
        tdir = cat.path("t")
        assert sorted(
            e for e in os.listdir(tdir) if e.startswith("bucket=")
        ) == ["bucket=0", "bucket=1", "bucket=2"]

        def mtimes(bucket: str) -> dict[str, float]:
            d = os.path.join(tdir, bucket)
            return {
                f: os.path.getmtime(os.path.join(d, f))
                for f in os.listdir(d)
                if f.endswith(".parquet")
            }

        b2_before = mtimes("bucket=2")
        # update touches buckets 0 (upsert existing key) and 1 (new key)
        upd = spark.createDataFrame(
            [(0, "a", 10), (1, "e", 5)], "bucket int, k string, v int"
        )
        cat.replace_by_scope("t", upd, upd, keys, partition_by=["bucket"])

        assert mtimes("bucket=2") == b2_before  # clean partition untouched
        got = {(r["bucket"], r["k"]): r["v"] for r in cat.read("t").collect()}
        assert got == {
            (0, "a"): 10,
            (0, "b"): 2,
            (1, "c"): 3,
            (1, "e"): 5,
            (2, "d"): 4,
        }


def test_merge_partition_key_branch_is_atomic_swap(spark, tmp_path):
    """partition_by == keys: whole-partition replace, other partitions kept."""
    cat = Catalog(spark, str(tmp_path / "cat2"))
    df = spark.createDataFrame(
        [(0, 1), (1, 2)], "bucket int, v int"
    )
    cat.merge_by_key("t", df, ["bucket"], partition_by=["bucket"])
    upd = spark.createDataFrame([(1, 99), (1, 98)], "bucket int, v int")
    cat.merge_by_key("t", upd, ["bucket"], partition_by=["bucket"])
    got = sorted((r["bucket"], r["v"]) for r in cat.read("t").collect())
    assert got == [(0, 1), (1, 98), (1, 99)]
    # no tmp/old debris left beside or inside the table
    debris = [
        e
        for e in os.listdir(str(tmp_path / "cat2"))
        if "__tmp__" in e or "__old__" in e
    ] + [
        e for e in os.listdir(cat.path("t")) if "__tmp__" in e or "__old__" in e
    ]
    assert debris == []


def test_merge_unpartitioned_raises(spark, tmp_path):
    """No merge rewrites a whole table: a call without a one-column
    partition_by among its keys, or into a live table not in that layout,
    raises and leaves the table as it was. merge_by_key's keys are the
    partition column; row-level keys are replace_by_scope's."""
    cat = Catalog(spark, str(tmp_path / "cat3"))
    rows = [(0, "a", 1), (1, "b", 2)]
    df = spark.createDataFrame(rows, "bucket int, k string, v int")
    for keys, part in (
        (["k"], None),
        (["k"], ["bucket"]),
        (["bucket", "k"], ["bucket", "k"]),
    ):
        with pytest.raises(ValueError):
            cat.merge_by_key("t", df, keys, partition_by=part)
        with pytest.raises(ValueError):
            cat.replace_by_scope("t", df, df, keys, partition_by=part)
    with pytest.raises(ValueError, match="not the partition"):
        cat.merge_by_key("t", df, ["bucket", "k"], partition_by=["bucket"])
    assert not cat.exists("t")
    cat.overwrite("flat", df)
    with pytest.raises(ValueError, match="not partitioned"):
        cat.merge_by_key("flat", df, ["bucket"], partition_by=["bucket"])
    with pytest.raises(ValueError, match="not partitioned"):
        cat.replace_by_scope(
            "flat", df, df, ["bucket", "k"], partition_by=["bucket"]
        )
    assert sorted(tuple(r) for r in cat.read("flat").collect()) == rows


def test_partition_rows_reads_footer_counts(spark, tmp_path, count_jobs):
    """Per-partition row counts from the parquet footers, with no Spark
    job: a swapped-to-empty or absent partition counts 0."""
    cat = Catalog(spark, str(tmp_path / "cat6"))
    df = spark.createDataFrame(
        [(b, i) for b in (0, 1) for i in range(3 + b)], "bucket int, v int"
    )
    cat.merge_by_key("t", df, ["bucket"], partition_by=["bucket"], ensure=[2])
    got, n = count_jobs(lambda: cat.partition_rows("t", "bucket", [0, 1, 2, 3]))
    assert (got, n) == ({0: 3, 1: 4, 2: 0, 3: 0}, 0)
    assert got == {
        b: cat.read("t").where(f"bucket = {b}").count() for b in got
    }


def test_crash_recovery_promotes_staged_new(spark, tmp_path):
    """Crash between displacing the live partition and committing the staged
    one (the window ADVICE r3 flagged): recovery must promote the COMPLETE
    __new__ dir forward, never leave the partition missing."""
    cat = Catalog(spark, str(tmp_path / "cat4"))
    df = spark.createDataFrame([(0, 1), (1, 2)], "bucket int, v int")
    cat.merge_by_key("t", df, ["bucket"], partition_by=["bucket"])
    tdir = cat.path("t")
    # simulate the crash state: bucket=1 displaced to __old__, its staged
    # replacement still under __new__
    os.rename(
        os.path.join(tdir, "bucket=1"), os.path.join(tdir, "bucket=1.__old__aa")
    )
    os.makedirs(os.path.join(tdir, "bucket=1.__new__aa"))
    for f in os.listdir(os.path.join(tdir, "bucket=1.__old__aa")):
        os.link(
            os.path.join(tdir, "bucket=1.__old__aa", f),
            os.path.join(tdir, "bucket=1.__new__aa", f),
        )
    # next Catalog init runs recovery
    cat2 = Catalog(spark, str(tmp_path / "cat4"))
    entries = sorted(e for e in os.listdir(tdir) if e.startswith("bucket="))
    assert entries == ["bucket=0", "bucket=1"]
    got = sorted((r["bucket"], r["v"]) for r in cat2.read("t").collect())
    assert got == [(0, 1), (1, 2)]


def test_crash_recovery_restores_old_and_drops_debris(spark, tmp_path):
    """Remaining crash states: a lone __old__ (live missing, nothing staged)
    is restored; __tmp__ and stale __new__/__old__ beside a live dir are
    deleted — reads after recovery never silently drop a partition."""
    cat = Catalog(spark, str(tmp_path / "cat5"))
    df = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "bucket int, v int")
    cat.merge_by_key("t", df, ["bucket"], partition_by=["bucket"])
    tdir = cat.path("t")
    os.rename(
        os.path.join(tdir, "bucket=2"), os.path.join(tdir, "bucket=2.__old__bb")
    )
    os.makedirs(os.path.join(tdir, "bucket=0.__new__cc"))  # stale vs live
    os.makedirs(os.path.join(tdir, "bucket=1.__old__dd"))  # stale vs live
    os.makedirs(cat.path("t") + ".__tmp__ee")  # interrupted write
    cat2 = Catalog(spark, str(tmp_path / "cat5"))
    root = str(tmp_path / "cat5")
    debris = [
        e
        for d in (root, tdir)
        for e in os.listdir(d)
        if "__tmp__" in e or "__old__" in e or "__new__" in e
    ]
    assert debris == []
    got = sorted((r["bucket"], r["v"]) for r in cat2.read("t").collect())
    assert got == [(0, 1), (1, 2), (2, 3)]


def test_replace_by_scope_clears_rows_the_update_no_longer_produces(
    spark, tmp_path, regimes
):
    """The semantic difference from merge_by_key: a redelivered scope unit's
    STALE derived rows (keys the new extraction does not emit — including
    the all-of-them case) must vanish, while untouched partitions keep
    their files byte-identical on disk."""
    for regime in regimes():
        cat = Catalog(spark, str(tmp_path / "cat" / regime))
        rows = [(0, "a", 1, "x"), (0, "a", 2, "y"), (0, "b", 1, "z"),
                (1, "c", 1, "w"), (1, "c", 2, "v")]
        df = spark.createDataFrame(
            rows, "bucket int, unit string, k int, v string"
        )
        cat.overwrite("t", df, partition_by=["bucket"])

        table_dir = cat.path("t")
        before = {
            f"{e}/{f}": os.path.getmtime(os.path.join(table_dir, e, f))
            for e in os.listdir(table_dir) if e.startswith("bucket=")
            for f in os.listdir(os.path.join(table_dir, e)) if f.endswith(".parquet")
        }

        # unit 'a' redelivered: now yields ONE row with a new key; unit 'b'
        # redelivered with ZERO rows
        scope = spark.createDataFrame(
            [(0, "a"), (0, "b")], "bucket int, unit string"
        )
        upd = spark.createDataFrame(
            [(0, "a", 9, "new")], "bucket int, unit string, k int, v string"
        )
        cat.replace_by_scope("t", upd, scope, ["bucket", "unit"],
                             partition_by=["bucket"])

        got = sorted(
            tuple(r)
            for r in cat.read("t").select("bucket", "unit", "k", "v").collect()
        )
        assert got == sorted(
            [(0, "a", 9, "new"), (1, "c", 1, "w"), (1, "c", 2, "v")]
        )
        # bucket=1 untouched on disk
        after = {
            f"{e}/{f}": os.path.getmtime(os.path.join(table_dir, e, f))
            for e in os.listdir(table_dir) if e.startswith("bucket=")
            for f in os.listdir(os.path.join(table_dir, e)) if f.endswith(".parquet")
        }
        for k, m in before.items():
            if k.startswith("bucket=1/"):
                assert after.get(k) == m, f"clean partition rewritten: {k}"


def test_replace_by_scope_creates_and_refuses_unpartitioned(
    spark, tmp_path
):
    """Missing table -> created in the partition layout; an unpartitioned
    call raises instead of anti-joining the whole table."""
    cat = Catalog(spark, str(tmp_path / "cat2"))
    scope = spark.createDataFrame([(0, "a")], "bucket int, unit string")
    schema = "bucket int, unit string, k int"
    upd = spark.createDataFrame([(0, "a", 1)], schema)
    cat.replace_by_scope(
        "t", upd, scope, ["bucket", "unit"], partition_by=["bucket"]
    )
    assert cat._is_partitioned_by("t", "bucket")

    def rows():
        return [tuple(r) for r in cat.read("t").select(*upd.columns).collect()]

    assert rows() == [(0, "a", 1)]
    upd2 = spark.createDataFrame([(0, "a", 7)], schema)
    with pytest.raises(ValueError):
        cat.replace_by_scope("t", upd2, scope, ["bucket", "unit"])
    assert rows() == [(0, "a", 1)]


def test_replace_by_scope_empties_a_partition_whose_rows_all_left(
    spark, tmp_path, regimes
):
    """Round-6 regression: when EVERY row of a dirty partition belongs to
    the replaced scope and the new extraction yields nothing there, the
    partition must be swapped to EMPTY — Spark writes no subdir for an
    empty partition, so without the ensure= backstop the stale files
    would silently stay live."""
    for regime in regimes():
        cat = Catalog(spark, str(tmp_path / "cat3" / regime))
        rows = [(0, "solo", 1, "stale"), (1, "other", 1, "keep")]
        df = spark.createDataFrame(
            rows, "bucket int, unit string, k int, v string"
        )
        cat.overwrite("t", df, partition_by=["bucket"])

        # unit 'solo' (the ONLY occupant of bucket 0) redelivered with nothing
        scope = spark.createDataFrame([(0, "solo")], "bucket int, unit string")
        upd = spark.createDataFrame(
            [], "bucket int, unit string, k int, v string"
        )
        cat.replace_by_scope("t", upd, scope, ["bucket", "unit"],
                             partition_by=["bucket"])
        got = sorted(
            tuple(r)
            for r in cat.read("t").select("bucket", "unit", "k", "v").collect()
        )
        assert got == [(1, "other", 1, "keep")]


def test_replace_by_scope_sequential_model(spark, tmp_path, regimes):
    """Model check: 8 seeded random scope-replacements applied to one
    catalog must track a plain dict model exactly — covers re-emptied and
    re-populated partitions, repeated scope units, and updates whose rows
    land in multiple buckets."""
    import random

    for regime in regimes():
        rng = random.Random(42)
        cat = Catalog(spark, str(tmp_path / "model" / regime))
        units = [("u%d" % i, i % 3) for i in range(7)]  # unit -> bucket
        model: dict[tuple, str] = {}

        for step in range(8):
            scoped = rng.sample(units, rng.randrange(1, len(units) + 1))
            scope_rows = [(b, u) for u, b in scoped]
            upd_rows = []
            for u, b in scoped:
                for k in range(rng.randrange(0, 3)):
                    upd_rows.append((b, u, k, f"v{step}"))
            # apply to the model: drop every scoped unit's rows, insert news
            for key in [k for k in model if (k[1], k[0]) in [(u, b) for u, b in scoped]]:
                del model[key]
            for b, u, k, v in upd_rows:
                model[(b, u, k)] = v

            scope = spark.createDataFrame(scope_rows, "bucket int, unit string")
            upd = spark.createDataFrame(
                upd_rows, "bucket int, unit string, k int, v string"
            )
            cat.replace_by_scope(
                "t", upd, scope, ["bucket", "unit"], partition_by=["bucket"]
            )
            if not model:
                continue  # fully-empty table: parquet scan has no schema source
            got = {
                (r["bucket"], r["unit"], r["k"]): r["v"]
                for r in cat.read("t").collect()
            }
            assert got == model, f"diverged at step {step}"


def _lineage_rows(spark, when):
    """Lineage rows of two stages as pipeline.run writes them (updated_ts
    an aware UTC instant, one NULL)."""
    from grepai_spark.dimcache import local_df
    from grepai_spark.schemas import LINEAGE

    rows = [
        (stage, b, f"{stage}:{b}", "done", b + 1, 2 * b, when)
        for stage in ("edges", "vectors")
        for b in range(3)
    ]
    rows[-1] = (*rows[-1][:-1], None)
    return local_df(spark, rows, LINEAGE)


def _by_key(rows):
    return sorted(rows, key=lambda r: (r["stage"], r["bucket"]))


def test_read_rows_equals_collect_of_both_writers(
    spark, tmp_path, count_jobs, local_tz_not_utc
):
    """read_rows returns a table's rows as collect() does, field by field
    and in the same column order, with no Spark job: over a lineage table
    written by Spark (the stage-partitioned merge), and after one stage
    partition is replaced by an Arrow write_partition, whose returned rows
    are the ones a read then gives. The driver's local zone is off UTC, so
    a timestamp taken as naive anywhere would shift."""
    import datetime

    from grepai_spark.schemas import LINEAGE

    cat = Catalog(spark, str(tmp_path / "lin"))
    utc = datetime.timezone.utc
    t0 = datetime.datetime(2024, 3, 10, 6, 30, 0, 123456, tzinfo=utc)
    cat.merge_by_key(
        "lineage", _lineage_rows(spark, t0), ["stage"], partition_by=["stage"]
    )

    def same_as_collect():
        got, n = count_jobs(lambda: cat.read_rows("lineage", LINEAGE))
        want = cat.read("lineage", LINEAGE).collect()
        assert n == 0
        assert _by_key(got) == _by_key(want)
        assert [r.asDict() for r in _by_key(got)] == [
            r.asDict() for r in _by_key(want)
        ]
        return got

    spark_rows = same_as_collect()
    assert {r["updated_ts"] for r in spark_rows} == {
        None, t0.astimezone().replace(tzinfo=None)
    }
    t1 = t0 + datetime.timedelta(days=1)
    new = [("vectors", 7, "h", "done", 1, 1, t1)]
    written = cat.write_partition("lineage", LINEAGE, "stage", "vectors", new)
    got = same_as_collect()
    assert written == [r for r in got if r["stage"] == "vectors"]
    assert [r["updated_ts"] for r in written] == [
        t1.astimezone().replace(tzinfo=None)
    ]
    # the partition column lives only in the directory name, as Spark has it
    import pyarrow.parquet as pq

    vdir = os.path.join(cat.path("lineage"), "stage=vectors")
    (f,) = [f for f in os.listdir(vdir) if not f.startswith((".", "_"))]
    assert "stage" not in pq.read_schema(os.path.join(vdir, f)).names
    assert cat.read_rows("missing", LINEAGE) == []


def test_latest_metrics_over_spark_and_arrow_files(
    spark, tmp_path, count_jobs
):
    """The metrics run log can hold files Spark appended and files
    append_rows wrote on the driver (no job); latest_metrics takes the
    newest run_ts per metric across both."""
    import datetime

    from grepai_spark.pipeline import latest_metrics
    from grepai_spark.schemas import METRICS

    utc = datetime.timezone.utc
    t0, t1, t2 = (
        datetime.datetime(2024, 1, d, 12, tzinfo=utc) for d in (1, 2, 3)
    )
    cat = Catalog(spark, str(tmp_path / "m"))
    cat.append(
        "metrics",
        spark.createDataFrame([("a", 1, t0), ("b", 7, t2)], METRICS),
    )
    _, n = count_jobs(
        lambda: cat.append_rows(
            "metrics", METRICS, [("a", 2, t1), ("b", 8, t1), ("c", 3, t1)]
        )
    )
    assert n == 0
    got = {r["metric"]: r["value"] for r in latest_metrics(cat).collect()}
    assert got == {"a": 2, "b": 7, "c": 3}
    assert sorted(
        (r["metric"], r["value"]) for r in cat.read_rows("metrics", METRICS)
    ) == [("a", 1), ("a", 2), ("b", 7), ("b", 8), ("c", 3)]


_TS_SCHEMA = "bucket int, unit string, k int, ts timestamp"


def _ts_merges(spark):
    """A replace_by_scope sequence over a table with a timestamp column:
    (updates, scope) per step, scope None for a row-level upsert. It
    holds a NULL scope key, scope keys absent from the table and a
    partition only the updates name."""
    import datetime

    utc = datetime.timezone.utc
    t0 = datetime.datetime(2024, 3, 10, 6, 30, 0, 123456, tzinfo=utc)

    def df(rows, schema=_TS_SCHEMA):
        return spark.createDataFrame(rows, schema)

    scope = "bucket int, unit string"
    return [
        (df([(0, "a", 1, t0), (0, None, 2, t0), (1, "b", 1, None),
             (2, "c", 1, t0)]), df([], scope)),
        # NULL unit matches nothing: its old row stays, the new one is added
        (df([(0, None, 3, t0), (0, "a", 4, None)]),
         df([(0, None), (0, "a"), (1, "zz")], scope)),
        # absent keys in a live and in a missing partition; bucket 3 is
        # named by the updates only
        (df([(3, "d", 1, t0)]), df([(2, "nope"), (5, "nope")], scope)),
        (df([(1, "b", 9, t0), (2, "c", 9, None)]), None),
        # every row of bucket 2 leaves
        (df([], _TS_SCHEMA), df([(2, "c")], scope)),
    ]


def _run_merges(cat, merges):
    for upd, scope in merges:
        cat.replace_by_scope(
            "t", upd, upd if scope is None else scope, ["bucket", "unit"],
            partition_by=["bucket"],
        )
    return sorted(
        cat.read_rows("t", StructType.fromDDL(_TS_SCHEMA)),
        key=lambda r: (r["bucket"], r["unit"] or "", r["k"]),
    )


def test_replace_by_scope_regimes_leave_equal_tables(
    spark, tmp_path, regimes, local_tz_not_utc, monkeypatch
):
    """The driver merge and the Spark merge leave equal tables for the
    same sequence, timestamps included with the driver's zone off UTC;
    the driver regime runs no Spark write after the first (creating)
    merge and leaves one file per partition."""
    merges = _ts_merges(spark)
    spark_writes = []
    real = Catalog._overwrite_partitions
    monkeypatch.setattr(
        Catalog, "_overwrite_partitions",
        lambda self, *a, **k: spark_writes.append(a[0]) or real(self, *a, **k),
    )
    got = {}
    for regime in regimes():
        spark_writes.clear()
        cat = Catalog(spark, str(tmp_path / regime))
        got[regime] = _run_merges(cat, merges)
        tdir = cat.path("t")
        files = {
            e: [f for f in os.listdir(os.path.join(tdir, e))
                if f.endswith(".parquet")]
            for e in os.listdir(tdir)
            if e.startswith("bucket=")
        }
        if regime == "driver":
            assert spark_writes == []
            assert all(len(f) <= 1 for f in files.values()), files
        else:
            assert len(spark_writes) == len(merges) - 1
    assert got["driver"] == got["distributed"]
    assert [r.asDict() for r in got["driver"]] == [
        r.asDict() for r in got["distributed"]
    ]
    assert {(r["bucket"], r["unit"], r["k"]) for r in got["driver"]} == {
        (0, "a", 4), (0, None, 2), (0, None, 3), (1, "b", 9), (3, "d", 1),
    }


def test_replace_by_scope_takes_arrow_tables(
    spark, tmp_path, regimes, local_tz_not_utc, monkeypatch
):
    """Updates and scope handed over as Arrow tables (a batch the caller
    already holds) merge to the table their DataFrames leave, in both
    regimes. The missing table is created on the driver in both; after
    that the driver regime runs no Spark write and leaves one file per
    partition, and with DRIVER_ROWS = 0 every merge over a non-empty
    dirty partition takes the Spark write."""
    frames = _ts_merges(spark)
    arrows = [
        (u.toArrow(), None if s is None else s.toArrow()) for u, s in frames
    ]
    want = _run_merges(Catalog(spark, str(tmp_path / "frames")), frames)
    spark_writes = []
    for name in ("_overwrite_partitions", "overwrite"):
        real = getattr(Catalog, name)
        monkeypatch.setattr(
            Catalog, name,
            lambda self, *a, _real=real, _name=name, **k: (
                spark_writes.append(_name) or _real(self, *a, **k)
            ),
        )
    for regime in regimes():
        spark_writes.clear()
        cat = Catalog(spark, str(tmp_path / regime))
        got = _run_merges(cat, arrows)
        assert [r.asDict() for r in got] == [r.asDict() for r in want]
        if regime == "driver":
            assert spark_writes == []
            tdir = cat.path("t")
            assert all(
                len([f for f in os.listdir(os.path.join(tdir, e))
                     if f.endswith(".parquet")]) <= 1
                for e in os.listdir(tdir)
            )
        else:
            assert spark_writes == ["_overwrite_partitions"] * (
                len(arrows) - 1
            )


def test_replace_by_scope_large_partition_takes_the_spark_path(
    spark, tmp_path, monkeypatch
):
    """A batch that fits in DRIVER_ROWS over a dirty partition whose
    footer rows do not runs the Spark merge, with the driver regime's
    result."""
    from grepai_spark import dimcache

    rows = [(0, f"u{i}", i) for i in range(20)] + [(1, "x", 0)]
    schema = "bucket int, unit string, k int"
    spark_writes = []
    real = Catalog._overwrite_partitions
    monkeypatch.setattr(
        Catalog, "_overwrite_partitions",
        lambda self, *a, **k: spark_writes.append(a[0]) or real(self, *a, **k),
    )
    got = {}
    for cutoff in (dimcache.DRIVER_ROWS, 5):
        monkeypatch.setattr(dimcache, "DRIVER_ROWS", cutoff)
        cat = Catalog(spark, str(tmp_path / str(cutoff)))
        cat.overwrite("t", spark.createDataFrame(rows, schema), ["bucket"])
        upd = spark.createDataFrame([(0, "u3", 30), (0, "new", 1)], schema)
        scope = spark.createDataFrame(
            [(0, "u3"), (0, "u4")], "bucket int, unit string"
        )
        spark_writes.clear()
        cat.replace_by_scope(
            "t", upd, scope, ["bucket", "unit"], partition_by=["bucket"]
        )
        assert len(spark_writes) == (cutoff == 5)
        got[cutoff] = sorted(
            tuple(r) for r in cat.read_rows("t", StructType.fromDDL(schema))
        )
    assert got[5] == got[dimcache.DRIVER_ROWS]
    assert len(got[5]) == len(rows)  # u3 replaced, u4 gone, new added
