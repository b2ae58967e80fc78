"""Table storage layer — the Iceberg seam.

In production every table here is an Iceberg table: atomic snapshot commits
replace the reference's flock + tmp-file + rename protocol
(/root/reference/store/gob.go:189-235, trace/store.go:129-167), MERGE INTO
replaces its in-place map updates, and partition specs (bucket(conv_id)) drive
pruning. This sandbox has no Iceberg runtime jar, so `Catalog` provides the
same contract over parquet directories with atomic directory-swap commits:
full-table replace writes beside and renames over the live dir; partition
merges write the dirty partitions beside and swap ONLY those partition
subdirectories — a crash mid-job leaves every live partition either fully old
or fully new, never half-written (the overwritePartitions commit contract).
Every merge is partition-scoped and has one regime: merge_by_key swaps
whole partitions (its keys are the one partition column), replace_by_scope
replaces rows by scope within the partitions the scope names. A merge into
an unpartitioned table raises rather than rewrite the table. A
writer reads what it wrote from the parquet footers (partition_rows).

Driver-scale tables -- ``lineage`` (stages x buckets rows) and the
``metrics`` run log (one row per counter per run) -- are read and written
with pyarrow on the driver (read_rows, write_partition, append_rows): their
rows are already in the driver's hands, so moving them through Spark would
only add a fixed-cost job to every run, the zero-pending resume included.
The files are the ones Spark would write: the same directory layout and
swap protocol, the partition column only in the directory name,
timestamps as UTC-adjusted micros, so Spark reads them back with the
declared schemas. (Iceberg: pyiceberg scans and appends of Arrow
tables.)

The pipeline code only talks to this interface, so swapping in Iceberg is a
config change (`writeTo(...).createOrReplace()` / `.append()`), not a
rewrite.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from grepai_spark.dimcache import arrow_table, local_df


_TMP_MARK = ".__tmp__"
_NEW_MARK = ".__new__"
_OLD_MARK = ".__old__"


def _marker_base(name: str) -> tuple[str, str] | None:
    """(base, marker) if `name` is a swap-protocol artifact, else None."""
    for mark in (_NEW_MARK, _OLD_MARK, _TMP_MARK):
        i = name.find(mark)
        if i > 0:
            return name[:i], mark
    return None


def _tmp_dir(final: str) -> str:
    """A staging dir beside `final` for one write, named after the writing
    process so recovery can tell a write in flight from a crashed one."""
    return f"{final}{_TMP_MARK}{os.getpid()}-{uuid.uuid4().hex[:8]}"


def _writer_alive(token: str) -> bool:
    """True iff the process that named a staging dir `<pid>-<uuid>` is
    still running (an unnamed or malformed token counts as dead)."""
    pid, sep, _ = token.partition("-")
    if not sep or not pid.isdigit():
        return False
    try:
        os.kill(int(pid), 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # alive, owned by another user
        return True
    return True


def _swap_dir(src: str, dst: str) -> None:
    """Commit `src` over `dst` with a forward-recoverable three-rename
    protocol: stage the COMPLETE new data beside dst first (rename is
    metadata-only), so the unavoidable instant where dst does not exist
    always has a fully-written `dst.__new__*` sibling recovery can promote —
    a crash can never leave the partition missing with only stale data to
    fall back to (ADVICE r3)."""
    token = uuid.uuid4().hex[:8]
    new = f"{dst}{_NEW_MARK}{token}"
    os.rename(src, new)  # stage: new data complete, live dir untouched
    old = f"{dst}{_OLD_MARK}{token}"
    if os.path.isdir(dst):
        os.rename(dst, old)
    os.rename(new, dst)  # commit
    if os.path.isdir(old):
        shutil.rmtree(old, ignore_errors=True)


def _recover_dir(parent: str) -> None:
    """Repair swap-protocol leftovers in `parent` from an interrupted run.

    __tmp__ dirs are in-progress writes — deleted once the process that
    started them has exited. A live writer's staging dir stays: a Catalog
    opened while another handle (a streaming daemon, say) is writing must
    not delete the files that write is producing. __new__ dirs are
    COMPLETE staged data: promoted if the live dir is missing (finish the
    crashed commit forward), deleted otherwise. __old__ dirs are the
    displaced previous version: restored only if neither the live dir nor a
    staged __new__ exists, deleted otherwise. Processing __new__ before
    __old__ makes forward completion win — the staged data was fully
    written before the swap began.
    """
    if not os.path.isdir(parent):
        return
    entries = sorted(os.listdir(parent))
    marked = [(e, _marker_base(e)) for e in entries]
    for mark_pass in (_TMP_MARK, _NEW_MARK, _OLD_MARK):
        for entry, bm in marked:
            if bm is None or bm[1] != mark_pass:
                continue
            full = os.path.join(parent, entry)
            if not os.path.isdir(full):
                continue
            base = os.path.join(parent, bm[0])
            if mark_pass == _TMP_MARK:
                if not _writer_alive(entry[len(bm[0]) + len(_TMP_MARK):]):
                    shutil.rmtree(full, ignore_errors=True)
            elif os.path.isdir(base):
                shutil.rmtree(full, ignore_errors=True)
            else:
                os.rename(full, base)


def _part_name() -> str:
    """A data file name no other write picks (Spark's part-file style)."""
    return f"part-00000-{uuid.uuid4()}.parquet"


class Catalog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        # startup recovery: finish or roll back any swap a crash interrupted
        # (table-level artifacts at the root, partition-level inside tables)
        _recover_dir(root)
        for entry in sorted(os.listdir(root)):
            _recover_dir(os.path.join(root, entry))

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def exists(self, table: str) -> bool:
        return os.path.isdir(self.path(table))

    def read(self, table: str, schema: StructType | None = None) -> DataFrame:
        """The table's rows. With `schema`, a missing table reads as empty
        and an existing one is read with that schema (no inference job, which
        parquet otherwise runs per read); without it, a missing table
        raises."""
        p = self.path(table)
        if not os.path.isdir(p):
            if schema is None:
                raise FileNotFoundError(p)
            return local_df(self.spark, [], schema)
        if schema is None:
            return self.spark.read.parquet(p)
        return self.spark.read.schema(schema).parquet(p)

    def overwrite(
        self,
        table: str,
        df: DataFrame,
        partition_by: list[str] | None = None,
    ) -> None:
        """Atomic replace: write beside, then swap (Iceberg: REPLACE TABLE /
        overwritePartitions)."""
        final = self.path(table)
        tmp = _tmp_dir(final)
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(tmp)
        _swap_dir(tmp, final)

    def append(self, table: str, df: DataFrame) -> None:
        """Append snapshot (Iceberg: .append())."""
        df.write.mode("append").parquet(self.path(table))

    def read_rows(self, table: str, schema: StructType) -> list:
        """A driver-scale table's rows read with pyarrow (hive partitions,
        no Spark job), equal to ``read(table, schema).collect()``: `col=`
        directory columns last, timestamps as local naive datetimes. A
        missing table has no rows."""
        import pyarrow as pa
        import pyarrow.dataset as ds
        from pyspark.sql.conversion import ArrowTableToRowsConversion
        from pyspark.sql.pandas.types import to_arrow_schema

        p = self.path(table)
        if not os.path.isdir(p):
            return []
        part_cols = {e.split("=", 1)[0] for e in os.listdir(p) if "=" in e}
        # Spark's column order: data columns, then the partition columns
        order = StructType(
            [f for f in schema if f.name not in part_cols]
            + [f for f in schema if f.name in part_cols]
        )
        arrow_schema = to_arrow_schema(order)
        parts = pa.schema([f for f in arrow_schema if f.name in part_cols])
        data = ds.dataset(
            p,
            schema=arrow_schema,
            format="parquet",
            partitioning=ds.partitioning(parts, flavor="hive"),
        ).to_table()
        return ArrowTableToRowsConversion.convert(data, order)

    def write_partition(
        self, table: str, schema: StructType, col: str, value, rows: list
    ) -> list:
        """Swap ``rows`` (positional in ``schema`` order, each with ``col``
        = ``value``) in as the whole ``col=value`` partition of ``table``:
        one parquet file written on the driver into a staging dir, then the
        staged three-rename swap of _overwrite_partitions (Iceberg: an
        overwrite of one partition). Returns the rows as read_rows returns
        them."""
        import pyarrow.parquet as pq
        from pyspark.sql.conversion import ArrowTableToRowsConversion

        data = arrow_table(rows, schema)
        final = self.path(table)
        tmp = _tmp_dir(final)
        staged = os.path.join(tmp, f"{col}={value}")
        os.makedirs(staged)
        pq.write_table(
            data.drop_columns([col]), os.path.join(staged, _part_name())
        )
        os.makedirs(final, exist_ok=True)
        _swap_dir(staged, os.path.join(final, f"{col}={value}"))
        shutil.rmtree(tmp, ignore_errors=True)
        # as a read returns them: the partition column last
        order = StructType(
            [f for f in schema if f.name != col] + [schema[col]]
        )
        return ArrowTableToRowsConversion.convert(
            data.select(order.names), order
        )

    def append_rows(self, table: str, schema: StructType, rows: list) -> None:
        """Append ``rows`` (positional in ``schema`` order) as one new
        parquet file written on the driver (Iceberg: an append of an Arrow
        table). The file is written under a hidden name and renamed into
        place, so a reader never sees it half-written."""
        import pyarrow.parquet as pq

        final = self.path(table)
        os.makedirs(final, exist_ok=True)
        name = _part_name()
        hidden = os.path.join(final, f".{name}")
        pq.write_table(arrow_table(rows, schema), hidden)
        os.rename(hidden, os.path.join(final, name))

    def _is_partitioned_by(self, table: str, col: str) -> bool:
        """True iff every data entry of the live table is a `col=` dir (an
        empty table qualifies; Spark's hidden `_`/`.` files do not count)."""
        return all(
            e.startswith(f"{col}=")
            for e in os.listdir(self.path(table))
            if not e.startswith(("_", "."))
        )

    def partition_rows(self, table: str, col: str, values) -> dict:
        """value -> row count of `table`'s `col=value` partition from its
        parquet footers, with no Spark job (Iceberg: the data-file record
        counts of the commit). A missing or empty partition counts 0."""
        import pyarrow.parquet as pq

        out = {}
        for v in values:
            d = os.path.join(self.path(table), f"{col}={v}")
            files = os.listdir(d) if os.path.isdir(d) else []
            out[v] = sum(
                pq.read_metadata(os.path.join(d, f)).num_rows
                for f in files
                if not f.startswith(("_", "."))
            )
        return out

    def _partition_col(self, table, partition_by, keys) -> str:
        """The one partition column a merge swaps by: a one-column
        `partition_by` among its keys, and the live table (if any) in that
        layout. Anything else has no O(dirty) plan and raises ValueError
        (stream sinks are migrated first: streaming._migrate_bucketed)."""
        col = partition_by[0] if len(partition_by or ()) == 1 else None
        if col not in keys:
            raise ValueError(f"{table}: {partition_by=} is not one of {keys}")
        if self.exists(table) and not self._is_partitioned_by(table, col):
            raise ValueError(f"{table}: live table not partitioned by {col}")
        return col

    def _overwrite_partitions(
        self,
        table: str,
        df: DataFrame,
        col: str,
        ensure: list | None = None,
    ) -> None:
        """Swap exactly the `col` partitions present in `df` into the live
        table (creating it if missing). Iceberg: overwritePartitions.

        df is written partitioned to a tmp dir beside the table; each
        produced `col=value` subdirectory is then committed over its live
        counterpart with the staged three-rename swap (_swap_dir): cheap
        metadata renames per dirty partition, and a crash at ANY instant
        leaves the partition fully old or fully new once Catalog startup
        recovery has run, never missing or half-written.

        `ensure` lists values to swap EVEN IF `df` holds no rows for them:
        a recomputed bucket or a replaced scope can empty a partition, and
        Spark writes no subdirectory for an empty one, which would leave
        the stale files live. Such partitions get an empty staged dir
        (which reads as zero rows) and go through the same swap.
        """
        final = self.path(table)
        tmp = _tmp_dir(final)
        df.write.mode("overwrite").partitionBy(col).parquet(tmp)
        for v in ensure or ():
            os.makedirs(os.path.join(tmp, f"{col}={v}"), exist_ok=True)
        os.makedirs(final, exist_ok=True)
        for entry in sorted(os.listdir(tmp)):
            if entry.startswith(f"{col}="):
                _swap_dir(os.path.join(tmp, entry), os.path.join(final, entry))
        shutil.rmtree(tmp, ignore_errors=True)

    def merge_by_key(
        self,
        table: str,
        updates: DataFrame,
        keys: list[str],
        partition_by: list[str] | None = None,
        ensure: list | None = None,
    ) -> None:
        """Idempotent partition upsert (Iceberg: overwritePartitions):
        `keys` is the one partition column, and ONLY the partitions present
        in `updates` (and those named by `ensure`, see
        _overwrite_partitions) are swapped in; untouched partition files
        are never rewritten. O(dirty partitions), never O(table). A
        row-level merge goes through replace_by_scope; any other call
        raises ValueError (see _partition_col)."""
        col = self._partition_col(table, partition_by, keys)
        if keys != [col]:
            raise ValueError(f"{table}: {keys=} are not the partition {col}")
        self._overwrite_partitions(table, updates, col, ensure)

    def replace_by_scope(
        self,
        table: str,
        updates: DataFrame,
        scope: DataFrame,
        scope_keys: list[str],
        partition_by: list[str] | None = None,
    ) -> None:
        """Re-index merge (Iceberg: MERGE INTO ... WHEN MATCHED THEN DELETE
        followed by an insert): every existing row whose `scope_keys` match a
        row of `scope` is deleted, then ALL of `updates` is inserted.

        The difference from a key upsert matters exactly when a scope unit
        is REDELIVERED WITH DIFFERENT CONTENT: an upsert only overwrites keys
        the new batch still produces, so derived rows the new content no
        longer yields (an edge whose tool call was edited away) would survive
        as stale truth. Scope replacement is the reference's re-index-on-
        modify semantics (cli/watch.go:2007-2133 drops a changed file's old
        records and re-extracts): `scope` is the set of source units the
        batch delivered (e.g. distinct (bucket, conv_id, turn_idx) of the
        arriving turns), independent of how many derived rows each produced —
        including zero.

        A row-level upsert is the case `scope` = `updates` (the streaming
        stats sink): every key the batch carries gets its new row.

        `partition_by` is one column among `scope_keys` (see
        _partition_col), and the cost is O(dirty partitions), never
        O(table): only the partitions `scope` names are read back,
        anti-joined against the scope, unioned with the updates and swapped
        in; a micro-batch touching 2 of 16 buckets rewrites 2. The live
        table is read with `updates.schema`, the shape every caller writes
        it from, so no read runs a parquet schema-inference job.
        """
        col = self._partition_col(table, partition_by, scope_keys)
        if not self.exists(table):
            self.overwrite(table, updates, partition_by=[col])
            return
        scope = scope.select(*scope_keys).distinct()
        dirty = [r[0] for r in scope.select(col).distinct().collect()]
        if not dirty:
            return
        # partition-column filter -> directory pruning on the scan
        existing_dirty = self.read(table, updates.schema).where(
            F.col(col).isin(dirty)
        )
        kept = existing_dirty.join(scope, on=scope_keys, how="left_anti")
        merged = kept.unionByName(updates.select(*kept.columns))
        # ensure=dirty: a partition whose rows ALL belonged to the replaced
        # scope (and whose new extraction is empty) must still be swapped —
        # to empty — or its stale files stay live
        self._overwrite_partitions(table, merged, col, ensure=dirty)
