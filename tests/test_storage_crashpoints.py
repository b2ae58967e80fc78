"""Exhaustive crash-point walk of the staged swap protocol.

_swap_dir performs (up to) three renames; a crash can strike before any of
them. For EVERY crash point, with and without a pre-existing live dir, the
invariant after Catalog-startup recovery (_recover_dir) must hold: the
destination is either fully-old or fully-new data — never missing when any
committed version existed, never a mix — and no __tmp__/__new__/__old__
debris survives. Pure-filesystem tests (no Spark): the protocol is plain
os.rename, so the walk is deterministic. The driver-side writes are then
killed mid-write in a subprocess (os._exit at a chosen rename), the last
of them inside a streaming job whose restart must converge.
"""

from __future__ import annotations

import os

import pytest

from grepai_spark.storage import _recover_dir, _swap_dir


def _mkdata(parent: str, name: str, tag: str) -> str:
    d = os.path.join(parent, name)
    os.makedirs(d)
    with open(os.path.join(d, "data.txt"), "w") as f:
        f.write(tag)
    return d


def _read_tag(parent: str, name: str) -> str | None:
    p = os.path.join(parent, name, "data.txt")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return f.read()


class _CrashRename:
    """os.rename that raises after `allow` successful calls."""

    def __init__(self, allow: int):
        self.allow = allow
        self.calls = 0
        self._real = os.rename

    def __call__(self, src: str, dst: str) -> None:
        if self.calls >= self.allow:
            raise OSError("injected crash")
        self.calls += 1
        self._real(src, dst)


@pytest.mark.parametrize("preexisting", [True, False])
@pytest.mark.parametrize("crash_after", [0, 1, 2, 3])
def test_swap_crash_then_recover(tmp_path, monkeypatch, preexisting, crash_after):
    parent = str(tmp_path / "table")
    os.makedirs(parent)
    if preexisting:
        _mkdata(parent, "part=1", "OLD")
    src = _mkdata(str(tmp_path), "staging", "NEW")
    dst = os.path.join(parent, "part=1")

    crasher = _CrashRename(crash_after)
    monkeypatch.setattr("grepai_spark.storage.os.rename", crasher)
    # a swap without a live dir needs only 2 renames; 3 with one
    total_renames = 3 if preexisting else 2
    try:
        _swap_dir(src, dst)
        crashed = False
    except OSError:
        crashed = True
    assert crashed == (crash_after < total_renames)

    monkeypatch.undo()
    _recover_dir(parent)

    tag = _read_tag(parent, "part=1")
    if crash_after >= total_renames or (preexisting and crash_after >= 2):
        # commit completed, or the staged __new__ was promotable after the
        # live dir had been displaced — recovery must finish FORWARD
        assert tag == "NEW"
    elif preexisting:
        # staged-but-not-committed: live data must remain fully old
        assert tag == "OLD"
    else:
        # no prior version ever existed and the stage itself crashed:
        # "no table yet" is the only correct state (writer retries)
        assert tag == ("NEW" if crash_after >= 1 else None)

    leftovers = [
        e
        for e in os.listdir(parent)
        if "__tmp__" in e or "__new__" in e or "__old__" in e
    ]
    assert leftovers == []


def test_recover_is_idempotent(tmp_path):
    """Running recovery twice (e.g. two Catalogs opening the same root)
    changes nothing the second time."""
    parent = str(tmp_path / "table")
    os.makedirs(parent)
    _mkdata(parent, "part=1.__new__deadbeef", "NEW")
    _mkdata(parent, "part=2", "OLD")
    _mkdata(parent, "part=2.__old__cafecafe", "OLDER")
    _mkdata(parent, "part=3.__tmp__12345678", "JUNK")

    _recover_dir(parent)
    state1 = sorted(os.listdir(parent))
    _recover_dir(parent)
    assert sorted(os.listdir(parent)) == state1
    assert _read_tag(parent, "part=1") == "NEW"  # promoted
    assert _read_tag(parent, "part=2") == "OLD"  # live wins over __old__
    assert state1 == ["part=1", "part=2"]  # tmp junk dropped


def test_recover_keeps_a_live_writers_staging_dir(tmp_path):
    """A Catalog opened while another handle is writing (a streaming daemon
    polled by a reader) must not delete that write's staging dir; the
    staging dir of a writer that has exited is debris and goes."""
    import subprocess
    import sys

    from grepai_spark.storage import _tmp_dir

    parent = str(tmp_path / "root")
    os.makedirs(parent)
    live = _tmp_dir(os.path.join(parent, "t"))
    _mkdata(parent, os.path.basename(live), "IN FLIGHT")
    gone = subprocess.run(
        [sys.executable, "-c", "import os; print(os.getpid())"],
        capture_output=True,
        text=True,
        check=True,
    ).stdout.strip()
    dead = f"t.__tmp__{gone}-0badf00d"
    _mkdata(parent, dead, "CRASHED")

    _recover_dir(parent)
    assert sorted(os.listdir(parent)) == [os.path.basename(live)]
    assert _read_tag(parent, os.path.basename(live)) == "IN FLIGHT"


_KILLED_WRITE = """
import os, sys
sys.path.insert(0, {repo!r})
from grepai_spark import storage
from grepai_spark.schemas import LINEAGE

real, renames = os.rename, [0]

def rename(src, dst):
    if renames[0] >= {allow}:
        os._exit(3)  # killed: no cleanup, no exception handlers
    renames[0] += 1
    real(src, dst)

storage.os.rename = rename
storage.Catalog(None, {root!r}).write_partition(
    "lineage", LINEAGE, "stage", "edges",
    [("edges", 0, "NEW", "done", 1, 1, None)],
)
"""


@pytest.mark.parametrize("allow", [0, 1, 2, 3])
def test_arrow_lineage_write_killed_then_recovered(tmp_path, allow):
    """A driver-side lineage write (Catalog.write_partition) killed after
    staging its file, or at any rename of the swap, leaves its stage=
    partition fully old or fully new once a Catalog has run recovery, with
    no debris: killed before the commit the old rows stay."""
    import subprocess
    import sys

    from grepai_spark.schemas import LINEAGE
    from grepai_spark.storage import Catalog

    root = str(tmp_path / "cat")
    old = [("edges", b, "OLD", "done", 1, 1, None) for b in (0, 1)]
    Catalog(None, root).write_partition(
        "lineage", LINEAGE, "stage", "edges", old
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = _KILLED_WRITE.format(repo=repo, allow=allow, root=root)
    done = subprocess.run([sys.executable, "-c", code], check=False)
    assert done.returncode == (0 if allow == 3 else 3)

    cat = Catalog(None, root)  # startup recovery
    got = sorted(
        (r["bucket"], r["content_hash"])
        for r in cat.read_rows("lineage", LINEAGE)
    )
    # 3 renames: stage beside, displace the live dir, commit; once the live
    # dir is displaced, recovery finishes the commit forward
    assert got == ([(0, "NEW")] if allow >= 2 else [(0, "OLD"), (1, "OLD")])
    debris = [
        e
        for d in (root, cat.path("lineage"))
        for e in os.listdir(d)
        if "__tmp__" in e or "__new__" in e or "__old__" in e
    ]
    assert debris == []


_KILLED_MERGE = """
import os, sys
sys.path.insert(0, {repo!r})
from grepai_spark import storage
from grepai_spark.dimcache import arrow_table
from pyspark.sql.types import IntegerType, StringType, StructType

real, renames = os.rename, [0]

def rename(src, dst):
    if renames[0] >= {allow}:
        os._exit(3)  # killed: no cleanup, no exception handlers
    renames[0] += 1
    real(src, dst)

storage.os.rename = rename
schema = (
    StructType().add("bucket", IntegerType()).add("unit", StringType())
    .add("v", StringType())
)
upd = arrow_table([(0, "a", "NEW"), (1, "c", "NEW")], schema)
keys = upd.select(["bucket", "unit"])
storage.Catalog(None, {root!r})._replace_on_driver(
    "t", "bucket", upd, keys, [0, 1]
)
"""


@pytest.mark.parametrize("allow", range(7))
def test_driver_scope_merge_killed_then_recovered(tmp_path, allow):
    """replace_by_scope's driver regime (the merge of a collected batch,
    Catalog._replace_on_driver) killed after staging both dirty
    partitions, or at any rename of their swaps, leaves each partition
    fully old or fully new once a Catalog has run recovery, with no
    staging dir or other debris left."""
    import subprocess
    import sys

    from pyspark.sql.types import IntegerType, StringType, StructType

    from grepai_spark.storage import Catalog

    schema = (
        StructType().add("bucket", IntegerType()).add("unit", StringType())
        .add("v", StringType())
    )
    root = str(tmp_path / "cat")
    cat = Catalog(None, root)
    cat.write_partition(
        "t", schema, "bucket", 0, [(0, "a", "OLD"), (0, "b", "OLD")]
    )
    cat.write_partition("t", schema, "bucket", 1, [(1, "c", "OLD")])
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = _KILLED_MERGE.format(repo=repo, allow=allow, root=root)
    done = subprocess.run([sys.executable, "-c", code], check=False)
    assert done.returncode == (0 if allow == 6 else 3)

    cat = Catalog(None, root)  # startup recovery
    rows = cat.read_rows("t", schema)
    got = {
        b: sorted((r["unit"], r["v"]) for r in rows if r["bucket"] == b)
        for b in (0, 1)
    }
    # 3 renames per partition, bucket=0's first; once a live dir is
    # displaced, recovery finishes its commit forward
    old0 = [("a", "OLD"), ("b", "OLD")]
    assert got[0] == ([("a", "NEW"), ("b", "OLD")] if allow >= 2 else old0)
    assert got[1] == ([("c", "NEW")] if allow >= 5 else [("c", "OLD")])
    debris = [
        e
        for d in (root, cat.path("t"))
        for e in os.listdir(d)
        if "__tmp__" in e or "__new__" in e or "__old__" in e
    ]
    assert debris == []


_KILLED_CREATE = """
import os, sys
sys.path.insert(0, {repo!r})
from grepai_spark import storage, streaming
from grepai_spark.session import get_spark
from grepai_spark.synth import alias_dict_df

real, renames = os.rename, [0]

def rename(src, dst):
    if renames[0] >= {allow}:
        os._exit(3)  # killed: no cleanup, no exception handlers
    renames[0] += 1
    real(src, dst)

write = storage.Catalog._write_partitions

def killed_write(self, *args):
    storage.os.rename = rename  # every partition is staged before a rename
    write(self, *args)

storage.Catalog._write_partitions = killed_write
spark = get_spark("killed-create", master="local[1]", shuffle_partitions=2)
streaming.incremental_kg_edges(
    spark, {src!r}, {out!r}, {ck!r}, alias_dict_df(spark)
)
"""


@pytest.mark.parametrize("allow", [0, 1])
def test_stream_sink_creation_killed_then_resumed(
    spark, tiny_transcripts, tmp_path, allow
):
    """The stream's first batch creates its sink on the driver
    (Catalog._write_partitions). Killed after staging every bucket, or at
    the commit rename of the first one, the restarted stream re-runs the
    batch from its checkpoint and the sink equals kg_edges_df, with no
    staging debris left."""
    import subprocess
    import sys

    from grepai_spark import pipeline, streaming
    from grepai_spark.storage import Catalog
    from grepai_spark.synth import alias_dict_df

    src, out, ck = (str(tmp_path / d) for d in ("src", "out", "ck"))
    tiny_transcripts.coalesce(1).write.parquet(f"{src}/slice1")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = _KILLED_CREATE.format(
        repo=repo, allow=allow, src=f"{src}/slice*", out=out, ck=ck
    )
    done = subprocess.run([sys.executable, "-c", code], check=False)
    assert done.returncode == 3  # killed inside the driver write

    d = alias_dict_df(spark)
    streaming.incremental_kg_edges(spark, f"{src}/slice*", out, ck, d)
    cat = Catalog(spark, out)
    cols = ["subj", "pred", "obj", "conv_id", "turn_idx", "weight"]
    got = cat.read(streaming.KG_EDGES_TABLE).select(*cols).collect()
    want = pipeline.kg_edges_df(spark, tiny_transcripts, d).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    debris = [
        e
        for p in (out, cat.path(streaming.KG_EDGES_TABLE))
        for e in os.listdir(p)
        if "__tmp__" in e or "__new__" in e or "__old__" in e
    ]
    assert debris == []
