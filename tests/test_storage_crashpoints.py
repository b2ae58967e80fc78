"""Exhaustive crash-point walk of the staged swap protocol.

_swap_dir performs (up to) three renames; a crash can strike before any of
them. For EVERY crash point, with and without a pre-existing live dir, the
invariant after Catalog-startup recovery (_recover_dir) must hold: the
destination is either fully-old or fully-new data — never missing when any
committed version existed, never a mix — and no __tmp__/__new__/__old__
debris survives. Pure-filesystem tests (no Spark): the protocol is plain
os.rename, so the walk is deterministic.
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
