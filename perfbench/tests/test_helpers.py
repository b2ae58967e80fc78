"""Tests of the benchmark's own helpers; none of them starts Spark.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import os
from types import SimpleNamespace

import numpy as np
import pyarrow as pa
import pytest

import evlog
import gen
import spans
import stats

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
EVLOG = os.path.join(DATA, "eventlog_v2_local-1")


# --- percentile rule ------------------------------------------------------


def test_percentile_interpolates_like_numpy():
    vals = [float(v) for v in range(1, 11)]
    assert stats.percentile(vals, 50) == 5.5
    assert stats.percentile(vals, 90) == pytest.approx(9.1)
    assert stats.percentile([3.0], 99) == 3.0


@pytest.mark.parametrize(
    "n, q, supported",
    [(5, 50.0, False), (19, 50.0, False), (20, 50.0, True),
     (40, 75.0, True), (100, 90.0, True), (999, 90.0, True),
     (1000, 99.0, True)],
)
def test_tail_percentile_needs_ten_samples_beyond(n, q, supported):
    vals = [float(i) for i in range(n)]
    tail = stats.tail_percentile(vals)
    assert tail["n"] == n
    assert tail["q"] == q
    assert tail["supported"] is supported
    assert tail["value"] == stats.percentile(vals, q)
    if supported:
        assert sum(v > tail["value"] for v in vals) >= stats.TAIL_MIN_BEYOND


# --- event-log span grouping ----------------------------------------------


def test_log_files_in_rolling_order(tmp_path):
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    for n in (10, 2, 1):
        (d / f"events_{n}_app").write_text("")
    assert [os.path.basename(p) for p in evlog.log_files(str(tmp_path))] == [
        "events_1_app", "events_2_app", "events_10_app",
    ]


def test_summary_groups_tasks_by_job_group():
    s = evlog.summarize(evlog.read_events(EVLOG))
    assert set(s) == {"", "stage.gate", "stage.graph"}
    assert (s[""]["jobs"], s[""]["tasks"]) == (1, 1)
    assert s["stage.graph"]["jobs"] == 1
    assert s[""]["exec_s"] == pytest.approx(0.454)
    gate = s["stage.gate"]
    assert (gate["jobs"], gate["stages"], gate["tasks"]) == (2, 2, 2)
    assert gate["exec_s"] == pytest.approx(0.039)
    assert gate["shuffle_read_mb"] > 0 and gate["shuffle_write_mb"] > 0
    assert s["stage.graph"]["shuffle_write_mb"] * evlog.MB == 54068
    tot = evlog.total(s)
    assert tot["jobs"] == 4 and tot["tasks"] == 4
    assert tot["exec_s"] == pytest.approx(0.454 + 0.039 + 0.020)


def test_summary_keeps_jobs_submitted_since():
    s = evlog.summarize(evlog.read_events(EVLOG), since_ms=1792172655000)
    assert set(s) == {"stage.gate"}
    assert s["stage.gate"]["jobs"] == 2


def test_summary_splits_at_a_time():
    events = list(evlog.read_events(EVLOG))
    t = 1792172655000
    before = evlog.summarize(events, until_ms=t)
    after = evlog.summarize(events, since_ms=t)
    assert set(before) == {"", "stage.graph"}
    whole = evlog.total(evlog.summarize(events))
    split = evlog.total({**before, **after})
    assert (split["jobs"], split["tasks"]) == (whole["jobs"], whole["tasks"])
    assert split["exec_s"] == pytest.approx(whole["exec_s"])


def test_task_skew_is_worst_stage_max_over_median():
    def task(stage, ms):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Metrics": {"Executor Run Time": ms}}

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 0,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "g"}},
        task(0, 10), task(0, 10), task(0, 40),
        task(1, 5), task(1, 5),
    ]
    g = evlog.summarize(events)["g"]
    assert g["task_skew"] == 4.0
    assert g["task_max_s"] == 0.04 and g["tasks"] == 5


# --- spans ----------------------------------------------------------------


class _FakeSc:
    def __init__(self):
        self.props: dict = {}

    def setJobGroup(self, gid, desc):
        self.props["spark.jobGroup.id"] = gid

    def setLocalProperty(self, key, value):
        if value is None:
            self.props.pop(key, None)
        else:
            self.props[key] = value


def _fake_spark():
    clock = {"jit": 0}

    class Comp:
        def getTotalCompilationTime(self):
            clock["jit"] += 5
            return clock["jit"]

    class Mf:
        @staticmethod
        def getCompilationMXBean():
            return Comp()

        @staticmethod
        def getGarbageCollectorMXBeans():
            return []

    jvm = SimpleNamespace(
        java=SimpleNamespace(lang=SimpleNamespace(
            management=SimpleNamespace(ManagementFactory=Mf)))
    )
    return SimpleNamespace(sparkContext=_FakeSc(), _jvm=jvm)


def test_span_self_time_and_job_group_restore():
    spark = _fake_spark()
    sc = spark.sparkContext
    tr = spans.Tracer(spark)
    with tr.span("pipeline.self"):
        assert sc.props["spark.jobGroup.id"] == "pipeline.self"
        with tr.span("stage.gate"):
            assert sc.props["spark.jobGroup.id"] == "stage.gate"
            with tr.span("stage.gate"):  # same-name nesting is one span
                pass
        assert sc.props["spark.jobGroup.id"] == "pipeline.self"
    assert "spark.jobGroup.id" not in sc.props
    t = tr.snapshot()
    assert t["stage.gate"]["calls"] == 1
    assert t["pipeline.self"]["calls"] == 1
    assert 0 <= t["pipeline.self"]["wall_s"]
    assert t["stage.gate"]["jit_ms"] > 0


def test_disabled_tracer_records_nothing():
    spark = _fake_spark()
    tr = spans.Tracer(spark, enabled=False)
    with tr.span("stage.gate"):
        pass
    assert tr.snapshot() == {} and spark.sparkContext.props == {}


# --- seeded generator -----------------------------------------------------


def _bytes(table: pa.Table, path) -> bytes:
    gen.write(table, str(path))
    return path.read_bytes()


def _all_inputs(seed: int) -> dict[str, pa.Table]:
    ev = gen.events(seed, 3000)
    ap = gen.appended_events(seed, ev, 0)
    return {
        "events": ev,
        "appended": ap,
        "appended_next": gen.appended_events(seed, pa.concat_tables([ev, ap]), 1),
        "redeliveries": gen.redeliveries(seed, ev, 0),
        "documents": gen.documents(seed, 200),
        "embeddings": gen.embeddings(seed, 200),
    }


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a, b = _all_inputs(7), _all_inputs(7)
    for name in a:
        assert _bytes(a[name], tmp_path / f"a_{name}.parquet") == _bytes(
            b[name], tmp_path / f"b_{name}.parquet"
        ), name
    c = _all_inputs(8)
    for name in a:
        assert not a[name].equals(c[name]), name


def test_query_parameters_follow_the_seed():
    emb = gen.embeddings(5, 200)
    q = gen.query_vector(5, emb)
    assert q == gen.query_vector(5, emb)
    assert q in emb["embedding"].to_pylist()
    assert len({tuple(gen.query_vector(s, emb)) for s in range(8)}) > 1
    words = gen.query_words(5).split()
    assert words == gen.query_words(5).split() and len(set(words)) == 3
    assert set(words) <= set(gen.VOCAB)


def test_every_seed_has_the_same_near_copies():
    # the near-dup operators must find pairs on every seed, and the same
    # number of them: a seed without one fails the warm-up check
    for seed in range(20):
        texts = gen.documents(seed, 100)["text"].to_pylist()
        copies = [t for t in texts if t[: -len("dup ")] in texts]
        assert len(copies) == 5
        assert all(len(t.split()) > 50 for t in copies)
        v = np.array(gen.embeddings(seed, 100)["embedding"].to_pylist())
        assert (np.triu(v @ v.T, 1) > 0.99).sum() >= 3


def test_generator_never_touches_conv_mega():
    for seed in range(5):
        inp = _all_inputs(seed)
        ev = inp["events"]
        assert any(u % 4 == 0 for u in ev["user_id"].to_pylist())  # mega exists
        for name in ("appended", "appended_next"):
            assert all(u % 4 != 0 for u in inp[name]["user_id"].to_pylist())
        assert "conv-mega" not in inp["redeliveries"]["conv_id"].to_pylist()


def test_appended_events_land_after_the_base():
    ev = gen.events(3, 3000)
    ap = gen.appended_events(3, ev, 0)
    assert min(ap["event_id"].to_pylist()) > max(ev["event_id"].to_pylist())
    assert min(ap["ts"].to_pylist()) > max(ev["ts"].to_pylist())
    keys = gen.turn_keys(pa.concat_tables([ev, ap]))
    n_conv = {}
    for conv, idx, _role, _ts in keys:
        assert idx == n_conv.get(conv, 0)  # turn_idx counts 0, 1, 2, ...
        n_conv[conv] = idx + 1


def test_redeliveries_edit_existing_turns():
    ev = gen.events(4, 3000)
    existing = {(k[0], k[1]): k for k in gen.turn_keys(ev)}
    red = gen.redeliveries(4, ev, 1)
    assert red.num_rows == 48
    for row in red.to_pylist():
        conv, idx, role, ts = existing[(row["conv_id"], row["turn_idx"])]
        assert row["role"] == role and row["ts"] > ts
        assert row["text"].startswith("edited in wave 1")


def test_tree_cpu_and_rss_include_child_processes():
    import subprocess
    import sys
    import time

    burn = (
        "import time\n"
        "t = time.process_time()\n"
        "while time.process_time() - t < 0.3:\n"
        "    pass\n"
        "time.sleep(2)\n"
    )
    before = spans.tree_cpu_s(os.getpid())
    child = subprocess.Popen([sys.executable, "-c", burn])
    try:
        time.sleep(1.0)
        assert spans.tree_cpu_s(os.getpid()) - before >= 0.2
        assert spans.tree_rss_mb(os.getpid()) > 0
    finally:
        child.wait(timeout=10)
