from __future__ import annotations

import datetime
import itertools

import pytest

from grepai_spark.schemas import TRANSCRIPTS
from grepai_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="grepai-spark-tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "8g"},
    )
    yield s
    s.stop()


def _ts(i: int) -> datetime.datetime:
    return datetime.datetime(2024, 1, 1) + datetime.timedelta(minutes=i)


# Tiny golden fixture: 4 conversations, exercises tool calls, in-text mentions
# (camel + snake + multi-hop canonicalization), empty text, unicode, dup text.
TINY_ROWS = [
    # conv a: user mentions FetchData; assistant calls a tool
    ("conv-a", 0, "user", "please run FetchData on the table", "", _ts(0)),
    ("conv-a", 1, "assistant", "ok, invoking now", "payments.charge", _ts(1)),
    ("conv-a", 2, "tool", "", "diagnostics.trace", _ts(2)),
    # conv b: snake_case variant of same entity + QueryParserFast (CC multi-hop)
    ("conv-b", 0, "user", "fetch_data then QueryParserFast", "", _ts(3)),
    ("conv-b", 1, "agent:buyer", "QueryParser output ready", "auth.register", _ts(4)),
    # conv c: unicode + duplicate text across convs
    ("conv-c", 0, "user", "unicode héllo—世界 mentions MergeSort", "", _ts(5)),
    ("conv-c", 1, "user", "please run FetchData on the table", "", _ts(6)),
    # conv d: mention inside larger word must NOT match (word boundary)
    ("conv-d", 0, "user", "xFetchDatay is not a mention but hash_join is", "", _ts(7)),
    ("conv-d", 1, "assistant", "FetchRows and fetch_rows same entity", "", _ts(8)),
]


@pytest.fixture(scope="session")
def tiny_transcripts(spark):
    return spark.createDataFrame(TINY_ROWS, schema=TRANSCRIPTS)


@pytest.fixture(scope="session")
def sf_transcripts(spark):
    from grepai_spark.synth import load_transcripts

    return load_transcripts(spark, SF_DIR)


_JOB_GROUPS = itertools.count()


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn) -> (fn(), number of Spark jobs fn ran)``, counted
    by job group once the listener bus has delivered every job event."""
    sc = spark.sparkContext

    def count(fn):
        group = f"count-jobs-{next(_JOB_GROUPS)}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return count


@pytest.fixture
def local_tz_not_utc(monkeypatch):
    """The driver's local time zone set off UTC (the session's), so a
    timestamp written back through Arrow as a naive value would shift."""
    import time

    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


@pytest.fixture
def count_py4j(spark):
    """``count_py4j(fn) -> (fn(), number of py4j commands fn sent to the
    JVM)``: the driver's plan-building cost, which no Spark job shows."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command

    def count(fn):
        n = 0

        def counting(*args, **kwargs):
            nonlocal n
            n += 1
            return send(*args, **kwargs)

        client.send_command = counting
        try:
            out = fn()
        finally:
            del client.send_command
        return out, n

    return count


@pytest.fixture
def hostile_alias_rows():
    """An adversarial alias dictionary: near-dup token sets, a zero-token
    name, non-ASCII aliases (which keep linking off its driver regime) and
    one hub wider than both per-block caps, so the cap decides the
    candidate set."""
    from grepai_spark import link

    rows = [
        ("FetchData", "c1", "entity"),
        ("fetch_data", "c2", "entity"),
        ("DataFetcher", "c3", "entity"),
        ("fetchDataNow", "c4", "entity"),
        ("__", "c5", "entity"),  # zero tokens -> filtered both sides
        ("ParseQuery", "c6", "entity"),
        ("query_parse", "c7", "entity"),
        ("naïveRôle", "c8", "entity"),
        ("role_naive", "c9", "entity"),
    ]
    # one hub: > cap aliases all sharing the identical token set, so every
    # band bucket for that set overflows and the rn cap must agree exactly
    for i in range(link.LSH_BUCKET_CAP + 30):
        rows.append((f"hub_alias_{i:04d}", f"h{i:04d}", "entity"))
    # 'hub_alias_NNNN' tokens differ per alias; to make a REAL shared set,
    # add aliases that normalize identically (case variants)
    for i in range(25):
        rows.append((f"sharedTokenSet{i}", f"s{i}", "entity"))
    return rows


@pytest.fixture
def regimes():
    """Run a two-regime path in both size regimes inside one test:
    iterate ``regimes()`` and the body runs once as "driver" (the default
    cutoffs) and once as "distributed" (every size cutoff 0, and the
    alias-map and graph-adjacency memos emptied so no earlier result is
    served). Each iteration starts from the default cutoffs, and the
    patches are undone when the loop ends and at teardown."""
    from grepai_spark import dimcache, link, pipeline, stores

    mp = pytest.MonkeyPatch()

    def each():
        mp.undo()
        yield "driver"
        mp.setattr(dimcache, "DRIVER_ROWS", 0)
        mp.setattr(link, "SMALL_DICT_ROWS", 0)
        mp.setattr(pipeline, "_AMAP_MEMO", {})
        mp.setattr(stores, "_ADJ_MEMO", {})
        yield "distributed"
        mp.undo()

    yield each
    mp.undo()
