from __future__ import annotations

import datetime

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
