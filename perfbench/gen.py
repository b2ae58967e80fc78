"""Seeded input generator for the benchmark.

Everything the program sees is made here from ``--seed``: the ``events``
table the transcripts derive from (same columns and shape as the repository's
sf fixtures: ~67 events per user, ``user_id % 4 == 0`` folds into the
``conv-mega`` thread), the appended events of the index refreshes, the
redelivered turns of the stream's second wave, and the documents and
embeddings the curation and search planes read.

The module imports numpy and pyarrow only, so the tests run without Spark.
The same seed gives byte-identical parquet files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["signup", "purchase", "error", "click", "view"]
# synth.transcripts_sql's role mapping, needed to write redelivered turns
ROLE_OF = {"signup": "assistant", "purchase": "agent:buyer", "error": "tool"}
EVENTS_PER_USER = 67
T0 = dt.datetime(2024, 1, 1)
SPAN_US = 30 * 24 * 3600 * 1_000_000

# surface forms of synth.ALIAS_ROWS; redelivered text draws from these
ALIASES = [
    "FetchData", "fetch_rows", "ParseQuery", "merge_sort", "HashJoin",
    "spark_engine", "StreamReader", "QueryParser", "DataFetcher",
    "QueryParserFast", "DeployService", "restart_worker",
]
TOOLS = ["payments.charge", "diagnostics.trace", "auth.register", ""]
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EMBED_DIM = 64

EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)
TRANSCRIPTS_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us")),
    ]
)


def conv_of(user_id: int) -> str:
    return "conv-mega" if user_id % 4 == 0 else f"conv-{user_id:04d}"


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per input kind, so changing the size of one
    # input never shifts another
    return np.random.default_rng([seed, sum(map(ord, stream)), len(stream)])


def events(seed: int, n: int) -> pa.Table:
    """``n`` events over ``n // 67`` users, ordered by ts and event_id."""
    r = _rng(seed, "events")
    n_users = max(8, n // EVENTS_PER_USER)
    ts = np.sort(r.integers(0, SPAN_US, n))
    return _events_table(
        np.arange(n, dtype=np.int64),
        ts,
        r.integers(0, n_users, n),
        r.integers(0, len(EVENT_TYPES), n),
        r,
    )


def _events_table(event_id, ts_us, user_id, etype, r) -> pa.Table:
    n = len(event_id)
    return pa.Table.from_arrays(
        [
            pa.array(event_id, pa.int64()),
            pa.array(
                np.datetime64(T0, "us") + ts_us.astype("timedelta64[us]"),
                pa.timestamp("us"),
            ),
            pa.array(user_id.astype(np.int64), pa.int64()),
            pa.array([EVENT_TYPES[i] for i in etype], pa.string()),
            pa.array(np.round(r.gamma(2.0, 25.0, n), 2), pa.float64()),
            pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)]),
        ],
        schema=EVENTS_SCHEMA,
    )


def appended_events(
    seed: int, base: pa.Table, op: int, n_convs: int = 4, per_conv: int = 12
) -> pa.Table:
    """New turns for refresh ``op``: ``per_conv`` events for each of
    ``n_convs`` ordinary conversations (never ``conv-mega``), with event ids
    and timestamps after everything in ``base`` so they land as the newest
    turns of their conversations."""
    r = _rng(seed, f"append{op}")
    users = np.unique(base.column("user_id").to_numpy())
    ordinary = users[users % 4 != 0]
    picked = np.sort(r.choice(ordinary, size=n_convs, replace=False))
    n = n_convs * per_conv
    first_id = int(base.column("event_id").to_numpy().max()) + 1
    last_us = int(
        (base.column("ts").to_numpy().max() - np.datetime64(T0, "us"))
        / np.timedelta64(1, "us")
    )
    return _events_table(
        np.arange(first_id, first_id + n, dtype=np.int64),
        last_us + 1 + np.arange(n, dtype=np.int64) * 1000,
        np.repeat(picked, per_conv),
        r.integers(0, len(EVENT_TYPES), n),
        r,
    )


def turn_keys(ev: pa.Table) -> list[tuple[str, int, str, dt.datetime]]:
    """(conv_id, turn_idx, role, ts) per event, as synth.transcripts_sql
    numbers them: row_number over (ts, event_id) within the conversation."""
    order = sorted(
        zip(
            ev.column("ts").to_pylist(),
            ev.column("event_id").to_pylist(),
            ev.column("user_id").to_pylist(),
            ev.column("event_type").to_pylist(),
        )
    )
    seen: dict[str, int] = {}
    out = []
    for ts, _eid, uid, etype in order:
        conv = conv_of(uid)
        idx = seen.get(conv, 0)
        seen[conv] = idx + 1
        out.append((conv, idx, ROLE_OF.get(etype, "user"), ts))
    return out


def redeliveries(seed: int, ev: pa.Table, wave: int, n: int = 48) -> pa.Table:
    """``n`` existing turns of ordinary conversations redelivered with new
    text and tool: the stream's modified-content wave. Some tools are edited
    away, so the sink must drop the stale call edge."""
    r = _rng(seed, f"redeliver{wave}")
    keys = [k for k in turn_keys(ev) if k[0] != "conv-mega"]
    pick = sorted(r.choice(len(keys), size=min(n, len(keys)), replace=False))
    rows = [keys[i] for i in pick]
    a1 = r.integers(0, len(ALIASES), len(rows))
    a2 = r.integers(0, len(ALIASES), len(rows))
    tools = r.integers(0, len(TOOLS), len(rows))
    return pa.Table.from_arrays(
        [
            pa.array([k[0] for k in rows], pa.string()),
            pa.array([k[1] for k in rows], pa.int32()),
            pa.array([k[2] for k in rows], pa.string()),
            pa.array(
                [
                    f"edited in wave {wave} now uses {ALIASES[i]} and "
                    f"{ALIASES[j]}"
                    for i, j in zip(a1, a2)
                ],
                pa.string(),
            ),
            pa.array([TOOLS[i] for i in tools], pa.string()),
            pa.array(
                [k[3] + dt.timedelta(seconds=1 + wave) for k in rows],
                pa.timestamp("us"),
            ),
        ],
        schema=TRANSCRIPTS_SCHEMA,
    )


def _copy_slots(n: int, share: float) -> list[int]:
    """Fixed positions of the near-copies: ``share`` of ``n`` (at least 2),
    spread over the last three quarters. Every seed then has the same
    number of near-duplicates, so every seed gives the near-dup operators
    pairs to find and the same amount of work."""
    k = max(2, round(n * share))
    return sorted({int(i) for i in np.linspace(n // 4, n - 1, k)})


def documents(seed: int, n: int, dup_share: float = 0.05) -> pa.Table:
    """Documents over the fixtures' 30-word vocabulary, 9-99 words each;
    ``dup_share`` of them are an earlier document of 50 words or more plus
    one word, so the near-duplicate operators have pairs to find (a short
    document plus one word can move its SimHash past the distance limit)."""
    r = _rng(seed, "documents")
    slots = set(_copy_slots(n, dup_share))
    texts: list[str] = []
    for i in range(n):
        if i in slots:
            long = [j for j in range(i) if j not in slots
                    and len(texts[j].split()) >= 50]
            src = int(r.choice(long)) if long else max(range(i), key=lambda j: len(texts[j]))
            texts.append(texts[src] + "dup ")
        else:
            words = r.choice(VOCAB, size=int(r.integers(9, 100)))
            texts.append(" ".join(words) + " ")
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(list(r.choice(LANGS, size=n, p=LANG_P))),
            "source": pa.array([f"src{i}" for i in r.integers(0, 20, n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(seed: int, n: int, dup_share: float = 0.03) -> pa.Table:
    """Unit vectors in ten label cells; ``dup_share`` are small
    perturbations of an earlier vector of the same cell."""
    r = _rng(seed, "embeddings")
    v = r.normal(size=(n, EMBED_DIM))
    labels = r.integers(0, 10, n)
    for i in _copy_slots(n, dup_share):
        j = int(r.integers(0, i))
        v[i] = v[j] + r.normal(scale=0.05, size=EMBED_DIM)
        labels[i] = labels[j]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32), pa.int32()),
        }
    )


def query_vector(seed: int, emb: pa.Table) -> list[float]:
    """A seeded stored vector, as a find-similar query sends it: every
    top-k search, the bucketed and IVF ones included, then has a match."""
    r = _rng(seed, "query_vector")
    return emb.column("embedding")[int(r.integers(0, emb.num_rows))].as_py()


def query_words(seed: int, n: int = 3) -> str:
    """``n`` distinct words of the documents' vocabulary: a text query."""
    r = _rng(seed, "query_words")
    return " ".join(r.choice(VOCAB, size=n, replace=False))


def write(table: pa.Table, path: str) -> str:
    """Write one parquet file (creating its directory) and return its path."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path
