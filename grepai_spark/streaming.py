"""Structured Streaming incremental plane — the `watch` daemon analog.

The reference watches the filesystem and incrementally re-indexes changed
files (fsnotify + debounce, /root/reference/watcher/watcher.go:16-77;
event handling cli/watch.go:2007-2133; dirty-set batching
cli/watch.go:476-688). Here the arrival stream is new transcript files in a
directory (at production scale: Iceberg table commits / Kafka), and the
incremental unit is the micro-batch:

    readStream(transcripts dir)
      -> foreachBatch: derive the turns' KG edges + replace them by
         (bucket, conv_id, turn_idx) scope in the edges store

foreachBatch + scope-keyed MERGE gives exactly-once *effective* semantics on
top of at-least-once delivery, INCLUDING redelivery with modified content:
each micro-batch replaces every derived row of the turns it carries
(storage.Catalog.replace_by_scope — delete the turn's old rows, insert the
new extraction), the analog of the reference's re-index-on-modify
(cli/watch.go:2007-2133 drops a changed file's records and re-extracts;
content-hash gate indexer/indexer.go:161-164). A modified turn therefore
converges the sink to the batch truth over the LATEST content — stale edges
the new content no longer yields are dropped, not merely shadowed. No
watermark is needed: the pipeline has no event-time aggregation, only stable
(conv_id, turn_idx) keys (SURVEY.md §2.13).

Every job takes a `trigger`: the default availableNow drains what exists and
stops (the driver's correctness window and the tests run this), while a
processingTime trigger is the WATCH DAEMON mode — the stream keeps polling
the source forever, exactly like the reference's fsnotify loop
(cli/watch.go:1140, watcher/watcher.go:44-77); callers get the live
StreamingQuery back and own its lifecycle.

Every sink table is BUCKETED on conv_id (lineage.with_bucket, the batch
pipeline's N_BUCKETS buckets), and the per-micro-batch MERGE includes the
bucket in its scope keys — Catalog.replace_by_scope then reads back and
rewrites ONLY the buckets the batch touched (O(dirty buckets) per trigger),
instead of anti-joining and rewriting the whole table.

A micro-batch within dimcache.DRIVER_ROWS rows never reaches a Python
worker: the KG edge stream collects the raw batch with its bucket in one
bounded Arrow collect (one narrow job, no shuffle), then picks each turn's
latest version (_latest_rows), derives its edges (extract.turn_edges, the
per-turn function the edge-detector UDF runs) and merges them
(replace_by_scope over Arrow tables) on the driver, each dirty bucket
rewritten as one parquet file. A wave is 1 Spark job, the sink is created
the same way, and a daemon's sink stays at one file per bucket. A larger
batch takes the Spark path: _latest_version's shuffle, the UDF and, for
large buckets, Spark's partitioned write. The watch daemon likewise
re-extracts a changed file in-process (cli/watch.go:2007-2133).

The edge sink is a function of the alias dictionary as well as the turns,
so it records the dictionary signature (pipeline._dict_signature) in a
``kg_edges_stream.dictionary_signature`` file beside its table dir: outside
the table, so no reader of it sees the file and the first batch still
creates the table with a plain write. A start over a different dictionary
raises before any batch runs, rather than mix edges derived with two
dictionaries in one table; a sink with no record (a legacy one, or one
written by the batch query) is adopted.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from grepai_spark import dimcache, extract, lineage
from grepai_spark.automaton import AliasPayload
from grepai_spark.schemas import TRANSCRIPTS
from grepai_spark.storage import Catalog

# modification stamps are second-granular in the fixtures; ties broken on
# content so the winner is deterministic however files land in batches
_VERSION_COLS = ("ts", "role", "text", "tool")


def _latest_version(batch: DataFrame) -> DataFrame:
    """Collapse a micro-batch to one row per (conv_id, turn_idx): the LATEST
    version by ts (content tie-break). A batch normally carries each turn
    once — the file source reads every file exactly once — but a redelivered
    modification can land in the same trigger as its original; extracting
    both would race two versions into one MERGE. The groupBy touches only
    the micro-batch (never the sink table), so its shuffle is bounded by the
    trigger size. :func:`_latest_rows` is its driver twin."""
    return (
        batch.groupBy("conv_id", "turn_idx")
        .agg(F.max(F.struct(*_VERSION_COLS)).alias("m"))
        .select("conv_id", "turn_idx", "m.role", "m.text", "m.tool", "m.ts")
    )


def _latest_rows(batch):
    """:func:`_latest_version` over a micro-batch held as a
    ``pyarrow.Table``: per (conv_id, turn_idx) the row with the largest
    (ts, role, text, tool) in Spark's struct order — field by field, NULL
    lowest, strings compared as UTF-8 bytes, which is Arrow's string order.
    Sorting each version column descending with NULLs last puts that row
    first in its key group."""
    order = batch.sort_by(
        [("conv_id", "ascending"), ("turn_idx", "ascending")]
        + [(c, "descending") for c in _VERSION_COLS],
        null_placement="at_end",
    )
    keys = list(
        zip(order["conv_id"].to_pylist(), order["turn_idx"].to_pylist())
    )
    return order.take(
        [i for i, k in enumerate(keys) if i == 0 or k != keys[i - 1]]
    )


def _edge_rows(turns, edges_of):
    """The bucketed sink rows (pipeline._EDGES_B) of ``turns``, a
    ``pyarrow.Table`` of bucketed transcript rows, derived on the driver
    with ``edges_of`` (extract.turn_edges): the rows
    ``lineage.with_bucket(pipeline.kg_edges_from_map(turns, amap))``
    holds, as an Arrow table of the sink's types."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from grepai_spark.pipeline import _EDGES_B

    cols = [[] for _ in _EDGES_B]
    subj, pred, obj, conv, idx, weight, bucket = cols
    names = ("conv_id", "turn_idx", "role", "text", "tool", "bucket")
    for c, i, role, text, tool, b in zip(
        *(turns[n].to_pylist() for n in names)
    ):
        for e in edges_of(text, tool):
            subj.append(role)
            pred.append(e["pred"])
            obj.append(e["obj"])
            conv.append(c)
            idx.append(i)
            bucket.append(b)
    weight.extend([1.0] * len(subj))
    return pa.Table.from_arrays(cols, schema=to_arrow_schema(_EDGES_B))


def _start(stream_writer, checkpoint_dir: str, trigger: dict | None):
    """Start with the batch-drain trigger (availableNow, awaited) or a
    daemon trigger (processingTime, returned live)."""
    trigger = trigger or {"availableNow": True}
    q = (
        stream_writer.option("checkpointLocation", checkpoint_dir)
        .trigger(**trigger)
        .start()
    )
    if trigger.get("availableNow"):
        q.awaitTermination()
    return q


def _migrate_bucketed(catalog: Catalog, table: str) -> None:
    """One-time layout migration (ADVICE r3): a sink table written by a
    pre-bucketed version has no `bucket` column, so a resumed stream's
    bucket-keyed MERGE would fail its anti-join on the missing key. The
    bucket is derivable (xxhash64 of the conv key — lineage.with_bucket), so
    backfill it once and rewrite into the bucketed partition layout; every
    later micro-batch then merges O(dirty-bucket). The bucketed layout is
    recognized from its `bucket=` directories, so a stream start runs no
    Spark job on an already-migrated table."""
    if not catalog.exists(table) or catalog._is_partitioned_by(
        table, "bucket"
    ):
        return
    catalog.overwrite(
        table,
        lineage.with_bucket(catalog.read(table)),
        partition_by=["bucket"],
    )


KG_EDGES_TABLE = "kg_edges_stream"
_SIGNATURE = ".dictionary_signature"


def _adopt_dictionary(catalog: Catalog, table: str, signature: str) -> None:
    """Check the dictionary signature recorded for ``table`` against
    ``signature``: a different one raises ValueError. A missing sink, or
    one with no record (legacy, or written by the batch query), gets
    ``signature`` recorded: written under a hidden name, renamed into
    place."""
    path = catalog.path(table + _SIGNATURE)
    if catalog.exists(table) and os.path.exists(path):
        with open(path, encoding="ascii") as fh:
            held = fh.read()
        if held != signature:
            raise ValueError(
                f"{path}: the sink holds edges derived with dictionary "
                f"{held[:12]}, not {signature[:12]}; rebuild it or use a "
                "new out_dir"
            )
        return
    hidden = catalog.path(f".{table}{_SIGNATURE}")
    with open(hidden, "w", encoding="ascii") as fh:
        fh.write(signature)
    os.rename(hidden, path)


def incremental_kg_edges(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    alias_dict: DataFrame,
    trigger: dict | None = None,
):
    """Full fused KG derivation (calls + canonicalized mention/does edges)
    as a streaming job: the alias -> (pred, entity_id) map is computed ONCE
    (the dictionary does not change per micro-batch; a start over a sink
    recorded with another dictionary raises ValueError), then every batch
    derives its latest turns' edges with the same per-turn function as the
    batch flagship (extract.turn_edges: on the driver for a batch within
    dimcache.DRIVER_ROWS, in the edge-detector UDF above) and replaces the
    edge set of every turn it carries (replace_by_scope) — idempotent under
    re-delivery AND convergent under redelivered MODIFICATIONS, exactly like
    the reference's watch daemon re-indexing a changed file (W1/W2 analog,
    ref cli/watch.go:2007-2133). With a processingTime trigger this IS the
    daemon: the returned StreamingQuery keeps folding new/changed transcript
    files into the store until stopped.
    """
    from grepai_spark import pipeline

    catalog = Catalog(spark, out_dir)
    _migrate_bucketed(catalog, KG_EDGES_TABLE)
    dictionary = pipeline._dictionary(alias_dict, use_lsh=False)
    _adopt_dictionary(catalog, KG_EDGES_TABLE, dictionary.signature)
    amap = dictionary.entity_map
    payload = AliasPayload(amap)
    keys = ["bucket", "conv_id", "turn_idx"]

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        raw = dimcache.arrow_if_small(lineage.with_bucket(batch))
        if raw is not None:
            turns = _latest_rows(raw)
            edges = _edge_rows(turns, extract.turn_edges(payload))
            scope = turns.select(keys)
        else:
            turns = _latest_version(batch)
            scope = lineage.with_bucket(turns.select("conv_id", "turn_idx"))
            edges = lineage.with_bucket(
                pipeline.kg_edges_from_map(turns, amap)
            )
        catalog.replace_by_scope(
            KG_EDGES_TABLE, edges, scope, keys, partition_by=["bucket"]
        )

    stream = (
        spark.readStream.schema(TRANSCRIPTS)
        .option("maxFilesPerTrigger", "4")
        .parquet(source_dir)
    )
    return _start(
        stream.writeStream.foreachBatch(merge_batch), checkpoint_dir, trigger
    )


CONV_STATS_TABLE = "conv_stats_stream"


def conversation_stats_stream(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    trigger: dict | None = None,
):
    """Custom STATEFUL streaming operator (applyInPandasWithState): running
    per-conversation counters (turns seen, tool calls, max turn_idx) that
    survive across micro-batches AND restarts via the state store — the
    incremental-stats analog of the reference's per-command stats recorder
    (S8, /root/reference/stats/recorder.go) combined with its dirty-set
    tracking (cli/watch.go:476-688). State is keyed by conv_id, so a
    mega-thread's state is one small tuple regardless of its turn count.

    Counting state is inherently delivery-sensitive: a REDELIVERED turn
    increments the counters again (the state plane has no per-turn identity
    by design — it is O(1) per conversation). Exactly-once file delivery,
    which the checkpointed file source provides, is the operating envelope;
    content-replacement semantics live in the edge jobs above.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    catalog = Catalog(spark, out_dir)
    _migrate_bucketed(catalog, CONV_STATS_TABLE)

    def update(key, pdfs, state: GroupState):
        turns, tools, last = (
            state.get if state.exists else (0, 0, -1)
        )
        for pdf in pdfs:
            turns += len(pdf)
            tools += int((pdf["tool"].fillna("") != "").sum())
            if len(pdf):
                last = max(last, int(pdf["turn_idx"].max()))
        state.update((turns, tools, last))
        yield pd.DataFrame(
            {
                "conv_id": [key[0]],
                "turn_count": [turns],
                "tool_calls": [tools],
                "last_turn_idx": [last],
            }
        )

    stream = (
        spark.readStream.schema(TRANSCRIPTS)
        .option("maxFilesPerTrigger", "4")
        .parquet(source_dir)
    )
    updates = stream.groupBy("conv_id").applyInPandasWithState(
        update,
        "conv_id string, turn_count long, tool_calls long, last_turn_idx long",
        "turn_count long, tool_calls long, last_turn_idx long",
        "update",
        GroupStateTimeout.NoTimeout,
    )

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        # row-level upsert: the batch's rows replace their own keys
        b = lineage.with_bucket(batch)
        catalog.replace_by_scope(
            CONV_STATS_TABLE, b, b, ["bucket", "conv_id"],
            partition_by=["bucket"],
        )

    return _start(
        updates.writeStream.foreachBatch(merge_batch).outputMode("update"),
        checkpoint_dir,
        trigger,
    )
