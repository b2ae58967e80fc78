"""End-to-end KG-construction pipeline: EXTRACT -> LINK -> CANON -> MATERIALIZE.

Orchestrates the stage modules over a transcripts DataFrame, with per-bucket
lineage checkpoints so a killed run resumes idempotently (north_rule). The
analog of the reference's full index build
(Indexer.IndexAll -> trace extract -> RPG BuildFull,
/root/reference/cli/watch.go:750-860, indexer/indexer.go:94).

There is ONE edge derivation. LINK + CANON are dictionary-scale and collapse
to an alias -> (pred, entity_id) map on the driver (:func:`alias_entity_map`,
memoized per dictionary version); EXTRACT + MATERIALIZE are then one narrow
map over transcripts (:func:`kg_edges_from_map`). The flagship query
(:func:`kg_edges_df`), the streaming sink and the resumable :func:`run` all
use it; :func:`run` applies it to the pending buckets only and merges the
result into a bucket-partitioned table, so re-running overwrites exactly the
recomputed buckets (Iceberg: overwritePartitions).
"""

from __future__ import annotations

import datetime
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from grepai_spark import cc, extract, link, lineage, materialize
from grepai_spark.dimcache import cached_rows, local_df
from grepai_spark.schemas import EDGES, METRICS, VERTICES
from grepai_spark.storage import Catalog

# the bucket-partitioned edges table run() writes and reads back
_EDGES_B = StructType([*EDGES, StructField("bucket", IntegerType())])


class InjectedFailure(RuntimeError):
    """Raised by tests to simulate a mid-run kill."""


def kg_edges_df(
    spark: SparkSession,
    transcripts: DataFrame,
    alias_dict: DataFrame,
    use_lsh: bool = False,
) -> DataFrame:
    """Pure-DataFrame end-to-end edge derivation (no table writes) — the
    flagship query: EXTRACT -> LINK -> CANON -> triples, FUSED.

    The linking + canonicalization product is dictionary-scale, so it
    collapses to an alias -> (pred, entity_id) map computed once on the
    driver (two tiny jobs) and broadcast to the edge-detector UDF. The
    corpus-scale plan is then ONE narrow map over transcripts: call edges
    come from an inline array filter on the `tool` column, mention/does
    edges from the UDF (per-turn distinct inside the batch), one explode —
    no shuffle anywhere and a single scan. The only exchange the previous
    shape had (dropDuplicates over all mention triples) was a within-turn
    dedup in disguise; fusing it into the UDF removes it entirely.
    :func:`run` writes the same map over its pending buckets, so the
    resumable path and this query emit identical rows.
    """
    return kg_edges_from_map(
        transcripts, alias_entity_map(alias_dict, use_lsh)
    )


# alias_entity_map results keyed by dictionary content signature: the map
# is a pure function of the dictionary, and its contract is "computed once
# per dictionary version" — without the memo every derivation in a serving
# process (each query of a session, each bench pass) re-runs linking + CC,
# a fixed multi-job driver-side cost that at corpus scale is pure serial
# fraction. The reference equivalently LOADS its persisted symbol maps
# instead of re-indexing (rpg/persistence.go). Values are plain dicts (no
# Spark handles), so entries stay valid across sessions in one process.
_AMAP_MEMO: dict[tuple[int, str], dict[str, tuple[str, str]]] = {}


def _dict_signature(rows: list, use_lsh: bool) -> str:
    """sha256 over the dictionary rows (alias, canonical_id, kind; order-
    insensitive) and the linking variant: everything the entity map and the
    vertices table are a function of. Keys the entity-map memo and gates
    the vertices overwrite in :func:`run`."""
    import hashlib

    h = hashlib.sha256()
    for r in sorted((r["alias"], r["canonical_id"], r["kind"]) for r in rows):
        h.update("\x01".join(r).encode())
        h.update(b"\x00")
    h.update(b"lsh" if use_lsh else b"blocked")
    return h.hexdigest()


def _canonical_map(alias_dict: DataFrame, use_lsh: bool) -> DataFrame:
    """LINK + CANON: similarity edges (blocked or LSH Jaccard) ->
    cc.canonical_map. The one canonicalization every derivation shares.

    The dictionary is a broadcast-side dimension whose rows the entity map
    needs anyway, so it is loaded first, in one job; link's and CC's size
    probes then answer from those rows instead of probing it once each."""
    cached_rows(alias_dict)
    sim = (
        link.alias_similarity_edges_lsh(alias_dict)
        if use_lsh
        else link.alias_similarity_edges(alias_dict)
    )
    return cc.canonical_map(alias_dict, sim)


def _entity_map(
    alias_dict: DataFrame, cmap: DataFrame
) -> dict[str, tuple[str, str]]:
    """alias -> (pred, entity_id) for entity/action aliases: the dictionary
    joined to its canonical map on the driver (both sides are
    dictionary-scale; the result is broadcast to the edge detector anyway).
    Job-free when the canonical map's rows are attached (dimcache)."""
    entity = dict(cached_rows(cmap))
    return {
        r["alias"]: (
            "does" if r["kind"] == "action" else "mentions",
            entity[r["canonical_id"]],
        )
        for r in cached_rows(alias_dict)
        if r["kind"] in ("entity", "action")
    }


def alias_entity_map(
    alias_dict: DataFrame, use_lsh: bool = False
) -> dict[str, tuple[str, str]]:
    """alias -> (pred, entity_id): the dictionary-scale product of linking +
    canonicalization, computed ONCE per dictionary version (memoized on a
    content signature across calls) and shipped to executors via
    SparkContext.broadcast (inside make_edge_detector) — the reference's
    in-memory symbol maps (rpg/indexer.go:527).

    The dictionary is a collectable broadcast-side dimension (dimcache), so
    the signature (:func:`_dict_signature`) is taken over the rows already
    in hand — no Spark job. Linking and CC pick their own
    driver/distributed regime by size.
    """
    rows = cached_rows(alias_dict)
    key = (len(rows), _dict_signature(rows, use_lsh))
    amap = _AMAP_MEMO.get(key)
    if amap is None:
        amap = _entity_map(alias_dict, _canonical_map(alias_dict, use_lsh))
        _AMAP_MEMO[key] = amap
    return amap


def kg_edges_from_map(
    transcripts: DataFrame, amap: dict[str, tuple[str, str]]
) -> DataFrame:
    """The corpus-scale half of the fused plan — usable on batch AND
    streaming DataFrames (it is a pure narrow map, so it is trivially
    streamable)."""
    detect_edges = extract.make_edge_detector(amap)
    # call edge as a 0/1-element array: filter() keeps the struct type
    # without CASE branches whose empty array() would type-clash
    call_arr = F.expr(
        "filter(array(named_struct('pred', 'calls', 'obj', tool)),"
        " x -> x.obj IS NOT NULL AND x.obj <> '')"
    )
    combined = F.concat(call_arr, detect_edges(F.col("text")))
    return transcripts.select(
        "conv_id", "turn_idx", "role", F.explode(combined).alias("e")
    ).select(
        F.col("role").alias("subj"),
        F.col("e.pred").alias("pred"),
        F.col("e.obj").alias("obj"),
        "conv_id",
        "turn_idx",
        F.lit(1.0).cast("float").alias("weight"),
    )


def kg_vertices_df(
    spark: SparkSession, alias_dict: DataFrame
) -> DataFrame:
    return materialize.build_vertices(
        alias_dict, _canonical_map(alias_dict, use_lsh=False)
    )


@dataclass
class PipelineResult:
    edges: DataFrame
    vertices: DataFrame
    counters: dict[str, int] = field(default_factory=dict)


def _bucket_stage(
    catalog: Catalog,
    stage: str,
    table: str,
    tb: DataFrame,
    hashes: list,
    counters: dict[str, int],
    derive,
) -> bool:
    """The one per-bucket resumable stage of :func:`run`: gate on lineage,
    derive the pending buckets' rows (``derive(<their transcripts>)``, with
    a ``bucket`` column), swap exactly those partitions of ``table`` in (one
    that now yields no row is swapped to empty, not left holding its old
    rows) and mark them done with the row counts the write produced.
    Returns whether any bucket was pending."""
    pending = lineage.pending_buckets(catalog, stage, hashes)
    ids = [r["bucket"] for r in pending]
    counters[f"{stage}_buckets_pending"] = len(ids)
    if not ids:
        return False
    sub = derive(tb.where(F.col("bucket").isin(ids)))
    catalog.merge_by_key(
        table, sub, ["bucket"], partition_by=["bucket"], ensure=ids
    )
    lineage.mark_done(
        catalog, stage, pending, catalog.partition_rows(table, "bucket", ids)
    )
    return True


def run(
    spark: SparkSession,
    transcripts: DataFrame,
    alias_dict: DataFrame,
    out_dir: str,
    n_buckets: int = 16,
    fail_after: str | None = None,
    use_lsh: bool = False,
    embed: bool = False,
) -> PipelineResult:
    """The resumable index build into the catalog at ``out_dir``.

    Every stage is gated on lineage, so a re-run recomputes only what
    changed: the vectors and edges stages per bucket of turns (content hash
    of the bucket's rows, :func:`_bucket_stage`), the vertices table as a
    whole on the dictionary signature (:func:`_dict_signature` over the
    rows already held, plus ``use_lsh``), so an unchanged dictionary leaves
    it untouched. Lineage and the metrics run log are written on the
    driver, so a zero-pending resume runs only the content-hash aggregate.
    ``fail_after`` names a stage to crash after (tests)."""
    catalog = Catalog(spark, out_dir)
    counters: dict[str, int] = {}

    tb = lineage.with_bucket(transcripts, n_buckets)
    # n_buckets rows, one aggregate: every gate below is decided from them
    hashes = lineage.bucket_content_hashes(tb).collect()

    # ---- stage: embeddings (content-hash cached), per-bucket resumable -----
    if embed:
        from grepai_spark import embed as embed_mod

        def vectors(sub: DataFrame) -> DataFrame:
            vec, embed_counters = embed_mod.embed_with_cache(catalog, sub)
            counters.update(
                {f"embed_{k}": v for k, v in embed_counters.items()}
            )
            if fail_after == "embed_cache":
                # crash point BETWEEN the cache merge (already committed
                # inside embed_with_cache) and the vectors merge: the re-run
                # must converge to the same turn_vectors table with zero
                # re-encoding (test_pipeline locks this)
                raise InjectedFailure(
                    "killed between cache merge and vectors merge"
                )
            return vec.select(
                "bucket", "conv_id", "turn_idx", "content_hash", "vector"
            )

        _bucket_stage(
            catalog, "vectors", "turn_vectors", tb, hashes, counters, vectors
        )
    if fail_after == "embed":
        raise InjectedFailure("killed after embed stage")

    # ---- stage: canonicalization (dictionary-level, cheap, global) ---------
    # held as rows, one LocalRelation with them attached: no job in the
    # driver regime (its map is already one), and in the distributed regime
    # the collect the edges stage's entity map needs anyway
    cmap = _canonical_map(alias_dict, use_lsh)
    cmap = local_df(spark, cached_rows(cmap), cmap.schema)
    counters["canonical_entities"] = len({r[1] for r in cached_rows(cmap)})
    if fail_after == "canonicalize":
        raise InjectedFailure("killed after canonicalize stage")

    # ---- stage: edges (extract + link + materialize, fused), per bucket ----
    def edges(sub: DataFrame) -> DataFrame:
        e = lineage.with_bucket(
            kg_edges_from_map(sub, _entity_map(alias_dict, cmap)), n_buckets
        )
        # written with the declared types, so reads can declare them
        return e.select(
            "bucket", *(F.col(f.name).cast(f.dataType) for f in EDGES)
        )

    if _bucket_stage(catalog, "edges", "edges", tb, hashes, counters, edges):
        # maintain the graph-query plane's stored adjacency + degree census
        # whenever the edge table changed (stores.py) — the indexer writes
        # the artifacts the query plane reads; rebuilding them per query
        # was the round-4 scale anti-pattern
        from grepai_spark import stores

        stores.build_graph_artifacts(
            catalog, catalog.read("edges", _EDGES_B).drop("bucket")
        )
    if fail_after == "edges":
        raise InjectedFailure("killed after edges stage")

    # ---- stage: vertices (global, dictionary-scale), gated ------------------
    # one lineage row whose content hash is the dictionary signature: the
    # table is rewritten only when the dictionary (or the linking variant)
    # changed, or the table is missing. A crash between the overwrite and
    # the mark only rewrites it again next run, which is idempotent.
    dict_rows = cached_rows(alias_dict)
    sig = Row(
        bucket=0,
        content_hash=_dict_signature(dict_rows, use_lsh),
        rows_in=len(dict_rows),
    )
    pending = lineage.pending_buckets(catalog, "vertices", [sig])
    if pending or not catalog.exists("vertices"):
        vertices = materialize.build_vertices(alias_dict, cmap)
        catalog.overwrite("vertices", vertices)
        lineage.mark_done(
            catalog, "vertices", [sig], {0: counters["canonical_entities"]}
        )

    edges_out = catalog.read("edges", _EDGES_B).drop("bucket")
    vertices_out = catalog.read("vertices", VERTICES)
    # counters from rows already held, no count() job: every edges bucket
    # partition is written and then marked done with its own row count, so
    # the lineage rows_out sum is the table's row count; build_vertices
    # emits one row per canonical entity
    counters["edges"] = lineage.stage_rows_out(catalog, "edges")
    counters["vertices"] = counters["canonical_entities"]

    # ---- metrics sink (S8 analog: stats NDJSON -> a small metrics table) ---
    # append-only run log (the reference's stats recorder appends NDJSON
    # from the process that holds the stats, stats/recorder.go): each run
    # adds its counter snapshot as one file written on the driver — O(new
    # rows), no Spark job, never a table rewrite; readers take the latest
    # run_ts per metric
    run_ts = datetime.datetime.now(datetime.timezone.utc)
    catalog.append_rows(
        "metrics",
        METRICS,
        [(k, int(v), run_ts) for k, v in sorted(counters.items())],
    )

    return PipelineResult(edges=edges_out, vertices=vertices_out, counters=counters)


def latest_metrics(catalog: Catalog) -> DataFrame:
    """Latest-run view over the append-only metrics log — the documented
    dedup rule for the S8 table contract (ADVICE r3): the metrics table is
    one row PER RUN per metric (append-only history, like the reference's
    NDJSON stats log, stats/recorder.go); consumers wanting current values
    take the max run_ts per metric, which is exactly this view."""
    from pyspark.sql import Window

    m = catalog.read("metrics", METRICS)
    w = Window.partitionBy("metric").orderBy(F.desc("run_ts"))
    return (
        m.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
