"""End-to-end KG-construction pipeline: EXTRACT -> LINK -> CANON -> MATERIALIZE.

Orchestrates the stage modules over a transcripts DataFrame, with per-bucket
lineage checkpoints so a killed run resumes idempotently (north_rule). The
analog of the reference's full index build
(Indexer.IndexAll -> trace extract -> RPG BuildFull,
/root/reference/cli/watch.go:750-860, indexer/indexer.go:94).

There is ONE dictionary product and ONE edge derivation. LINK + CANON are
dictionary-scale and run once per dictionary version (:func:`_dictionary`,
memoized on its signature) into driver rows: the canonical map and an
alias -> (pred, entity_id) map. EXTRACT + MATERIALIZE are then one narrow
map over transcripts (:func:`kg_edges_from_map`). The flagship query
(:func:`kg_edges_df`), :func:`kg_vertices_df`, the streaming sink and the
resumable :func:`run` all read the same product.

:func:`run` has ONE gate (:func:`_stage`): a stage's output partitions are
rewritten iff lineage does not vouch for them under a content hash of every
run input they depend on, or the stage's table is missing — grepai's
content-hash skip and NeedsReindex (indexer/indexer.go:161-164, :726-742)
applied to every input of a stage. Rewrites swap exactly the recomputed
partitions (Iceberg: overwritePartitions).
"""

from __future__ import annotations

import datetime
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
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
    corpus-scale plan is then ONE narrow map over transcripts: the UDF
    derives each turn's calls edge (from `tool`) and mention/does edges
    (from `text`, per-turn distinct), one explode — no shuffle anywhere
    and a single scan. :func:`run` writes the same map
    over its pending buckets, so the two emit identical rows.
    """
    return kg_edges_from_map(
        transcripts, alias_entity_map(alias_dict, use_lsh)
    )


# _dictionary's products keyed by dictionary signature: without the memo
# every derivation in a serving process (each query, each run) re-runs
# linking + CC, a fixed multi-job driver cost. The reference likewise LOADS
# its persisted symbol maps (rpg/persistence.go). Values hold plain rows (no
# Spark handles), so entries stay valid across sessions in one process.
_AMAP_MEMO: dict[tuple[int, str], "_Dictionary"] = {}

# the canonical map's rows: canonical_id -> entity_id (cc.canonical_map)
_CMAP = "canonical_id string, entity_id string"


def _dict_signature(rows: list, use_lsh: bool) -> str:
    """sha256 over the dictionary rows (alias, canonical_id, kind; order-
    insensitive) and the linking variant: everything the dictionary
    product is a function of. Keys the memo and the edges and vertices
    gates of :func:`run`, and is recorded beside the stream's sink."""
    import hashlib

    h = hashlib.sha256()
    for r in sorted((r["alias"], r["canonical_id"], r["kind"]) for r in rows):
        h.update("\x01".join(r).encode())
        h.update(b"\x00")
    h.update(b"lsh" if use_lsh else b"blocked")
    return h.hexdigest()


@dataclass(frozen=True)
class _Dictionary:
    """The dictionary-scale product of LINK + CANON, as driver rows."""

    signature: str
    canonical_rows: list  # (canonical_id, entity_id), one per canonical id
    entity_map: dict[str, tuple[str, str]]  # alias -> (pred, entity_id)


def _dictionary(alias_dict: DataFrame, use_lsh: bool) -> _Dictionary:
    """LINK + CANON once per dictionary version: similarity edges (blocked
    or LSH Jaccard) -> cc.canonical_map, held as rows, and the alias ->
    (pred, entity_id) map of the entity/action aliases.

    The dictionary is a collectable broadcast-side dimension (dimcache): it
    is loaded first, in one job, so the signature is taken over rows in
    hand and link's and CC's size probes answer from them. Linking and CC
    pick their own driver/distributed regime by size; a distributed
    canonical map is collected (dictionary-scale)."""
    rows = cached_rows(alias_dict)
    sig = _dict_signature(rows, use_lsh)
    product = _AMAP_MEMO.get((len(rows), sig))
    if product is None:
        sim = (
            link.alias_similarity_edges_lsh(alias_dict)
            if use_lsh
            else link.alias_similarity_edges(alias_dict)
        )
        cmap = list(map(tuple, cached_rows(cc.canonical_map(alias_dict, sim))))
        entity = dict(cmap)
        amap = {
            r["alias"]: (
                "does" if r["kind"] == "action" else "mentions",
                entity[r["canonical_id"]],
            )
            for r in rows
            if r["kind"] in ("entity", "action")
        }
        product = _AMAP_MEMO[(len(rows), sig)] = _Dictionary(sig, cmap, amap)
    return product


def alias_entity_map(
    alias_dict: DataFrame, use_lsh: bool = False
) -> dict[str, tuple[str, str]]:
    """alias -> (pred, entity_id): the entity map of :func:`_dictionary`,
    shipped to executors via SparkContext.broadcast (inside
    make_edge_detector) — the reference's in-memory symbol maps
    (rpg/indexer.go:527)."""
    return _dictionary(alias_dict, use_lsh).entity_map


def kg_edges_from_map(
    transcripts: DataFrame, amap: dict[str, tuple[str, str]]
) -> DataFrame:
    """The corpus-scale half of the fused plan — usable on batch AND
    streaming DataFrames (it is a pure narrow map, so it is trivially
    streamable): each turn's edges, calls edge included, from the one
    per-turn derivation (extract.turn_edges, run by the edge-detector
    UDF), one explode."""
    detect_edges = extract.make_edge_detector(amap)
    return transcripts.select(
        "conv_id",
        "turn_idx",
        "role",
        F.explode(detect_edges("text", "tool")).alias("e"),
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
    cmap = _dictionary(alias_dict, use_lsh=False).canonical_rows
    return materialize.build_vertices(alias_dict, local_df(spark, cmap, _CMAP))


@dataclass
class PipelineResult:
    edges: DataFrame
    vertices: DataFrame
    counters: dict[str, int] = field(default_factory=dict)


def _stage(
    catalog: Catalog,
    stage: str,
    table: str,
    hash_rows: list,
    counters: dict[str, int],
    write,
) -> bool:
    """The one lineage gate of :func:`run`. ``hash_rows`` hold a (bucket,
    content_hash, rows_in) per output partition of ``table``, hashing every
    run input the partition depends on. Pending are the rows lineage does
    not mark done with that hash, or all of them when ``table`` is missing.
    ``write(<pending bucket ids>)`` rewrites exactly those partitions and
    returns bucket -> rows written, which are then marked done (a crash in
    between only rewrites them again). Returns whether any was pending."""
    pending = (
        lineage.pending_buckets(catalog, stage, hash_rows)
        if catalog.exists(table)
        else hash_rows
    )
    counters[f"{stage}_buckets_pending"] = len(pending)
    if not pending:
        return False
    rows_out = write([r["bucket"] for r in pending])
    lineage.mark_done(catalog, stage, pending, rows_out)
    return True


def run(
    spark: SparkSession,
    transcripts: DataFrame,
    alias_dict: DataFrame,
    out_dir: str,
    fail_after: str | None = None,
    use_lsh: bool = False,
    embed: bool = False,
) -> PipelineResult:
    """The resumable index build into the catalog at ``out_dir``.

    Every stage goes through the one lineage gate (:func:`_stage`), keyed
    on all its run inputs: vectors per bucket of turns (``conv_id`` into
    ``lineage.N_BUCKETS``) on the bucket's content hash, edges per bucket
    on that hash plus the dictionary signature (:func:`_dict_signature`,
    covering ``use_lsh``), vertices as one row on the signature. Linking +
    CC run once per dictionary version (:func:`_dictionary`), and lineage
    and the metrics log are written on the driver, so a zero-pending resume
    runs only the content-hash aggregate. ``fail_after`` names a stage to
    crash after (tests)."""
    catalog = Catalog(spark, out_dir)
    counters: dict[str, int] = {}

    tb = lineage.with_bucket(transcripts)
    # one row per bucket, one aggregate: every gate below is decided on them
    hashes = lineage.bucket_content_hashes(tb)

    def bucket_write(table: str, derive):
        # derive the buckets' rows (with a bucket column) from their turns
        # and swap exactly those partitions in: one that now yields no row
        # is swapped to empty, not left holding its old rows
        def write(ids: list) -> dict:
            sub = derive(tb.where(F.col("bucket").isin(ids)))
            catalog.merge_by_key(
                table, sub, ["bucket"], partition_by=["bucket"], ensure=ids
            )
            return catalog.partition_rows(table, "bucket", ids)

        return write

    # ---- stage: embeddings (content-hash cached), per-bucket resumable -----
    if embed:
        from grepai_spark import embed as embed_mod

        def vectors(sub: DataFrame) -> DataFrame:
            vec, embed_counters = embed_mod.embed_with_cache(catalog, sub)
            counters.update(
                {f"embed_{k}": v for k, v in embed_counters.items()}
            )
            if fail_after == "embed_cache":
                # between the cache merge (committed inside embed_with_cache)
                # and the vectors merge: a re-run re-encodes nothing
                raise InjectedFailure(
                    "killed between cache merge and vectors merge"
                )
            return vec.select(
                "bucket", "conv_id", "turn_idx", "content_hash", "vector"
            )

        _stage(
            catalog, "vectors", "turn_vectors", hashes, counters,
            bucket_write("turn_vectors", vectors),
        )
    if fail_after == "embed":
        raise InjectedFailure("killed after embed stage")

    # ---- stage: canonicalization (dictionary-level, once per version) ------
    dictionary = _dictionary(alias_dict, use_lsh)
    sig = dictionary.signature
    cmap_rows = dictionary.canonical_rows
    counters["canonical_entities"] = len({e for _, e in cmap_rows})
    if fail_after == "canonicalize":
        raise InjectedFailure("killed after canonicalize stage")

    # ---- stage: edges (extract + link + materialize, fused), per bucket ----
    def edges(sub: DataFrame) -> DataFrame:
        e = lineage.with_bucket(kg_edges_from_map(sub, dictionary.entity_map))
        # written with the declared types, so reads can declare them
        return e.select(
            "bucket", *(F.col(f.name).cast(f.dataType) for f in EDGES)
        )

    edge_hashes = [
        {**r, "content_hash": f"{r['content_hash']}:{sig}"}
        for r in hashes
    ]
    if _stage(
        catalog, "edges", "edges", edge_hashes, counters,
        bucket_write("edges", edges),
    ):
        # the graph-query plane's stored adjacency + degree census follow
        # the edge table (stores.py): the indexer writes what queries read
        from grepai_spark import stores

        stores.build_graph_artifacts(
            catalog, catalog.read("edges", _EDGES_B).drop("bucket")
        )
    if fail_after == "edges":
        raise InjectedFailure("killed after edges stage")

    # ---- stage: vertices (global, dictionary-scale), one gate row ----------
    def vertices(ids: list) -> dict:
        cmap = local_df(spark, cmap_rows, _CMAP)
        built = materialize.build_vertices(alias_dict, cmap)
        catalog.overwrite("vertices", built)
        # build_vertices emits one row per canonical entity
        return {0: counters["canonical_entities"]}

    n_dict = len(cached_rows(alias_dict))
    one = {"bucket": 0, "content_hash": sig, "rows_in": n_dict}
    _stage(catalog, "vertices", "vertices", [one], counters, vertices)

    edges_out = catalog.read("edges", _EDGES_B).drop("bucket")
    vertices_out = catalog.read("vertices", VERTICES)
    # counters from rows already held, no count() job: every edges bucket
    # partition is written and then marked done with its own row count, so
    # the lineage rows_out sum is the table's row count
    counters["edges"] = lineage.stage_rows_out(catalog, "edges")
    counters["vertices"] = counters["canonical_entities"]

    # ---- metrics sink (S8 analog: stats NDJSON -> a small metrics table) ---
    # append-only run log (the reference's stats recorder, stats/recorder.go):
    # one file of this run's counters written on the driver, no Spark job;
    # readers take the latest run_ts per metric
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
