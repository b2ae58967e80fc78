"""Deterministic transcripts synthesis (no external data).

BASELINE.json fixes the input shape: transcripts(conv_id, turn_idx, role, text,
tool, ts). This module derives that table deterministically from the driver's
synthetic ``events`` parquet using ONE SQL template that runs identically on
Spark SQL and DuckDB (dialect differences are limited to type-name spelling).
That single-source-of-truth makes the whole pipeline oracle-checkable: the
driver's DuckDB oracle re-derives the same rows bit-for-bit.

Deliberate properties of the generated corpus (FIXTURES.md checklist):
  * one mega-thread conv ("conv-mega", ~25% of all turns) — skew handling;
  * empty texts, unicode texts, >4 KB long turns;
  * heavy duplicate texts across conversations — exercises the content-hash
    embedding cache (ref: /root/reference/store/store.go:105-109);
  * in-text alias mentions drawn from a fixed dictionary with camelCase and
    snake_case variants (ref splitName: rpg/extractor_local.go:180-256);
  * a ``tool`` column driving (role)-[:calls]->(tool) triples mirroring
    CallEdge (ref: /root/reference/trace/trace.go:58-64).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# ---------------------------------------------------------------------------
# Alias dictionary (broadcast side input of the linking stage).
#
# Designed to exercise every linking path:
#  * camelCase vs snake_case variants of one entity (exact-normalized match);
#  * two entities sharing a first token => same block, Jaccard must separate
#    (e_fetch_data vs e_fetch_rows, mirroring verb-blocking
#    /root/reference/rpg/indexer.go:661-695);
#  * DataFetcher links to e_fetch_data only via the dictionary (Jaccard 1/3),
#    while QueryParserFast links to e_parse_query only via Jaccard (2/3 >= 0.5)
#    => canonicalization must traverse multi-hop components (CC).
# ---------------------------------------------------------------------------
ALIAS_ROWS: list[tuple[str, str, str]] = [
    ("FetchData", "e_fetch_data", "entity"),
    ("fetch_data", "e_fetch_data", "entity"),
    ("DataFetcher", "e_fetch_data", "entity"),
    ("FetchRows", "e_fetch_rows", "entity"),
    ("fetch_rows", "e_fetch_rows", "entity"),
    ("ParseQuery", "e_parse_query", "entity"),
    ("parse_query", "e_parse_query", "entity"),
    ("QueryParser", "e_parse_query", "entity"),
    ("QueryParserFast", "e_query_parser_fast", "entity"),
    ("MergeSort", "e_merge_sort", "entity"),
    ("merge_sort", "e_merge_sort", "entity"),
    ("HashJoin", "e_hash_join", "entity"),
    ("hash_join", "e_hash_join", "entity"),
    ("SparkEngine", "e_spark_engine", "entity"),
    ("spark_engine", "e_spark_engine", "entity"),
    ("StreamReader", "e_stream_reader", "entity"),
    ("stream_reader", "e_stream_reader", "entity"),
    ("payments.charge", "t_payments_charge", "tool"),
    ("diagnostics.trace", "t_diagnostics_trace", "tool"),
    ("auth.register", "t_auth_register", "tool"),
    # agent actions (north star: entities, tool invocations, AND agent
    # actions per turn) -> (role)-[:does]->(action) triples
    ("DeployService", "a_deploy_service", "action"),
    ("deploy_service", "a_deploy_service", "action"),
    ("RestartWorker", "a_restart_worker", "action"),
    ("restart_worker", "a_restart_worker", "action"),
]

# In-text mention slots (must all be ALIAS_ROWS surface forms).
_SLOT1 = [
    "FetchData", "fetch_rows", "ParseQuery", "merge_sort", "HashJoin",
    "spark_engine", "StreamReader", "QueryParser", "fetch_data",
    "QueryParserFast", "DataFetcher",
]
_SLOT2 = [
    "hash_join", "MergeSort", "FetchRows", "parse_query",
    "stream_reader", "SparkEngine", "QueryParserFast",
    "DeployService", "restart_worker",
]


def _case_over_mod(col: str, mod: int, values: list[str]) -> str:
    whens = " ".join(
        f"WHEN {i} THEN '{v}'" for i, v in enumerate(values)
    )
    return f"CASE CAST(({col}) % {mod} AS INT) {whens} END"


def transcripts_sql(events_rel: str, dialect: str = "spark") -> str:
    """The transcripts derivation. ``events_rel`` is the FROM-clause relation
    (a registered view name or a parquet path wrapped per dialect)."""
    s = "STRING" if dialect == "spark" else "VARCHAR"
    a1 = _case_over_mod("event_id", len(_SLOT1), _SLOT1)
    a2 = _case_over_mod("event_id + 3", len(_SLOT2), _SLOT2)
    return f"""
WITH base AS (
  SELECT
    CASE WHEN user_id % 4 = 0 THEN 'conv-mega'
         ELSE 'conv-' || lpad(CAST(user_id AS {s}), 4, '0') END AS conv_id,
    event_id, ts, event_type
  FROM {events_rel}
)
SELECT
  conv_id,
  CAST(row_number() OVER (PARTITION BY conv_id ORDER BY ts, event_id) - 1 AS INT) AS turn_idx,
  CASE event_type WHEN 'signup'   THEN 'assistant'
                  WHEN 'purchase' THEN 'agent:buyer'
                  WHEN 'error'    THEN 'tool'
                  ELSE 'user' END AS role,
  CASE WHEN event_id % 19 = 3 THEN ''
       WHEN event_id % 23 = 5 THEN repeat('long turn mentions ' || {a1} || ' ', 300)
       WHEN event_id % 17 = 2 THEN 'unicode héllo—世界 mentions ' || {a1}
       ELSE 'turn ' || event_type || ' uses ' || {a1} || ' with ' || {a2}
            || ' k' || CAST(event_id % 7 AS {s})
  END AS text,
  CASE event_type WHEN 'purchase' THEN 'payments.charge'
                  WHEN 'error'    THEN 'diagnostics.trace'
                  WHEN 'signup'   THEN 'auth.register'
                  ELSE '' END AS tool,
  ts
FROM base
""".strip()


def read_parallel(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan with a small-input parallelism floor.

    Parquet splits at row-group boundaries, so a table written as one file
    with one row group yields ONE scan partition no matter how many cores
    the session has — and every narrow op above it (shingling, hashing,
    vector math) inherits that single partition and runs serial (measured:
    the sf0.1 simhash posting stage is 2.9 s on the 1-partition scan vs
    0.4 s after an explicit fan-out). AQE cannot help: it only coalesces,
    never splits. At production scale the scan has orders of magnitude more
    splits than cores and this is a no-op — the repartition fires only in
    the small-input regime, where shuffling the whole table is cheap by
    definition."""
    df = spark.read.parquet(path)
    cores = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < cores:
        df = df.repartition(cores)
    return df


def load_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize transcripts from the sf directory's events parquet, read
    with its declared schema (no schema-inference job)."""
    from grepai_spark.schemas import EVENTS

    spark.read.schema(EVENTS).parquet(
        f"{sf_dir}/events.parquet"
    ).createOrReplaceTempView("gs_events")
    return spark.sql(transcripts_sql("gs_events", "spark"))


def transcripts_duckdb_sql(sf_dir: str) -> str:
    """The identical derivation as a DuckDB query over the same parquet."""
    rel = f"'{sf_dir}/events.parquet'"
    return transcripts_sql(rel, "duckdb")


# one DataFrame handle per session (r7): the dict is an immutable code
# constant, and a fresh DataFrame per call costs driver-side conversion +
# analysis on every query. It is an Arrow LocalRelation (dimcache.local_df):
# its scans (the vertices overwrite, the distributed link/CC tails) run no
# Python worker, and its rows are attached, so no consumer collects them
_DICT_MEMO: dict[str, DataFrame] = {}


def alias_dict_df(spark: SparkSession) -> DataFrame:
    from grepai_spark.dimcache import local_df
    from grepai_spark.schemas import ALIAS_DICT

    key = spark.sparkContext.applicationId
    df = _DICT_MEMO.get(key)
    if df is None:
        df = local_df(spark, ALIAS_ROWS, ALIAS_DICT)
        if len(_DICT_MEMO) > 8:
            _DICT_MEMO.clear()
        _DICT_MEMO[key] = df
    return df


def alias_dict_values_sql() -> str:
    """Inline VALUES relation for DuckDB/Spark oracles (identical dialects)."""
    rows = ", ".join(f"('{a}', '{c}', '{k}')" for a, c, k in ALIAS_ROWS)
    return f"(VALUES {rows}) AS d(alias, canonical_id, kind)"


def replicate_transcripts(
    t: DataFrame, k: int, n_parts: int | None = None
) -> DataFrame:
    """Deterministically scale the corpus k-fold for throughput runs: each
    replica keeps per-conversation structure but gets a distinct conv_id
    namespace (#r0..#r{k-1}). Duplicate texts across replicas are intentional
    — they exercise the content-hash dedup path exactly like production
    near-duplicate traffic."""
    from pyspark.sql import functions as F

    if k <= 1:
        return t
    reps = t.sparkSession.range(k).select(
        F.col("id").cast("int").alias("_rep")
    )
    out = t.crossJoin(reps).withColumn(
        "conv_id", F.concat_ws("#r", F.col("conv_id"), F.col("_rep"))
    ).drop("_rep")
    # The crossJoin is narrow: without an explicit exchange the k-fold corpus
    # (and every narrow stage after it — the mention UDF above all) inherits
    # the few AQE-coalesced partitions of the 1x input, serializing the run
    # regardless of core count. Explicit numPartitions is exempt from AQE
    # coalescing. Hash on conv_id co-locates conversations for later joins.
    # 4x cores: small enough tasks that the scheduler can smooth the tail
    # (mega-thread replicas make conv_id-hashed partitions uneven).
    if n_parts is None:
        n_parts = t.sparkSession.sparkContext.defaultParallelism * 4
    return out.repartition(n_parts, "conv_id")
