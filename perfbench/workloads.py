"""The benchmark's workloads, each a closed loop with one client.

A workload has a set-up phase (inputs generated from the seed, warm-up done)
and a measured window: whole cycles of operations, repeated until
``--seconds`` have passed and at least ``MIN_CYCLES`` are done. Every
operation's output is checked; a failed call or a failed check counts as a
failed operation.

* ``index``  -- write path: a cold ``pipeline.run(embed=True)`` and an
  initial streaming drain of the same corpus warm up; each cycle sends one
  wave of seeded new turns (appended to a few ordinary conversations) and
  seeded edited turns through ``streaming.incremental_kg_edges``, then runs
  a zero-pending ``pipeline.run`` resume of the batch index.
* ``curate`` -- batch curation: each cycle is one pass, in seeded order, over
  five shuffle-heavy operators (corpus clean, exact and SimHash dedup, LSH
  embedding near-dups, fused text stats).

Traced runs add the query plane (the ``serve`` operations): ``index``
queries the graph its catalog holds (BFS, callers, callees, fetch and
search nodes), ``curate`` runs the search and ANN top-k queries over its
documents and vectors. One warm-up pass records each query's rows; each
cycle then runs every query ``QUERY_REPS`` times, in seeded order, after
the cycle's batch work. Query figures are per-layer metrics only: with a
few calls per run they are too unsteady for an end-to-end bound, and
carrying them in every untraced run would not fit the benchmark's time
budget.
"""

from __future__ import annotations

import os
import random
import time
from collections import Counter
from dataclasses import dataclass, field

import duckdb
import pyarrow as pa

import gen
import spans
import stats

# input sizes (rows); chosen so one run, set-up included, stays near a
# minute on 4 cores -- the pipeline's cost here is mostly per-job overhead.
# The curate inputs are smaller still: at 300 documents its operators'
# CPU seconds rose by a quarter whenever the shared host was busy, against
# an eighth for the overhead-bound index cycle (BASELINE.md)
INDEX_EVENTS = 5_000
CURATE_DOCS = 100
CURATE_VECTORS = 100
CURATE_EVENTS = 2_000
STREAM_FILES = 4  # = maxFilesPerTrigger: the initial drain is one batch
QUERY_REPS = 1  # calls of each query per cycle (traced runs)
# the first window cycle still pays JIT for code paths the warm-up did not
# make hot; a median over three or more cycles leaves it out, where with
# two cycles it was half the figure and the number of cycles a run fitted
# in its seconds showed in the result (BASELINE.md)
MIN_CYCLES = 3
TOP_K = 10


# job group of the benchmark's own Spark jobs (output checks, wave
# preparation, table opens), left out of the engine totals
CHECK_SPAN = "bench.check"
# op kind prefix of the query-plane operations
SERVE = "serve"


@dataclass
class Op:
    kind: str
    wall_s: float
    cpu_s: float
    steal_s: float
    ok: bool
    cycle: int
    detail: dict = field(default_factory=dict)


@dataclass
class Ctx:
    """State of one run: session, scratch root, seed, tracer, results."""

    spark: object
    root: str
    seed: int
    seconds: float
    tracer: object
    traced: bool
    ops: list[Op] = field(default_factory=list)
    warm: list[Op] = field(default_factory=list)
    report: dict = field(default_factory=dict)
    window_start_perf: float = 0.0
    window_start_steal: float = 0.0
    setup_cpu_s: float = 0.0
    window_start_ms: int = 0
    window_jit_ms: float = 0.0
    window_gc_ms: float = 0.0
    setup_jit_ms: float = 0.0
    cycles: int = 0

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def timed(self, kind: str, fn, check, cycle: int, warm: bool = False):
        """Run ``fn`` (timed), then ``check(result)`` (untimed). A raised
        error or a false check marks the op failed."""
        me = os.getpid()
        detail: dict = {}
        cpu0, steal0 = spans.tree_cpu_s(me), spans.host_steal_s()
        t0 = time.perf_counter()
        try:
            res = fn()
            wall = time.perf_counter() - t0
            cpu = spans.tree_cpu_s(me) - cpu0
            steal = spans.host_steal_s() - steal0
            with self.tracer.span(CHECK_SPAN):
                ok = bool(check(res, detail))
        except Exception as exc:  # a failed op is counted, not fatal
            wall = time.perf_counter() - t0
            cpu = spans.tree_cpu_s(me) - cpu0
            steal = spans.host_steal_s() - steal0
            res, ok = None, False
            detail["error"] = f"{type(exc).__name__}: {exc}"[:300]
        (self.warm if warm else self.ops).append(
            Op(kind, wall, cpu, steal, ok, cycle, detail)
        )
        return res

    def start_window(self) -> None:
        """Set-up ends here: JIT so far is set-up JIT, and span totals
        restart so they cover the window only."""
        self.tracer.totals.clear()
        self.window_start_perf = time.perf_counter()
        self.window_start_steal = spans.host_steal_s()
        self.setup_cpu_s = spans.tree_cpu_s(os.getpid())
        self.window_start_ms = int(time.time() * 1000)
        self.setup_jit_ms = self.window_jit_ms = self.tracer.jit_ms()
        self.window_gc_ms = self.tracer.gc_ms()

    def end_window(self) -> None:
        self.window_jit_ms = self.tracer.jit_ms() - self.window_jit_ms
        self.window_gc_ms = self.tracer.gc_ms() - self.window_gc_ms

    def more(self, t_window: float, cycles: int) -> bool:
        """Another cycle, until ``seconds`` have passed and at least
        ``MIN_CYCLES`` are done."""
        return (
            cycles < MIN_CYCLES
            or time.perf_counter() - t_window < self.seconds
        )


# ---------------------------------------------------------------------------
# output checks
# ---------------------------------------------------------------------------

EDGE_COLS = "subj, pred, obj, conv_id, turn_idx, weight"


def _parquet_rows(con, path: str, cols: str = EDGE_COLS) -> Counter:
    return Counter(
        con.execute(
            f"SELECT {cols} FROM read_parquet('{path}/**/*.parquet')"
        ).fetchall()
    )


def oracle_edges(events_dir: str) -> Counter:
    """DuckDB ``oracles.kg_edges_oracle()`` over the events parquet files."""
    from grepai_spark import oracles

    with duckdb.connect() as con:
        con.execute(
            "CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{events_dir}/*.parquet')"
        )
        return Counter(con.execute(oracles.kg_edges_oracle()).fetchall())


def oracle_edges_of(turns: pa.Table) -> Counter:
    """DuckDB ``oracles.kg_edges_oracle()`` over given transcripts rather
    than over the transcripts it derives from events (the streaming waves
    carry edited turns no event yields)."""
    from grepai_spark import oracles

    sql = oracles.kg_edges_oracle()
    if sql.count(oracles.TRANSCRIPTS_REL) < 2:
        raise RuntimeError("kg_edges_oracle no longer reads TRANSCRIPTS_REL")
    sql = sql.replace(oracles.TRANSCRIPTS_REL, "SELECT * FROM turns")
    with duckdb.connect() as con:
        con.register("turns", turns)
        return Counter(con.execute(sql).fetchall())


def duck_transcripts(events_dir: str, where: str = "") -> pa.Table:
    """``synth.transcripts_sql``'s derivation run by DuckDB over the events
    parquet files (the same rows ``synth.load_transcripts`` gives), so the
    benchmark's own input preparation starts no Spark job."""
    from grepai_spark import synth

    rel = f"read_parquet('{events_dir}/*.parquet')"
    sql = f"SELECT * FROM ({synth.transcripts_sql(rel, 'duckdb')}) t {where}"
    with duckdb.connect() as con:
        return con.execute(sql).fetch_arrow_table().cast(gen.TRANSCRIPTS_SCHEMA)


def table_edges(table_dir: str) -> Counter:
    with duckdb.connect() as con:
        return _parquet_rows(con, table_dir)


def _norm(v):
    if isinstance(v, float):
        return round(v, 6)
    if isinstance(v, (list, tuple)):  # Row is a tuple
        return tuple(_norm(x) for x in v)
    return v


def norm_rows(rows) -> list:
    """Order-insensitive, float-rounded row multiset for equality checks."""
    return sorted((tuple(_norm(x) for x in r) for r in rows), key=repr)


# ---------------------------------------------------------------------------
# checked passes: a warm-up pass records each op's rows, every later call
# must return the same rows
# ---------------------------------------------------------------------------


def _rows(ctx: Ctx, span: str, fn) -> list:
    with ctx.tracer.span(span):
        return norm_rows(fn().collect())


def reference_pass(ctx: Ctx, prefix: str, ops: dict) -> dict:
    """Run each op once in set-up; its rows (which must not be empty) are
    the reference of its later calls."""
    expected: dict[str, list] = {}
    for name, fn in ops.items():
        kind = f"{prefix}.{name}"

        def keep(rows, detail, kind=kind):
            expected[kind] = rows
            detail["rows"] = len(rows)
            return len(rows) > 0

        ctx.timed(
            kind, lambda kind=kind, fn=fn: _rows(ctx, kind, fn), keep, -1,
            warm=True,
        )
    return expected


def checked_pass(
    ctx: Ctx, prefix: str, ops: dict, expected: dict, names, cycle: int
) -> None:
    for name in names:
        kind = f"{prefix}.{name}"
        ctx.timed(
            kind,
            lambda kind=kind, fn=ops[name]: _rows(ctx, kind, fn),
            lambda rows, detail, kind=kind: rows == expected.get(kind),
            cycle,
        )


def query_order(order: random.Random, queries: dict) -> list[str]:
    names = list(queries) * QUERY_REPS
    order.shuffle(names)
    return names


def query_rng(seed: int) -> random.Random:
    """The query order's own stream, so traced and untraced runs of a seed
    give the batch ops the same order."""
    return random.Random(f"{seed}-queries")


def open_tables(ctx: Ctx, root: str, names) -> dict:
    with ctx.tracer.span(CHECK_SPAN):
        return {n: ctx.spark.read.parquet(os.path.join(root, n)) for n in names}


# ---------------------------------------------------------------------------
# graph queries over the index's catalog
# ---------------------------------------------------------------------------

GRAPH_TABLES = (
    "edges", "vertices", "graph_adj", "graph_deg", "graph_adj_pred",
    "graph_deg_pred",
)


def graph_params(seed: int, catalog: str) -> dict:
    """Seeded query parameters drawn from the stored edges and vertices
    (read with DuckDB, outside Spark): a tool, a calling role, an entity
    with incident edges, and the name tokens of an entity to search for."""
    from grepai_spark.naming import norm_tokens_sql

    def scan(table):
        return f"read_parquet('{catalog}/{table}/**/*.parquet')"

    with duckdb.connect() as con:

        def values(sql):
            return [r[0] for r in con.execute(sql).fetchall()]

        calls = f"FROM {scan('edges')} WHERE pred = 'calls' ORDER BY 1"
        tools = values(f"SELECT DISTINCT obj {calls}")
        roles = values(f"SELECT DISTINCT subj {calls}")
        entities = values(
            f"SELECT DISTINCT v.entity_id FROM {scan('vertices')} v "
            f"JOIN {scan('edges')} e ON e.obj = v.entity_id ORDER BY 1"
        )
        tokens = norm_tokens_sql("canonical_name", "duckdb")
        names = values(
            f"SELECT DISTINCT array_to_string({tokens}, ' ') AS q "
            f"FROM {scan('vertices')} WHERE len({tokens}) > 0 ORDER BY 1"
        )
    r = random.Random(seed)
    return {
        "tool": r.choice(tools),
        "role": r.choice(roles),
        "entity": r.choice(entities),
        "words": r.choice(names),
    }


def _adjacency(t: dict, direction: str, pred: str | None = None):
    """(adjacency, degree) of one traversal selection from the stored graph
    artifacts, selected as ``stores.graph_adjacency`` selects them."""
    from pyspark.sql import functions as F

    if pred is None:
        adj, deg = t["graph_adj"], t["graph_deg"]
        sel = F.col("dir") == direction
    else:
        adj, deg = t["graph_adj_pred"], t["graph_deg_pred"]
        sel = (F.col("dir") == direction) & (F.col("pred") == pred)
    return adj.where(sel).select("a", "b"), deg.where(sel).select("a", "deg")


def graph_queries(t: dict, p: dict) -> dict:
    """The graph query ops over the open tables ``t`` (read at call time,
    so a re-open takes effect) with parameters ``p``."""
    from grepai_spark import graphq

    def bfs(seed, direction, pred=None):
        adj, deg = _adjacency(t, direction, pred)
        return graphq.bfs(
            t["edges"], seed, depth=2, direction=direction,
            preds=[pred] if pred else None, adj=adj, deg=deg,
        )

    return {
        "bfs": lambda: bfs(p["entity"], "both"),
        "bfs_calls": lambda: bfs(p["role"], "fwd", "calls"),
        "callers": lambda: graphq.callers(t["edges"], p["tool"]),
        "callees": lambda: graphq.callees(t["edges"], p["role"]),
        "fetch_node": lambda: graphq.fetch_node(
            t["vertices"], t["edges"], p["entity"]
        ),
        "search_nodes": lambda: graphq.search_nodes(
            t["vertices"], p["words"], k=TOP_K
        ),
    }


# ---------------------------------------------------------------------------
# index: cold pipeline.run, streaming waves, zero-pending resume
# ---------------------------------------------------------------------------


def index(ctx: Ctx) -> None:
    from grepai_spark import pipeline, streaming, synth

    spark = ctx.spark
    base_ev = gen.events(ctx.seed, INDEX_EVENTS)
    data = ctx.path("index_data")
    events_dir = os.path.join(data, "events.parquet")
    gen.write(base_ev, os.path.join(events_dir, "part-00000.parquet"))
    alias = synth.alias_dict_df(spark)
    catalog = ctx.path("catalog")
    edges_dir = os.path.join(catalog, "edges")
    ctx.report["input_turns"] = base_ev.num_rows

    def transcripts():
        return synth.load_transcripts(spark, data)

    edges_now = [0]
    # the stream sink's expected rows: the batch edges of the same corpus,
    # then per wave the rows of the turns it carries replaced by the DuckDB
    # kg_edges oracle over their new content (edges are per turn)
    want: Counter = Counter()

    def check_cold(res, detail):
        detail["counters"] = dict(res.counters)
        edges_now[0] = res.counters["edges"]
        got = table_edges(edges_dir)
        want.update(got)
        return got == oracle_edges(events_dir)

    def check_noop(res, detail):
        c = res.counters
        detail["counters"] = dict(c)
        pending = sum(v for k, v in c.items() if k.endswith("_pending"))
        return pending == 0 and c.get("edges") == edges_now[0]

    # --- warm-up 1: the cold build (JIT, first Python workers) ------------
    ctx.timed(
        "cold",
        lambda: pipeline.run(spark, transcripts(), alias, catalog, embed=True),
        check_cold,
        cycle=-1,
        warm=True,
    )
    if ctx.traced:
        ctx.report["cold_spans"] = ctx.tracer.snapshot()
        ctx.tracer.totals.clear()

    # --- warm-up 2: drain the same corpus through the streaming job -------
    # the stream has its own copy of the events, because its waves append
    stream_data = ctx.path("stream_data")
    stream_events = os.path.join(stream_data, "events.parquet")
    gen.write(base_ev, os.path.join(stream_events, "part-00000.parquet"))
    src, sink, ck = ctx.path("src"), ctx.path("sink"), ctx.path("ck")
    sink_dir = os.path.join(sink, streaming.KG_EDGES_TABLE)
    corpus = duck_transcripts(stream_events)
    step = -(-corpus.num_rows // STREAM_FILES)
    for i in range(STREAM_FILES):
        gen.write(
            corpus.slice(i * step, step),
            os.path.join(src, f"part-{i:05d}.parquet"),
        )
    wave_keys: set[tuple[str, int]] = set()

    def drain():
        return streaming.incremental_kg_edges(spark, src, sink, ck, alias)

    def check_stream(q, detail):
        detail["progress"] = [
            {
                "trigger_ms": p["durationMs"].get("triggerExecution", 0),
                "add_batch_ms": p["durationMs"].get("addBatch", 0),
                "planning_ms": p["durationMs"].get("queryPlanning", 0),
                "wal_ms": p["durationMs"].get("walCommit", 0),
                "offsets_ms": p["durationMs"].get("latestOffset", 0),
                "rows": p["numInputRows"],
            }
            for p in q.recentProgress
            if p["numInputRows"]
        ]
        # edge rows of the turns this wave carried: the rows that changed
        detail["rows_changed"] = sum(
            n for row, n in want.items() if (row[3], row[4]) in wave_keys
        )
        return table_edges(sink_dir) == want

    ctx.timed("drain", drain, check_stream, cycle=-1, warm=True)
    ctx.report["drain_rows"] = base_ev.num_rows

    # --- warm-up 3 (traced runs): graph queries over the catalog the cold
    # build wrote ----------------------------------------------------------
    queries: dict = {}
    if ctx.traced:
        ctx.report["query_params"] = params = graph_params(ctx.seed, catalog)
        tables = open_tables(ctx, catalog, GRAPH_TABLES)
        queries = graph_queries(tables, params)
    expected = reference_pass(ctx, SERVE, queries)
    order = query_rng(ctx.seed)

    # --- measured window: each cycle is one streaming wave of new and
    # edited turns, then a zero-pending resume of the batch index (then, in
    # traced runs, the graph queries) --------------------------------------
    ctx.start_window()
    stream_ev = base_ev
    t_window = time.perf_counter()
    cycle = 0
    while True:
        appended = gen.appended_events(ctx.seed, stream_ev, cycle)
        before = Counter(k[0] for k in gen.turn_keys(stream_ev))
        stream_ev = pa.concat_tables([stream_ev, appended])
        gen.write(
            appended, os.path.join(stream_events, f"append-{cycle:05d}.parquet")
        )
        convs = sorted({gen.conv_of(u) for u in appended["user_id"].to_pylist()})
        new_turns = duck_transcripts(
            stream_events,
            "WHERE "
            + " OR ".join(
                f"(conv_id = '{c}' AND turn_idx >= {before[c]})" for c in convs
            ),
        )
        edits = gen.redeliveries(ctx.seed, base_ev, cycle)
        wave = pa.concat_tables([new_turns, edits])
        gen.write(wave, os.path.join(src, f"wave-{cycle:05d}.parquet"))
        wave_keys.clear()
        wave_keys.update(zip(wave["conv_id"].to_pylist(),
                             wave["turn_idx"].to_pylist()))
        for row in [r for r in want if (r[3], r[4]) in wave_keys]:
            del want[row]
        want.update(oracle_edges_of(wave))
        ctx.timed("wave", drain, check_stream, cycle)
        ctx.report.setdefault("wave_rows", []).append(wave.num_rows)
        ctx.timed(
            "noop",
            lambda: pipeline.run(
                spark, transcripts(), alias, catalog, embed=True
            ),
            check_noop,
            cycle,
        )
        if queries:
            # every run() rewrites vertices: re-open before querying
            tables.update(open_tables(ctx, catalog, GRAPH_TABLES))
        checked_pass(
            ctx, SERVE, queries, expected, query_order(order, queries), cycle
        )
        cycle += 1
        if not ctx.more(t_window, cycle):
            break
    ctx.cycles = cycle
    ctx.end_window()


# ---------------------------------------------------------------------------
# curate: the near-dup / cleaning / text-stats batch operators (and, in
# traced runs, the search queries)
# ---------------------------------------------------------------------------

# one operator or more from each of corpus.py, dedup.py, ann.py and
# textstats.py; corpus_clean runs dedup.minhash_lsh_pairs inside it
CURATE_OPS = (
    "corpus_clean",
    "dedup_exact",
    "simhash_pairs",
    "near_dup_lsh",
    "text_stats",
)
SEARCH_OPS = (
    "cosine_topk",
    "text_search",
    "hybrid_search",
    "ann_lsh_topk",
    "ivf_topk",
)
GRAPH_OPS = ("bfs", "bfs_calls", "callers", "callees", "fetch_node",
             "search_nodes")
QUERY_OPS = GRAPH_OPS + SEARCH_OPS


def curate(ctx: Ctx) -> None:
    from grepai_spark import ann, corpus, dedup, synth

    spark = ctx.spark
    data = ctx.path("curate_data")
    gen.write(
        gen.documents(ctx.seed, CURATE_DOCS),
        os.path.join(data, "documents.parquet"),
    )
    vectors = gen.embeddings(ctx.seed, CURATE_VECTORS)
    gen.write(vectors, os.path.join(data, "embeddings.parquet"))
    gen.write(
        gen.events(ctx.seed, CURATE_EVENTS),
        os.path.join(data, "events.parquet", "part-00000.parquet"),
    )
    # the transcripts input table, stored once as parquet, as in stores.py
    t_path = ctx.path("transcripts")
    gen.write(
        duck_transcripts(os.path.join(data, "events.parquet")),
        os.path.join(t_path, "part-00000.parquet"),
    )
    docs = synth.read_parallel(spark, os.path.join(data, "documents.parquet"))
    emb = synth.read_parallel(spark, os.path.join(data, "embeddings.parquet"))
    turns = synth.read_parallel(spark, t_path)
    text_stats = _text_stats_op()
    ops = {
        "corpus_clean": lambda: corpus.corpus_clean(docs),
        "dedup_exact": lambda: dedup.dedup_exact(turns),
        "simhash_pairs": lambda: dedup.simhash_pairs(docs),
        "near_dup_lsh": lambda: ann.near_dup_lsh_pairs(emb),
        "text_stats": lambda: text_stats(docs),
    }

    queries = search_queries(ctx, docs, emb, vectors) if ctx.traced else {}

    # warm-up pass: JIT, and the reference results every later pass matches
    expected = reference_pass(ctx, "curate", ops)
    expected.update(reference_pass(ctx, SERVE, queries))

    order, qorder = random.Random(ctx.seed), query_rng(ctx.seed)
    ctx.start_window()
    t_window = time.perf_counter()
    cycle = 0
    while True:
        names = list(CURATE_OPS)
        order.shuffle(names)
        checked_pass(ctx, "curate", ops, expected, names, cycle)
        checked_pass(
            ctx, SERVE, queries, expected, query_order(qorder, queries), cycle
        )
        cycle += 1
        if not ctx.more(t_window, cycle):
            break
    ctx.cycles = cycle
    ctx.end_window()


def search_queries(ctx: Ctx, docs, emb, vectors: pa.Table) -> dict:
    """The search and ANN top-k query ops over the curate inputs."""
    from grepai_spark import ann, search
    from pyspark.sql import functions as F

    # the search plane's tables, built once and held in memory as a query
    # service holds them: documents with their vectors, the embeddings with
    # their sign-LSH bucket (the layout ann.write_lsh_bucketed stores) and
    # the IVF centroid table
    docs_vec = docs.join(
        emb.select(F.col("vec_id").alias("doc_id"), "embedding"), "doc_id"
    ).localCheckpoint(eager=True)
    lsh_store = emb.withColumn(
        "bucket", F.expr(ann.bucket_sql("embedding"))
    ).localCheckpoint(eager=True)
    centroids = ann.ivf_centroids(emb).localCheckpoint(eager=True)
    qvec = gen.query_vector(ctx.seed, vectors)
    words = gen.query_words(ctx.seed)
    ctx.report["query_params"] = {"words": words}
    return {
        "cosine_topk": lambda: search.cosine_topk(emb, qvec, TOP_K),
        "text_search": lambda: search.text_search(docs, words, TOP_K),
        "hybrid_search": lambda: search.hybrid_search(
            docs_vec, words, qvec, TOP_K
        ),
        "ann_lsh_topk": lambda: ann.ann_lsh_topk_store(
            lsh_store, qvec, TOP_K
        ),
        "ivf_topk": lambda: ann.ivf_topk(
            emb, qvec, TOP_K, centroids=centroids
        ),
    }


def _text_stats_op():
    """The fused lang-ID + quality + token-count + fingerprint projection
    ``__spark_entry__.queries()`` registers as ``text_stats``."""
    import __spark_entry__

    return __spark_entry__._text_stats_select


WORKLOADS = {"index": index, "curate": curate}


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def _is_query(op: Op) -> bool:
    return op.kind.startswith(SERVE + ".")


def _per_cycle(ops: list[Op], attr: str = "wall_s") -> list[float]:
    """Per cycle, the sum of ``attr`` over its batch ops (queries apart)."""
    by: dict[int, float] = {}
    for op in ops:
        if not _is_query(op):
            by[op.cycle] = by.get(op.cycle, 0.0) + getattr(op, attr)
    return list(by.values())


def _query_walls(ops: list[Op], name: str | None = None) -> list[float]:
    kind = f"{SERVE}.{name}"
    return [
        o.wall_s for o in ops if _is_query(o) and (name is None or o.kind == kind)
    ]


def end_to_end(ctx: Ctx, setup_s: float) -> dict:
    return {
        "setup_s": (setup_s, "s"),
        "cycle_s": (stats.median(_per_cycle(ctx.ops)), "s"),
    }


def _queries_per_s(ops: list[Op]) -> float:
    """Completed queries per second of query wall: every query's latency
    counts, unlike a median over a few query types."""
    walls = _query_walls(ops)
    return len(walls) / sum(walls) if walls else 0.0


def named_report(ctx: Ctx, workload: str, setup_s: float, rss: float) -> dict:
    """The workload's own end-to-end figures, by the names its docs use."""
    ops = ctx.ops
    attempted = len(ops) + len(ctx.warm)
    failed = sum(not o.ok for o in ops + ctx.warm)
    queries = _query_walls(ops)
    out = {
        "setup_s": setup_s,
        "setup_cpu_s": ctx.setup_cpu_s,
        "cycle_cpu_s": stats.median(_per_cycle(ops, "cpu_s")),
        "error_rate": failed / attempted if attempted else 0.0,
        "peak_rss_mb": rss,
    }
    if queries:
        out["query_p50_s"] = stats.median(queries)
        out["query_tail"] = stats.tail_percentile(queries)
        out["queries_per_s"] = _queries_per_s(ops)

    def walls(kind):
        return [o.wall_s for o in ops if o.kind == kind]

    if workload == "index":
        cold = [o for o in ctx.warm if o.kind == "cold"]
        if cold and cold[0].wall_s:
            out["build_turns_per_s"] = ctx.report["input_turns"] / cold[0].wall_s
        out["resume_noop_s"] = stats.median(walls("noop"))
        drained = ctx.report["drain_rows"] + sum(ctx.report.get("wave_rows", []))
        drain_wall = sum(
            o.wall_s for o in ctx.warm + ops if o.kind in ("drain", "wave")
        )
        out["stream_turns_per_s"] = drained / drain_wall if drain_wall else 0.0
        trig = [
            p["trigger_ms"] / 1000.0
            for o in ctx.warm + ops
            if o.kind in ("drain", "wave")
            for p in o.detail.get("progress", [])
        ]
        out["microbatch_p50_s"] = stats.median(trig)
    else:
        out["curate_pass_s"] = stats.median(_per_cycle(ops))
    return out


def _span_measures(g: dict, wall_s: float, n: int) -> dict:
    return {
        "wall_s": (wall_s / n, "s"),
        "jobs": (g.get("jobs", 0) / n, "count"),
        "exec_s": (g.get("exec_s", 0.0) / n, "s"),
        "shuffle_mb": (
            (g.get("shuffle_read_mb", 0.0) + g.get("shuffle_write_mb", 0.0)) / n,
            "MB",
        ),
    }


def per_layer(ctx: Ctx, summary: dict, setup_summary: dict, totals: dict) -> dict:
    """Per-layer metrics of a traced run; every name on every workload (0
    where the workload does not run the layer). Window figures are per
    cycle so runs with different cycle counts compare; ``cold.*`` figures
    are the set-up cold build's."""
    import evlog

    n = max(ctx.cycles, 1)
    m: dict[str, tuple[float, str]] = {}
    cold = ctx.report.get("cold_spans", {})
    for prefix, names, groups, walls, per in (
        ("", spans.WINDOW_SPANS, summary, totals, n),
        ("cold.", spans.STAGE_SPANS, setup_summary, cold, 1),
    ):
        for span in names:
            wall = walls.get(span, {}).get("wall_s", 0.0)
            for k, v in _span_measures(groups.get(span, {}), wall, per).items():
                if k == "wall_s" or span not in spans.LAZY_SPANS:
                    m[f"{prefix}{span}.{k}"] = v

    # the stream sink's merge: rows rewritten per edge row that changed
    written = summary.get(spans.SCOPE_SPAN, {}).get("records_written", 0)
    changed = sum(
        o.detail.get("rows_changed", 0) for o in ctx.ops if o.kind == "wave"
    )
    m["storage.rewrite_ratio"] = (written / changed if changed else 0.0, "ratio")
    prog = [
        p
        for o in ctx.ops
        if o.kind == "wave"
        for p in o.detail.get("progress", [])
    ]
    for key, name in (
        ("add_batch_ms", "stream.add_batch_ms"),
        ("planning_ms", "stream.planning_ms"),
        ("wal_ms", "stream.wal_ms"),
        ("offsets_ms", "stream.offsets_ms"),
        ("rows", "stream.rows_per_batch"),
    ):
        vals = [p[key] for p in prog]
        m[name] = (
            stats.median(vals) if vals else 0.0,
            "count" if key == "rows" else "ms",
        )

    for name in CURATE_OPS:
        walls = [o.wall_s for o in ctx.ops if o.kind == f"curate.{name}"]
        g = summary.get(f"curate.{name}", {})
        m[f"curate.{name}.s"] = (stats.median(walls), "s")
        m[f"curate.{name}.shuffle_mb"] = (
            (g.get("shuffle_read_mb", 0.0) + g.get("shuffle_write_mb", 0.0))
            / max(len(walls), 1),
            "MB",
        )
    for name in QUERY_OPS:
        walls = _query_walls(ctx.ops, name)
        g = summary.get(f"{SERVE}.{name}", {})
        m[f"{SERVE}.{name}.p50_s"] = (stats.median(walls), "s")
        m[f"{SERVE}.{name}.jobs"] = (g.get("jobs", 0) / max(len(walls), 1), "count")

    tot = evlog.total(
        {g: r for g, r in summary.items() if g != CHECK_SPAN}
    )
    m["engine.exec_s"] = (tot["exec_s"] / n, "s")
    m["engine.cpu_s"] = (tot["cpu_s"] / n, "s")
    m["engine.gc_s"] = (ctx.window_gc_ms / 1000.0 / n, "s")
    m["engine.jit_ms"] = (ctx.window_jit_ms / n, "ms")
    m["engine.shuffle_write_mb"] = (tot["shuffle_write_mb"] / n, "MB")
    m["engine.spill_mb"] = (tot["spill_mb"] / n, "MB")
    m["engine.jobs"] = (tot["jobs"] / n, "count")
    m["engine.tasks"] = (tot["tasks"] / n, "count")
    m["engine.task_skew"] = (tot["task_skew"], "ratio")
    m["setup.jit_ms"] = (ctx.setup_jit_ms, "ms")
    # the traced run's own cycle figures: tracing overhead is their ratio
    # to the untraced run's, minus 1
    m["traced.cycle_s"] = (stats.median(_per_cycle(ctx.ops)), "s")
    m["traced.cycle_cpu_s"] = (stats.median(_per_cycle(ctx.ops, "cpu_s")), "s")
    return m
