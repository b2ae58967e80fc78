"""DuckDB oracle SQL builders for the KG pipeline queries.

Each function returns ANSI SQL that DuckDB runs over the driver's parquet
views (region/nation/.../events/documents/embeddings). They re-derive the same
results as the Spark operators through an INDEPENDENT declarative path — e.g.
connected components via a recursive CTE instead of large-star/small-star.
"""

from __future__ import annotations

from grepai_spark.naming import (
    first_token_sql,
    jaccard_sql,
    norm_key_sql,
    norm_tokens_sql,
)
from grepai_spark.synth import alias_dict_values_sql, transcripts_sql

# The driver registers `events` as a view; transcripts derive from it.
TRANSCRIPTS_REL = transcripts_sql("events", "duckdb")


def call_triples_oracle() -> str:
    return f"""
SELECT role AS subj, 'calls' AS pred, tool AS obj, conv_id, turn_idx,
       CAST(1.0 AS FLOAT) AS weight
FROM ({TRANSCRIPTS_REL}) t
WHERE tool <> ''
""".strip()


def mentions_oracle() -> str:
    from grepai_spark.extract import mentions_oracle_sql

    return mentions_oracle_sql(TRANSCRIPTS_REL, "duckdb")


def link_exact_oracle() -> str:
    return f"""
SELECT m.conv_id, m.turn_idx, m.role, m.mention, m.pos, m.kind, d2.canonical_id
FROM ({mentions_oracle()}) m
LEFT JOIN {alias_dict_values_sql().replace(' AS d(', ' AS d2(')} ON m.mention = d2.alias
""".strip()


def _norm_dict_cte(lsh: bool = False, dict_rel: str | None = None) -> str:
    """`nd` + `sim` CTEs: the alias dictionary with normalized tokens and
    the similarity edge set — via the first-token block (the reference's
    verb blocking, default) or the MinHash-LSH banding (`lsh=True`, the
    north rule's scale prefilter). The LSH replay uses the IDENTICAL
    md5-keyed minhash as the Spark side (link.minhash_link_sql), so the
    candidate set — including the deterministic per-bucket cap — matches
    bucket-for-bucket, not just in aggregate. `dict_rel` overrides the
    fixture dictionary (the dialect-parity tests drive hostile dicts
    through the same replay)."""
    toks = norm_tokens_sql("alias", "duckdb")
    blk = first_token_sql("alias", "duckdb")
    if lsh:
        from grepai_spark.link import (
            LSH_BANDS,
            LSH_BUCKET_CAP,
            LSH_ROWS,
            minhash_link_sql,
        )

        keys = ", ".join(
            "'{b}|' || {parts}".format(
                b=bnd,
                parts=" || '|' || ".join(
                    minhash_link_sql(
                        "norm_tokens", bnd * LSH_ROWS + r, "duckdb"
                    )
                    for r in range(LSH_ROWS)
                ),
            )
            for bnd in range(LSH_BANDS)
        )
        sim = f"""
banded AS (
  SELECT alias, canonical_id, norm_tokens,
         unnest([{keys}]) AS band_key
  FROM nd WHERE len(norm_tokens) > 0
),
capped AS (
  SELECT *, row_number() OVER (PARTITION BY band_key ORDER BY alias) AS rn
  FROM banded
),
sim AS (
  SELECT DISTINCT a.canonical_id AS src, b.canonical_id AS dst
  FROM capped a JOIN capped b ON a.band_key = b.band_key
  WHERE a.alias < b.alias AND a.canonical_id <> b.canonical_id
    AND a.rn <= {LSH_BUCKET_CAP} AND b.rn <= {LSH_BUCKET_CAP}
    AND {jaccard_sql('a.norm_tokens', 'b.norm_tokens', 'duckdb')} >= 0.5
)""".strip()
    else:
        sim = f"""
capped AS (
  SELECT *, row_number() OVER (PARTITION BY block ORDER BY alias) AS rn FROM nd
),
sim AS (
  SELECT DISTINCT a.canonical_id AS src, b.canonical_id AS dst
  FROM capped a JOIN capped b ON a.block = b.block
  WHERE a.alias < b.alias AND a.canonical_id <> b.canonical_id
    AND a.rn <= 100 AND b.rn <= 100
    AND {jaccard_sql('a.norm_tokens', 'b.norm_tokens', 'duckdb')} >= 0.5
)""".strip()
    return f"""
nd AS (
  SELECT alias, canonical_id, kind, {toks} AS norm_tokens, {blk} AS block
  FROM {dict_rel or alias_dict_values_sql()}
),
{sim}
""".strip()


def alias_sim_edges_oracle(
    lsh: bool = False, dict_rel: str | None = None
) -> str:
    return f"WITH {_norm_dict_cte(lsh, dict_rel)} SELECT src, dst FROM sim"


def _canonical_map_ctes(lsh: bool = False) -> str:
    """Recursive-CTE connected components over the sim graph:
    entity_id(c) = min id reachable from c."""
    return f"""
{_norm_dict_cte(lsh)},
bidir AS (
  SELECT src AS a, dst AS b FROM sim
  UNION SELECT dst AS a, src AS b FROM sim
),
canon AS (SELECT DISTINCT canonical_id FROM nd),
reach AS (
  SELECT canonical_id AS a, canonical_id AS b FROM canon
  UNION
  SELECT r.a, e.b FROM reach r JOIN bidir e ON r.b = e.a
),
comp AS (
  SELECT a AS canonical_id, min(b) AS entity_id FROM reach GROUP BY a
)
""".strip()


def canonical_map_oracle(lsh: bool = False) -> str:
    return f"WITH RECURSIVE {_canonical_map_ctes(lsh)} SELECT canonical_id, entity_id FROM comp"


def kg_edges_oracle(lsh: bool = False) -> str:
    """Full-pipeline oracle: calls ∪ canonicalized mention triples. With
    `lsh=True` the canonicalization replays the MinHash-LSH-prefiltered
    linking path instead of the first-token blocking."""
    return f"""
WITH RECURSIVE {_canonical_map_ctes(lsh)}
SELECT DISTINCT * FROM (
  SELECT role AS subj, 'calls' AS pred, tool AS obj, conv_id, turn_idx,
         CAST(1.0 AS FLOAT) AS weight
  FROM ({TRANSCRIPTS_REL}) t WHERE tool <> ''
  UNION ALL
  SELECT m.role AS subj,
         CASE WHEN nd.kind = 'action' THEN 'does' ELSE 'mentions' END AS pred,
         comp.entity_id AS obj,
         m.conv_id, m.turn_idx, CAST(1.0 AS FLOAT) AS weight
  FROM ({mentions_oracle()}) m
  JOIN nd ON m.mention = nd.alias
  JOIN comp ON nd.canonical_id = comp.canonical_id
) u
""".strip()


def kg_vertices_oracle() -> str:
    # aliases serialized: the driver's canonicalizer can't hash list cells
    return f"""
WITH RECURSIVE {_canonical_map_ctes()}
SELECT comp.entity_id,
       min(nd.alias) AS canonical_name,
       min(nd.kind) AS kind,
       array_to_string(list_sort(list_distinct(list(nd.alias))), ',') AS aliases
FROM nd JOIN comp ON nd.canonical_id = comp.canonical_id
GROUP BY comp.entity_id
""".strip()


def _edges_sub() -> str:
    """kg_edges as a parenthesized subquery (CTEs nest fine in DuckDB)."""
    return f"({kg_edges_oracle()})"


def callers_oracle(name: str, pred: str = "calls") -> str:
    return f"""
SELECT subj AS caller, count(*) AS n_calls
FROM {_edges_sub()} e
WHERE pred = '{pred}' AND obj = '{name}'
GROUP BY subj ORDER BY caller
""".strip()


def callees_oracle(name: str, pred: str = "calls") -> str:
    return f"""
SELECT obj AS callee, count(*) AS n_calls
FROM {_edges_sub()} e
WHERE pred = '{pred}' AND subj = '{name}'
GROUP BY obj ORDER BY callee
""".strip()


def graph_neighbors_oracle(
    callee_of: str, caller_of: str, pred: str = "calls"
) -> str:
    """G1 + G2 as one relation: callers of `callee_of` tagged dir='caller',
    callees of `caller_of` tagged dir='callee'."""
    return f"""
SELECT 'caller' AS dir, caller AS node, n_calls
FROM ({callers_oracle(callee_of, pred)}) c1
UNION ALL
SELECT 'callee' AS dir, callee AS node, n_calls
FROM ({callees_oracle(caller_of, pred)}) c2
""".strip()


def bfs_oracle(
    seed: str,
    hub_cap: int = 1000,
    direction: str = "both",
    preds: list[str] | None = None,
) -> str:
    """Depth-2 BFS with the hub-degree expansion guard; direction and
    edge-type filters mirror graphq.bfs (G4 Explore, ref rpg/query.go:276-392)."""
    where = ""
    if preds:
        plist = ", ".join(f"'{p}'" for p in preds)
        where = f" WHERE pred IN ({plist})"
    fwd = "SELECT subj AS a, obj AS b FROM eg"
    rev = "SELECT obj AS a, subj AS b FROM eg"
    if direction == "fwd":
        dirs = fwd
    elif direction == "rev":
        dirs = rev
    else:
        dirs = f"{fwd}\n    UNION {rev}"
    return f"""
WITH eg AS (SELECT subj, obj FROM {_edges_sub()} e{where}),
adj AS (
  SELECT DISTINCT a, b FROM (
    {dirs}
  ) x WHERE a <> b
),
deg AS (SELECT a, count(*) AS d FROM adj GROUP BY a),
adj_ok AS (SELECT adj.* FROM adj JOIN deg USING (a) WHERE deg.d <= {hub_cap}),
d0 AS (SELECT '{seed}' AS node),
d1 AS (
  SELECT DISTINCT b AS node FROM adj_ok WHERE a = '{seed}'
  AND b NOT IN (SELECT node FROM d0)
),
d2 AS (
  SELECT DISTINCT ao.b AS node
  FROM d1 JOIN adj_ok ao ON ao.a = d1.node
  WHERE ao.b NOT IN (SELECT node FROM d0 UNION SELECT node FROM d1)
)
SELECT node, CAST(0 AS INT) AS depth FROM d0
UNION ALL SELECT node, 1 FROM d1
UNION ALL SELECT node, 2 FROM d2
ORDER BY depth, node
""".strip()


def feature_freq_oracle(n: int = 10) -> str:
    return f"""
SELECT mention, cnt, rank FROM (
  SELECT mention, count(*) AS cnt,
         CAST(row_number() OVER (ORDER BY count(*) DESC, mention) AS INT) AS rank
  FROM ({mentions_oracle()}) m GROUP BY mention
) x WHERE rank <= {n}
""".strip()


def verb_object_features_oracle() -> str:
    from grepai_spark.naming import verb_object_sql

    vo = verb_object_sql("mention", "duckdb")
    return f"""
SELECT {vo} AS feature, count(*) AS cnt
FROM ({mentions_oracle()}) m
GROUP BY feature ORDER BY feature
""".strip()


def modal_cluster_oracle() -> str:
    blk = first_token_sql("mention", "duckdb")
    return f"""
SELECT conv_id, cluster, cnt FROM (
  SELECT conv_id, cluster, cnt,
         row_number() OVER (PARTITION BY conv_id
                            ORDER BY cnt DESC, cluster) AS rn
  FROM (
    SELECT conv_id, {blk} AS cluster, count(*) AS cnt
    FROM ({mentions_oracle()}) m GROUP BY conv_id, {blk}
  ) c
) r WHERE rn = 1
""".strip()


def index_stats_oracle() -> str:
    return f"""
SELECT * FROM (
  SELECT count(DISTINCT conv_id) AS n_convs, count(*) AS n_turns,
         CAST(sum(CASE WHEN tool <> '' THEN 1 ELSE 0 END) AS BIGINT) AS n_tool_turns,
         max(ts) AS last_ts
  FROM ({TRANSCRIPTS_REL}) t
) a CROSS JOIN (
  SELECT count(*) AS n_edges, count(DISTINCT pred) AS n_preds
  FROM {_edges_sub()} e
) b
""".strip()


def tool_hierarchy_oracle() -> str:
    return f"""
SELECT str_split(tool, '.')[1] AS area, tool,
       count(*) AS n_calls, count(DISTINCT conv_id) AS n_convs
FROM ({TRANSCRIPTS_REL}) t WHERE tool <> ''
GROUP BY area, tool ORDER BY area, tool
""".strip()


def cluster_mentions_oracle() -> str:
    blk = first_token_sql("mention", "duckdb")
    key = norm_key_sql("mention", "duckdb")
    return f"""
SELECT {blk} AS cluster, {key} AS norm_key, count(*) AS cnt
FROM ({mentions_oracle()}) m
GROUP BY cluster, norm_key ORDER BY cluster, norm_key
""".strip()


def search_nodes_oracle(
    qtokens: list[str],
    k: int = 10,
    scopes: list[str] | None = None,
    glob_regex: str | None = None,
    glob_core: str | None = None,
) -> str:
    extra = ""
    if scopes:
        blk = first_token_sql("canonical_name", "duckdb")
        key = norm_key_sql("canonical_name", "duckdb")
        # COALESCE each segment to '' — matches Spark's NULL-safe path
        # builder (graphq._seg); bare || would NULL the whole path.
        fp = (
            f"COALESCE(kind, '') || '/' || COALESCE({blk}, '')"
            f" || '/' || COALESCE({key}, '')"
        )
        ors = " OR ".join(
            f"starts_with(lower({fp}), '{s.strip().lower()}')"
            for s in scopes
            if s.strip()
        )
        extra += f" AND ({ors})"
    if glob_regex:
        g = f"regexp_matches(canonical_name, '{glob_regex}')"
        if glob_core:
            g += f" OR strpos(canonical_name, '{glob_core}') > 0"
        extra += f" AND ({g})"
    toks = "[" + ", ".join(f"'{t}'" for t in qtokens) + "]"
    inner = norm_tokens_sql("a", "duckdb")
    return f"""
WITH RECURSIVE {_canonical_map_ctes()},
verts AS (
  SELECT comp.entity_id, min(nd.alias) AS canonical_name,
         min(nd.kind) AS kind,
         list_sort(list_distinct(list(nd.alias))) AS aliases
  FROM nd JOIN comp ON nd.canonical_id = comp.canonical_id
  GROUP BY comp.entity_id
),
scored AS (
  SELECT entity_id, canonical_name, kind,
         round(CAST(len(list_intersect(node_tokens, {toks})) AS DOUBLE)
               / len(list_distinct(list_concat(node_tokens, {toks}))), 6) AS score
  FROM (
    SELECT entity_id, canonical_name, kind,
           list_distinct(flatten(list_transform(
             list_concat([canonical_name], aliases), a -> {inner}))) AS node_tokens
    FROM verts
  ) v
)
SELECT entity_id, canonical_name, score FROM scored
WHERE score > 0{extra}
ORDER BY score DESC, entity_id
LIMIT {k}
""".strip()


def _vec_literal(v: list[float]) -> str:
    return "[" + ", ".join(f"{x!r}" for x in v) + "]"


def cosine_topk_oracle(query_vec: list[float], k: int) -> str:
    """Explicit double-precision sequential dot product (same fold order as
    Spark's aggregate(zip_with(...)))."""
    q = _vec_literal(query_vec)
    return f"""
SELECT vec_id,
       round(list_sum(list_apply(list_zip(embedding, {q}),
                      x -> CAST(x[1] AS DOUBLE) * x[2])), 6) AS score
FROM embeddings
ORDER BY score DESC, vec_id
LIMIT {k}
""".strip()


def text_search_oracle(qtokens: list[str], k: int) -> str:
    toks = "[" + ", ".join(f"'{t}'" for t in qtokens) + "]"
    return f"""
SELECT doc_id, score FROM (
  SELECT doc_id,
         round(CAST(len(list_intersect(
             list_distinct(regexp_split_to_array(lower(text), '[^0-9a-z]+')),
             {toks})) AS DOUBLE) / {float(len(qtokens))}, 6) AS score
  FROM documents
) s WHERE score > 0
ORDER BY score DESC, doc_id
LIMIT {k}
""".strip()


def hybrid_search_oracle(
    query_vec: list[float],
    qtokens: list[str],
    limit: int,
    rrf_k: int = 60,
    boost_patterns: list[tuple[str, float]] | None = None,
) -> str:
    fetch = limit * 4
    vec_sql = cosine_topk_oracle(query_vec, fetch)
    txt_sql = text_search_oracle(qtokens, fetch)
    boost = "1.0"
    for pat, f_ in boost_patterns or []:
        boost += f" * (CASE WHEN strpos(d.source, '{pat}') > 0 THEN {f_} ELSE 1.0 END)"
    return f"""
WITH vec_list AS (
  SELECT vec_id AS doc_id, row_number() OVER (ORDER BY score DESC, vec_id) AS rank
  FROM ({vec_sql}) v
),
txt_list AS (
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
  FROM ({txt_sql}) t
),
fused AS (
  SELECT doc_id, round(sum(1.0 / ({rrf_k} + rank)), 6) AS score
  FROM (SELECT * FROM vec_list UNION ALL SELECT * FROM txt_list) u
  GROUP BY doc_id
),
boosted AS (
  SELECT f.doc_id, d.source, round(f.score * ({boost}), 6) AS score
  FROM fused f JOIN documents d ON f.doc_id = d.doc_id
),
deduped AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY source
                                 ORDER BY score DESC, doc_id) AS rn
    FROM boosted
  ) x WHERE rn = 1
)
SELECT doc_id, source, score FROM deduped
ORDER BY score DESC, doc_id
LIMIT {limit}
""".strip()


def embed_cache_stats_oracle() -> str:
    return f"""
SELECT CAST(count(*) AS BIGINT) AS n_turns,
       CAST(count(DISTINCT sha256(text)) AS BIGINT) AS n_distinct_texts
FROM ({TRANSCRIPTS_REL}) t
""".strip()


def co_invocation_oracle(min_cooccur: int = 2, hub_cap: int = 50) -> str:
    return f"""
WITH calls AS (
  SELECT DISTINCT conv_id, tool
  FROM ({TRANSCRIPTS_REL}) t WHERE tool <> ''
),
fanout AS (
  SELECT conv_id, count(*) AS n_tools FROM calls GROUP BY conv_id
),
small AS (
  SELECT c.* FROM calls c JOIN fanout f
  ON c.conv_id = f.conv_id AND f.n_tools <= {hub_cap}
)
SELECT a.tool AS subj, 'co_invoked' AS pred, b.tool AS obj,
       '*' AS conv_id, CAST(-1 AS INT) AS turn_idx,
       CAST(count(*) AS FLOAT) AS weight
FROM small a JOIN small b
  ON a.conv_id = b.conv_id AND a.tool < b.tool
GROUP BY a.tool, b.tool
HAVING count(*) >= {min_cooccur}
""".strip()


def mention_tool_overlap_oracle(window: int = 2) -> str:
    return f"""
WITH m AS (SELECT conv_id, turn_idx AS m_turn, mention FROM ({mentions_oracle()}) mm),
c AS (
  SELECT conv_id, turn_idx AS t_turn, tool
  FROM ({TRANSCRIPTS_REL}) t WHERE tool <> ''
)
SELECT m.conv_id, m.m_turn, m.mention, c.t_turn, c.tool,
       CAST(abs(c.t_turn - m.m_turn) AS INT) AS dist
FROM m JOIN c ON m.conv_id = c.conv_id
 AND c.t_turn BETWEEN m.m_turn - {window} AND m.m_turn + {window}
""".strip()


def conv_comention_oracle(
    hub_cap_min: int = 50, hub_cap_factor: float = 2.0
) -> str:
    """Corpus-relative hub cap: max(hub_cap_min, factor x median fan-out) —
    quantile_cont is DuckDB's exact interpolating percentile, the same
    definition as Spark's `percentile` aggregate."""
    return f"""
WITH RECURSIVE {_canonical_map_ctes()},
ment AS (
  SELECT DISTINCT comp.entity_id AS entity, m.conv_id
  FROM ({mentions_oracle()}) m
  JOIN nd ON m.mention = nd.alias AND nd.kind <> 'action'
  JOIN comp ON nd.canonical_id = comp.canonical_id
),
fanout AS (SELECT entity, count(*) AS n_convs FROM ment GROUP BY entity),
med AS (SELECT quantile_cont(n_convs, 0.5) AS med FROM fanout),
small AS (
  SELECT m.* FROM ment m JOIN fanout f ON m.entity = f.entity
  CROSS JOIN med
  WHERE f.n_convs <= greatest(CAST({hub_cap_min} AS DOUBLE),
                              {hub_cap_factor} * med.med)
)
SELECT a.conv_id AS subj, 'mentions_with' AS pred, b.conv_id AS obj,
       CAST(count(*) AS FLOAT) AS weight
FROM small a JOIN small b
  ON a.entity = b.entity AND a.conv_id < b.conv_id
GROUP BY a.conv_id, b.conv_id
""".strip()


def drift_placements_oracle(threshold: float = 0.35) -> str:
    """W3 drift-gated re-placement (ref rpg/evolver.go:179-231,325-345):
    old = even-turn mentions, new = all mentions; placement moves only when
    1 - Jaccard(old feature words, new feature words) >= threshold."""
    from grepai_spark.naming import verb_object_sql

    vo = verb_object_sql("mention", "duckdb")
    blk = first_token_sql("mention", "duckdb")
    return f"""
WITH m AS (SELECT * FROM ({mentions_oracle()}) mm),
old_m AS (SELECT * FROM m WHERE turn_idx % 2 = 0),
wo AS (
  SELECT conv_id,
         list_sort(list_distinct(flatten(list(str_split({vo}, '-'))))) AS ow
  FROM old_m GROUP BY conv_id
),
wn AS (
  SELECT conv_id,
         list_sort(list_distinct(flatten(list(str_split({vo}, '-'))))) AS nw
  FROM m GROUP BY conv_id
),
d AS (
  SELECT COALESCE(wo.conv_id, wn.conv_id) AS conv_id,
         round(CASE
           WHEN COALESCE(len(wo.ow), 0) = 0 AND COALESCE(len(wn.nw), 0) = 0 THEN 0.0
           WHEN COALESCE(len(wo.ow), 0) = 0 OR COALESCE(len(wn.nw), 0) = 0 THEN 1.0
           ELSE 1.0 - CAST(len(list_intersect(wo.ow, wn.nw)) AS DOUBLE)
                      / len(list_distinct(list_concat(wo.ow, wn.nw)))
         END, 6) AS drift
  FROM wo FULL OUTER JOIN wn ON wo.conv_id = wn.conv_id
),
oc AS (
  SELECT conv_id, cluster FROM (
    SELECT conv_id, cluster, row_number() OVER (PARTITION BY conv_id
                                                ORDER BY cnt DESC, cluster) AS rn
    FROM (SELECT conv_id, {blk} AS cluster, count(*) AS cnt
          FROM old_m GROUP BY conv_id, {blk}) c
  ) r WHERE rn = 1
),
nc AS (
  SELECT conv_id, cluster FROM (
    SELECT conv_id, cluster, row_number() OVER (PARTITION BY conv_id
                                                ORDER BY cnt DESC, cluster) AS rn
    FROM (SELECT conv_id, {blk} AS cluster, count(*) AS cnt
          FROM m GROUP BY conv_id, {blk}) c
  ) r WHERE rn = 1
)
SELECT nc.conv_id,
       CASE WHEN oc.cluster IS NULL OR d.drift >= {threshold}
            THEN nc.cluster ELSE oc.cluster END AS cluster,
       COALESCE(d.drift, 1.0) AS drift,
       (oc.cluster IS NULL OR d.drift >= {threshold}) AS replaced
FROM nc
LEFT JOIN oc ON nc.conv_id = oc.conv_id
LEFT JOIN d ON nc.conv_id = d.conv_id
""".strip()


def fetch_node_oracle(entity_id: str, preview_len: int = 200) -> str:
    blk = first_token_sql("v.canonical_name", "duckdb")
    key = norm_key_sql("v.canonical_name", "duckdb")
    return f"""
WITH e AS (SELECT * FROM {_edges_sub()} ee),
v AS ({kg_vertices_oracle()}),
inc AS (
  SELECT 'out' AS dir, pred, obj AS neighbor, weight FROM e WHERE subj = '{entity_id}'
  UNION ALL
  SELECT 'in' AS dir, pred, subj AS neighbor, weight FROM e WHERE obj = '{entity_id}'
),
g AS (
  SELECT dir, pred, neighbor, count(*) AS n,
         round(sum(weight), 6) AS w
  FROM inc GROUP BY dir, pred, neighbor
)
SELECT g.dir, g.pred, g.neighbor, g.n, g.w, v.canonical_name, v.kind,
       COALESCE(v.kind, '') || ' > ' || COALESCE({blk}, '')
         || ' > ' || COALESCE({key}, '') AS parent_chain,
       COALESCE((
         SELECT substr(t.text, 1, {preview_len})
         FROM e JOIN ({TRANSCRIPTS_REL}) t
           ON e.conv_id = t.conv_id AND e.turn_idx = t.turn_idx
         WHERE e.obj = '{entity_id}' AND e.conv_id <> '*'
         ORDER BY e.conv_id, e.turn_idx LIMIT 1
       ), '') AS preview
FROM g CROSS JOIN (SELECT canonical_name, kind FROM v WHERE entity_id = '{entity_id}') v
ORDER BY g.dir, g.pred, g.neighbor
""".strip()


def enrich_area_labels_oracle(top_n: int = 3) -> str:
    return f"""
WITH t AS (
  SELECT str_split(tool, '.')[1] AS area, str_split(tool, '.')[2] AS short
  FROM ({TRANSCRIPTS_REL}) tt WHERE tool <> '' AND strpos(tool, '.') > 0
),
counts AS (SELECT area, short, count(*) AS n_calls FROM t GROUP BY area, short),
top AS (
  SELECT *, row_number() OVER (PARTITION BY area
                               ORDER BY n_calls DESC, short) AS rn
  FROM counts
)
SELECT area,
       area || ': ' || string_agg(short, ', ' ORDER BY rn) AS label,
       CAST(sum(n_calls) AS BIGINT) AS n_calls_top
FROM top WHERE rn <= {top_n}
GROUP BY area
""".strip()


def area_summaries_oracle(top_n: int = 3) -> str:
    return f"""
SELECT area,
       'Provides ' || area || ' responsibilities for ' ||
       regexp_replace(label, '^[^:]*: ', '') || '.' AS summary
FROM ({enrich_area_labels_oracle(top_n)}) e
""".strip()


def chunk_turns_oracle() -> str:
    from grepai_spark.extract import chunk_turns_oracle_sql

    return chunk_turns_oracle_sql(TRANSCRIPTS_REL)


def feature_paths_oracle() -> str:
    blk = first_token_sql("canonical_name", "duckdb")
    key = norm_key_sql("canonical_name", "duckdb")
    return f"""
WITH RECURSIVE {_canonical_map_ctes()},
v AS (
  SELECT comp.entity_id,
         min(nd.alias) AS canonical_name,
         min(nd.kind) AS kind
  FROM nd JOIN comp ON nd.canonical_id = comp.canonical_id
  GROUP BY comp.entity_id
)
SELECT entity_id,
       COALESCE(kind, '') || '/' || COALESCE({blk}, '')
         || '/' || COALESCE({key}, '') AS feature_path
FROM v
""".strip()


def pruned_vertices_oracle() -> str:
    return f"""
WITH RECURSIVE {_canonical_map_ctes()},
v AS (
  SELECT comp.entity_id,
         min(nd.alias) AS canonical_name,
         min(nd.kind) AS kind,
         array_to_string(list_sort(list_distinct(list(nd.alias))), ',') AS aliases
  FROM nd JOIN comp ON nd.canonical_id = comp.canonical_id
  GROUP BY comp.entity_id
),
ep AS (
  SELECT subj AS entity_id FROM {_edges_sub()} e1
  UNION SELECT obj FROM {_edges_sub()} e2
)
SELECT v.* FROM v WHERE v.entity_id IN (SELECT entity_id FROM ep)
""".strip()
