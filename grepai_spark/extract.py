"""Stage 1 — EXTRACT: per-turn mention detection + tool-invocation triples.

Reinterprets the reference's regex symbol/reference extractor
(/root/reference/trace/extractor.go:39-208, patterns trace/patterns.go:33-58)
for transcripts:

* the ``tool`` column is an explicit invocation -> one
  (role)-[:calls]->(tool) row per non-empty tool turn, mirroring CallEdge
  construction (/root/reference/trace/store.go:194-204). The *containing
  function* of the reference (trace/extractor.go:945-960) degenerates to the
  turn's ``role`` — the speaker — so no boundary scan is needed.
* in-text entity mentions are found by ONE vectorized pandas UDF holding the
  compiled alias automaton: a single pass over each Arrow batch of ``text``,
  no per-row Python dispatch from Spark's side. This is the analog of
  RegexExtractor.ExtractAll (/root/reference/trace/extractor.go:768).

Scale notes: the UDF is a narrow map — no shuffle; detection cost is
O(batch * automaton). The alias dictionary ships via SparkContext.broadcast
(the task command pickles only the handle), each worker unpickles it ONCE
into its broadcast registry, and the matcher binds through the module-level
memo in grepai_spark.automaton — so at a 10^6-alias production dictionary a
worker pays one automaton build per dictionary version, not one per task.
Output explodes to at most len(dict-entities-present) rows per turn.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)


def call_triples(transcripts: DataFrame) -> DataFrame:
    """(role)-[:calls]->(tool) per turn with a non-empty tool.

    Pure projection + filter — stays in whole-stage codegen, the filter pushes
    down to the scan. Ref semantics: trace/store.go:194-204 (refs with a
    resolved caller become CallEdges).
    """
    return transcripts.where(
        F.col("tool").isNotNull() & (F.col("tool") != "")
    ).select(
        F.col("role").alias("subj"),
        F.lit("calls").alias("pred"),
        F.col("tool").alias("obj"),
        "conv_id",
        "turn_idx",
        F.lit(1.0).cast("float").alias("weight"),
    )


_MENTION_ELEM = StructType(
    [
        StructField("mention", StringType()),
        StructField("pos", IntegerType()),
        StructField("kind", StringType()),
    ]
)

# Driver-side broadcast memo: one broadcast per (SparkContext, dictionary
# content) — bench repeats and per-micro-batch detector construction reuse
# the shipped payload instead of re-broadcasting it every call.
_BROADCASTS: dict[tuple[str, str], object] = {}


def _broadcast_payload(data: dict):
    from pyspark.sql import SparkSession

    from grepai_spark.automaton import AliasPayload, _content_key

    spark = SparkSession.getActiveSession()
    sc = spark.sparkContext
    key = (
        sc.applicationId,
        _content_key(tuple(f"{k}\x01{data[k]}" for k in sorted(data))),
    )
    bc = _BROADCASTS.get(key)
    if bc is None:
        bc = sc.broadcast(AliasPayload(data))
        if len(_BROADCASTS) > 32:
            _BROADCASTS.clear()
        _BROADCASTS[key] = bc
    return bc

# P5/P6 analog — the reference drops regex matches inside string/comment
# regions via a byte mask (/root/reference/trace/extractor.go:540-702). The
# transcript equivalent: mentions inside ``` code fences are not matches.
# Fenced spans are replaced by a single space (not stripped) so word
# boundaries at the seams stay intact; `pos` remains the first LITERAL
# occurrence in the ORIGINAL text, mirroring the oracle's strpos.
FENCE_RE = re.compile(r"```.*?```", re.S)
FENCE_MASK_SQL = {
    # balanced fences only; both engines replace ALL matches
    "spark": lambda col: f"regexp_replace({col}, '(?s)```.*?```', ' ')",
    "duckdb": lambda col: f"regexp_replace({col}, '```.*?```', ' ', 'gs')",
}


def mask_fences(text: str) -> str:
    """Python twin of FENCE_MASK_SQL (used by the golden oracle and UDF)."""
    return FENCE_RE.sub(" ", text) if "```" in text else text


def _make_mention_detector(kinds: dict[str, str]):
    """Build the Arrow-batched detector for a fixed alias -> kind dict.

    Detection = word-boundary presence (like the reference's regex extractor);
    ``pos`` = 1-based first literal occurrence (0 if boundary-matched but not
    found literally — cannot happen for \\w+ aliases). ``kind`` comes from
    the broadcast payload, not a driver-side create_map literal — a 10^6-entry
    map expression would bloat the plan; the broadcast dict stays off-plan.

    Matching is two-regime (automaton.matcher_for): a memmem-gated per-alias
    loop for small alias sets (microbenched fastest, PERF.md §8), an
    Aho-Corasick single-pass automaton above AUTOMATON_CUTOFF entries — a
    production dictionary of 10^4-10^6 aliases must not pay O(|dict|) scans
    per turn. The dict ships by broadcast; the matcher builds once per worker
    process via the module memo (see automaton.py).
    """
    if not kinds:
        @F.pandas_udf(ArrayType(_MENTION_ELEM))
        def detect_none(texts: pd.Series) -> pd.Series:
            return pd.Series([[] for _ in range(len(texts))])

        return detect_none

    bc = _broadcast_payload(dict(kinds))

    @F.pandas_udf(ArrayType(_MENTION_ELEM))
    def detect(texts: pd.Series) -> pd.Series:
        payload = bc.value  # one unpickle per worker (broadcast registry)
        matcher = payload.matcher()  # module-memoized: one build per worker
        kind_of = payload.data
        out = []
        empty: list[dict] = []
        # Per-batch memo (r7): detection is a pure function of the text and
        # duplicate texts are the norm (the content-hash cache exists for
        # the same reason — ~26% distinct at sf0.01), so each distinct text
        # is matched once per batch. Batch-scoped on purpose: memory stays
        # bounded by the Arrow batch even when every text is unique.
        memo: dict[str, list[dict]] = {}
        for text in texts.fillna(""):
            found = memo.get(text)
            if found is None:
                if not text:
                    found = empty
                else:
                    # P5/P6: detection runs on the fence-masked text; pos
                    # reports the first literal occurrence in the ORIGINAL
                    # text (the same split the SQL oracle makes).
                    masked = mask_fences(text)
                    found = [
                        {
                            "mention": a,
                            "pos": text.find(a) + 1,
                            "kind": kind_of[a],
                        }
                        for a in matcher(masked)
                    ] or empty
                memo[text] = found
            out.append(found)
        return pd.Series(out)

    return detect


def detect_mentions(transcripts: DataFrame, alias_dict: DataFrame) -> DataFrame:
    """Explode each turn into (conv_id, turn_idx, role, mention, pos, kind) rows.

    ``entity`` and ``action`` aliases are searched in text; tool invocations
    come from the explicit ``tool`` column (see call_triples). The alias list
    is collected to the driver once (it is a small broadcast-side dimension by
    design — the reference holds it fully in memory too, rpg/indexer.go:527).
    """
    # r7: the dict is read through the loaded-dimension cache — the previous
    # shape ran a distinct-shuffle job (~0.4 s) plus a collect on EVERY call
    # to dedupe and filter a broadcast-side dimension; one collect per
    # session now serves every detector build, and the dict comprehension
    # dedupes/filters the rows for free (alias -> kind unique by design)
    from grepai_spark.dimcache import cached_rows

    kinds = {
        r["alias"]: r["kind"]
        for r in cached_rows(alias_dict)
        if r["kind"] in ("entity", "action")
    }
    detect = _make_mention_detector(kinds)
    return transcripts.select(
        "conv_id",
        "turn_idx",
        "role",
        F.explode(detect(F.col("text"))).alias("m"),
    ).select(
        "conv_id",
        "turn_idx",
        "role",
        F.col("m.mention").alias("mention"),
        F.col("m.pos").alias("pos"),
        F.col("m.kind").alias("kind"),
    )


_EDGE_ELEM = StructType(
    [StructField("pred", StringType()), StructField("obj", StringType())]
)


def turn_edges(payload):
    """The one per-turn edge derivation: ``edges(text, tool)`` -> the
    turn's edge fragments ``[{"pred", "obj"}]``.

    A ``tool`` that is not NULL and not ``''`` is one ``calls`` edge
    (extract.call_triples' rule, ref trace/store.go:194-204); the text's
    aliases with a word-boundary occurrence outside ``` fences give the
    sorted distinct canonical ``(pred, entity_id)`` pairs (the per-turn
    distinct that replaced a dropDuplicates shuffle). ``payload`` is an
    :class:`~grepai_spark.automaton.AliasPayload` over alias -> (pred,
    entity_id); its matcher is the two-regime one (memmem loop small,
    Aho-Corasick large, automaton.matcher_for).

    The edge-detector UDF (:func:`make_edge_detector`) runs it over each
    Arrow batch on a worker, and the stream runs it over a micro-batch it
    holds on the driver (streaming.incremental_kg_edges), so both derive
    the same rows. Each returned function memoizes per distinct text (r7:
    duplicate texts are the norm, ~26% distinct at sf0.01); take one per
    batch so the memo stays bounded by the batch.
    """
    matcher = payload.matcher()  # module-memoized: one build per process
    amap = payload.data
    memo: dict[str | None, list[dict]] = {}

    def edges(text: str | None, tool: str | None) -> list[dict]:
        found = memo.get(text)
        if found is None:
            found = memo[text] = [
                {"pred": p, "obj": o}
                for p, o in sorted(
                    {amap[a] for a in matcher(mask_fences(text))}
                    if text
                    else ()
                )
            ]
        return [{"pred": "calls", "obj": tool}, *found] if tool else found

    return edges


def make_edge_detector(alias_map: dict[str, tuple[str, str]]):
    """Arrow-batched detector emitting CANONICAL edge fragments directly:
    (text, tool) -> the turn's [(pred, obj)], calls edge included
    (:func:`turn_edges` per row).

    `alias_map`: alias -> (pred, entity_id), the dictionary-scale product of
    linking + canonicalization, shipped to executors by SparkContext.broadcast
    (the reference's in-memory symbol maps, rpg/indexer.go:527; the task
    command pickles only the broadcast handle). Fusing the per-turn dedup
    here makes the ENTIRE kg_edges derivation a single narrow map — no
    shuffle, no second pass. The matcher is built once per worker via
    automaton.matcher_for.
    """
    bc = _broadcast_payload(dict(alias_map))

    @F.pandas_udf(ArrayType(_EDGE_ELEM))
    def detect_edges(texts: pd.Series, tools: pd.Series) -> pd.Series:
        # one unpickle per worker (broadcast registry), one memo per batch
        edges = turn_edges(bc.value)
        return pd.Series(
            [edges(x, t) for x, t in zip(texts.fillna(""), tools.fillna(""))]
        )

    return detect_edges


CHUNK_CHARS = 2048  # 512 tokens x 4 chars/token (ref: indexer/chunker.go:11-15)
CHUNK_OVERLAP = 200  # 50 tokens x 4


def chunk_turns(
    transcripts: DataFrame,
    win: int = CHUNK_CHARS,
    overlap: int = CHUNK_OVERLAP,
) -> DataFrame:
    """Optional C1 analog: overlapping char windows over long turns
    (/root/reference/indexer/chunker.go:59-131). A turn is the natural unit
    for the KG pipeline; this exists for embedding very long turns. Pure
    posexplode + substring — narrow, codegen, no shuffle."""
    step = win - overlap
    n = (
        f"CASE WHEN length(text) <= {win} THEN 1 "
        f"ELSE CAST(ceil((length(text) - {win}) / CAST({step} AS DOUBLE)) AS INT) + 1 END"
    )
    exploded = transcripts.select(
        "conv_id",
        "turn_idx",
        "text",
        F.posexplode(F.expr(f"sequence(0, {n} - 1)")).alias("chunk_idx", "_i"),
    )
    return exploded.select(
        "conv_id",
        "turn_idx",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.expr(f"substring(text, chunk_idx * {step} + 1, {win})").alias(
            "chunk_text"
        ),
        F.expr(
            f"sha2(substring(text, chunk_idx * {step} + 1, {win}), 256)"
        ).alias("chunk_hash"),
    )


def chunk_turns_oracle_sql(
    transcripts_rel: str,
    win: int = CHUNK_CHARS,
    overlap: int = CHUNK_OVERLAP,
) -> str:
    step = win - overlap
    n = (
        f"CASE WHEN length(text) <= {win} THEN 1 "
        f"ELSE CAST(ceil((length(text) - {win}) / CAST({step} AS DOUBLE)) AS INT) + 1 END"
    )
    return f"""
WITH t AS ({transcripts_rel}),
e AS (
  SELECT conv_id, turn_idx, text,
         unnest(range(0, {n})) AS chunk_idx
  FROM t
)
SELECT conv_id, turn_idx, CAST(chunk_idx AS INT) AS chunk_idx,
       substr(text, CAST(chunk_idx AS INT) * {step} + 1, {win}) AS chunk_text,
       sha256(substr(text, CAST(chunk_idx AS INT) * {step} + 1, {win})) AS chunk_hash
FROM e
""".strip()


def mentions_oracle_sql(transcripts_rel: str, dialect: str) -> str:
    """Equivalent SQL (runs on Spark or DuckDB): join against the inline alias
    dictionary with a word-boundary regex — same semantics as the UDF."""
    from grepai_spark.synth import alias_dict_values_sql

    masked = FENCE_MASK_SQL[dialect]("t.text")
    if dialect == "spark":
        # NOT '\b': Java's \b is Unicode-aware (a non-ASCII letter next to
        # the alias suppresses the boundary) while the detector and RE2 are
        # ASCII-only — explicit ASCII lookarounds keep all three engines
        # agreeing on unicode-flanked aliases (tests/test_mentions_dialect).
        boundary = (
            f"{masked} rlike concat('(?<![0-9A-Za-z_])', d.alias,"
            f" '(?![0-9A-Za-z_])')"
        )
        strpos = "instr(t.text, d.alias)"
    else:
        # RE2's \b is ASCII-only (and RE2 has no lookarounds), so \b IS the
        # detector's predicate here.
        boundary = f"regexp_matches({masked}, '\\b' || d.alias || '\\b')"
        strpos = "strpos(t.text, d.alias)"
    return f"""
SELECT t.conv_id, t.turn_idx, t.role, d.alias AS mention,
       CAST({strpos} AS INT) AS pos, d.kind
FROM ({transcripts_rel}) t
JOIN {alias_dict_values_sql()} ON d.kind IN ('entity', 'action') AND {boundary}
""".strip()
