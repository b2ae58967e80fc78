"""Explicit schemas for every table the pipeline reads or writes.

The reference's schema is code-defined Go structs persisted as GOB blobs
(/root/reference/store/gob.go:17-23, trace/store.go:16-29); ours are explicit
columnar schemas (Iceberg DDL in production; parquet in this sandbox).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

# The synthetic events parquet of a scale-factor directory, which synth
# derives transcripts from: exactly the types parquet inference returns for
# it (its timestamps are not UTC-adjusted, so ts reads as TIMESTAMP_NTZ).
# Declared so a load runs no schema-inference job.
EVENTS = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampNTZType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

# Authoritative input shape (BASELINE.json input_hint).
TRANSCRIPTS = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("role", StringType()),
        StructField("text", StringType()),
        StructField("tool", StringType()),
        StructField("ts", TimestampType()),
    ]
)

# Broadcast alias dictionary (entity-linking side input).
ALIAS_DICT = StructType(
    [
        StructField("alias", StringType()),
        StructField("canonical_id", StringType()),
        StructField("kind", StringType()),  # entity | tool | action
    ]
)

# Output vertex table (analog of rpg.Node, /root/reference/rpg/model.go:42-58).
VERTICES = StructType(
    [
        StructField("entity_id", StringType()),
        StructField("canonical_name", StringType()),
        StructField("kind", StringType()),
        StructField("aliases", ArrayType(StringType())),
    ]
)

# Output edge table: (subj, pred, obj) triples with provenance
# (analog of trace.CallEdge / rpg.Edge, /root/reference/trace/trace.go:58-64,
# rpg/model.go:61-67).
EDGES = StructType(
    [
        StructField("subj", StringType()),
        StructField("pred", StringType()),
        StructField("obj", StringType()),
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("weight", FloatType()),
    ]
)

# Content-hash-keyed embedding cache
# (analog of EmbeddingCache, /root/reference/store/store.go:105-109).
EMBEDDING_CACHE = StructType(
    [
        StructField("content_hash", StringType()),
        StructField("vector", ArrayType(FloatType())),
    ]
)

# Per-partition lineage / resume checkpoints (replaces mod-time + content-hash
# gates, /root/reference/indexer/indexer.go:138-164).
LINEAGE = StructType(
    [
        StructField("stage", StringType()),
        StructField("bucket", IntegerType()),
        StructField("content_hash", StringType()),
        StructField("status", StringType()),  # pending | done | failed
        StructField("rows_in", LongType()),
        StructField("rows_out", LongType()),
        StructField("updated_ts", TimestampType()),
    ]
)

# Append-only run log: one row per counter per pipeline run
# (analog of the reference's stats NDJSON, stats/recorder.go).
METRICS = StructType(
    [
        StructField("metric", StringType()),
        StructField("value", LongType()),
        StructField("run_ts", TimestampType()),
    ]
)

EMBED_DIM = 64  # test-scale dim; reference uses 768 (embedder/synthetic.go:18)
