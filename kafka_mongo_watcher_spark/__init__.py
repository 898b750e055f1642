"""kafka_mongo_watcher_spark — a PySpark-native CDC / incremental-ingest engine.

Re-imagines etf1/kafka-mongo-watcher (a Go MongoDB-oplog→Kafka relay,
/root/reference) as a Spark Structured Streaming job over a lake table of
source-code repositories:

- ordered change events (insert/update/replace/delete) with resume tokens
  modeled as per-partition offsets,
- vectorized pandas/Arrow UDF per-event transforms (content normalization +
  sha256 fingerprinting),
- last-writer-wins per (repo, path) by one per-key fold (a map-side-
  combinable aggregate, so a hot repo collapses before the shuffle; it
  equals window/row_number on full rows and applies partial updates per
  column),
- key-bucketed merge-on-read MERGE into a manifest-versioned parquet lake
  table (Iceberg jars are unavailable in this sandbox, so `plans.lake`
  implements the same snapshot/atomic-commit/merge semantics natively),
- exactly-once via idempotent LWW MERGE + batch-id fencing + checkpointed
  offsets; schema evolution by union-by-name + manifest schema updates,
- per-partition lineage & event-count metrics.

Layout:
    sources/     event-log readers (batch replay, streaming tail, snapshot)
    functions/   vectorized pandas UDFs + expression helpers
    operators/   LWW fold and dedup, envelope build/transform, filters, keep-last-N
    plans/       LakeTable: manifests, bucketed MOR merge, fencing, compact
    streaming/   foreachBatch pipeline, checkpoint resume
"""

__version__ = "0.1.0"
