"""Change-event log sources.

The reference's two producers (SURVEY.md §2.1):
  S1 watch  — tail the change stream        → `stream_event_log` (readStream
              file source in per-partition offset order; checkpointed offsets
              are the resume-token analog, watch_producer.go:106-134)
  S3 replay — snapshot scan → insert events → `operators.build_insert_envelope`
              over a batch read of the base table (replay_producer.go:17-67)

Fetch hints (S6: BatchSize / MaxAwaitTime, watch_producer.go:74-77) map to
maxFilesPerTrigger / trigger interval. Retry & reconnect (S7/S8) are Spark
built-ins: task retries + restart-from-checkpoint.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENT_SCHEMA_DDL = (
    "partition_id int, commit_seq bigint, op string, repo string, path string, "
    "commit string, lang string, content_raw string, offset bigint"
)


def event_schema() -> T.StructType:
    return T.StructType.fromDDL(EVENT_SCHEMA_DDL)


def read_event_log(spark: SparkSession, path: str, *, explicit_schema: bool = False) -> DataFrame:
    """Batch read of an event-log directory (or one chunk of it).

    explicit_schema=False infers per-file schema so pre-evolution chunks
    genuinely lack the `lang` column and the engine's schema-evolution path
    is exercised; True reads with the full superset schema (missing columns
    → null)."""
    if explicit_schema:
        return spark.read.schema(event_schema()).parquet(path)
    return spark.read.option("mergeSchema", "true").parquet(path)


def stream_event_log(
    spark: SparkSession,
    path: str,
    *,
    max_files_per_trigger: int = 1,
    latest_first: bool = False,
) -> DataFrame:
    """Streaming tail of the event log (watch mode, S1).

    File source processes files in arrival order; maxFilesPerTrigger is the
    cursor BatchSize analog (S6). The streaming checkpoint stores which files
    were consumed = the resume token (S4): restart with the same
    checkpointLocation resumes exactly after the last committed batch.
    The schema always declares the optional partial-update column
    `patch_mask` (operators/patch.py): files written without it read NULL,
    and a NULL mask means a full row, so `LakeTable.merge` picks each
    batch's route from the rows themselves."""
    schema = event_schema().add("patch_mask", T.ArrayType(T.StringType()))
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .option("latestFirst", str(latest_first).lower())
        .option("recursiveFileLookup", "true")
        .parquet(path)
    )


def start_position(
    *,
    at: int | None = None,
    delay_seconds: float | None = None,
    now=None,
) -> int | None:
    """S5/start-at resolution (service/mongo.go:68-82): where to begin
    consuming the change stream, as epoch SECONDS.

    Precedence mirrors the reference switch exactly: an explicit operation
    time T (> 0) beats a delay; a delay (> 0) resolves to now - delay;
    otherwise None (start at the current tip). `now` is the injectable clock
    seam (returns epoch seconds), like the reference's `time.Now` variable.
    """
    if at is not None and at > 0:
        return int(at)
    if delay_seconds is not None and delay_seconds > 0:
        clock = now or time.time
        return int(clock() - delay_seconds)
    return None


def events_from_position(
    events: DataFrame, position: int | None, *, ts_col: str = "commit_seq"
) -> DataFrame:
    """Apply a start position to an event DataFrame: keep events at or after
    the resolved operation time (Mongo StartAtOperationTime includes T
    itself). position=None is the no-op tail start."""
    if position is None:
        return events
    return events.filter(F.col(ts_col) >= F.lit(position))
