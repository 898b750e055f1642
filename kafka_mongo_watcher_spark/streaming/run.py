"""Structured Streaming wrapper: tail the event log → MERGE per micro-batch.

This is the watch-mode lifecycle (SURVEY.md §3.1) re-expressed:
  readStream(event log)                    — S1 change-stream tail
  → transform_events (pandas-UDF pipeline) — F6/F7/F8/F9 Transformer stage
  → foreachBatch(apply)                    — K1 keyed produce ⇒ LWW MERGE
  → checkpointLocation                     — S4 resume tokens

Exactly-once: Spark replays an uncommitted epoch with identical data after a
crash; `LakeTable.merge` fences on (source_id, batch_id) and is itself an
idempotent LWW union, so re-delivery is a no-op — the Spark analog of the
reference's drain-before-close at-least-once producer upgraded to
exactly-once (/root/reference/internal/kafka/client.go:57-63).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from kafka_mongo_watcher_spark.operators.envelope import (
    quarantine_malformed,
    transform_events,
)
from kafka_mongo_watcher_spark.plans.lake import LakeTable
from kafka_mongo_watcher_spark.sources.events import stream_event_log


def run_replay_stream(
    spark: SparkSession,
    *,
    log_dir: str,
    table_path: str,
    checkpoint_dir: str,
    source_id: str = "watch",
    max_files_per_trigger: int = 1,
    stop_after_batches: int | None = None,
    metrics_sink: list | None = None,
    handle_signals: bool = False,
    dlq_dir: str | None = None,
    suppress_stale: bool = False,
) -> list:
    """Run the streaming apply until the log is drained (availableNow) or
    until `stop_after_batches` epochs committed (resume-test hook).
    Returns the per-batch merge stats (lineage + counts).

    `handle_signals=True` (CLI mode, main thread only) installs SIGINT/
    SIGTERM handlers that stop the query and return normally — the K5
    graceful-shutdown parity (/root/reference/cmd/watcher/main.go:41-51:
    signal → context cancel → producer drain → clean disconnect, exit 0).
    The Spark analog: query.stop() ends the stream; an epoch interrupted
    mid-merge is NOT in the manifest's applied map, so the next start
    replays it identically from the checkpoint (drain-before-close
    at-least-once, upgraded to exactly-once by batch-id fencing).

    `dlq_dir` routes malformed events (null/empty key columns) to a
    dead-letter parquet table with per-row reject reasons instead of
    silently dropping them — overwrite-per-epoch, so checkpoint replays
    never duplicate reject rows.

    `suppress_stale=True` inserts the stateful cross-batch suppressor
    (`streaming.stateful.suppress_stale`) between the source and the sink:
    events that already lost LWW to an earlier epoch are dropped before the
    merge path. Final table state is identical either way (tested); the
    flag pays one extra keyed shuffle per batch to skip merge work on
    re-delivered / out-of-order feeds."""
    stats: list = metrics_sink if metrics_sink is not None else []
    stop_requested = {"flag": False}

    def apply_batch(batch_df, epoch_id: int):
        table = LakeTable(spark, table_path)  # refresh snapshot pointer
        src = batch_df
        if dlq_dir is not None:
            # Dead-letter sink (transformer.go:19-23 skip → auditable table):
            # rejects land in a per-epoch parquet dir BEFORE the merge;
            # overwrite-per-epoch makes a replayed epoch rewrite the same
            # reject rows instead of appending duplicates (same fencing idea
            # as the manifest's applied map). ~0 rows in healthy streams; the
            # valid side's plan is the filter transform_events would apply.
            from pyspark.sql import functions as _F

            valid, rejects = quarantine_malformed(batch_df)
            (
                rejects.withColumn("epoch", _F.lit(epoch_id))
                .write.mode("overwrite")
                .parquet(f"{dlq_dir}/epoch={epoch_id}")
            )
            src = valid
        prepared = transform_events(src, fingerprint=False)
        s = table.merge(prepared, source_id=source_id, batch_id=epoch_id)
        s["epoch"] = epoch_id
        stats.append(s)

    events = stream_event_log(spark, log_dir, max_files_per_trigger=max_files_per_trigger)
    if suppress_stale:
        from kafka_mongo_watcher_spark.streaming.stateful import (
            suppress_stale as _suppress,
        )

        events = _suppress(events)
    q = (
        events.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    restore: dict = {}
    if handle_signals:
        import signal

        def _on_signal(signum, frame):  # noqa: ARG001
            stop_requested["flag"] = True
            try:
                q.stop()
            except Exception:  # noqa: BLE001 — already stopping/stopped
                pass

        for s in (signal.SIGINT, signal.SIGTERM):
            restore[s] = signal.signal(s, _on_signal)
    try:
        if stop_after_batches is None:
            try:
                q.awaitTermination()
            except Exception:
                # a signal-initiated stop can surface as a
                # StreamingQueryException from the interrupted epoch; that
                # epoch is uncommitted and will replay from the checkpoint
                if not stop_requested["flag"]:
                    raise
        else:
            import time

            while q.isActive:
                committed = len([s for s in stats if not s.get("skipped")])
                if committed >= stop_after_batches:
                    q.stop()
                    break
                time.sleep(0.05)
            q.awaitTermination()
    finally:
        if q.isActive:
            q.stop()
        if restore:
            import signal

            for s, h in restore.items():
                signal.signal(s, h)
    return stats


def run_dimension_stream(
    spark: SparkSession,
    *,
    log_dir: str,
    dim_path: str,
    checkpoint_dir: str,
    source_id: str = "dim",
    max_files_per_trigger: int = 1,
    attr_cols: tuple = ("content_sha256", "lang"),
    n_buckets: int = 16,
    on_late: str = "raise",
    write_mode: str = "cow",
    compact_every: int = 0,
) -> list:
    """Maintain a type-2 SCD dimension of the watched collection as a
    STREAMING consumer: readStream(event log) → transform (fingerprint) →
    Scd2Store.apply_batch per epoch (plans/scd2_store.py), keyed
    (repo, path), ordered by commit_seq, with op='delete' closing the key.

    This is the warehouse-side complement of run_replay_stream: the lake
    table answers "current state", the dimension answers "state at time T"
    (store.snapshot_at).  Exactly-once the same way: Spark replays an
    uncommitted epoch identically from the checkpoint and the store's
    `applied` fence makes the replay a no-op.

    Precondition: the log must be delivered in per-key commit_seq order
    across epochs (true for a change-stream tail — the reference's oplog
    cursor is time-ordered, watch_producer.go — and for replay fixtures
    written in commit ranges).  Out-of-order feeds either fail loudly
    (on_late='raise', default — from inside the plan) or drop late events
    (on_late='drop'); per-key ordering WITHIN one epoch is always handled.
    Returns per-epoch commit stats.

    ``compact_every`` (MOR mode): run `store.compact()` after every N
    COMMITTED epochs — the steady-state maintenance cadence that keeps the
    delta chain short and refreshes the per-bucket SEED files, so each
    apply folds against O(keys) rows instead of the accumulated version
    history (plans/scd2_store.py seed-split). 0 disables; compaction
    commits don't advance the `applied` fence, so a crash between an apply
    and its compaction replays safely."""
    from pyspark.sql import functions as F

    from kafka_mongo_watcher_spark.plans.scd2_store import Scd2Store

    if not os.path.exists(os.path.join(dim_path, "_latest")):
        Scd2Store.create(
            spark,
            dim_path,
            key_cols=["repo", "path"],
            order_col="commit_seq",
            attr_cols=list(attr_cols),
            tie_breakers=[],
            delete_col="is_delete",
            n_buckets=n_buckets,
            write_mode=write_mode,
        )
    stats: list = []

    def fold_batch(batch_df, epoch_id: int):
        store = Scd2Store(spark, dim_path)
        prepared = transform_events(batch_df, fingerprint=True).withColumn(
            "is_delete", F.col("op") == "delete"
        )
        s = store.apply_batch(
            prepared, source_id=source_id, batch_id=epoch_id, on_late=on_late
        )
        s["epoch"] = epoch_id
        stats.append(s)
        committed = sum(1 for x in stats if not x.get("skipped"))
        if compact_every and committed and committed % compact_every == 0 and not s.get("skipped"):
            c = store.compact()
            s["compacted_buckets"] = c.get("compacted_buckets", 0)

    events = stream_event_log(spark, log_dir, max_files_per_trigger=max_files_per_trigger)
    q = (
        events.writeStream.foreachBatch(fold_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        if q.isActive:
            q.stop()
    return stats


def run_with_retries(
    fn,
    *,
    max_retries: int = 3,
    retry_delay: float = 1.0,
    sleep=None,
    on_retry=None,
):
    """S7 retry-with-backoff on stream open/run
    (/root/reference/internal/mongo/watch_producer.go:70-102: retry the
    cursor open up to maxRetries, sleeping retryDelay between attempts).

    `fn` is the stream runner (e.g. lambda: run_replay_stream(...)); a
    successful call's result is returned. After the final failed attempt the
    last error is re-raised (the reference logs-and-gives-up; a driver
    process exits non-zero either way). `sleep` is injectable for tests.
    Restart-from-checkpoint makes re-invoking `fn` safe: committed epochs
    are fenced, uncommitted ones replay identically (exactly-once).
    """
    import time as _time

    do_sleep = sleep if sleep is not None else _time.sleep
    attempt = 0
    while True:
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 — any open/run failure retries
            if attempt >= max_retries:
                raise
            attempt += 1
            if on_retry is not None:
                on_retry(attempt, e)
            if retry_delay > 0:
                do_sleep(retry_delay)


def run_message_stream(
    spark: SparkSession,
    *,
    log_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    topic: str = "kmw-events",
    n_topic_partitions: int = 8,
    max_files_per_trigger: int = 1,
    app_name: str = "kmw-spark",
    recorder=None,
    debugger=None,
    debug_sample: int = 5,
    tracer=None,
) -> list:
    """Streaming message EMISSION — the reference's actual product surface
    (transformer → kafka producer, /root/reference/internal/app/watcher.go:
    23-42), as a lifecycle, not just the batch `to_message` projection.

    Kafka stand-in (no broker in this sandbox): each micro-batch's messages
    are written as key/value parquet under
    `out_dir/epoch=<id>/t_partition=<p>/`, where t_partition =
    pmod(xxhash64(key), n_topic_partitions) — the Kafka hash-partitioner
    (client.go:29-31). Guarantees mirrored and tested:
    - same key → same t_partition in EVERY epoch (per-document total order
      downstream, K1);
    - within one (epoch, t_partition) file messages are sorted by
      (commit_seq, offset), so reading epoch dirs in order replays each
      key's changes in order;
    - exactly-once per epoch: an epoch directory already committed (marked
      by Spark's own _SUCCESS) is skipped on checkpoint replay — the
      foreachBatch idempotence contract (a real Kafka sink is at-least-once
      + drain-before-close, client.go:57-63; the fencing here upgrades the
      file stand-in to exactly-once).
    On a real cluster swap the body for
    `msgs.selectExpr(...).write.format("kafka")` and drop the fencing.
    Returns per-epoch emission stats.

    Observability wiring (all optional, all batch-granular — never per-row
    driver callbacks):
    - `recorder` (observability.KafkaRecorder): produce/success counters
      incremented once per epoch with the Observation row count riding the
      write job (client_metric.go:23-47 counts the same things per message;
      at 10^10 events/day only the aggregate shape survives);
    - `debugger` (observability.Debugger): first `debug_sample` messages of
      each epoch fanned out to SSE clients (the reference debug tap is also
      a human-bounded sample — a 1-buffered channel);
    - `tracer` (observability.get_tracer_provider(...)): one span per epoch
      emission (otelconfluent wraps each produce; per-epoch is the Spark
      unit of produce)."""
    import os
    from contextlib import nullcontext

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from kafka_mongo_watcher_spark.functions.message import to_message

    stats: list = []

    def emit(batch_df, epoch_id: int):
        epoch_dir = os.path.join(out_dir, f"epoch={epoch_id}")
        if os.path.exists(os.path.join(epoch_dir, "_SUCCESS")):
            stats.append({"epoch": epoch_id, "skipped": True})
            return
        msgs = to_message(
            transform_events(batch_df, fingerprint=False, with_lineage=False),
            topic=topic,
            app_name=app_name,
            keep_ordering_cols=True,
        ).withColumn(
            "t_partition",
            F.pmod(F.xxhash64(F.col("key")), F.lit(n_topic_partitions)).cast("int"),
        )
        obs = Observation() if recorder is not None else None
        if obs is not None:
            msgs = msgs.observe(obs, F.count(F.lit(1)).alias("n"))
        span = (
            tracer.start_span(
                "kmw.emit_epoch", {"epoch": epoch_id, "topic": topic}
            )
            if tracer is not None and getattr(tracer, "enabled", False)
            else nullcontext()
        )
        with span:
            try:
                (
                    msgs.repartition(n_topic_partitions, "t_partition")
                    .sortWithinPartitions("t_partition", "commit_seq", "offset")
                    .write.mode("overwrite")
                    .partitionBy("t_partition")
                    .parquet(epoch_dir)
                )
            except Exception:
                if recorder is not None:
                    recorder.inc_error(topic)  # one failed produce attempt
                raise
        if recorder is not None:
            n = int(obs.get["n"])
            recorder.inc_produce(topic, n)
            recorder.inc_success(topic, n)  # parquet commit == broker ack
        if debugger is not None and debugger.enabled():
            for row in msgs.limit(debug_sample).collect():
                debugger.add({"key": row["key"], "value": row["value"]})
        stats.append({"epoch": epoch_id, "skipped": False})

    events = stream_event_log(spark, log_dir, max_files_per_trigger=max_files_per_trigger)
    q = (
        events.writeStream.foreachBatch(emit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        if q.isActive:
            q.stop()
    return stats
