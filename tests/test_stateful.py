"""Stateful cross-batch stale-event suppression (applyInPandasWithState).

The suppressor must (a) drop re-delivered / out-of-order events that already
lost LWW to an earlier epoch, (b) never change final table state, and
(c) forward malformed rows untouched so the DLQ still sees them.
"""

import os

from pyspark.sql import functions as F

from kafka_mongo_watcher_spark.datagen import generate_events, write_event_log
from kafka_mongo_watcher_spark.functions.content import (
    normalize_content_py,
    sha256_hex_py,
)
from kafka_mongo_watcher_spark.oracle import oracle_rows
from kafka_mongo_watcher_spark.plans.lake import LakeTable
from kafka_mongo_watcher_spark.sources.events import stream_event_log
from kafka_mongo_watcher_spark.streaming.run import run_replay_stream
from kafka_mongo_watcher_spark.streaming.stateful import suppress_stale

FINAL_COLS = ["repo", "path", "commit", "lang", "content_sha256"]


def _write_chunk(df, log_dir: str, name: str) -> None:
    df.repartition(1).write.mode("overwrite").parquet(os.path.join(log_dir, name))


def _collect_stream(spark, log_dir: str, ckpt: str):
    """Run the suppressor standalone: sink each epoch's surviving rows into
    a list via foreachBatch (no merge), one epoch per log file."""
    out: list = []
    events = suppress_stale(stream_event_log(spark, log_dir, max_files_per_trigger=1))
    q = (
        events.writeStream.foreachBatch(
            lambda df, eid: out.append((eid, [r.asDict() for r in df.collect()]))
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return out


def test_suppressor_drops_redelivered_and_stale_events(spark, tmp_path):
    ev = generate_events(spark, 600, malformed_per_mille=0).cache()
    lo, hi = ev.agg(F.min("commit_seq"), F.max("commit_seq")).first()
    mid = (lo + hi) // 2
    first = ev.filter(F.col("commit_seq") <= mid)
    # epoch 2 re-delivers ALL of epoch 1 (at-least-once upstream) plus the rest
    second = ev
    log = str(tmp_path / "log")
    _write_chunk(first, log, "chunk_0000")
    _write_chunk(second, log, "chunk_0001")

    epochs = _collect_stream(spark, log, str(tmp_path / "ckpt"))
    by_epoch = dict(epochs)
    n_first = first.count()
    assert len(by_epoch[0]) == n_first  # epoch 1: nothing to suppress
    # epoch 2: every re-delivered row whose key saw a (commit_seq, offset)
    # at-or-below epoch 1's per-key max is gone; survivors all beat it
    max1 = {
        (r["repo"], r["path"]): (r["commit_seq"], r["offset"])
        for r in sorted(
            by_epoch[0], key=lambda r: (r["commit_seq"], r["offset"])
        )
    }
    for r in by_epoch[1]:
        k = (r["repo"], r["path"])
        if k in max1:
            assert (r["commit_seq"], r["offset"]) > max1[k]
    # survivors ∪ epoch-1 output still contains every per-key LWW winner
    winners = {
        (r["repo"], r["path"]): (r["commit_seq"], r["offset"])
        for r in sorted(
            [x.asDict() for x in ev.collect()],
            key=lambda r: (r["commit_seq"], r["offset"]),
        )
    }
    forwarded = {
        (r["repo"], r["path"], r["commit_seq"], r["offset"])
        for _, rows in epochs
        for r in rows
    }
    for (repo, path), (seq, off) in winners.items():
        assert (repo, path, seq, off) in forwarded


PATCH_DDL = (
    "partition_id int, commit_seq bigint, op string, repo string, path string, "
    "commit string, lang string, content_raw string, offset bigint, "
    "patch_mask array<string>"
)


def _patch_log(spark, log: str):
    """One epoch per chunk: an insert, a patch writing lang, an OUT-OF-ORDER
    patch (older than the lang patch) writing content — a column no later
    event touches, so it still wins per-column LWW — and the insert
    delivered again (stale: a full row at-or-below the watermark)."""
    insert = [(0, 1, "insert", "r", "p", "c1", "py", "body1", 1, None),
              (0, 2, "insert", "r", "q", "c2", "go", "body2", 2, None)]
    chunks = [
        insert,
        [(0, 5, "update", "r", "p", None, "rs", None, 5, ["lang"])],
        [(0, 3, "update", "r", "p", None, None, "late", 3, ["content"])],
        insert,
    ]
    for i, rows in enumerate(chunks):
        _write_chunk(spark.createDataFrame(rows, PATCH_DDL), log, f"chunk_{i:04d}")
    sha = lambda raw: sha256_hex_py(normalize_content_py(raw))  # noqa: E731
    return {("r", "p", "c1", "rs", sha("late")), ("r", "q", "c2", "go", sha("body2"))}


def test_suppressed_replay_matches_plain_replay_and_oracle(spark, tmp_path):
    """Final table state with suppression == plain path == sequential oracle,
    on a log whose later chunks re-deliver earlier events, and on a patch
    log (patch rows pass the suppressor untouched)."""
    ev = generate_events(spark, 2000).cache()
    rows = [r.asDict() for r in ev.collect()]
    log = str(tmp_path / "log")
    write_event_log(ev, log, n_chunks=3)
    # chunk 3 re-delivers chunk 0's range (stale by then) — at-least-once replay
    lo, hi = ev.agg(F.min("commit_seq"), F.max("commit_seq")).first()
    step = (hi - lo + 1 + 2) // 3
    _write_chunk(
        ev.filter(F.col("commit_seq") < lo + step), log, "chunk_9999"
    )
    patch_log = str(tmp_path / "patch_log")
    patch_want = _patch_log(spark, patch_log)

    def run(log_dir: str, table_name: str, **kw):
        t = LakeTable.create(spark, str(tmp_path / table_name), n_buckets=8)
        run_replay_stream(
            spark,
            log_dir=log_dir,
            table_path=str(tmp_path / table_name),
            checkpoint_dir=str(tmp_path / f"ckpt_{table_name}"),
            **kw,
        )
        return {
            tuple(r)
            for r in t.refresh().snapshot().select(*FINAL_COLS).collect()
        }

    for log_dir, want in ((log, oracle_rows(rows)), (patch_log, patch_want)):
        name = os.path.basename(log_dir)
        plain = run(log_dir, f"{name}_plain")
        suppressed = run(log_dir, f"{name}_supp", suppress_stale=True)
        assert suppressed == plain == want, log_dir


def test_suppressor_forwards_malformed_rows(spark, tmp_path):
    """Null-key / null-ordering rows pass through so the DLQ can see them."""
    ev = generate_events(spark, 400, malformed_per_mille=80)
    n_malformed = ev.filter(
        F.col("repo").isNull()
        | F.col("path").isNull()
        | F.col("commit_seq").isNull()
        | F.col("offset").isNull()
    ).count()
    assert n_malformed > 0
    log = str(tmp_path / "log")
    _write_chunk(ev, log, "chunk_0000")
    _write_chunk(ev, log, "chunk_0001")  # full re-delivery
    epochs = _collect_stream(spark, log, str(tmp_path / "ckpt"))
    by_epoch = dict(epochs)

    def count_malformed(rows):
        return sum(
            1
            for r in rows
            if r["repo"] is None
            or r["path"] is None
            or r["commit_seq"] is None
            or r["offset"] is None
        )

    assert count_malformed(by_epoch[0]) == n_malformed
    assert count_malformed(by_epoch.get(1, [])) == n_malformed  # never suppressed
