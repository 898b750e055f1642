"""LakeTable merge semantics: exactly-once, tombstones, bucket pruning,
compaction. Analog of the reference's delivery guarantees
(/root/reference/internal/kafka/client.go:25-63)."""

import os

from pyspark.sql import functions as F

from kafka_mongo_watcher_spark.plans.lake import LakeTable

BATCH_COLS = (
    "partition_id int, offset bigint, op string, repo string, path string, "
    "commit string, lang string, content string, content_sha256 string, commit_seq bigint"
)


def _batch(spark, rows):
    return spark.createDataFrame(rows, BATCH_COLS)


def _row(op, repo, path, seq, content="c", offset=None):
    return (0, offset if offset is not None else seq, op, repo, path,
            f"commit{seq}", "py", content, f"sha{seq}", seq)


def _state(table):
    return {
        (r["repo"], r["path"]): (r["commit"], r["content"])
        for r in table.snapshot().collect()
    }


def test_insert_update_delete_roundtrip(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    t.merge(_batch(spark, [_row("insert", "r", "p", 1), _row("insert", "r", "q", 2)]),
            source_id="s", batch_id=0)
    assert _state(t) == {("r", "p"): ("commit1", "c"), ("r", "q"): ("commit2", "c")}

    t.merge(_batch(spark, [_row("update", "r", "p", 3, content="c2"),
                           _row("delete", "r", "q", 4)]), source_id="s", batch_id=1)
    assert _state(t) == {("r", "p"): ("commit3", "c2")}
    # tombstone row retained internally for cross-batch LWW
    tomb = t.read_buckets(include_tombstones=True).filter(F.col("is_deleted")).collect()
    assert len(tomb) == 1 and tomb[0]["path"] == "q"


def test_batch_id_fencing_skips_replayed_epoch(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    b = _batch(spark, [_row("insert", "r", "p", 1)])
    s1 = t.merge(b, source_id="s", batch_id=0)
    v = t.version
    s2 = t.merge(b, source_id="s", batch_id=0)  # foreachBatch crash-replay
    assert not s1["skipped"] and s2["skipped"]
    assert t.version == v


def test_reapply_without_fencing_is_idempotent(spark, tmp_path):
    """Even with fencing bypassed (fresh source_id), LWW makes re-apply a
    no-op on state — the idempotent-MERGE half of exactly-once."""
    t = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    b = _batch(spark, [_row("insert", "r", "p", 1), _row("update", "r", "p", 2, "c2"),
                       _row("delete", "r", "x", 3)])
    t.merge(b, source_id="a", batch_id=0)
    before = _state(t)
    t.merge(b, source_id="b", batch_id=0)
    assert _state(t) == before


def test_overlapping_batches_converge(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    t.merge(_batch(spark, [_row("insert", "r", "p", 1), _row("update", "r", "p", 2, "v2")]),
            source_id="a", batch_id=0)
    # overlap: repeats seq 2, adds seq 3
    t.merge(_batch(spark, [_row("update", "r", "p", 2, "v2"), _row("update", "r", "p", 3, "v3")]),
            source_id="b", batch_id=0)
    assert _state(t) == {("r", "p"): ("commit3", "v3")}


def test_delete_then_resurrect(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    t.merge(_batch(spark, [_row("insert", "r", "p", 1)]), source_id="s", batch_id=0)
    t.merge(_batch(spark, [_row("delete", "r", "p", 2)]), source_id="s", batch_id=1)
    assert _state(t) == {}
    t.merge(_batch(spark, [_row("insert", "r", "p", 3, "born-again")]), source_id="s", batch_id=2)
    assert _state(t) == {("r", "p"): ("commit3", "born-again")}


def test_stale_update_loses_to_newer_target(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    t.merge(_batch(spark, [_row("update", "r", "p", 10, "new")]), source_id="a", batch_id=0)
    t.merge(_batch(spark, [_row("update", "r", "p", 5, "old")]), source_id="b", batch_id=0)
    assert _state(t) == {("r", "p"): ("commit10", "new")}


def test_bucket_pruning_untouched_files_carried_over(spark, tmp_path):
    """A merge touching one key must not touch other buckets' files: base
    files are carried over untouched and only the key's bucket gains a
    delta file (3% of buckets touched ⇒ 3% of delta chains grow)."""
    t = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=16)
    rows = [_row("insert", f"r{i}", f"p{i}", i + 1) for i in range(40)]
    t.merge(_batch(spark, rows), source_id="s", batch_id=0)
    t.compact()
    buckets, before = dict(t.manifest["buckets"]), dict(t.manifest["deltas"])
    t.merge(_batch(spark, [_row("update", "r0", "p0", 100, "upd")]), source_id="s", batch_id=1)
    assert t.manifest["buckets"] == buckets
    after = t.manifest["deltas"]
    changed = [b for b in after if before.get(b) != after[b]]
    assert changed == [str(t.bucket_of("r0", "p0"))]
    assert _state(t)[("r0", "p0")] == ("commit100", "upd")


def test_compact_purges_tombstones_preserves_state(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    rows = [_row("insert", f"r{i}", "p", i + 1) for i in range(10)]
    t.merge(_batch(spark, rows), source_id="s", batch_id=0)
    t.merge(_batch(spark, [_row("delete", "r0", "p", 100), _row("delete", "r1", "p", 101)]),
            source_id="s", batch_id=1)
    before = _state(t)
    t.compact()
    assert _state(t) == before
    assert t.read_buckets(include_tombstones=True).filter(F.col("is_deleted")).count() == 0
    # one file per non-empty bucket after compaction
    assert all(len(v) == 1 for v in t.manifest["buckets"].values())


def test_empty_table_snapshot(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    assert t.snapshot().count() == 0


def test_lookup_bucket_pruned_point_read(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=16)
    rows = [_row("insert", f"r{i}", f"p{i}", i + 1) for i in range(30)]
    t.merge(_batch(spark, rows), source_id="s", batch_id=0)
    got = t.lookup("r7", "p7").collect()
    assert len(got) == 1 and got[0]["commit"] == "commit8"
    assert t.lookup("nope", "nope").count() == 0
    # pruning: the scan must touch exactly one bucket's files
    files = t.lookup("r7", "p7")._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryFileIndex(1 paths)" in files or "1 paths" in files
