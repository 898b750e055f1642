"""Bucket-count evolution (`rebucket`) — the Iceberg partition-spec
evolution analog, eager-rewrite flavor: one fused resolve+reshuffle commit
moves the table to a new hash-bucket count; old versions stay readable
under their own bucket count via time travel."""

import pytest
from pyspark.sql import functions as F

from kafka_mongo_watcher_spark.plans.lake import LakeTable

from tests.test_lake_mor import _batch, _row, _state


def _seed(spark, tmp_path, n_buckets=4):
    t = LakeTable.create(spark, str(tmp_path / "rb"), n_buckets=n_buckets)
    t.merge(_batch(spark, [_row("insert", "r", f"p{i}", 1) for i in range(40)]),
            source_id="s", batch_id=0)
    t.merge(_batch(spark, [
        _row("update", "r", f"p{i}", 2, "v2") for i in range(0, 40, 3)
    ] + [_row("delete", "r", "p5", 3)]), source_id="s", batch_id=1)
    return t


@pytest.mark.parametrize("new_n", [16, 2])
def test_rebucket_preserves_state_up_and_down(spark, tmp_path, new_n):
    t = _seed(spark, tmp_path)
    before = _state(t)
    stats = t.rebucket(new_n)
    assert stats["n_buckets"] == new_n
    assert t.n_buckets == new_n
    assert not t.manifest["deltas"]
    assert _state(t) == before
    # every key resolvable through the (re-derived) pruned lookup path
    assert t.lookup("r", "p7").collect()[0]["content"] == "c"
    assert t.lookup("r", "p6").collect()[0]["content"] == "v2"
    assert t.lookup("r", "p5").collect() == []  # deleted


def test_rebucket_purges_tombstones_by_default(spark, tmp_path):
    t = _seed(spark, tmp_path)
    t.rebucket(8)
    raw = t.read_buckets(include_tombstones=True)
    assert raw.filter(F.col("is_deleted")).count() == 0
    t2 = _seed(spark, tmp_path / "keep")
    t2.rebucket(8, purge_tombstones=False)
    assert t2.read_buckets(include_tombstones=True).filter(
        F.col("is_deleted")
    ).count() == 1


def test_old_versions_keep_their_own_bucket_count(spark, tmp_path):
    t = _seed(spark, tmp_path)
    v_before = t.version
    before = _state(t)
    t.rebucket(16)
    old = t.at_version(v_before)
    assert old.n_buckets == 4
    assert _state(old) == before
    # frozen-view lookup routes through the OLD bucket count and OLD files
    assert old.lookup("r", "p5").collect() == []
    assert old.lookup("r", "p7").collect()[0]["content"] == "c"


def test_merge_after_rebucket_uses_new_layout_and_fencing_survives(spark, tmp_path):
    t = _seed(spark, tmp_path)
    t.rebucket(16)
    # replaying an already-applied batch id is still fenced (exactly-once)
    before = _state(t)
    s = t.merge(_batch(t.spark, [_row("update", "r", "p0", 9, "late")]),
                source_id="s", batch_id=1)
    assert s["skipped"] and _state(t) == before
    # a genuinely new batch lands in the 16-bucket layout
    t.merge(_batch(t.spark, [_row("update", "r", "p0", 9, "new")]),
            source_id="s", batch_id=2)
    assert t.lookup("r", "p0").collect()[0]["content"] == "new"
    assert all(int(b) < 16 for b in t.manifest["deltas"])


def test_rebucket_plan_is_single_shuffle(spark, tmp_path):
    """The rewrite resolves LWW keyed on the NEW bucket directly — one
    Exchange, never resolve-then-reshuffle (two payload passes)."""
    t = _seed(spark, tmp_path)
    # rebuild the same frame rebucket builds and assert its executed plan
    # (mirrors test_compaction_plan_is_single_shuffle)
    from pyspark.sql import Window

    all_ids = sorted(set(t.manifest["buckets"]) | set(t.manifest["deltas"]), key=int)
    df = t._read_files(
        t._files_of("buckets", all_ids) + t._files_of("deltas", all_ids)
    ).withColumn(
        "_bucket",
        F.pmod(F.xxhash64(F.col("repo"), F.col("path")), F.lit(16)).cast("int"),
    )
    w = Window.partitionBy("_bucket").orderBy(
        F.col("repo"), F.col("path"),
        F.col("commit_seq").desc(), F.col("offset").desc(),
    )
    out = (
        df.repartition(16, "_bucket")
        .withColumn("_prev_repo", F.lag("repo").over(w))
        .withColumn("_prev_path", F.lag("path").over(w))
        .filter(~(F.col("_prev_repo").eqNullSafe(F.col("repo"))
                  & F.col("_prev_path").eqNullSafe(F.col("path"))))
        .drop("_prev_repo", "_prev_path")
        .filter(~F.col("is_deleted"))
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "hashpartitioning(repo" not in plan, plan
    # and the real operator agrees with the probe's semantics
    before = _state(t)
    t.rebucket(16)
    assert _state(t) == before
