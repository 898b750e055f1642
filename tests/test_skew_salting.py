"""Skew fixture: one hot repo carries ~50% of events (FIXTURES.md §2).
The merge must give the oracle's state (FIXTURES.md §4.7), and its fold must
combine the hot key map-side: a partial aggregate below the key exchange is
the skew guarantee salting used to give."""

from pyspark.sql import functions as F

from kafka_mongo_watcher_spark.datagen import HOT_REPO, generate_events
from kafka_mongo_watcher_spark.operators.envelope import transform_events
from kafka_mongo_watcher_spark.oracle import oracle_rows
from kafka_mongo_watcher_spark.plans.lake import LakeTable

FINAL_COLS = ["repo", "path", "commit", "lang", "content_sha256"]


def test_skewed_fixture_is_actually_skewed(spark):
    ev = generate_events(spark, 4000, skew_pct=50)
    hot = ev.filter(F.col("repo") == HOT_REPO).count()
    assert 0.4 <= hot / 4000 <= 0.6


def test_skewed_merge_equals_oracle_with_partial_agg_below_exchange(spark, tmp_path):
    ev = generate_events(spark, 4000, skew_pct=50)
    rows = [r.asDict() for r in ev.collect()]

    t = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=8)
    s = t.merge(transform_events(ev), source_id="s", batch_id=0)
    assert s["dedup_strategy"] == "fold"
    got = {tuple(r) for r in t.snapshot().select(*FINAL_COLS).collect()}
    assert got == oracle_rows(rows)

    plan = t._fold(transform_events(ev), patched=False)._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    exchange = next(i for i, ln in enumerate(lines) if "Exchange hashpartitioning(repo" in ln)
    assert any("partial_max_by" in ln for ln in lines[exchange + 1:]), plan
