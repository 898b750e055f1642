"""Skew fixture: one hot repo carries ~50% of events (FIXTURES.md §2).
Salted two-phase LWW + merge must produce results identical to the unsalted
path and to the oracle (FIXTURES.md §4.7)."""

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


def test_salted_merge_equals_unsalted_and_oracle(spark, tmp_path):
    ev = generate_events(spark, 4000, skew_pct=50)
    rows = [r.asDict() for r in ev.collect()]
    want = oracle_rows(rows)

    t_plain = LakeTable.create(spark, str(tmp_path / "plain"), n_buckets=8)
    t_plain.merge(transform_events(ev), source_id="s", batch_id=0, salted=False)
    t_salt = LakeTable.create(spark, str(tmp_path / "salt"), n_buckets=8)
    t_salt.merge(transform_events(ev), source_id="s", batch_id=0, salted=True)

    got_plain = {tuple(r) for r in t_plain.snapshot().select(*FINAL_COLS).collect()}
    got_salt = {tuple(r) for r in t_salt.snapshot().select(*FINAL_COLS).collect()}
    assert got_plain == want
    assert got_salt == want
