"""LWW dedup: window/row_number semantics, and the per-key fold that
`LakeTable.merge` applies every batch with — on a batch without partial
updates it must return exactly the window's rows."""

import random

import pytest
from pyspark.sql import functions as F

from kafka_mongo_watcher_spark.datagen import generate_events
from kafka_mongo_watcher_spark.operators.dedup import lww_dedup
from kafka_mongo_watcher_spark.operators.patch import fold_patch_batch

COLS = "partition_id int, offset bigint, op string, repo string, path string, commit_seq bigint, v string"
INTERNAL = ("partition_id", "offset", "op", "repo", "path", "commit_seq", "lineage")


def _df(spark, rows):
    return spark.createDataFrame(rows, COLS)


def _fold(df):
    """The merge's apply route on a plain batch: every row writes every
    payload column."""
    return fold_patch_batch(df, [c for c in df.columns if c not in INTERNAL])


def test_lww_picks_max_commit_seq(spark):
    rows = [
        (0, 1, "insert", "r", "p", 10, "a"),
        (0, 2, "update", "r", "p", 12, "b"),
        (0, 3, "update", "r", "p", 11, "c"),  # out-of-order arrival, older seq
        (1, 1, "insert", "r2", "p", 5, "d"),
    ]
    got = {(r["repo"], r["v"]) for r in lww_dedup(_df(spark, rows)).collect()}
    assert got == {("r", "b"), ("r2", "d")}


def test_delete_beats_earlier_update_within_batch(spark):
    rows = [
        (0, 1, "update", "r", "p", 10, "a"),
        (0, 2, "delete", "r", "p", 11, None),
    ]
    got = lww_dedup(_df(spark, rows)).collect()
    assert len(got) == 1 and got[0]["op"] == "delete"


def test_offset_tiebreak(spark):
    rows = [
        (0, 1, "update", "r", "p", 10, "lo"),
        (0, 9, "update", "r", "p", 10, "hi"),
    ]
    got = lww_dedup(_df(spark, rows)).collect()
    assert got[0]["v"] == "hi"


GEN_COLS = ("repo", "path", "op", "commit_seq", "offset", "partition_id", "commit", "lang", "content_raw")


def _winners(df):
    """Winner rows as tuples; a delete's payload reads NULL, as the fold
    stores it."""
    payload = ("commit", "lang", "content_raw")
    return {
        tuple(None if r["op"] == "delete" and c in payload else r[c] for c in GEN_COLS)
        for r in df.select(*GEN_COLS).collect()
    }


def test_fold_equals_window_on_skewed_data(spark):
    """A hot repo carrying 60% of the batch: the fold's map-side partial
    aggregate gives the window's rows."""
    ev = generate_events(spark, 4000, skew_pct=60).filter(F.col("repo").isNotNull())
    assert _winners(_fold(ev)) == _winners(lww_dedup(ev))


def test_fold_equals_window_on_generated_log(spark):
    """Every column of every winner matches the window's row, over a log
    spread across many repos and partitions."""
    ev = generate_events(spark, 4000, skew_pct=0, n_repos=200).filter(F.col("repo").isNotNull())
    assert _winners(_fold(ev)) == _winners(lww_dedup(ev))


def test_fold_basic_cases(spark):
    rows = [
        (0, 1, "insert", "r", "p", 10, "a"),
        (0, 2, "update", "r", "p", 12, "b"),
        (0, 3, "update", "r", "p", 11, "c"),
        (0, 4, "delete", "r2", "p", 5, None),
        (1, 1, "insert", "r2", "p", 4, "d"),
    ]
    df = _df(spark, rows)
    got = {(r["repo"], r["op"], r["v"]) for r in _fold(df).collect()}
    assert got == {("r", "update", "b"), ("r2", "delete", None)}
    assert got == {(r["repo"], r["op"], r["v"]) for r in lww_dedup(df).collect()}


def test_fold_exact_within_batch_duplicate_collapses(spark):
    """An exact duplicate delivery inside one micro-batch (same key AND
    same ordering tuple) must still yield ONE winner per key — merge
    assumes |winners| = 1/key."""
    rows = [
        (0, 2, "update", "r", "p", 12, "b"),
        (0, 2, "update", "r", "p", 12, "b"),  # exact duplicate delivery
        (0, 1, "insert", "r", "p", 10, "a"),
    ]
    got = _fold(_df(spark, rows)).collect()
    assert len(got) == 1 and got[0]["v"] == "b"


def test_fold_keeps_null_key_rows_like_window_path(spark):
    """Rows with null key columns survive the fold exactly as they do in
    the window path (drop_malformed=False callers): a null key part groups
    like a value."""
    rows = [
        (0, 1, "insert", None, "p", 10, "a"),
        (0, 2, "update", None, "p", 11, "b"),
        (0, 3, "insert", "r", None, 12, "c"),
        (0, 4, "insert", "r", "p", 13, "d"),
    ]
    df = _df(spark, rows)
    win = {(r["repo"], r["path"], r["v"]) for r in lww_dedup(df).collect()}
    fold = {(r["repo"], r["path"], r["v"]) for r in _fold(df).collect()}
    assert fold == win == {(None, "p", "b"), ("r", None, "c"), ("r", "p", "d")}


def test_fold_collapses_cross_partition_redelivery(spark):
    """A tuple redelivered within one source partition and again under a
    second partition_id collapses to one row per key, as in the window
    path."""
    rows = [
        (0, 2, "update", "r", "p", 12, "b"),
        (0, 2, "update", "r", "p", 12, "b"),  # within-partition duplicate
        (1, 2, "update", "r", "p", 12, "b"),  # cross-partition duplicate
        (0, 1, "insert", "r", "p", 10, "a"),
        (0, 3, "insert", "r2", "p", 4, "c"),
    ]
    df = _df(spark, rows)
    per_key = {}
    for r in _fold(df).collect():
        per_key.setdefault((r["repo"], r["path"]), []).append(r["v"])
    assert per_key == {("r", "p"): ["b"], ("r2", "p"): ["c"]}
    assert {(r["repo"], r["v"]) for r in lww_dedup(df).collect()} == {("r", "b"), ("r2", "c")}


EVENT_COLS = (
    "partition_id int, offset bigint, op string, repo string, path string, "
    "commit string, lang string, content_raw string, commit_seq bigint"
)
_FIELDS = ("partition_id", "offset", "op", "repo", "path", "commit", "lang", "content_raw", "commit_seq")


def _plain_log(seed: int) -> list[tuple]:
    """A random plain change log in arrival order: about half its events hit
    one hot key, some rows carry a null key part, and some are redelivered
    exactly (same row, same ordering tuple)."""
    rng = random.Random(seed)
    rows = []
    for seq in rng.sample(range(1, 400), rng.randint(20, 40)):
        if rng.random() < 0.5:
            repo, path = "hot", "h"
        else:
            repo, path = f"r{rng.randint(0, 2)}", f"p{rng.randint(0, 4)}"
            if rng.random() < 0.1:
                repo, path = rng.choice([(None, path), (repo, None)])
        op = rng.choice(["insert", "update", "replace", "delete"])
        body = None if op == "delete" else f"body {seq}  \n"
        rows.append((seq % 3, seq, op, repo, path, f"c{seq}", rng.choice(["py", None]), body, seq))
    rows += rng.sample(rows, rng.randint(1, 8))  # exact redeliveries
    rng.shuffle(rows)
    return rows


@pytest.mark.parametrize("seed", range(4))
def test_merge_of_random_plain_batches_equals_window_and_oracle(spark, tmp_path, seed):
    """Random plain batches cut at random points and merged one by one: the
    table equals `lww_dedup` over the whole log (null-key rows included),
    and on its well-formed keys the sequential oracle."""
    from kafka_mongo_watcher_spark.oracle import replay_oracle
    from kafka_mongo_watcher_spark.plans.lake import LakeTable

    rows = _plain_log(seed)
    rng = random.Random(1000 + seed)
    bounds = [0, *sorted(rng.sample(range(1, len(rows)), rng.randint(0, 3))), len(rows)]
    t = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    for i, (a, b) in enumerate(zip(bounds, bounds[1:])):
        s = t.merge(spark.createDataFrame(rows[a:b], EVENT_COLS), source_id="s", batch_id=i)
        assert s["dedup_strategy"] == "fold"

    def _key(r):
        return (r["repo"], r["path"])

    got = {_key(r): (r["commit"], r["lang"], r["commit_seq"], r["content_sha256"])
           for r in t.snapshot().collect()}
    window = {
        _key(r): (r["commit"], r["lang"], r["commit_seq"])
        for r in lww_dedup(spark.createDataFrame(rows, EVENT_COLS)).collect()
        if r["op"] != "delete"
    }
    assert {k: v[:3] for k, v in got.items()} == window
    want = {
        k: (v["commit"], v["lang"], v["commit_seq"], v["content_sha256"])
        for k, v in replay_oracle([dict(zip(_FIELDS, r)) for r in rows]).items()
    }
    assert {k: v for k, v in got.items() if None not in k} == want
