"""Schema evolution: `lang` column appears mid-stream (FIXTURES.md §4.6).
Pre-evolution chunks physically lack the column; the engine must evolve the
manifest schema (ADD COLUMN analog) and union-by-name — mirroring the
watcher passing unknown payload fields through untouched
(/root/reference/internal/mongo/event.go:31-33)."""

from pyspark.sql import functions as F

from kafka_mongo_watcher_spark.datagen import generate_events, write_event_log
from kafka_mongo_watcher_spark.operators.envelope import transform_events
from kafka_mongo_watcher_spark.oracle import oracle_rows
from kafka_mongo_watcher_spark.plans.lake import LakeTable
from kafka_mongo_watcher_spark.sources.events import read_event_log

FINAL_COLS = ["repo", "path", "commit", "lang", "content_sha256"]


def test_lang_column_added_mid_stream(spark, tmp_path):
    n = 3000
    evolution_seq = int(n * 0.5)
    ev = generate_events(spark, n, evolution_frac=0.5)
    rows = [r.asDict() for r in ev.collect()]
    dirs = write_event_log(ev, str(tmp_path / "log"), n_chunks=4, evolution_seq=evolution_seq)

    # table created WITHOUT lang — it must be learned from the stream
    t = LakeTable.create(
        spark,
        str(tmp_path / "t"),
        n_buckets=8,
        user_schema=[
            ("repo", "string"), ("path", "string"), ("commit", "string"),
            ("content", "string"), ("content_sha256", "string"),
        ],
    )
    saw_no_lang_chunk = False
    for i, d in enumerate(dirs):
        chunk = read_event_log(spark, d)
        if "lang" not in chunk.columns:
            saw_no_lang_chunk = True
            assert "lang" not in [n_ for n_, _ in t.manifest["user_schema"]]
        t.merge(transform_events(chunk), source_id="s", batch_id=i)
    assert saw_no_lang_chunk, "fixture must include a pre-evolution chunk"
    assert "lang" in [n_ for n_, _ in t.manifest["user_schema"]]

    got = {tuple(r) for r in t.snapshot().select(*FINAL_COLS).collect()}
    assert got == oracle_rows(rows)
    # keys last written pre-evolution have null lang; post-evolution non-null
    snap = t.snapshot()
    assert snap.filter(F.col("commit_seq") >= evolution_seq).filter(F.col("lang").isNull()).count() == 0
    pre = snap.filter(F.col("commit_seq") < evolution_seq)
    if pre.count():
        assert pre.filter(F.col("lang").isNotNull()).count() == 0


# ---- type widening (ALTER COLUMN TYPE analog) -------------------------------

import pytest

from kafka_mongo_watcher_spark.plans.lake import _promote

WIDEN_SCHEMA = [
    ("repo", "string"), ("path", "string"), ("commit", "string"),
    ("content", "string"), ("content_sha256", "string"),
    ("stars", "int"), ("score", "float"),
]


def _wbatch(spark, rows, stars_t="int", score_t="float"):
    return spark.createDataFrame(
        rows,
        "partition_id int, offset bigint, op string, repo string, path string, "
        "commit string, content string, content_sha256 string, "
        f"stars {stars_t}, score {score_t}, commit_seq bigint",
    )


def _wrow(repo, path, seq, stars, score):
    return (0, seq, "insert", repo, path, f"c{seq}", "body", f"sha{seq}",
            stars, score, seq)


@pytest.mark.parametrize("mode", ["compacted", "mor"])
def test_wider_batch_promotes_column_types(spark, tmp_path, mode):
    t = LakeTable.create(spark, str(tmp_path / f"t_{mode}"), n_buckets=4,
                         user_schema=WIDEN_SCHEMA)
    t.merge(_wbatch(spark, [_wrow("r", "p", 1, 5, 1.5)]), source_id="s", batch_id=0)
    if mode == "compacted":
        t.compact()  # the narrow-typed rows now live in base files
    types = dict(t.manifest["user_schema"])
    assert types["stars"] == "int" and types["score"] == "float"

    # batch 2 arrives with bigint stars (beyond int range) and double score
    big = 2**40
    t.merge(_wbatch(spark, [_wrow("r", "q", 2, big, 0.1)],
                    stars_t="bigint", score_t="double"),
            source_id="s", batch_id=1)
    types = dict(t.manifest["user_schema"])
    assert types["stars"] == "bigint" and types["score"] == "double"

    # old (int/float-written) files still read correctly under the wide schema
    got = {r["path"]: (r["stars"], r["score"]) for r in t.snapshot().collect()}
    assert got["p"][0] == 5 and got["q"][0] == big
    assert abs(got["p"][1] - 1.5) < 1e-9  # float 1.5 is exact in double
    snap_types = dict(t.snapshot().dtypes)
    assert snap_types["stars"] == "bigint" and snap_types["score"] == "double"

    # a later NARROWER batch upcasts into the wide column; schema stays wide
    t.merge(_wbatch(spark, [_wrow("r", "z", 3, 7, 2.5)]), source_id="s", batch_id=2)
    assert dict(t.manifest["user_schema"])["stars"] == "bigint"
    got = {r["path"]: r["stars"] for r in t.snapshot().collect()}
    assert got == {"p": 5, "q": big, "z": 7}


def test_incompatible_type_change_raises(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=4,
                         user_schema=WIDEN_SCHEMA)
    t.merge(_wbatch(spark, [_wrow("r", "p", 1, 5, 1.5)]), source_id="s", batch_id=0)
    bad = spark.createDataFrame(
        [(0, 2, "insert", "r", "q", "c2", "body", "sha2", "many", 0.1, 2)],
        "partition_id int, offset bigint, op string, repo string, path string, "
        "commit string, content string, content_sha256 string, "
        "stars string, score float, commit_seq bigint",
    )
    with pytest.raises(ValueError, match="incompatible schema change"):
        t.merge(bad, source_id="s", batch_id=1)
    # the failed batch committed nothing
    assert dict(t.manifest["user_schema"])["stars"] == "int"
    assert {r["path"] for r in t.snapshot().collect()} == {"p"}


def test_time_travel_keeps_pre_widening_schema(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=4,
                         user_schema=WIDEN_SCHEMA)
    t.merge(_wbatch(spark, [_wrow("r", "p", 1, 5, 1.5)]), source_id="s", batch_id=0)
    v1 = t.version
    t.merge(_wbatch(spark, [_wrow("r", "q", 2, 2**40, 0.1)],
                    stars_t="bigint", score_t="double"),
            source_id="s", batch_id=1)
    old = t.at_version(v1)
    assert dict(old.snapshot().dtypes)["stars"] == "int"
    assert dict(t.snapshot().dtypes)["stars"] == "bigint"


def test_promote_lattice():
    assert _promote("int", "bigint") == "bigint"
    assert _promote("bigint", "int") == "bigint"      # table stays wide
    assert _promote("tinyint", "smallint") == "smallint"
    assert _promote("float", "double") == "double"
    assert _promote("double", "float") == "double"
    assert _promote("string", "string") == "string"
    assert _promote("int", "double") is None          # cross-family: explicit only
    assert _promote("bigint", "float") is None
    assert _promote("string", "int") is None
