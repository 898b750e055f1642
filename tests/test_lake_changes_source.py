"""`format("lake_changes")` — the Python Data Source that makes a MOR
LakeTable watchable as a Structured Streaming source (sources/
lake_changes.py). Reference parity: the watcher tails a Mongo change
stream with resume tokens (internal/mongo/watcher.go); here downstream
consumers tail OUR table's commit log with checkpointed version offsets.

The source must agree exactly with the batch `changes()` API (same rows,
same `_commit_version`/`_change_type`), skip compaction commits, null-fill
pre-evolution files, refuse tables committed copy-on-write by older
engines, and respect `startingVersion` /
`maxVersionsPerBatch`.
"""

import os

import pytest
from pyspark.sql import functions as F

from kafka_mongo_watcher_spark.plans.lake import LakeTable
from kafka_mongo_watcher_spark.sources.lake_changes import LakeChangesDataSource

from tests.test_lake_mor import _batch, _row, legacy_cow_table

_KEYCOLS = ("repo", "path", "commit", "commit_seq", "_commit_version", "_change_type")


@pytest.fixture(autouse=True)
def _register(spark):
    spark.dataSource.register(LakeChangesDataSource)


def _mk(spark, tmp_path, n=3):
    t = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    for b in range(n):
        rows = [
            _row("insert" if b == 0 else "update", f"r{i}", "f.py", b * 100 + i)
            for i in range(8)
        ]
        if b == n - 1:
            rows.append(_row("delete", "r0", "f.py", b * 100 + 50))
        t.merge(_batch(spark, rows), source_id="s", batch_id=b)
    return t


_SCHEMAS: dict = {}


def _drain(spark, tmp_path, name, **options):
    """One availableNow round into a PARQUET file sink (memory sinks can't
    recover from a checkpoint, and resumability is exactly what these tests
    exercise). Rows ACCUMULATE in out_<name> across resumed rounds."""
    reader = spark.readStream.format("lake_changes")
    for k, v in options.items():
        reader = reader.option(k, v)
    df = reader.load()
    _SCHEMAS[name] = df.schema
    q = (
        df.writeStream.format("parquet")
        .option("path", str(tmp_path / f"out_{name}"))
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def _rows(spark, tmp_path, name):
    out = str(tmp_path / f"out_{name}")
    return {
        tuple(r[c] for c in _KEYCOLS)
        for r in spark.read.schema(_SCHEMAS[name]).parquet(out).collect()
    }


def test_full_replay_matches_changes_api(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.compact()  # compaction commit must contribute nothing to the stream
    _drain(spark, tmp_path, "full", path=t.path, startingVersion=0)
    want = {
        tuple(r[c] for c in _KEYCOLS)
        for r in t.changes(0).withColumn(
            "_commit_version", F.col("_commit_version").cast("bigint")
        ).collect()
    }
    got = _rows(spark, tmp_path, "full")
    # 8 keys × 3 merge commits; the extra delete shares a key+commit with
    # an update, so the batch's LWW fold emits only the delete winner
    assert got == want and len(got) == 8 * 3
    # delete marker carried through
    assert any(ct == "delete" for *_, ct in got)


def test_watch_from_latest_sees_only_new_commits(spark, tmp_path):
    t = _mk(spark, tmp_path, n=2)
    _drain(spark, tmp_path, "watch", path=t.path)
    assert _rows(spark, tmp_path, "watch") == set()  # Mongo change-stream default: now
    t.merge(
        _batch(spark, [_row("update", "r1", "f.py", 999)]),
        source_id="s", batch_id=7,
    )
    _drain(spark, tmp_path, "watch", path=t.path)  # same checkpoint resumes
    got = _rows(spark, tmp_path, "watch")
    assert {g[:2] for g in got} == {("r1", "f.py")}
    assert all(cs == 999 for *_, cs, _v, _ct in got)


def test_max_versions_per_batch_throttles_backfill(spark, tmp_path):
    """Drive the reader through the engine's exact call protocol
    (latestOffset → initialOffset → partitions, then latestOffset →
    commit → partitions per batch — probed against Spark 4.1): the cap
    engages from the second planned batch and walks the backlog one
    version at a time without skipping or re-planning anything."""
    from kafka_mongo_watcher_spark.sources.lake_changes import (
        LakeChangesDataSource,
    )

    t = _mk(spark, tmp_path, n=3)
    src = LakeChangesDataSource(
        {"path": t.path, "startingversion": "0", "maxversionsperbatch": "1"}
    )
    rd = src.streamReader(None)
    first_latest = rd.latestOffset()  # first batch: uncapped by design
    assert first_latest == {"version": t.version}
    start = rd.initialOffset()
    assert start == {"version": 0}
    parts = rd.partitions(start, first_latest)
    assert {p.version for p in parts} == {1, 2, 3}
    # from here on every batch advances exactly one version
    cur = first_latest
    for expect in (4, 5):
        t.merge(
            _batch(spark, [_row("update", "r1", "f.py", expect * 1000)]),
            source_id="s", batch_id=expect,
        )
    for expect in (4, 5):
        nxt = rd.latestOffset()
        assert nxt == {"version": expect}, "cap must admit exactly one version"
        rd.commit(cur)
        parts = rd.partitions(cur, nxt)
        assert {p.version for p in parts} == {expect}
        cur = nxt
    assert rd.latestOffset() == cur  # backlog drained: latest is stable


def test_cow_table_refused(spark, tmp_path):
    t = legacy_cow_table(spark, str(tmp_path / "t"))
    q = None
    with pytest.raises(Exception, match="merge-on-read"):
        q = _drain(spark, tmp_path, "cow", path=t.path, startingVersion=0)
        raise RuntimeError("stream should have failed")
    if q is not None:
        q.stop()


def test_pre_evolution_files_null_fill(spark, tmp_path):
    """Batch 0 has no `lang`; batch 1 evolves it in. Streamed batch-0 rows
    carry NULL lang under the evolved schema, batch-1 rows carry values."""
    t = LakeTable.create(
        spark, str(tmp_path / "t"), n_buckets=2, write_mode="mor",
        user_schema=[("repo", "string"), ("path", "string"),
                     ("commit", "string"), ("content", "string")],
    )
    pre_cols = ("partition_id int, offset bigint, op string, repo string, "
                "path string, commit string, content string, commit_seq bigint")
    t.merge(
        spark.createDataFrame(
            [(0, 1, "insert", "r", "a.py", "c1", "x", 1)], pre_cols
        ),
        source_id="s", batch_id=0,
    )
    t.merge(
        spark.createDataFrame(
            [(0, 2, "insert", "r", "b.py", "c2", "y", 2, "py")],
            pre_cols + ", lang string",
        ),
        source_id="s", batch_id=1,
    )
    _drain(spark, tmp_path, "evo", path=t.path, startingVersion=0)
    out = spark.read.schema(_SCHEMAS["evo"]).parquet(str(tmp_path / "out_evo"))
    langs = {r["path"]: r["lang"] for r in out.collect()}
    assert langs == {"a.py": None, "b.py": "py"}


def test_stream_schema_matches_changes_schema(spark, tmp_path):
    t = _mk(spark, tmp_path, n=1)
    stream_schema = (
        spark.readStream.format("lake_changes").option("path", t.path).load().schema
    )
    batch_schema = t.changes(0).schema
    stream_names = [f.name for f in stream_schema.fields]
    batch_names = [f.name for f in batch_schema.fields]
    assert set(stream_names) == set(batch_names)


def test_tail_cli_drains_to_parquet(spark, tmp_path):
    """`python -m kafka_mongo_watcher_spark tail --available-now` — the
    consumer-side CLI over the streaming source: backfills the whole
    changelog into a parquet dir and exits 0 with a resumable checkpoint,
    with exactly the rows of `changes()`. Two inputs: a table built by
    merge() calls, and one built the way the `watch` command builds it
    (plain `LakeTable.create` + the streaming apply). Runs as a subprocess
    because the CLI owns (and stops) its own SparkSession."""
    import json as _json
    import subprocess
    import sys
    from collections import Counter

    from kafka_mongo_watcher_spark.datagen import generate_events, write_event_log
    from kafka_mongo_watcher_spark.streaming.run import run_replay_stream

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    merged = _mk(spark, tmp_path, n=2)
    write_event_log(generate_events(spark, 600), str(tmp_path / "log"), n_chunks=2)
    watched = LakeTable.create(spark, str(tmp_path / "watched"))
    run_replay_stream(spark, log_dir=str(tmp_path / "log"), table_path=watched.path,
                      checkpoint_dir=str(tmp_path / "ck_watch"))
    watched.refresh()
    env = {**os.environ, "PYTHONPATH": repo, "SPARK_GRAFT_CPUS": "4",
           "KMW_DRIVER_MEMORY": "2g"}
    for name, t in (("merged", merged), ("watched", watched)):
        sink = str(tmp_path / f"sink_{name}")
        p = subprocess.run(
            [sys.executable, "-m", "kafka_mongo_watcher_spark", "tail",
             "--table", t.path,
             "--out", sink,
             "--checkpoint", str(tmp_path / f"ck_cli_{name}"),
             "--starting-version", "0",
             "--available-now"],
            env=env, capture_output=True, text=True, timeout=300,
        )
        assert p.returncode == 0, (name, p.stderr[-2000:])
        summary = _json.loads(p.stdout.strip().splitlines()[-1])
        assert summary["mode"] == "tail"
        out = spark.read.parquet(sink)
        want = t.changes(0).withColumn(
            "_commit_version", F.col("_commit_version").cast("bigint")
        )
        assert set(out.columns) == set(want.columns)
        want_rows = Counter(map(tuple, want.select(*_KEYCOLS).collect()))
        assert want_rows, name
        assert Counter(map(tuple, out.select(*_KEYCOLS).collect())) == want_rows, name
