"""Time travel (`at_version`), commit history, and the incremental
changelog (`changes`) — the Iceberg snapshot-read / `snapshots` metadata
table / incremental-scan analogs over LakeTable's immutable versioned
manifests. The changelog is the lake's CDC *output* face: downstream
consumers resume from a version number exactly as the ingest side resumes
from checkpointed offsets."""

import pytest

from kafka_mongo_watcher_spark.plans.lake import LakeTable

from tests.test_lake_mor import _batch, _row, _state, legacy_cow_table


@pytest.fixture()
def seq_table(spark, tmp_path):
    """3 merges + 1 full compaction on a MOR table, with an evolving
    schema in the middle batch (extra column arrives via evolution)."""
    t = LakeTable.create(spark, str(tmp_path / "tt"), n_buckets=4, write_mode="mor")
    t.merge(_batch(spark, [
        _row("insert", "r", "p", 1), _row("insert", "r", "q", 2),
    ]), source_id="s", batch_id=0)                       # v1
    t.merge(_batch(spark, [
        _row("update", "r", "p", 5, "v5"), _row("delete", "r", "q", 4),
    ]), source_id="s", batch_id=1)                       # v2
    t.compact()                                          # v3
    t.merge(_batch(spark, [
        _row("insert", "s", "x", 7),
    ]), source_id="s", batch_id=2)                       # v4
    return t


def test_at_version_replays_each_committed_state(seq_table):
    t = seq_table
    assert t.version == 4
    assert _state(t.at_version(1)) == {
        ("r", "p"): ("commit1", "c", 1), ("r", "q"): ("commit2", "c", 2),
    }
    # v2: update applied, q deleted (tombstone hidden by snapshot())
    assert _state(t.at_version(2)) == {("r", "p"): ("commit5", "v5", 5)}
    # v3 (compaction) is state-identical to v2
    assert _state(t.at_version(3)) == _state(t.at_version(2))
    assert _state(t.at_version(4)) == _state(t)
    # empty table at v0
    assert _state(t.at_version(0)) == {}
    with pytest.raises(ValueError, match="no committed version"):
        t.at_version(99)


def test_at_version_view_is_read_only(spark, seq_table):
    view = seq_table.at_version(1)
    b = _batch(spark, [_row("insert", "z", "z", 9)])
    with pytest.raises(ValueError, match="read-only"):
        view.merge(b, source_id="s", batch_id=9)
    with pytest.raises(ValueError, match="read-only"):
        view.compact()
    # and the live table still writes fine
    seq_table.merge(b, source_id="s", batch_id=3)
    assert ("z", "z") in _state(seq_table)


def test_history_lists_commit_kinds(seq_table):
    h = seq_table.history()
    assert [e["version"] for e in h] == [0, 1, 2, 3, 4]
    assert [e["commit_kind"] for e in h] == [
        "create", "merge", "merge", "compact", "merge",
    ]


def test_changes_emits_per_commit_lww_winners_and_skips_compaction(seq_table):
    rows = seq_table.changes(0).collect()
    got = sorted(
        (r["_commit_version"], r["repo"], r["path"], r["commit_seq"], r["_change_type"])
        for r in rows
    )
    assert got == [
        (1, "r", "p", 1, "upsert"),
        (1, "r", "q", 2, "upsert"),
        (2, "r", "p", 5, "upsert"),
        (2, "r", "q", 4, "delete"),
        (4, "s", "x", 7, "upsert"),
    ]
    # half-open range (since, until]
    tail = seq_table.changes(2).collect()
    assert {(r["_commit_version"], r["repo"], r["path"]) for r in tail} == {
        (4, "s", "x")
    }
    assert seq_table.changes(2, 3).count() == 0  # only the compaction commit
    with pytest.raises(ValueError, match="bad version range"):
        seq_table.changes(3, 99)


def test_changes_requires_mor(spark, tmp_path):
    t = legacy_cow_table(spark, str(tmp_path / "cw"))
    with pytest.raises(ValueError, match="merge-on-read"):
        t.changes(0).collect()


def test_legacy_cow_manifests_keep_working(spark, tmp_path):
    """Tables committed copy-on-write by an older engine (manifests stamped
    or defaulted `write_mode: "cow"`) load, read, look up, time-travel and
    roll back; their next merge appends deltas and stamps "mor", and the
    changelog still refuses any range holding a COW merge."""
    with pytest.raises(ValueError, match="compact"):
        LakeTable.create(spark, str(tmp_path / "new"), write_mode="cow")
    t = legacy_cow_table(spark, str(tmp_path / "legacy"))
    legacy = {("r", "p"): ("commit1", "c", 1), ("r", "q"): ("commit2", "c", 2)}
    assert [h["write_mode"] for h in t.history()] == ["cow", "cow", "cow"]
    assert t.manifest["buckets"] and not t.manifest["deltas"]
    assert _state(t) == legacy
    assert t.lookup("r", "q").collect()[0]["commit_seq"] == 2
    assert _state(t.at_version(1)) == legacy

    base = dict(t.manifest["buckets"])
    st = t.merge(_batch(spark, [_row("update", "r", "p", 5, "v5"),
                                _row("delete", "r", "q", 6)]),
                 source_id="s", batch_id=1)                     # v3
    assert st["touched_buckets"] >= 1
    assert t.manifest["write_mode"] == "mor"
    assert t.manifest["buckets"] == base and t.manifest["deltas"]
    assert _state(t) == {("r", "p"): ("commit5", "v5", 5)}
    assert t.lookup("r", "q").collect() == []
    assert {(r["path"], r["_change_type"]) for r in t.changes(2).collect()} == {
        ("p", "upsert"), ("q", "delete"),
    }
    for since in (0, 1):
        with pytest.raises(ValueError, match="copy-on-write"):
            t.changes(since).collect()

    assert t.rollback(2)["version"] == 4
    assert _state(t) == legacy
    assert _state(LakeTable(spark, t.path)) == legacy


def test_changes_plan_reads_only_delta_files(seq_table):
    """Scale shape: the changelog scan lists exactly the requested commits'
    delta files — never base buckets, never other versions."""
    files = seq_table.changes(1, 2).inputFiles()
    assert files and all("/data/v00000002_" in f for f in files)


def test_rollback_restores_state_as_forward_commit(seq_table):
    """Iceberg rollback_to_snapshot analog: state (and the exactly-once
    `applied` fencing) return to the target version under a NEW version
    number; bad commits stay inspectable."""
    t = seq_table                       # at v4
    assert t.rollback(2)["version"] == 5
    assert t.version == 5
    assert _state(t) == _state(t.at_version(2))
    assert t.manifest["applied"] == t._manifest_at(2)["applied"]
    hist = t.history()
    assert hist[-1]["commit_kind"] == "rollback"
    assert hist[-1]["rolled_back_to"] == 2
    # forward merges keep working; the re-applied batch id 2 is NOT fenced
    # (its commit was rolled back), so replaying it reconverges the state
    t.merge(_batch(t.spark, [_row("insert", "s", "x", 7)]),
            source_id="s", batch_id=2)
    assert _state(t) == _state(t.at_version(4))


def test_rollback_to_expired_version_raises(seq_table):
    t = seq_table
    t.expire_snapshots(keep_last=1)
    with pytest.raises(ValueError, match="no committed version"):
        t.rollback(1)
