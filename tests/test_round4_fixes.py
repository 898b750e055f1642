"""Round-4 regression tests for the ADVICE r3 items:

- `$merge whenMatched='merge'` masks the LOGICAL column name: a batch
  carrying pre-fingerprint `content_raw` must overlay `content`
  (operators/pipeline.py::_stage_merge).
- Branch blob refs carry a per-fork token: drop + re-fork of the same name
  at the same base must not overwrite the orphaned fork's immutable blobs
  (plans/lake.py::_externalize / branch / open_branch).
"""

import os

from kafka_mongo_watcher_spark.plans import lake
from kafka_mongo_watcher_spark.plans.lake import LakeTable

from tests.test_lake_mor import _batch, _row, _state


# ---------- $merge masks logical column names ---------------------------------


def test_merge_stage_content_raw_masks_content(spark, tmp_path):
    """whenMatched='merge' with a pre-fingerprint batch: the overlay mask
    must say 'content' (the stored column) even though the batch carries
    'content_raw' — otherwise the content write is silently dropped and
    stale content survives (ADVICE r3)."""
    from kafka_mongo_watcher_spark.operators.pipeline import apply_pipeline

    t = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    t.merge(_batch(spark, [_row("insert", "r", "p", 1, content="old")]),
            source_id="s", batch_id=0)

    raw = spark.createDataFrame(
        [(0, 2, "update", "r", "p", "c2", "NEW BODY", 2)],
        "partition_id int, offset bigint, op string, repo string, "
        "path string, commit string, content_raw string, commit_seq bigint",
    )
    apply_pipeline(
        raw,
        '[{"$merge": {"into": "t", "whenMatched": "merge"}}]',
        tables={"t": t},
    )
    got = {r.path: (r.content, r.commit, r.lang) for r in t.refresh().snapshot().collect()}
    content, commit, lang = got["p"]
    assert commit == "c2"
    assert content is not None and "NEW BODY" in content  # overlay applied
    assert lang == "py"  # column the batch doesn't carry inherits from state


# ---------- branch blob namespace token ----------------------------------------


def test_refork_after_drop_never_overwrites_blobs(spark, tmp_path, monkeypatch):
    """Drop an unpublished branch, re-fork the same name at the same base:
    the new fork must mint NEW blob refs — the orphaned fork's blob files
    are immutable and may be cached by ref name in sibling handles."""
    # externalize every bucket entry
    monkeypatch.setattr(lake, "INLINE_MAX_FILES_PER_BUCKET", 0)
    t = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=2,
                         write_mode="mor")
    t.merge(_batch(spark, [_row("insert", "r", "p", 1)]),
            source_id="s", batch_id=0)

    b1 = t.branch("audit")
    b1.merge(_batch(spark, [_row("update", "r", "p", 5, "v5")]),
             source_id="s", batch_id=1)
    blob_dir = os.path.join(str(tmp_path / "t"), "_manifests", "blobs")
    branch_blobs1 = {
        f: open(os.path.join(blob_dir, f)).read()
        for f in os.listdir(blob_dir) if f.startswith("b-audit")
    }
    assert branch_blobs1, "fixture must externalize branch blobs"

    t.drop_branch("audit")
    b2 = t.branch("audit")  # same name, same base
    b2.merge(_batch(spark, [_row("update", "r", "p", 9, "v9")]),
             source_id="s", batch_id=1)

    # orphaned fork's blobs byte-identical; new fork minted disjoint refs
    for f, body in branch_blobs1.items():
        assert open(os.path.join(blob_dir, f)).read() == body
    branch_blobs2 = {f for f in os.listdir(blob_dir)
                     if f.startswith("b-audit")} - set(branch_blobs1)
    assert branch_blobs2, "re-fork must mint new blob refs"
    assert _state(b2)[("r", "p")] == ("commit9", "v9", 9)

    # publish keeps working and main resolves the tokened refs
    t.publish("audit")
    assert _state(t)[("r", "p")] == ("commit9", "v9", 9)
