"""Per-file key statistics + point-read file pruning.

Every committed data file records (repo, path) min/max bounds and a row
count in the manifest, read from the parquet FOOTER at commit time (no data
pages touched) — the Iceberg manifest-entry lower_bounds/upper_bounds
analog. `lookup()` then prunes, driver-side and with zero Spark jobs:
bucket first (pure-Python XXH64), then every file whose bounds exclude the
key. At 100 TB this turns a point read from "scan the bucket's whole delta
chain" into "scan one or two files".

Soundness invariant under MOR: a pruned file provably holds NO row of the
key, so last-writer-wins over the surviving files sees every version of
the key — pruning can never resurrect an older value or miss a tombstone.
"""

import os

import pytest
from pyspark.sql import functions as F

from kafka_mongo_watcher_spark.plans import lake
from kafka_mongo_watcher_spark.plans.lake import LakeTable, _footer_key_stats

from tests.test_lake_mor import _batch, _row, restamp_head


def _mk(spark, tmp_path, mode, **kw):
    return LakeTable.create(spark, str(tmp_path / f"t_{mode}"), n_buckets=2, **kw)


def _merge_range(t, spark, lo, hi, seq, op="insert", content="c"):
    """One merge whose keys are repo_{lo}..repo_{hi} — a disjoint repo range
    per batch, so per-file bounds separate cleanly."""
    rows = [
        _row(op, f"repo_{i:04d}", "main.py", seq * 1000 + i, content)
        for i in range(lo, hi)
    ]
    t.merge(_batch(spark, rows), source_id="s", batch_id=seq)


def _total_files(t, repo, path):
    b = str(t.bucket_of(repo, path))
    return len(t._entry_files("buckets", b)) + len(t._entry_files("deltas", b))


def test_footer_stats_recorded_per_delta_file(spark, tmp_path):
    t = _mk(spark, tmp_path, "mor")
    _merge_range(t, spark, 0, 40, seq=1)
    _merge_range(t, spark, 40, 80, seq=2)
    for b in t.manifest["deltas"]:
        stats = t._stats_of(b)
        files = t._entry_files("deltas", b)
        assert set(stats) == set(files)
        for f in files:
            rmin, rmax, pmin, pmax, rows = stats[f][:5]
            assert rmin <= rmax and pmin <= pmax and rows > 0
            # bounds round-trip: re-reading the footer agrees
            assert _footer_key_stats(os.path.join(t.path, f))[:4] == [
                rmin, rmax, pmin, pmax,
            ]


def test_lookup_prunes_disjoint_range_files(spark, tmp_path, monkeypatch):
    """3 merges with disjoint repo ranges → a point read scans only the one
    delta file whose bounds cover the key, not the whole chain."""
    t = _mk(spark, tmp_path, "mor")
    monkeypatch.setattr(lake, "MAX_DELTAS_PER_BUCKET", 100)  # keep chains visible
    _merge_range(t, spark, 0, 40, seq=1)
    _merge_range(t, spark, 40, 80, seq=2)
    _merge_range(t, spark, 80, 120, seq=3)
    repo = "repo_0100"  # only in batch 3's range
    base, deltas = t._lookup_files(repo, "main.py")
    assert len(base) + len(deltas) == 1
    assert _total_files(t, repo, "main.py") == 3
    got = t.lookup(repo, "main.py").collect()
    assert len(got) == 1 and got[0]["repo"] == repo


def test_pruned_lookup_equals_snapshot_filter_including_tombstones(spark, tmp_path, monkeypatch):
    """Soundness: for EVERY key ever written (incl. updated and deleted
    ones), the pruned lookup equals the unpruned snapshot filter."""
    t = _mk(spark, tmp_path, "mor")
    monkeypatch.setattr(lake, "MAX_DELTAS_PER_BUCKET", 100)
    _merge_range(t, spark, 0, 30, seq=1)
    _merge_range(t, spark, 10, 40, seq=2, op="update", content="v2")
    _merge_range(t, spark, 20, 25, seq=3, op="delete")
    snap = {
        (r["repo"], r["path"]): (r["content"], r["commit_seq"])
        for r in t.snapshot().collect()
    }
    for i in range(0, 40):
        repo = f"repo_{i:04d}"
        got = t.lookup(repo, "main.py").collect()
        want = snap.get((repo, "main.py"))
        if want is None:
            assert got == [], repo
        else:
            assert len(got) == 1, repo
            assert (got[0]["content"], got[0]["commit_seq"]) == want, repo


def test_compaction_refreshes_stats_and_keeps_pruning(spark, tmp_path):
    t = _mk(spark, tmp_path, "mor")
    _merge_range(t, spark, 0, 60, seq=1)
    _merge_range(t, spark, 0, 60, seq=2, op="update", content="v2")
    t.compact()
    for b in t.manifest["buckets"]:
        stats = t._stats_of(b)
        assert set(stats) == set(t._entry_files("buckets", b))
    got = t.lookup("repo_0033", "main.py").collect()
    assert len(got) == 1 and got[0]["content"] == "v2"


def test_recompacted_buckets_record_stats_and_prune(spark, tmp_path):
    """Each compaction replaces a bucket's base files and their stats
    entries wholesale: no stale bounds survive a second rewrite."""
    t = _mk(spark, tmp_path, "mor")
    _merge_range(t, spark, 0, 60, seq=1)
    t.compact()
    _merge_range(t, spark, 20, 30, seq=2, op="update", content="v2")
    t.compact()
    for b in t.manifest["buckets"]:
        assert set(t._stats_of(b)) == set(t._entry_files("buckets", b))
    got = t.lookup("repo_0025", "main.py").collect()
    assert len(got) == 1 and got[0]["content"] == "v2"


def test_stats_survive_sidecar_externalization(spark, tmp_path, monkeypatch):
    """Force every manifest entry out to sidecar blobs: pruning still works
    (stats resolve through the same immutable-blob indirection as file
    lists), and the root manifest stays O(buckets)."""
    monkeypatch.setattr(lake, "INLINE_MAX_FILES_PER_BUCKET", 0)
    monkeypatch.setattr(lake, "MAX_DELTAS_PER_BUCKET", 100)
    t = _mk(spark, tmp_path, "mor")
    _merge_range(t, spark, 0, 40, seq=1)
    _merge_range(t, spark, 40, 80, seq=2)
    assert all(
        isinstance(e, dict) and set(e) == {"ref", "n"}
        for e in t.manifest["file_stats"].values()
    )
    repo = "repo_0050"
    base, deltas = t._lookup_files(repo, "main.py")
    assert len(base) + len(deltas) == 1
    assert t.lookup(repo, "main.py").count() == 1


def test_missing_stats_degrade_to_scan_not_wrong_answer(spark, tmp_path):
    """Files without a stats entry (written by an older engine) are always
    scanned."""
    t = _mk(spark, tmp_path, "mor")
    _merge_range(t, spark, 0, 40, seq=1)
    t = restamp_head(spark, t, lambda m: m.update(file_stats={}))
    assert t.manifest["file_stats"] == {}
    repo = "repo_0007"
    base, deltas = t._lookup_files(repo, "main.py")
    assert len(base) + len(deltas) == _total_files(t, repo, "main.py")
    assert t.lookup(repo, "main.py").count() == 1


def test_expire_snapshots_keeps_referenced_stats_blobs(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(lake, "INLINE_MAX_FILES_PER_BUCKET", 0)
    monkeypatch.setattr(lake, "MAX_DELTAS_PER_BUCKET", 100)
    t = _mk(spark, tmp_path, "mor")
    _merge_range(t, spark, 0, 40, seq=1)
    _merge_range(t, spark, 40, 80, seq=2)
    _merge_range(t, spark, 80, 120, seq=3)
    t.expire_snapshots(keep_last=1)
    t = t.refresh()
    # current version's stats blobs survived; pruning still exact
    base, deltas = t._lookup_files("repo_0100", "main.py")
    assert len(base) + len(deltas) == 1
    assert t.lookup("repo_0100", "main.py").count() == 1


def test_key_sorted_writes_make_multi_file_base_prunable(spark, tmp_path):
    """Writes are key-sorted within each task,
    so even same-range batches produce files whose bounds a lookup can
    separate after compaction collapses them into sorted base files."""
    t = _mk(spark, tmp_path, "mor")
    _merge_range(t, spark, 0, 200, seq=1)
    t.compact()
    b = str(t.bucket_of("repo_0000", "main.py"))
    stats = t._stats_of(b)
    for f in t._entry_files("buckets", b):
        rmin, rmax, *_ = stats[f]
        assert rmin <= rmax
    # every key resolvable through the pruned path
    for i in (0, 99, 199):
        assert t.lookup(f"repo_{i:04d}", "main.py").count() == 1


@pytest.mark.parametrize("mode", ["mor", "compacted"])
def test_lookup_plans_zero_jobs_for_pruning(spark, tmp_path, mode):
    """Planning a lookup (bucket + file pruning) runs no Spark job — the
    returned DataFrame is the first thing that touches the cluster."""
    t = _mk(spark, tmp_path, mode)
    _merge_range(t, spark, 0, 20, seq=1)
    if mode == "compacted":
        t.compact()
    sc = spark.sparkContext
    before = sc._jsc.sc().dagScheduler().nextJobId()
    df = t.lookup("repo_0003", "main.py")
    after = sc._jsc.sc().dagScheduler().nextJobId()
    assert after == before
    assert df.count() == 1


# ---- parquet-native Bloom-filter pruning (r4, VERDICT r3 §next 8) ----------

def _merge_interleaved(t, spark, batch, n_batches, n_keys, seq):
    """Keys interleaved across batches: every delta file's (repo, path)
    bounds span the whole keyspace, so min/max bounds can never prune —
    only the Bloom level can tell the files apart."""
    rows = [
        _row("insert", "repo_X", f"file_{i:05d}.py", seq * 100000 + i, f"c{seq}")
        for i in range(batch, n_keys, n_batches)
    ]
    t.merge(_batch(spark, rows), source_id="s", batch_id=seq)


def test_bloom_prunes_delta_files_inside_minmax_bounds(spark, tmp_path):
    t = _mk(spark, tmp_path, "mor")
    n_batches, n_keys = 6, 600
    for b in range(n_batches):
        _merge_interleaved(t, spark, b, n_batches, n_keys, seq=b + 1)
    # interior keys: interleaved batches give overlapping per-file path
    # ranges, so bounds keep several files; blooms prune within them
    total_bounds = total_bloom = 0
    for i in (10, 11, 12, 297, 300, 421, 590):
        key = ("repo_X", f"file_{i:05d}.py")
        bkt = str(t.bucket_of(*key))
        stats = t._stats_of(bkt)
        all_deltas = t._entry_files("deltas", bkt)
        bounds_kept = [
            f for f in all_deltas if t._file_may_contain(stats.get(f), *key)
        ]
        _, deltas = t._lookup_files(*key)
        assert set(deltas) <= set(bounds_kept)  # bloom only narrows
        # FPP leaves the occasional extra file; the point is it's not O(chain)
        assert len(deltas) <= 2, (key, deltas)
        total_bounds += len(bounds_kept)
        total_bloom += len(deltas)
        got = t.lookup(*key).collect()
        assert len(got) == 1 and got[0]["content"] == f"c{(i % n_batches) + 1}"
    # and it genuinely prunes INSIDE the min/max level across the probe set
    assert total_bloom < total_bounds, (total_bloom, total_bounds)


def test_bloom_no_false_negative_for_any_present_key(spark, tmp_path):
    """Soundness: a Bloom filter may keep a useless file, but it must NEVER
    drop the file that holds the key — every key stays resolvable."""
    t = _mk(spark, tmp_path, "mor")
    for b in range(4):
        _merge_interleaved(t, spark, b, 4, 200, seq=b + 1)
    for i in range(0, 200, 7):
        got = t.lookup("repo_X", f"file_{i:05d}.py").collect()
        assert len(got) == 1, i
        assert got[0]["content"] == f"c{(i % 4) + 1}"


def _strip_bloom_locators(m):
    """Slot 5 cleared, as an engine that wrote no Bloom filters left it
    (slot 6 column stats are orthogonal to blooms and stay)."""
    for entry in m["file_stats"].values():
        for s in entry.values():
            if len(s) > 5:
                s[5] = None


def test_bloom_disabled_at_write_degrades_to_bounds(spark, tmp_path):
    t = _mk(spark, tmp_path, "mor")
    for b in range(3):
        _merge_interleaved(t, spark, b, 3, 90, seq=b + 1)
    t = restamp_head(spark, t, _strip_bloom_locators)
    key = ("repo_X", "file_00010.py")
    bkt = str(t.bucket_of(*key))
    stats = t._stats_of(bkt)
    for f, s in stats.items():
        assert len(s) == 5 or not s[5], f  # no bloom locator recorded
    _, deltas = t._lookup_files(*key)
    bounds_kept = [
        f
        for f in t._entry_files("deltas", bkt)
        if t._file_may_contain(stats.get(f), *key)
    ]
    assert deltas == bounds_kept  # bounds-only, no bloom narrowing
    assert t.lookup(*key).count() == 1


def test_bloom_probe_disabled_at_read(spark, tmp_path):
    t = _mk(spark, tmp_path, "mor")
    for b in range(3):
        _merge_interleaved(t, spark, b, 3, 90, seq=b + 1)
    key = ("repo_X", "file_00010.py")
    bkt = str(t.bucket_of(*key))
    stats = t._stats_of(bkt)
    bounds_kept = [
        f
        for f in t._entry_files("deltas", bkt)
        if t._file_may_contain(stats.get(f), *key)
    ]
    _, deltas = t._lookup_files(*key)
    assert len(deltas) <= 2 and set(deltas) <= set(bounds_kept)


def test_sbbf_locators_and_probe_roundtrip(spark, tmp_path):
    """Unit level: the thrift footer walk finds the writer's Bloom filters,
    present values always probe True, absent values probe mostly False
    (~1% FPP)."""
    from kafka_mongo_watcher_spark.plans.parquet_bloom import (
        _read_sbbf,
        bloom_locators,
        sbbf_probe,
    )

    out = str(tmp_path / "sbbf")
    (
        spark.range(0, 20000)
        .selectExpr("concat('p_', id) AS path", "id AS v")
        .coalesce(1)
        .write.option("parquet.bloom.filter.enabled#path", "true")
        .option("parquet.bloom.filter.adaptive.enabled", "true")
        .parquet(out)
    )
    f = [os.path.join(out, x) for x in os.listdir(out) if x.endswith(".parquet")][0]
    locs = bloom_locators(f)
    assert locs and "path" in locs[0]
    bitset = _read_sbbf(f, *locs[0]["path"])
    assert bitset and len(bitset) % 32 == 0
    assert all(sbbf_probe(bitset, f"p_{i}".encode()) for i in range(0, 20000, 97))
    absent_hits = sum(sbbf_probe(bitset, f"zz_{i}".encode()) for i in range(2000))
    assert absent_hits < 2000 * 0.05
    # a file written without blooms yields no locators
    (spark.range(5).selectExpr("concat('p_', id) AS path").coalesce(1)
     .write.parquet(str(tmp_path / "nobloom")))
    nb = [os.path.join(str(tmp_path / "nobloom"), x)
          for x in os.listdir(str(tmp_path / "nobloom")) if x.endswith(".parquet")][0]
    assert bloom_locators(nb) == []
