"""Deferred partial-update merge engine (LakeTable.merge deferred path +
_resolve_lww_columns): patch batches append batch-folded PARTIAL rows with a
`_write_mask` (no state read at ingest); reads resolve per-column LWW for
buckets flagged `masked_buckets`; compaction/rebucket retire the masks.
Reference semantics: updateDescription deltas applied in change-stream order
(/root/reference/internal/mongo/event.go); the deferral itself is the Paimon
partial-update merge-engine shape re-expressed on Spark."""

import pytest
from pyspark.sql import functions as F

from kafka_mongo_watcher_spark.plans.lake import LakeTable

from tests.test_patch import SCHEMA, USER_SCHEMA, _b, _full, _patch, _state

PLAIN_SCHEMA = (
    "partition_id int, offset bigint, op string, repo string, path string, "
    "commit string, lang string, content string, content_sha256 string, "
    "commit_seq bigint"
)


def _mk(spark, tmp_path, name="t", **kw):
    kw.setdefault("n_buckets", 4)
    kw.setdefault("user_schema", USER_SCHEMA)
    return LakeTable.create(spark, str(tmp_path / name), **kw)


def _seed(spark, t):
    t.merge(_b(spark, [_full("insert", "p", 1), _full("insert", "q", 2)]),
            source_id="s", batch_id=0)


def _patch_batch(spark):
    return _b(spark, [
        _patch("p", 3, ["content", "content_sha256"], content="c2",
               content_sha256="sha3"),
        _patch("q", 4, ["lang"], lang="go"),
    ])


WANT = {"p": ("commit1", "py", "c2", "sha3"), "q": ("commit2", "go", "c", "sha2")}


def test_deferred_merge_appends_masked_deltas(spark, tmp_path):
    """Default MOR patch ingest: strategy=patch_append, the touched buckets
    land in manifest.masked_buckets, and the commit's delta rows are PARTIAL
    (non-null _write_mask) — no full-row materialization happened."""
    t = _mk(spark, tmp_path)
    _seed(spark, t)
    stats = t.merge(_patch_batch(spark), source_id="s", batch_id=1)
    assert stats["dedup_strategy"] == "patch_append"
    masked = set(t.manifest["masked_buckets"])
    assert masked == {str(t.bucket_of("r", "p")), str(t.bucket_of("r", "q"))}
    ch = t.changes(t.version - 1, t.version)
    rows = {r["path"]: r for r in ch.collect()}
    assert rows["p"]["_write_mask"] is not None
    assert rows["q"]["_write_mask"] is not None
    # the mask names exactly the written payload columns (bit i = payload
    # position i in user_schema minus keys): p wrote content+content_sha256
    payload = [n for n, _ in t.manifest["user_schema"] if n not in ("repo", "path")]
    def written(mask):
        return {c for i, c in enumerate(payload) if (mask >> i) & 1}
    assert written(rows["p"]["_write_mask"]) == {"content", "content_sha256"}
    assert written(rows["q"]["_write_mask"]) == {"lang"}
    # state reads resolve per column — untouched columns inherited
    assert _state(t) == WANT


def test_deferred_equals_eager_state(spark, tmp_path):
    """The deferred state is byte-identical to what applying each patch
    eagerly to the stored row gives: untouched columns inherited, the row's
    commit_seq advanced to the patch's."""
    t_def = _mk(spark, tmp_path, "t_def")
    _seed(spark, t_def)
    t_def.merge(_patch_batch(spark), source_id="s", batch_id=1)
    cols = ["repo", "path", "commit", "lang", "content", "content_sha256",
            "commit_seq"]
    got_def = sorted(map(tuple, t_def.snapshot().select(*cols).collect()))
    assert got_def == [
        ("r", "p", "commit1", "py", "c2", "sha3", 3),
        ("r", "q", "commit2", "go", "c", "sha2", 4),
    ]


def test_deferred_ingest_never_reads_table_state(spark, tmp_path, monkeypatch):
    """The whole point: patch ingest is a blind append. Poison every state
    read (read_buckets backs every bucket scan) — the deferred merge must
    not trigger one."""
    t = _mk(spark, tmp_path)
    _seed(spark, t)

    def _boom(*a, **kw):  # pragma: no cover - should never fire
        raise AssertionError("deferred patch ingest read table state")

    monkeypatch.setattr(LakeTable, "read_buckets", _boom)
    stats = t.merge(_patch_batch(spark), source_id="s", batch_id=1)
    assert stats["dedup_strategy"] == "patch_append"
    monkeypatch.undo()
    assert _state(t) == WANT


def test_compaction_retires_masks(spark, tmp_path):
    t = _mk(spark, tmp_path)
    _seed(spark, t)
    t.merge(_patch_batch(spark), source_id="s", batch_id=1)
    assert t.manifest["masked_buckets"]
    t.compact()
    assert t.manifest["masked_buckets"] == []
    assert t.manifest["deltas"] == {} or all(
        not v for v in t.manifest["deltas"].values()
    )
    assert _state(t) == WANT
    # compacted files are FULL rows: every stored mask is NULL
    live = t.read_buckets()
    assert "_write_mask" not in live.columns  # public read drops it
    internal = t._read_files(t._files_of("buckets", list(t.manifest["buckets"])))
    assert internal.filter(F.col("_write_mask").isNotNull()).count() == 0


def test_rebucket_resolves_masks(spark, tmp_path):
    t = _mk(spark, tmp_path)
    _seed(spark, t)
    t.merge(_patch_batch(spark), source_id="s", batch_id=1)
    t.rebucket(8)
    assert t.manifest["masked_buckets"] == []
    assert t.n_buckets == 8
    assert _state(t) == WANT


def test_lookup_on_masked_bucket(spark, tmp_path):
    t = _mk(spark, tmp_path)
    _seed(spark, t)
    t.merge(_patch_batch(spark), source_id="s", batch_id=1)
    row = t.lookup("r", "q").collect()
    assert len(row) == 1
    assert (row[0]["lang"], row[0]["content"]) == ("go", "c")
    assert "_write_mask" not in t.lookup("r", "q").columns


def test_time_travel_and_rollback_over_masked_versions(spark, tmp_path):
    t = _mk(spark, tmp_path)
    _seed(spark, t)
    v_pre = t.version
    t.merge(_patch_batch(spark), source_id="s", batch_id=1)
    v_patch = t.version
    t.compact()
    # at_version BEFORE the patch: original state
    assert _state(t.at_version(v_pre)) == {
        "p": ("commit1", "py", "c", "sha1"), "q": ("commit2", "go", "c", "sha2"),
    } or _state(t.at_version(v_pre)) == {
        "p": ("commit1", "py", "c", "sha1"), "q": ("commit2", "py", "c", "sha2"),
    }
    # at the masked version: per-column resolution applies
    assert _state(t.at_version(v_patch)) == WANT
    # rollback to the masked version from the compacted head
    t.rollback(v_patch)
    assert set(t.manifest["masked_buckets"]) == {
        str(t.bucket_of("r", "p")), str(t.bucket_of("r", "q"))
    }
    assert _state(t) == WANT


def test_plain_batch_delete_then_patch_does_not_leak_predelete_values(
    spark, tmp_path
):
    """Regression: a delete arriving in a PLAIN batch (no patch_mask column)
    stores the raw event payload; per-column resolution must still treat the
    tombstone as writing NULL everywhere, or a later patch would resurrect
    pre-delete bytes into its untouched columns."""
    t = _mk(spark, tmp_path)
    plain = spark.createDataFrame(
        [(0, 1, "insert", "r", "p", "c1", "py", "body", "sha1", 1)],
        PLAIN_SCHEMA,
    )
    t.merge(plain, source_id="s", batch_id=0)
    # delete carries the old payload bytes (as raw CDC events do)
    dele = spark.createDataFrame(
        [(0, 2, "delete", "r", "p", "c1", "py", "body", "sha1", 2)],
        PLAIN_SCHEMA,
    )
    t.merge(dele, source_id="s", batch_id=1)
    t.merge(_b(spark, [_patch("p", 3, ["lang"], lang="go")]),
            source_id="s", batch_id=2)
    # sequential semantics: delete cleared everything; patch set lang only
    assert _state(t) == {"p": (None, "go", None, None)}
    t.compact()
    assert _state(t) == {"p": (None, "go", None, None)}


def test_wide_table_stays_deferred(spark, tmp_path):
    """64 payload columns overflow the bigint `_write_mask`: positions >= 62
    spill into `_write_mask_ext`, so a wide table still takes the blind
    patch_append path, and compaction retires both masks."""
    wide = USER_SCHEMA + [(f"x{i:02d}", "string") for i in range(60)]
    payload = [n for n, _ in wide if n not in ("repo", "path")]
    assert len(payload) == 64 and payload.index("x59") == 63
    t = _mk(spark, tmp_path, user_schema=wide)
    _seed(spark, t)
    stats = t.merge(_patch_batch(spark), source_id="s", batch_id=1)
    assert stats["dedup_strategy"] == "patch_append"
    assert t.manifest["masked_buckets"]
    # a patch writing only x59 sets exactly that column's bit
    stats = t.merge(spark.createDataFrame(
        [(0, 5, "update", "r", "p", None, None, None, None, 5, ["x59"], "v59")],
        SCHEMA + ", x59 string",
    ), source_id="s", batch_id=2)
    assert stats["dedup_strategy"] == "patch_append"
    (row,) = t.changes(t.version - 1, t.version).collect()
    assert row["_write_mask"] == 0 and row["_write_mask_ext"] == [1 << 1]
    ext = row["_write_mask_ext"]
    assert {c for i, c in enumerate(payload)
            if (ext[i // 62 - 1] if i >= 62 else row["_write_mask"]) >> (i % 62) & 1
            } == {"x59"}

    def wide_state():
        return {r["path"]: (r["commit"], r["lang"], r["content"],
                            r["content_sha256"], r["x59"])
                for r in t.snapshot().collect()}

    want = {"p": WANT["p"] + ("v59",), "q": WANT["q"] + (None,)}
    assert wide_state() == want
    t.compact()
    assert t.manifest["masked_buckets"] == []
    assert wide_state() == want
    stored = t._read_files(t._files_of("buckets", list(t.manifest["buckets"])))
    assert stored.filter(F.col("_write_mask").isNotNull()
                         | F.col("_write_mask_ext").isNotNull()).count() == 0


def test_deferred_with_schema_evolution_new_column(spark, tmp_path):
    """A patch batch that INTRODUCES a column: mask bits are positions in
    the post-evolution user_schema (append-only), so old full rows (NULL
    mask) write the new column as NULL and the patch row owns its bit."""
    t = _mk(spark, tmp_path)
    _seed(spark, t)
    ev_schema = SCHEMA + ", stars int"
    batch = spark.createDataFrame(
        [(0, 3, "update", "r", "p", None, None, None, None, 3,
          ["stars"], 7)],
        ev_schema,
    )
    stats = t.merge(batch, source_id="s", batch_id=1)
    assert stats["dedup_strategy"] == "patch_append"
    got = {r["path"]: (r["lang"], r["content"], r["stars"])
           for r in t.snapshot().collect()}
    assert got == {"p": ("py", "c", 7), "q": ("py", "c", None)}
    t.compact()
    got2 = {r["path"]: (r["lang"], r["content"], r["stars"])
            for r in t.snapshot().collect()}
    assert got2 == got


def test_changes_partial_rows_distinguish_set_null_from_untouched(spark, tmp_path):
    """CDC out of the lake: a masked NULL (explicit unset) is visible as
    mask-bit-set + NULL value; an untouched column is mask-bit-unset —
    a distinction a full-row changelog could not express."""
    t = _mk(spark, tmp_path)
    _seed(spark, t)
    t.merge(_b(spark, [
        # unset p's lang (masked NULL), leave content untouched
        _patch("p", 3, ["lang"], lang=None),
    ]), source_id="s", batch_id=1)
    ch = {r["path"]: r for r in t.changes(t.version - 1, t.version).collect()}
    payload = [n for n, _ in t.manifest["user_schema"] if n not in ("repo", "path")]
    mask = ch["p"]["_write_mask"]
    bits = {c for i, c in enumerate(payload) if (mask >> i) & 1}
    assert bits == {"lang"}
    assert ch["p"]["lang"] is None           # explicit unset rides the bit
    assert ch["p"]["content"] is None        # untouched: bit unset, value null
    assert "content" not in bits
    assert _state(t)["p"] == ("commit1", None, "c", "sha1")


def test_full_rows_inside_patch_batch_stay_unmasked(spark, tmp_path):
    """A patch batch's full-row winners (insert/replace/delete, or a key
    whose fold ended up writing every column) are stored with the canonical
    NULL mask — indistinguishable from plain rows."""
    t = _mk(spark, tmp_path)
    _seed(spark, t)
    t.merge(_b(spark, [
        _full("insert", "new", 3),
        _patch("p", 4, ["lang"], lang="go"),
    ]), source_id="s", batch_id=1)
    ch = {r["path"]: r["_write_mask"]
          for r in t.changes(t.version - 1, t.version).collect()}
    assert ch["new"] is None
    assert ch["p"] is not None
    # a batch whose patch_mask column is all NULL holds no patch row: it
    # folds to full rows and the mask never reaches the table
    t2 = _mk(spark, tmp_path, "t2")
    s = t2.merge(_b(spark, [
        _full("insert", "a", 1), _full("update", "a", 2), _full("delete", "b", 3),
    ]), source_id="s", batch_id=0)
    assert s["dedup_strategy"] == "fold"
    assert t2.manifest["masked_buckets"] == []
    assert "patch_mask" not in {n for n, _ in t2.manifest["user_schema"]}
    assert {r["path"]: r["_write_mask"] for r in t2.changes(0, 1).collect()} == {
        "a": None, "b": None
    }
