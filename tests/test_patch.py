"""Partial-update application (Mongo updateDescription deltas,
operators/patch.py + LakeTable._fold_patches): patch rows carry only
the columns they change (`patch_mask` lists them); untouched columns
inherit from table state; a masked NULL is removedFields (explicit unset).
Reference behavior: the watcher forwards updateDescription deltas unless
ignoreUpdateDescription (/root/reference/internal/mongo/event.go)."""

import os

import pytest
from pyspark.sql import functions as F

from kafka_mongo_watcher_spark.plans.lake import LakeTable

SCHEMA = (
    "partition_id int, offset bigint, op string, repo string, path string, "
    "commit string, lang string, content string, content_sha256 string, "
    "commit_seq bigint, patch_mask array<string>"
)

USER_SCHEMA = [
    ("repo", "string"), ("path", "string"), ("commit", "string"),
    ("lang", "string"), ("content", "string"), ("content_sha256", "string"),
]


def _b(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _full(op, path, seq, commit=None, lang="py", content="c", sha=None):
    return (0, seq, op, "r", path, commit or f"commit{seq}", lang, content,
            sha or f"sha{seq}", seq, None)


def _patch(path, seq, mask, **vals):
    return (0, seq, "update", "r", path,
            vals.get("commit"), vals.get("lang"), vals.get("content"),
            vals.get("content_sha256"), seq, mask)


def _state(t):
    return {
        r["path"]: (r["commit"], r["lang"], r["content"], r["content_sha256"])
        for r in t.snapshot().collect()
    }


@pytest.mark.parametrize("mode", ["compacted", "mor"])
def test_patch_inherits_untouched_columns(spark, tmp_path, mode):
    t = LakeTable.create(spark, str(tmp_path / f"t_{mode}"), n_buckets=4,
                         user_schema=USER_SCHEMA)
    t.merge(_b(spark, [_full("insert", "p", 1), _full("insert", "q", 2)]),
            source_id="s", batch_id=0)
    if mode == "compacted":
        t.compact()  # patches then inherit from base files
    # patch p's content only; patch q's lang only
    t.merge(_b(spark, [
        _patch("p", 3, ["content", "content_sha256", "commit"],
               content="c2", content_sha256="sha3", commit="commit3"),
        _patch("q", 4, ["lang"], lang="go"),
    ]), source_id="s", batch_id=1)
    assert _state(t) == {
        "p": ("commit3", "py", "c2", "sha3"),       # lang inherited
        "q": ("commit2", "go", "c", "sha2"),        # content inherited
    }
    # commit_seq advanced to the patch's
    seqs = {r["path"]: r["commit_seq"] for r in t.snapshot().collect()}
    assert seqs == {"p": 3, "q": 4}


def test_same_batch_patch_ordering_and_masked_null(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=4,
                         user_schema=USER_SCHEMA)
    t.merge(_b(spark, [_full("insert", "p", 1)]), source_id="s", batch_id=0)
    # two patches to the same key in one batch: disjoint columns both apply,
    # later write to the same column wins; masked NULL unsets (removedFields)
    t.merge(_b(spark, [
        _patch("p", 2, ["content"], content="c2"),
        _patch("p", 3, ["lang"], lang=None),          # explicit unset
        _patch("p", 4, ["content"], content="c4"),
    ]), source_id="s", batch_id=1)
    # content_sha256 travels WITH content (mask alias): a content patch
    # rewrites the fingerprint too (here: to the null the patch carried),
    # never leaves a stale sha of the old content behind
    assert _state(t) == {"p": ("commit1", None, "c4", None)}


def test_full_row_supersedes_earlier_patches_in_batch(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=4,
                         user_schema=USER_SCHEMA)
    t.merge(_b(spark, [
        _patch("p", 1, ["content"], content="early"),
        _full("replace", "p", 2, lang="go", content="full"),
        _patch("p", 3, ["content"], content="late"),
    ]), source_id="s", batch_id=0)
    # replace wrote every column at seq 2; the seq-3 patch lands on top
    # (and, via the mask alias, rewrites content_sha256 alongside content)
    assert _state(t) == {"p": ("commit2", "go", "late", None)}


def test_delete_then_patch_resurrects_with_patched_cols_only(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=4,
                         user_schema=USER_SCHEMA)
    t.merge(_b(spark, [_full("insert", "p", 1), _full("insert", "q", 2)]),
            source_id="s", batch_id=0)
    # q: patch after delete — the delete wrote every column NULL, so nothing
    # pre-delete leaks; p: delete last -> tombstone
    t.merge(_b(spark, [
        _full("delete", "q", 3),
        _patch("q", 4, ["content"], content="rez"),
        _patch("p", 5, ["lang"], lang="go"),
        _full("delete", "p", 6),
    ]), source_id="s", batch_id=1)
    assert _state(t) == {"q": (None, None, "rez", None)}


def test_patch_on_absent_key_upserts_with_nulls(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=4,
                         user_schema=USER_SCHEMA)
    t.merge(_b(spark, [_patch("ghost", 1, ["content"], content="x")]),
            source_id="s", batch_id=0)
    assert _state(t) == {"ghost": (None, None, "x", None)}


def test_patch_inherits_across_batches_and_is_idempotent(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=4,
                         user_schema=USER_SCHEMA)
    t.merge(_b(spark, [_full("insert", "p", 1)]), source_id="s", batch_id=0)
    patch = _b(spark, [_patch("p", 2, ["content"], content="c2")])
    t.merge(patch, source_id="s", batch_id=1)
    before = _state(t)
    # commit + lang inherited; content_sha256 rides with content (alias)
    assert before == {"p": ("commit1", "py", "c2", None)}
    # re-apply with fencing bypassed (fresh source_id): state unchanged
    t.merge(patch, source_id="s2", batch_id=0)
    assert _state(t) == before


def test_mixed_full_and_patch_rows_across_keys(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=4,
                         user_schema=USER_SCHEMA)
    t.merge(_b(spark, [_full("insert", "a", 1), _full("insert", "b", 2)]),
            source_id="s", batch_id=0)
    t.merge(_b(spark, [
        _full("replace", "a", 3, lang="rs"),
        _patch("b", 4, ["lang"], lang="go"),
        _full("insert", "c", 5),
    ]), source_id="s", batch_id=1)
    got = _state(t)
    assert got["a"] == ("commit3", "rs", "c", "sha3")
    assert got["b"] == ("commit2", "go", "c", "sha2")
    assert got["c"] == ("commit5", "py", "c", "sha5")


def test_patch_lineage_counts_raw_deliveries(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=4,
                         user_schema=USER_SCHEMA)
    stats = t.merge(_b(spark, [
        _patch("p", 1, ["content"], content="a"),
        _patch("p", 2, ["content"], content="b"),
        _patch("p", 3, ["content"], content="c"),
    ]), source_id="s", batch_id=0)
    lin = t.manifest["lineage"]["0"]
    assert lin["events"] == 3 and lin["max_offset"] == 3
    assert _state(t)["p"][2] == "c"


# ---- streaming: patch events through the replay stream ----------------------

from kafka_mongo_watcher_spark.streaming.run import run_replay_stream

EVENT_DDL = (
    "partition_id int, commit_seq bigint, op string, repo string, path string, "
    "commit string, lang string, content_raw string, offset bigint, "
    "patch_mask array<string>"
)


def _replay(spark, tmp_path, name, **kw):
    LakeTable.create(spark, str(tmp_path / name), n_buckets=4)
    stats = run_replay_stream(
        spark,
        log_dir=str(tmp_path / f"log_{name}"),
        table_path=str(tmp_path / name),
        checkpoint_dir=str(tmp_path / f"ckpt_{name}"),
        **kw,
    )
    return stats, LakeTable(spark, str(tmp_path / name))


def test_streaming_patch_log_applies_deltas(spark, tmp_path):
    """The streaming source always declares the optional patch_mask column
    (sources/events.py); each batch's own rows choose the merge route, and
    patches fold through the partial-update path across epochs — whether
    or not the early chunks physically carry the column."""
    early = [(0, 1, "insert", "r", "p", "c1", "py", "body1", 1, None),
             (0, 2, "insert", "r", "q", "c2", "go", "body2", 2, None)]
    patch = [(0, 3, "update", "r", "p", None, "rs", None, 3, ["lang"])]
    for name, early_has_mask in (("masked", True), ("late_mask", False)):
        log = tmp_path / f"log_{name}"
        df = spark.createDataFrame(early, EVENT_DDL)
        if not early_has_mask:  # written before the log had the column
            df = df.drop("patch_mask")
        df.coalesce(1).write.parquet(str(log / "chunk=0"))
        spark.createDataFrame(patch, EVENT_DDL).coalesce(1).write.parquet(
            str(log / "chunk=1")
        )
        stats, t = _replay(spark, tmp_path, name)
        assert [s["dedup_strategy"] for s in stats if not s.get("skipped")] == [
            "fold", "patch_append"
        ], name
        got = {r["path"]: (r["lang"], r["content"], r["commit_seq"])
               for r in t.snapshot().collect()}
        # p: lang patched, content inherited from the insert (canonicalized
        # with the trailing newline the fingerprint pass appends); q untouched
        assert got == {"p": ("rs", "body1\n", 3), "q": ("go", "body2\n", 2)}, name

    # a plain log of more files than any footer probe would read: 130 files
    # of 3 events each, one epoch
    from kafka_mongo_watcher_spark.datagen import generate_events
    from kafka_mongo_watcher_spark.oracle import oracle_rows

    ev = generate_events(spark, 390, malformed_per_mille=0)
    rows = [r.asDict() for r in ev.collect()]
    log = tmp_path / "log_wide"
    ev.repartition(130).write.parquet(str(log))
    assert len([f for f in os.listdir(log) if f.endswith(".parquet")]) == 130
    stats, t = _replay(spark, tmp_path, "wide", max_files_per_trigger=200)
    assert [s["dedup_strategy"] for s in stats] == ["fold"]
    cols = ["repo", "path", "commit", "lang", "content_sha256"]
    assert {tuple(r) for r in t.snapshot().select(*cols).collect()} == oracle_rows(rows)


def test_patch_fold_plan_shape(spark):
    """Scale guard: the fold is ONE keyed aggregate with map-side partial
    combine — exactly one Exchange, no Window, no join in the fold itself."""
    from kafka_mongo_watcher_spark.operators.patch import fold_patch_batch

    df = spark.createDataFrame(
        [(0, 1, "insert", "r", "p", "c", "py", 1, None)],
        "partition_id int, offset bigint, op string, repo string, path string, "
        "content string, lang string, commit_seq bigint, patch_mask array<string>",
    )
    out = fold_patch_batch(df, ["content", "lang"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning(repo") == 1
    assert "partial_max_by" in plan          # map-side combine before the shuffle
    assert "Window" not in plan and "Join" not in plan


# ---- property: batch-cut invariance over in-order patch streams -------------

import tempfile

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@st.composite
def patch_scenario(draw):
    """In-seq-order stream (the change-stream delivery contract) of mixed
    full/patch/delete events over a colliding key space; random batch cuts;
    random within-batch shuffles."""
    n = draw(st.integers(min_value=4, max_value=14))
    kinds = draw(st.lists(
        st.sampled_from(["insert", "full_update", "patch", "delete"]),
        min_size=n, max_size=n))
    keys = draw(st.lists(st.integers(0, 2), min_size=n, max_size=n))
    masks = draw(st.lists(
        st.sets(st.sampled_from(["commit", "lang"]), min_size=1, max_size=2),
        min_size=n, max_size=n))
    cuts = sorted(draw(st.sets(st.integers(1, n - 1), max_size=3)))
    shuffle_seeds = draw(st.lists(st.randoms(use_true_random=False),
                                  min_size=4, max_size=4))
    return kinds, keys, masks, cuts, shuffle_seeds


def _patch_rows(kinds, keys, masks):
    rows = []
    for seq, (kind, k, mask) in enumerate(zip(kinds, keys, masks), start=1):
        path = f"p{k}"
        if kind == "patch":
            vals = {c: f"{c}{seq}" for c in mask}
            rows.append(_patch(path, seq, sorted(mask), **vals))
        elif kind == "delete":
            rows.append(_full("delete", path, seq))
        else:
            op = "insert" if kind == "insert" else "update"
            rows.append(_full(op, path, seq))
    return rows


def _sequential_patch_oracle(rows):
    """Replay in commit_seq order with per-column write semantics."""
    # row tuple layout (see SCHEMA): 0 partition_id, 1 offset, 2 op, 3 repo,
    # 4 path, 5 commit, 6 lang, 7 content, 8 content_sha256, 9 commit_seq,
    # 10 patch_mask
    cols = ("commit", "lang", "content", "content_sha256")
    state, alive = {}, {}
    for r in sorted(rows, key=lambda r: r[9]):
        path, op, mask = r[4], r[2], r[10]
        vals = dict(zip(cols, (r[5], r[6], r[7], r[8])))
        if op == "delete":
            state[path] = {c: None for c in cols}
            alive[path] = False
        elif op == "update" and mask is not None:
            cur = dict(state.get(path) or {c: None for c in cols})
            for c in mask:
                cur[c] = vals[c]
            state[path] = cur
            alive[path] = True
        else:
            state[path] = vals
            alive[path] = True
    return {p: tuple(v[c] for c in cols) for p, v in state.items() if alive[p]}


@given(case=patch_scenario())
@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_patch_batch_cut_invariance(spark, case):
    kinds, keys, masks, cuts, rngs = case
    rows = _patch_rows(kinds, keys, masks)
    bounds = [0, *cuts, len(rows)]
    batches = [rows[a:b] for a, b in zip(bounds, bounds[1:]) if a < b]
    t = LakeTable.create(spark, tempfile.mkdtemp(prefix="kmw_patchprop_"),
                         n_buckets=4, user_schema=USER_SCHEMA, write_mode="mor")
    for i, b in enumerate(batches):
        b = list(b)
        rngs[i % len(rngs)].shuffle(b)  # intra-batch order is arbitrary
        t.merge(_b(spark, b), source_id="s", batch_id=i)
    want = _sequential_patch_oracle(rows)
    assert _state(t) == want
    # replaying the final batch (fencing bypassed) must not change state
    t.merge(_b(spark, batches[-1]), source_id="s2", batch_id=0)
    assert _state(t) == want
