"""Column-statistics pruned scan (`LakeTable.scan`) — Iceberg min/max data
skipping generalized beyond the key columns.

Every committed file's manifest entry carries per-column [min, max, nulls]
bounds for the flat non-key columns (read from the parquet footer at commit
time, truncated for long strings with the Iceberg truncate-upper rule).
`scan(filters)` drops, driver-side with zero Spark jobs, (a) individual
base files of delta-free buckets and (b) whole buckets where EVERY
base+delta file refutes a clause. The residual filter always runs
Spark-side, so pruning is an IO optimization, never a correctness
dependency.

Soundness invariant under MOR: a resolved row's final value for any column
is a value physically stored in some file of its bucket, so "no file in the
bucket stores a satisfying value" implies "no resolved row satisfies the
(null-rejecting) predicate".
"""

import os

import pytest
from pyspark.sql import functions as F

from kafka_mongo_watcher_spark.plans.lake import (
    LakeTable,
    _footer_column_stats,
    _trunc_upper,
)

from tests.test_lake_mor import restamp_head
from tests.test_patch import SCHEMA, USER_SCHEMA, _b, _full, _patch


def _mk(spark, tmp_path, name="t", **kw):
    kw.setdefault("n_buckets", 4)
    kw.setdefault("user_schema", USER_SCHEMA)
    kw.setdefault("write_mode", "mor")
    return LakeTable.create(spark, str(tmp_path / name), **kw)


def _row(op, repo, path, seq, lang="py", content="c"):
    return (0, seq, op, repo, path, f"commit{seq}", lang, content,
            f"sha{seq}", seq, None)


def _rows_set(df, *cols):
    return {tuple(r[c] for c in cols) for r in df.collect()}


def _assert_scan_equals_filter(t, filters, spark_cond):
    got = _rows_set(t.scan(filters), "repo", "path", "commit", "lang", "commit_seq")
    want = _rows_set(
        t.snapshot().filter(spark_cond), "repo", "path", "commit", "lang", "commit_seq"
    )
    assert got == want
    return t.last_scan_report


# ---------- pure-Python bound helpers ----------


def test_trunc_upper_is_a_valid_upper_bound():
    long = "x" * 100 + "abc"
    tu = _trunc_upper(long)
    assert tu is not None and len(tu) <= 64 and long <= tu
    # short strings pass through
    assert _trunc_upper("short") == "short"
    # max codepoint everywhere → nothing incrementable
    assert _trunc_upper(chr(0x10FFFF) * 80) is None
    # surrogate gap is skipped, never emitted
    tricky = chr(0xD7FF) * 70
    tu = _trunc_upper(tricky)
    assert tu is not None and tricky <= tu
    assert all(not (0xD800 <= ord(ch) <= 0xDFFF) for ch in tu)


def test_range_refutes_matrix():
    rr = LakeTable._range_refutes
    assert rr(10, 20, "=", 25) and rr(10, 20, "=", 5)
    assert not rr(10, 20, "=", 15)
    assert rr(10, 20, "<", 10) and not rr(10, 20, "<", 11)
    assert rr(10, 20, "<=", 9) and not rr(10, 20, "<=", 10)
    assert rr(10, 20, ">", 20) and not rr(10, 20, ">", 19)
    assert rr(10, 20, ">=", 21) and not rr(10, 20, ">=", 20)
    assert rr(10, 20, "in", [5, 25]) and not rr(10, 20, "in", [5, 15])
    assert not rr(10, 20, "in", [])  # empty IN: residual filter handles it
    assert rr(10, 20, "between", (21, 30)) and rr(10, 20, "between", (1, 9))
    assert not rr(10, 20, "between", (20, 30))
    # unknown sides never refute
    assert not rr(None, 20, "<", 5) and not rr(10, None, ">", 50)
    # type-mismatched comparisons are inconclusive, never wrong
    assert not rr("a", "b", "=", 5) and not rr(1, 2, "=", "x")


def test_stats_refute_column_shapes():
    def sr(stats, col, op, val):
        return LakeTable._stats_refute(stats, col, op, val, "string")

    base = ["r1", "r9", "a.py", "z.py", 100]
    with_cols = base + [None, {"lang": ["go", "py", 0], "commit_seq": [5, 9, 0]}]
    assert sr(with_cols, "lang", "=", "rust")
    assert not sr(with_cols, "lang", "=", "py")
    assert sr(with_cols, "commit_seq", ">", 9)
    # column absent from a present colstats dict = pre-evolution file → all
    # NULL → refutes any null-rejecting op
    assert sr(with_cols, "content", "=", "anything")
    # ...but only for a flat primitive, non-`_` column: manifests written
    # before the round-5 stats fix omitted every other column
    assert not LakeTable._stats_refute(with_cols, "tags", "=", "x", "array<string>")
    assert not LakeTable._stats_refute(with_cols, "_x", "is_not_null", None, "string")
    # unusable column entry is inconclusive
    assert not sr(base + [None, {"lang": None}], "lang", "=", "x")
    # provably all-null column refutes
    assert sr(base + [None, {"lang": [None, None, 100]}], "lang", "=", "py")
    assert not sr(base + [None, {"lang": [None, None, 50]}], "lang", "=", "py")
    # no colstats section at all (pre-feature manifest) → inconclusive
    assert not sr(base, "lang", "=", "x")
    # key columns use the positional bounds
    assert sr(base, "repo", ">", "r9") and not sr(base, "repo", "=", "r5")
    # path bounds only usable when the file holds a single repo
    assert not sr(base, "path", "=", "zz.py")
    assert sr(["r1", "r1", "a.py", "f.py", 10], "path", "=", "zz.py")


# ---------- footer extraction ----------


def test_footer_column_stats_shapes(tmp_path):
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    df = pd.DataFrame(
        {
            "repo": ["r", "r"],
            "path": ["a", "b"],
            "lang": ["go", "py"],
            "commit_seq": [3, 7],
            "content": ["x" * 500, "y"],
            "allnull": pd.array([None, None], dtype="string"),
            "_write_mask": [1, None],
        }
    )
    p = str(tmp_path / "f.parquet")
    pq.write_table(pa.Table.from_pandas(df), p)
    cols = _footer_column_stats(p)
    assert cols["lang"] == ["go", "py", 0]
    assert cols["commit_seq"] == [3, 7, 0]
    lo, hi, nulls = cols["content"]
    assert len(lo) <= 64 and len(hi) <= 64 and lo <= "x" * 500 <= hi
    assert cols["allnull"] == [None, None, 2]
    # untracked-but-present columns map to explicit None (ADVICE r4:
    # "absent from the dict" is reserved for columns truly missing from
    # the file, which scan() treats as provably all-NULL)
    assert cols["_write_mask"] is None
    assert cols["repo"] is None and cols["path"] is None


# ---------- end-to-end scan correctness ----------


def test_scan_equals_snapshot_filter_mixed_state(spark, tmp_path):
    """Half-compacted MOR table with inserts/updates/deletes: scan must
    agree with snapshot().filter for every op shape, whatever got pruned."""
    t = _mk(spark, tmp_path)
    rows = [_row("insert", f"org/r{i % 5}", f"f{i}.py", i,
                 lang=["py", "go", "rs"][i % 3]) for i in range(60)]
    t.merge(_b(spark, rows), source_id="s", batch_id=0)
    t.compact()
    # post-compaction updates + deletes leave live delta chains
    upd = [_row("update", f"org/r{i % 5}", f"f{i}.py", 100 + i, lang="ts")
           for i in range(0, 20)]
    dele = [_row("delete", f"org/r{i % 5}", f"f{i}.py", 200 + i)
            for i in range(50, 55)]
    t.merge(_b(spark, upd + dele), source_id="s", batch_id=1)

    _assert_scan_equals_filter(t, [("lang", "=", "ts")], F.col("lang") == "ts")
    _assert_scan_equals_filter(t, [("lang", "in", ["go", "rs"])],
                               F.col("lang").isin("go", "rs"))
    _assert_scan_equals_filter(t, [("commit_seq", ">=", 100)],
                               F.col("commit_seq") >= 100)
    _assert_scan_equals_filter(
        t,
        [("lang", "=", "py"), ("commit_seq", "between", (10, 40))],
        (F.col("lang") == "py") & F.col("commit_seq").between(10, 40),
    )
    _assert_scan_equals_filter(t, [("repo", "=", "org/r3")],
                               F.col("repo") == "org/r3")
    # no filters → plain snapshot
    assert _rows_set(t.scan([]), "repo", "path") == _rows_set(
        t.snapshot(), "repo", "path"
    )


def test_scan_prunes_cold_base_files_by_commit_seq(spark, tmp_path):
    """The 'recent changes' predicate on a mostly-cold table: compacted
    base files carry old commit_seq bounds, so `commit_seq >= X` skips them
    individually; only buckets with fresh deltas are read."""
    t = _mk(spark, tmp_path, n_buckets=8)
    old = [_row("insert", f"o/r{i}", f"a{i}.py", i) for i in range(80)]
    t.merge(_b(spark, old), source_id="s", batch_id=0)
    t.compact()
    n_base = sum(len(t._entry_files("buckets", b)) for b in t.manifest["buckets"])
    assert n_base >= 8
    # fresh batch touches ONE key → one hot bucket
    t.merge(_b(spark, [_row("update", "o/r3", "a3.py", 5000, lang="go")]),
            source_id="s", batch_id=1)
    rep = _assert_scan_equals_filter(
        t, [("commit_seq", ">=", 5000)], F.col("commit_seq") >= 5000
    )
    # every cold base file refuted; only the hot bucket was read
    hot_b = str(t.bucket_of("o/r3", "a3.py"))
    hot_files = len(t._entry_files("buckets", hot_b)) + len(
        t._entry_files("deltas", hot_b)
    )
    assert rep["files_read"] == hot_files
    assert rep["files_pruned"] == rep["files_total"] - hot_files
    got = t.scan([("commit_seq", ">=", 5000)]).collect()
    assert len(got) == 1 and got[0]["lang"] == "go"


def test_scan_prunes_hot_buckets_at_bucket_granularity(spark, tmp_path):
    """A table whose stored values are 'py' everywhere except one fresh
    'go' batch: for lang='go', every all-py bucket refutes on every file
    and is skipped whole; partial pruning inside a surviving hot bucket
    never happens (that would break LWW shadowing)."""
    t = _mk(spark, tmp_path, n_buckets=8)
    t.merge(_b(spark, [_row("insert", f"o/r{i}", f"f{i}.py", i) for i in range(64)]),
            source_id="s", batch_id=0)  # all lang=py, all buckets hot (MOR deltas)
    t.merge(_b(spark, [_row("insert", "o/go", "g.py", 1000, lang="go")]),
            source_id="s", batch_id=1)
    rep = _assert_scan_equals_filter(t, [("lang", "=", "go")], F.col("lang") == "go")
    assert rep["buckets_pruned"] >= 5
    go_bucket = str(t.bucket_of("o/go", "g.py"))
    # the surviving bucket was read in full — base AND delta files
    full = len(t._entry_files("buckets", go_bucket)) + len(
        t._entry_files("deltas", go_bucket)
    )
    assert rep["files_read"] >= full


def test_scan_pre_evolution_files_prune_on_added_column(spark, tmp_path):
    """Files written before `lang` existed read as NULL for it; their
    colstats dict provably lacks the column, so a lang predicate skips
    them without IO — and the resolved NULLs wouldn't have matched anyway
    (null-rejecting semantics)."""
    t = LakeTable.create(
        spark, str(tmp_path / "t"), n_buckets=2, write_mode="mor",
        user_schema=[("repo", "string"), ("path", "string"),
                     ("commit", "string"), ("content", "string")],
    )
    pre_cols = ("partition_id int, offset bigint, op string, repo string, "
                "path string, commit string, content string, commit_seq bigint")
    pre = spark.createDataFrame(
        [(0, i, "insert", "o/r", f"f{i}.py", f"c{i}", "body", i) for i in range(20)],
        pre_cols,
    )
    t.merge(pre, source_id="s", batch_id=0)
    post_cols = pre_cols + ", lang string"
    post = spark.createDataFrame(
        [(0, 100, "insert", "o/r", "new.py", "c100", "body", 100, "py")], post_cols
    )
    t.merge(post, source_id="s", batch_id=1)  # evolution adds lang
    got = t.scan([("lang", "=", "py")]).select("path").collect()
    assert [r["path"] for r in got] == ["new.py"]
    rep = t.last_scan_report
    assert rep["files_pruned"] > 0 or rep["buckets_pruned"] > 0


def test_scan_masked_patch_buckets_resolve_before_filter(spark, tmp_path):
    """Deferred partial updates: a patch flips q's lang to 'go' while p
    inherits. scan must see RESOLVED values (patched q matches, p doesn't)
    even though the base file also stores q's old 'py'."""
    t = _mk(spark, tmp_path)
    t.merge(_b(spark, [_full("insert", "p", 1), _full("insert", "q", 2)]),
            source_id="s", batch_id=0)
    t.merge(_b(spark, [_patch("q", 4, ["lang"], lang="go")]),
            source_id="s", batch_id=1)
    assert t.manifest["masked_buckets"]
    got = _rows_set(t.scan([("lang", "=", "go")]), "path", "lang")
    assert got == {("q", "go")}
    # inherited column value still present on the scanned row
    row = t.scan([("lang", "=", "go")]).collect()[0]
    assert row["content"] == "c" and row["commit"] == "commit2"


def test_scan_with_stats_disabled_is_full_read(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge(_b(spark, [_row("insert", f"o/r{i}", "f.py", i) for i in range(10)]),
            source_id="s", batch_id=0)
    # committed without stats, as an older engine left it
    t = restamp_head(spark, t, lambda m: m.update(file_stats={}))
    rep = _assert_scan_equals_filter(
        t, [("commit_seq", ">=", 9999)], F.col("commit_seq") >= 9999
    )
    assert rep["files_pruned"] == 0 and rep["files_read"] == rep["files_total"]


def test_scan_argument_validation(spark, tmp_path):
    t = _mk(spark, tmp_path)
    with pytest.raises(ValueError, match="scan op"):
        t.scan([("lang", "!=", "py")])
    with pytest.raises(ValueError, match="scan column"):
        t.scan([("_write_mask", "=", 1)])
    with pytest.raises(ValueError, match="scan column"):
        t.scan([("is_deleted", "=", True)])
    with pytest.raises(ValueError, match="pair"):
        t.scan([("commit_seq", "between", (1, 2, 3))])


def test_scan_on_time_travel_handle(spark, tmp_path):
    """Pruned scans work against frozen at_version views: version 1 still
    sees the pre-update lang, pruned with version-1 stats."""
    t = _mk(spark, tmp_path)
    t.merge(_b(spark, [_row("insert", "o/r", "f.py", 1, lang="py")]),
            source_id="s", batch_id=0)
    v1 = t.version
    t.merge(_b(spark, [_row("update", "o/r", "f.py", 2, lang="go")]),
            source_id="s", batch_id=1)
    old = t.at_version(v1)
    assert _rows_set(old.scan([("lang", "=", "py")]), "path") == {("f.py",)}
    assert _rows_set(old.scan([("lang", "=", "go")]), "path") == set()
    assert _rows_set(t.scan([("lang", "=", "go")]), "path") == {("f.py",)}


def test_clustered_compaction_tightens_column_bounds(spark, tmp_path):
    """compact(cluster_by=['lang']) + bounded maxRecordsPerFile: each
    bucket splits into lang-runs, so a lang predicate prunes cold files
    INDIVIDUALLY (not just bucket-whole); results match the residual
    filter, and point lookups stay correct (Bloom probes don't care
    about ordering)."""
    t = _mk(spark, tmp_path, name="tc", n_buckets=2)
    rows = [
        _row("insert", f"o/r{i}", f"f{i}.py", i, lang=["py", "go", "rs", "ts"][i % 4])
        for i in range(200)
    ]
    t.merge(_b(spark, rows), source_id="s", batch_id=0)
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "30")
    try:
        t.compact(cluster_by=["lang"])
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    n_files = sum(len(t._entry_files("buckets", b)) for b in t.manifest["buckets"])
    assert n_files >= 6  # the split actually happened
    rep = _assert_scan_equals_filter(t, [("lang", "=", "go")], F.col("lang") == "go")
    assert rep["files_pruned"] >= n_files // 2
    # every pruned file provably excludes 'go'; every kept file admits it
    for b in t.manifest["buckets"]:
        stats = t._stats_of(b)
        for f in t._entry_files("buckets", b):
            lo, hi, _ = stats[f][6]["lang"]
            refuted = LakeTable._stats_refute(stats[f], "lang", "=", "go", "string")
            assert refuted == (not (lo <= "go" <= (hi if hi is not None else "\U0010ffff")))
    # point lookup across the clustered layout
    got = t.lookup("o/r7", "f7.py").collect()
    assert len(got) == 1 and got[0]["lang"] == "ts"


def test_cluster_by_unknown_column_raises(spark, tmp_path):
    t = _mk(spark, tmp_path, name="tb")
    t.merge(_b(spark, [_row("insert", "o/r", "f.py", 1)]), source_id="s", batch_id=0)
    with pytest.raises(ValueError, match="cluster_by"):
        t.compact(cluster_by=["nope"])


def test_scan_dnf_or_groups(spark, tmp_path):
    """pyarrow-style DNF: a list of clause-lists ORs conjunctions. A file
    is skipped only when EVERY disjunct refutes; the residual filter is
    the OR of the groups' AND chains."""
    t = _mk(spark, tmp_path, name="tdnf", n_buckets=4)
    rows = [
        _row("insert", f"o/r{i}", f"f{i}.py", i, lang=["py", "go", "rs", "ts"][i % 4])
        for i in range(120)
    ]
    t.merge(_b(spark, rows), source_id="s", batch_id=0)
    # ~30 rows per bucket, ~8 per lang run → 8-row files are lang-pure(ish),
    # so a py- or rs-only file refutes BOTH disjuncts below
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "8")
    try:
        t.compact(cluster_by=["lang"])
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    dnf = [
        [("lang", "=", "go"), ("commit_seq", "<", 60)],
        [("lang", "=", "ts")],
    ]
    got = _rows_set(t.scan(dnf), "repo", "path", "lang", "commit_seq")
    want = _rows_set(
        t.snapshot().filter(
            ((F.col("lang") == "go") & (F.col("commit_seq") < 60))
            | (F.col("lang") == "ts")
        ),
        "repo", "path", "lang", "commit_seq",
    )
    assert got == want and got
    rep = t.last_scan_report
    # lang-pure files for py/rs refute BOTH disjuncts and are skipped
    assert rep["files_pruned"] > 0
    # a file surviving on either disjunct is read: OR semantics — the
    # go-files with only commit_seq >= 60 still refute disjunct 1 but the
    # prune holds only if disjunct 2 (ts) also refutes them
    flat_equivalent = _rows_set(
        t.scan([("lang", "in", ["go", "ts"])]), "repo", "path", "lang", "commit_seq"
    )
    assert got <= flat_equivalent
    # an empty disjunct matches everything: no pruning, full snapshot back
    all_rows = t.scan([[("lang", "=", "go")], []])
    assert all_rows.count() == t.snapshot().count()
    assert t.last_scan_report["files_pruned"] == 0


def test_scan_null_tests(spark, tmp_path):
    """is_null / is_not_null prune off the per-file null COUNTS: files
    with zero stored NULLs refute is_null; all-null (or pre-evolution
    absent) columns refute is_not_null — and results always equal the
    residual filter."""
    t = LakeTable.create(
        spark, str(tmp_path / "tn"), n_buckets=2, write_mode="mor",
        user_schema=[("repo", "string"), ("path", "string"),
                     ("commit", "string"), ("content", "string")],
    )
    pre_cols = ("partition_id int, offset bigint, op string, repo string, "
                "path string, commit string, content string, commit_seq bigint")
    # batch 0: pre-evolution (no lang column at all)
    t.merge(spark.createDataFrame(
        [(0, i, "insert", "o/r", f"a{i}.py", f"c{i}", "x", i) for i in range(10)],
        pre_cols), source_id="s", batch_id=0)
    # batch 1: lang present and fully non-null
    t.merge(spark.createDataFrame(
        [(0, 100 + i, "insert", "o/r", f"b{i}.py", "c", "y", 100 + i, "py")
         for i in range(10)],
        pre_cols + ", lang string"), source_id="s", batch_id=1)
    got_null = _rows_set(t.scan([("lang", "is_null", None)]), "path")
    want_null = _rows_set(t.snapshot().filter(F.col("lang").isNull()), "path")
    assert got_null == want_null and len(got_null) == 10
    got_nn = _rows_set(t.scan([("lang", "is_not_null", None)]), "path")
    want_nn = _rows_set(t.snapshot().filter(F.col("lang").isNotNull()), "path")
    assert got_nn == want_nn and len(got_nn) == 10
    # refutation matrix on synthetic entries
    def sr(stats, col, op, val):
        return LakeTable._stats_refute(stats, col, op, val, "string")

    base = ["r", "r", "a", "z", 10]
    assert sr(base + [None, {"lang": ["go", "py", 0]}], "lang", "is_null", None)
    assert not sr(base + [None, {"lang": ["go", "py", 3]}], "lang", "is_null", None)
    assert sr(base + [None, {"lang": [None, None, 10]}], "lang", "is_not_null", None)
    assert sr(base + [None, {}], "lang", "is_not_null", None)  # absent column
    assert not sr(base + [None, {}], "lang", "is_null", None)
    # key columns are never null in committed files
    assert sr(base, "repo", "is_null", None)
    assert not sr(base, "repo", "is_not_null", None)


def test_refutation_soundness_property():
    """Property (pure Python, no Spark): for ANY value multiset, the entry
    built the way the writer builds it (min/max with string truncation,
    null count) NEVER refutes a predicate that some stored value
    satisfies. Soundness only — refutation may be inconclusive, never
    wrong."""
    import random

    from kafka_mongo_watcher_spark.plans.lake import _STATS_TRUNC

    rng = random.Random(20260821)

    def build_entry(values):
        nonnull = [v for v in values if v is not None]
        nulls = len(values) - len(nonnull)
        if not nonnull:
            return [None, None, nulls]
        lo, hi = min(nonnull), max(nonnull)
        if isinstance(lo, str):
            lo, hi = lo[:_STATS_TRUNC], _trunc_upper(hi)
        return [lo, hi, nulls]

    def sat(v, op, arg):
        if v is None:
            return op == "is_null"
        if op == "is_null":
            return False
        if op == "is_not_null":
            return True
        if isinstance(v, str) != isinstance(arg if op not in ("in", "between") else (arg[0] if arg else v), str):
            return False
        return {
            "=": lambda: v == arg,
            "<": lambda: v < arg,
            "<=": lambda: v <= arg,
            ">": lambda: v > arg,
            ">=": lambda: v >= arg,
            "in": lambda: v in arg,
            "between": lambda: arg[0] <= v <= arg[1],
        }[op]()

    ops = ["=", "<", "<=", ">", ">=", "in", "between", "is_null", "is_not_null"]
    for trial in range(4000):
        kind = rng.choice(["int", "str", "longstr"])
        def rand_val():
            if rng.random() < 0.15:
                return None
            if kind == "int":
                return rng.randint(-50, 50)
            n = rng.randint(0, 5 if kind == "str" else 90)
            return "".join(rng.choice("abxyz") for _ in range(n))
        values = [rand_val() for _ in range(rng.randint(1, 8))]
        ent = build_entry(values)
        stats = ["r", "r", "a", "z", len(values), None, {"c": ent}]
        op = rng.choice(ops)
        if op in ("is_null", "is_not_null"):
            arg = None
        elif op == "in":
            arg = [rand_val() for _ in range(rng.randint(0, 3))]
            arg = [a for a in arg if a is not None]
        elif op == "between":
            a, b = (x for x in sorted([rand_val() or 0, rand_val() or 0],
                                      key=lambda x: (isinstance(x, str), x)))
            if isinstance(a, str) != isinstance(b, str):
                continue
            arg = (a, b)
        else:
            arg = rand_val()
            if arg is None:
                continue
        refuted = LakeTable._stats_refute(
            stats, "c", op, arg, "bigint" if kind == "int" else "string"
        )
        if refuted:
            offenders = [v for v in values if sat(v, op, arg)]
            assert not offenders, (
                f"trial {trial}: refuted but {offenders} satisfy "
                f"{op} {arg!r} (entry {ent}, values {values})"
            )


def test_zorder_compaction_prunes_both_dimensions(spark, tmp_path):
    """OPTIMIZE ZORDER BY analog: interleaving (lang, commit_seq) quantile
    ranks clusters BOTH dimensions at once — single-column predicates on
    either column prune files, which lexicographic cluster_by on one
    column cannot give for the other."""
    t = _mk(spark, tmp_path, name="tz", n_buckets=2)
    rows = [
        _row("insert", f"o/r{i}", f"f{i}.py", i, lang=["py", "go", "rs", "ts"][i % 4])
        for i in range(400)
    ]
    t.merge(_b(spark, rows), source_id="s", batch_id=0)
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "25")
    try:
        t.compact(zorder=["lang", "commit_seq"])
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    n_files = sum(len(t._entry_files("buckets", b)) for b in t.manifest["buckets"])
    assert n_files >= 12
    rep_lang = _assert_scan_equals_filter(
        t, [("lang", "=", "go")], F.col("lang") == "go"
    )
    assert rep_lang["files_pruned"] > 0, rep_lang
    rep_seq = _assert_scan_equals_filter(
        t, [("commit_seq", "between", (300, 399))],
        F.col("commit_seq").between(300, 399),
    )
    assert rep_seq["files_pruned"] > 0, rep_seq
    # combined predicate prunes at least as hard as either alone
    rep_both = _assert_scan_equals_filter(
        t,
        [("lang", "=", "go"), ("commit_seq", "between", (300, 399))],
        (F.col("lang") == "go") & F.col("commit_seq").between(300, 399),
    )
    assert rep_both["files_pruned"] >= max(
        rep_lang["files_pruned"], rep_seq["files_pruned"]
    )
    # point lookups still fine over the z-ordered layout
    got = t.lookup("o/r42", "f42.py").collect()
    assert len(got) == 1 and got[0]["commit_seq"] == 42


def test_zorder_cluster_by_mutually_exclusive(spark, tmp_path):
    t = _mk(spark, tmp_path, name="tzx")
    t.merge(_b(spark, [_row("insert", "o/r", "f.py", 1)]), source_id="s", batch_id=0)
    with pytest.raises(ValueError, match="mutually exclusive"):
        t.compact(cluster_by=["lang"], zorder=["commit_seq"])
    with pytest.raises(ValueError, match="zorder columns"):
        t.compact(zorder=["nope"])
