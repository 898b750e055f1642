"""Round-5 fixes, each pinned by the exact ADVICE r4 failure scenario:

1. (medium) scan()'s absent-column inference was unsound for columns
   `_footer_column_stats` never emits (nested types, `_`-names): a file
   physically CONTAINING an `array<...>` column was treated as
   pre-evolution all-NULL and pruned for any null-rejecting predicate,
   silently returning zero rows — pruning became a correctness dependency.
2. (low) `_zorder_expr` accumulated the Z-address in IntegerType; with
   bits=8 and 4+ columns the shifts reach/exceed bit 31 and wrap into the
   sign bit, silently scrambling the clustering order.
3. (low) the streaming `lake_changes` source silently SKIPPED rollback
   commits while the batch `changes()` API raises — a tailing consumer's
   downstream copy would diverge forever.
4. (low) `_cdc_stream_changes` ignored `awaitTermination(300)`'s boolean
   and read a partially-written sink on timeout.
"""

import os

import pytest
from pyspark.sql import functions as F

from kafka_mongo_watcher_spark.plans.lake import (
    LakeTable,
    _footer_column_stats,
)

from tests.test_lake_mor import restamp_head

# ---------------------------------------------------------------------------
# 1. array-typed user column must never be pruned as "absent → all-NULL"
# ---------------------------------------------------------------------------

ARRAY_SCHEMA = [
    ("repo", "string"),
    ("path", "string"),
    ("commit", "string"),
    ("tags", "array<string>"),
    ("content", "string"),
]
ARRAY_BATCH_COLS = (
    "partition_id int, offset bigint, op string, repo string, path string, "
    "commit string, tags array<string>, content string, commit_seq bigint"
)


def _array_rows(n):
    return [
        (0, i, "insert", "r1", f"f{i}.py", f"c{i}",
         ["py", f"t{i}"] if i % 2 else None, f"body{i}", i)
        for i in range(n)
    ]


def test_footer_colstats_nested_column_explicit_none(tmp_path):
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    df = pd.DataFrame({
        "repo": ["r"], "path": ["a"], "lang": ["py"],
        "tags": [["x", "y"]],
    })
    p = str(tmp_path / "f.parquet")
    pq.write_table(pa.Table.from_pandas(df), p)
    cols = _footer_column_stats(p)
    # nested leaves have dotted pyarrow paths; the TOP-LEVEL name must map
    # to explicit None (inconclusive), never be absent (= provably missing)
    assert "tags" in cols and cols["tags"] is None
    assert cols["lang"] == ["py", "py", 0]


def test_scan_array_column_is_not_null_not_pruned(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "t"), n_buckets=2,
        user_schema=ARRAY_SCHEMA, write_mode="mor",
    )
    t.merge(
        spark.createDataFrame(_array_rows(8), ARRAY_BATCH_COLS),
        source_id="s", batch_id=0,
    )
    want = {
        r["path"] for r in t.snapshot().filter(F.col("tags").isNotNull()).collect()
    }
    assert len(want) == 4
    # second input: the manifest as the pre-fix engine wrote it, with no
    # colstats entry at all for the array column
    for table in (t, restamp_head(spark, t, _drop_tags_colstats)):
        got = {r["path"] for r in table.scan([("tags", "is_not_null", None)]).collect()}
        assert got == want  # pre-fix: got == set()
        # and the dual: is_null must not prune the null-tag rows either
        got_null = {r["path"] for r in table.scan([("tags", "is_null", None)]).collect()}
        assert got_null == {f"f{i}.py" for i in range(8)} - want


def _drop_tags_colstats(m):
    for entry in m["file_stats"].values():
        for s in entry.values():
            assert s[6]["tags"] is None  # explicit None from the fixed writer
            del s[6]["tags"]


# ---------------------------------------------------------------------------
# 2. Z-order address: bigint accumulation + bits clamp
# ---------------------------------------------------------------------------

def _zorder_table(spark, tmp_path):
    # any table instance works — _zorder_expr only reads the passed df
    return LakeTable.create(
        spark, str(tmp_path / "zt"), n_buckets=2, write_mode="mor"
    )


def test_zorder_four_columns_no_sign_wrap(spark, tmp_path):
    t = _zorder_table(spark, tmp_path)
    df = spark.range(512).select(
        (F.col("id") % 7).alias("a"),
        (F.col("id") % 11).alias("b"),
        (F.col("id") % 13).alias("c"),
        (F.col("id") % 17).alias("d"),
    )
    z = t._zorder_expr(df, ["a", "b", "c", "d"], bits=8)
    stats = df.select(
        F.min(z).alias("lo"), F.max(z).alias("hi"),
        F.countDistinct(z).alias("n"),
    ).collect()[0]
    # pre-fix: bit 31 landed in the int sign bit → negative Z-addresses
    assert stats["lo"] >= 0
    assert stats["hi"] < (1 << 32)
    assert stats["n"] > 100  # addresses actually spread, not collapsed


def test_zorder_bits_clamped_to_63(spark, tmp_path):
    t = _zorder_table(spark, tmp_path)
    cols = [f"c{i}" for i in range(10)]
    df = spark.range(64).select(
        *[(F.col("id") % (3 + i)).alias(c) for i, c in enumerate(cols)]
    )
    z = t._zorder_expr(df, cols, bits=8)  # clamps to 63 // 10 = 6 bits
    stats = df.select(F.min(z).alias("lo"), F.max(z).alias("hi")).collect()[0]
    assert stats["lo"] >= 0
    assert stats["hi"] < (1 << 60)
    with pytest.raises(ValueError, match="at most 63"):
        t._zorder_expr(df.select(F.col("c0")), [f"x{i}" for i in range(64)])
    with pytest.raises(ValueError, match="at least one column"):
        t._zorder_expr(df, [])  # was ZeroDivisionError


def test_zorder_clustering_still_effective(spark, tmp_path):
    """The long-typed address must still interleave: sorting by Z on two
    correlated dims clusters BOTH (per-half ranges shrink vs random)."""
    t = _zorder_table(spark, tmp_path)
    df = spark.range(256).select(
        (F.col("id") % 16).alias("a"), (F.col("id") / 16).cast("int").alias("b")
    )
    z = t._zorder_expr(df, ["a", "b"], bits=4)
    rows = df.withColumn("z", z).orderBy("z").collect()
    half = len(rows) // 2
    for part in (rows[:half], rows[half:]):
        a_span = max(r["a"] for r in part) - min(r["a"] for r in part)
        b_span = max(r["b"] for r in part) - min(r["b"] for r in part)
        # a random order would give ~15 on both; Z-order halves one dim
        assert a_span + b_span <= 24


# ---------------------------------------------------------------------------
# 3. streaming changelog: rollback must raise, not silently skip
# ---------------------------------------------------------------------------

def test_lake_changes_reader_raises_on_rollback(spark, tmp_path):
    from kafka_mongo_watcher_spark.sources.lake_changes import (
        LakeChangesStreamReader,
    )
    from tests.test_lake_mor import _batch, _row

    t = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=2, write_mode="mor")
    t.merge(_batch(spark, [_row("insert", "r", "p", 1)]), source_id="s", batch_id=0)
    t.merge(_batch(spark, [_row("update", "r", "p", 2)]), source_id="s", batch_id=1)
    v_before = t.version
    t.rollback(v_before - 1)
    reader = LakeChangesStreamReader(
        [("repo", "string")], {"path": t.path, "startingversion": "0"}
    )
    with pytest.raises(ValueError, match="rollback.*re-sync|re-sync"):
        reader.partitions({"version": 0}, {"version": t.version})


def test_lake_changes_reader_still_skips_compact(spark, tmp_path):
    from kafka_mongo_watcher_spark.sources.lake_changes import (
        LakeChangesStreamReader,
    )
    from tests.test_lake_mor import _batch, _row

    t = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=2, write_mode="mor")
    t.merge(_batch(spark, [_row("insert", "r", "p", 1)]), source_id="s", batch_id=0)
    t.compact()
    reader = LakeChangesStreamReader(
        [("repo", "string")], {"path": t.path, "startingversion": "0"}
    )
    parts = reader.partitions({"version": 0}, {"version": t.version})
    assert {p.version for p in parts} == {1}  # merge yes, compact skipped
