"""Which fingerprint plan a merge runs. `merge()`'s pre-pass ORs a
non-ASCII flag over the batch's `content_raw`; a batch with none
fingerprints in the JVM alone (regexp chain + sha2), any other batch keeps
the hybrid whose pandas UDF is the only non-ASCII path. Either way the
stored bytes must equal the plain-Python normalizer the oracle uses."""

import pytest
from pyspark.sql import functions as F

from kafka_mongo_watcher_spark.functions.content import (
    ascii_fingerprint,
    normalize_and_fingerprint,
    normalize_content_py,
    sha256_hex_py,
)
from kafka_mongo_watcher_spark.plans.lake import LakeTable

EVENT_DDL = (
    "partition_id int, offset bigint, op string, repo string, path string, "
    "commit string, lang string, content_raw string, commit_seq bigint, "
    "patch_mask array<string>"
)

# decomposed e + U+0301 (NFC composes it), a trailing NBSP and ideographic
# space (Unicode whitespace that rstrip removes), and U+2028 (a line
# separator that is NOT a line break for the normalizer)
NON_ASCII = "cafe\u0301 \u00a0\r\nwide\u3000\nsep\u2028end\u00a0 \n"
ASCII = ["x = 1  \r\n", "y\t\n\n", "", "plain"]


def _ev(seq, path, content_raw, op="insert", lang="py", mask=None):
    return (0, seq, op, "r", path, f"commit{seq}", lang, content_raw, seq, mask)


def _current(t):
    return {
        r["path"]: (r["lang"], r["content"], r["content_sha256"])
        for r in t.current().collect()
    }


def _want(content_raw, lang="py"):
    norm = normalize_content_py(content_raw)
    return (lang, norm, sha256_hex_py(norm))


@pytest.mark.parametrize("non_ascii", [True, False], ids=["udf", "jvm"])
def test_plain_batch_fingerprint_route(spark, tmp_path, non_ascii):
    raws = ASCII + ([NON_ASCII] if non_ascii else [])
    t = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    stats = t.merge(
        spark.createDataFrame(
            [_ev(i + 1, f"p{i}", raw) for i, raw in enumerate(raws)], EVENT_DDL
        ),
        source_id="s", batch_id=0,
    )
    assert stats["dedup_strategy"] == "fold"
    assert stats["fingerprint"] == ("udf" if non_ascii else "jvm")
    assert _current(t) == {f"p{i}": _want(raw) for i, raw in enumerate(raws)}


@pytest.mark.parametrize("non_ascii", [True, False], ids=["udf", "jvm"])
def test_patch_batch_fingerprint_route(spark, tmp_path, non_ascii):
    """The non-ASCII row is a `lang`-only patch: its content is never
    written, but the flag reads every delivered `content_raw`, so the merge
    conservatively keeps the hybrid — and the stored bytes are the same."""
    t = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    t.merge(
        spark.createDataFrame([_ev(1, "p", "body1"), _ev(2, "q", "body2")], EVENT_DDL),
        source_id="s", batch_id=0,
    )
    stats = t.merge(
        spark.createDataFrame([
            _ev(3, "p", "patched  \r\n", op="update", mask=["content"]),
            _ev(4, "q", NON_ASCII if non_ascii else "ignored", op="update",
                lang="rs", mask=["lang"]),
        ], EVENT_DDL),
        source_id="s", batch_id=1,
    )
    assert stats["dedup_strategy"] == "patch_append"
    assert stats["fingerprint"] == ("udf" if non_ascii else "jvm")
    assert _current(t) == {"p": _want("patched  \r\n"), "q": _want("body2", "rs")}


def test_batch_without_content_raw_reports_no_fingerprint(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    stats = t.merge(
        spark.createDataFrame(
            [(0, 1, "insert", "r", "p", "c1", "py", "body\n", "sha1", 1)],
            "partition_id int, offset bigint, op string, repo string, path string, "
            "commit string, lang string, content string, content_sha256 string, "
            "commit_seq bigint",
        ),
        source_id="s", batch_id=0,
    )
    assert stats["fingerprint"] is None


def test_all_ascii_plan_has_no_python_node(spark):
    df = spark.createDataFrame([(r,) for r in ASCII], "content_raw string")

    def plan(fingerprint):
        out = df.select(fingerprint(F.col("content_raw")).alias("nf"))
        return out, out._jdf.queryExecution().executedPlan().toString()

    hybrid, hybrid_plan = plan(normalize_and_fingerprint)
    assert "ArrowEvalPython" in hybrid_plan
    jvm, jvm_plan = plan(ascii_fingerprint)
    assert "ArrowEvalPython" not in jvm_plan
    assert "BatchEvalPython" not in jvm_plan
    assert jvm.collect() == hybrid.collect()
