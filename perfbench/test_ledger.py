"""Unit tests for the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import ledger  # noqa: E402
import oracle  # noqa: E402


def test_percentile_interpolates_and_reports_sample_count():
    assert ledger.percentile([3, 1, 2], 50) == (2.0, 3)
    assert ledger.percentile([10, 20], 50) == (15.0, 2)
    value, n = ledger.percentile(range(1, 11), 90)
    assert n == 10 and value == pytest.approx(9.1)
    assert ledger.percentile([7], 90) == (7.0, 1)


def test_percentile_rejects_empty_and_out_of_range():
    with pytest.raises(ValueError):
        ledger.percentile([], 50)
    with pytest.raises(ValueError):
        ledger.percentile([1], 101)


def test_failed_op_share():
    assert ledger.failed_op_share(40, 0) == 0.0
    assert ledger.failed_op_share(40, 10) == 0.25
    with pytest.raises(ValueError):
        ledger.failed_op_share(0, 0)
    with pytest.raises(ValueError):
        ledger.failed_op_share(3, 4)


def _ev(kind, **kw):
    return json.dumps({"Event": kind, **kw})


def test_parse_event_log_filters_by_job_group_and_finds_skew():
    def task(stage, read_b, cpu_ns=1e9, gc_ms=100, input_b=0, write_b=0):
        return _ev("SparkListenerTaskEnd", **{
            "Stage ID": stage,
            "Task Metrics": {
                "Executor CPU Time": cpu_ns, "JVM GC Time": gc_ms,
                "Input Metrics": {"Bytes Read": input_b},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": write_b},
                "Shuffle Read Metrics": {"Local Bytes Read": read_b, "Remote Bytes Read": 0},
            },
        })

    lines = [
        _ev("SparkListenerJobStart", **{"Stage IDs": [1, 2],
                                        "Properties": {"spark.jobGroup.id": "pb-merge-1"}}),
        _ev("SparkListenerJobStart", **{"Stage IDs": [3],
                                        "Properties": {"spark.jobGroup.id": "pb-untimed-2"}}),
        "not json",
        task(1, 0, input_b=2_000_000, write_b=3_000_000),
        task(2, 100), task(2, 100), task(2, 500),
        task(3, 10_000_000),
    ]
    got = ledger.parse_event_log(lines, {"pb-merge-1"})
    assert got["spark.jobs"] == 1
    assert got["spark.stages"] == 2
    assert got["spark.tasks"] == 4
    assert got["spark.task_cpu_s"] == pytest.approx(4.0)
    assert got["spark.gc_s"] == pytest.approx(0.4)
    assert got["spark.input_mb"] == pytest.approx(2.0)
    assert got["spark.shuffle_write_mb"] == pytest.approx(3.0)
    assert got["spark.shuffle_read_mb"] == pytest.approx(700 / 1e6)
    assert got["spark.shuffle_skew"] == pytest.approx(5.0)  # max 500 / median 100
    assert ledger.parse_event_log(lines)["spark.tasks"] == 5


def test_tracer_self_time_subtracts_children():
    tr = ledger.Tracer(True)
    with tr.span("batch", batch="b0"):
        with tr.span("merge") as m:
            pass
    assert m["batch"] == "b0" and m["parent"] == 0
    st = tr.self_times()
    assert st["batch"]["self_s"] == pytest.approx(
        st["batch"]["total_s"] - st["merge"]["total_s"])
    off = ledger.Tracer(False)
    with off.span("x") as rec:
        assert rec is None
    assert off.spans == []


def _e(seq, op, key="k", mask=None, raw="x\r\n", lang="py", commit=None):
    return {"repo": "r", "path": key, "op": op, "commit_seq": seq, "offset": seq,
            "commit": commit or f"c{seq}", "lang": lang, "content_raw": raw,
            "patch_mask": mask}


def test_oracle_patch_semantics_and_changelog():
    st = oracle.LwwState()
    st.apply([_e(1, "insert", raw="a  \r\n"), _e(2, "insert", key="gone")])
    changed = st.apply([
        _e(4, "update", mask=["lang"], lang="go", raw="ignored"),
        _e(3, "update", mask=["content"], raw="b"),  # applied before seq 4
        _e(5, "delete", key="gone"),
        _e(6, "update", key="new", mask=["lang"], lang="js"),
        {"repo": None, "path": "x", "op": "insert", "commit_seq": 7},
    ])
    assert st.row(("r", "k")) == ("r", "k", "c1", "go", oracle.fingerprint("b"), 4)
    assert st.row(("r", "gone")) is None
    # a patch on an absent key writes only the masked column
    assert st.row(("r", "new")) == ("r", "new", None, "js", None, 6)
    assert changed == {("r", "k"): (4, "upsert"), ("r", "gone"): (5, "delete"),
                       ("r", "new"): (6, "upsert")}
    assert oracle.normalize("a  \r\nb\r\n\n") == "a\nb\n"
    assert oracle.normalize("") == ""


def test_digest_is_order_free_and_catches_a_corrupted_row():
    rows = [("r", "a", "c1", "py", "s1"), ("r", "b", "c2", None, "s2")]
    assert oracle.digest(rows) == oracle.digest(list(reversed(rows)))
    corrupted = [rows[0], ("r", "b", "c2", None, "s3")]
    assert oracle.digest(corrupted) != oracle.digest(rows)
    assert oracle.digest(rows[:1]) != oracle.digest(rows)


def test_steal_share():
    assert ledger.steal_share((10, 1000), (30, 1200)) == pytest.approx(0.1)
    assert ledger.steal_share((10, 1000), (10, 1000)) == 0.0
    steal, total = ledger.host_cpu_ticks()
    assert 0 <= steal <= total
