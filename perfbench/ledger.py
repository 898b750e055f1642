"""Measurement helpers for the CDC ingest benchmark.

Nothing here imports Spark: percentiles, the span tracer, `/proc` readers,
the Spark event-log parser and the host CPU probe are plain Python so they
can be unit-tested without a session (see test_ledger.py).
"""

from __future__ import annotations

import json
import math
import os
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager


# ---------- statistics ----------

def percentile(values, q: float) -> tuple[float, int]:
    """(q-th percentile, sample count), linear interpolation between closest
    ranks (numpy's default). Raises on an empty sample: a percentile of
    nothing is a missing measurement, not 0."""
    xs = sorted(float(v) for v in values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    if not 0 <= q <= 100:
        raise ValueError(f"q must be in [0, 100], got {q}")
    pos = (len(xs) - 1) * q / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo), len(xs)


def failed_op_share(attempted: int, failed: int) -> float:
    """Share of attempted operations that raised or failed their oracle
    check. An op that was never attempted cannot fail, so 0 attempts is an
    error, not a share of 0."""
    if attempted < 1:
        raise ValueError("no operations attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


# ---------- spans ----------

class Tracer:
    """Spans around the benchmark's calls into the engine. Kept in memory
    and written out once at the end; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, batch: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "batch": batch if batch is not None else self._batch_of_parent(),
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def _batch_of_parent(self):
        return self.spans[self._stack[-1]]["batch"] if self._stack else None

    def self_times(self) -> dict[str, dict]:
        """Per span name: count, total and self seconds (duration minus the
        part covered by direct children)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict] = {}
        for s in self.spans:
            d = s["end"] - s["start"]
            e = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            e["count"] += 1
            e["total_s"] += d
            e["self_s"] += d - child[s["id"]]
        return out


# ---------- /proc ----------

_CLK = os.sysconf("SC_CLK_TCK")


def _read_stat(pid: int):
    """(comm, ppid, utime+stime s, cutime+cstime s) or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    rest = raw[raw.rindex(")") + 2 :].split()
    # fields after comm: state ppid ... utime(12) stime(13) cutime(14) cstime(15)
    return comm, int(rest[1]), (int(rest[11]) + int(rest[12])) / _CLK, (
        int(rest[13]) + int(rest[14])
    ) / _CLK


def process_tree(root: int) -> dict[int, tuple]:
    """pid -> stat tuple for `root` and every live descendant."""
    stats = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _read_stat(int(d))
            if st is not None:
                stats[int(d)] = st
    tree, todo = {}, [root]
    while todo:
        p = todo.pop()
        if p in stats and p not in tree:
            tree[p] = stats[p]
            todo.extend(c for c, st in stats.items() if st[1] == p)
    return tree


def vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_hwm_mb(root: int) -> float:
    """Sum of VmHWM over `root` and its live descendants, in MB."""
    return sum(vm_hwm_kb(p) for p in process_tree(root)) / 1024.0


def cpu_split(root: int, jvm_pid: int | None) -> dict[str, float]:
    """Cumulative CPU seconds of the JVM and of its Python workers. Workers
    that exited were reaped by the worker daemon, so their time is in the
    daemon's cutime/cstime; live ones are counted directly."""
    tree = process_tree(root)
    jvm = tree.get(jvm_pid)
    out = {"jvm_cpu_s": jvm[2] if jvm else 0.0, "python_worker_cpu_s": 0.0}
    if jvm_pid is None:
        return out
    for pid, (comm, ppid, own, reaped) in tree.items():
        if pid != jvm_pid and comm.startswith("python") and _has_ancestor(tree, pid, jvm_pid):
            out["python_worker_cpu_s"] += own + reaped
    return out


def _has_ancestor(tree, pid: int, anc: int) -> bool:
    while pid in tree:
        pid = tree[pid][1]
        if pid == anc:
            return True
    return False


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole host since boot, from
    /proc/stat. Steal is time the hypervisor gave this machine's CPUs to
    someone else."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def steal_share(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    """Share of CPU time stolen between two host_cpu_ticks() readings."""
    total = t1[1] - t0[1]
    return (t1[0] - t0[0]) / total if total > 0 else 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for dp, _, fs in os.walk(path):
        for f in fs:
            total += os.path.getsize(os.path.join(dp, f))
    return total


# ---------- Spark event log ----------

def parse_event_log(lines, groups: set[str] | None = None) -> dict:
    """Totals over the tasks of jobs whose job group is in `groups` (all
    jobs when None): jobs, stages, tasks, task CPU, GC, input, shuffle
    write/read, and the shuffle skew of the stage that read the most
    shuffle bytes (max / median task shuffle-read bytes)."""
    stage_ok: set[int] = set()
    jobs = 0
    per_stage: dict[int, list] = {}
    tot = dict(tasks=0, cpu_ns=0, gc_ms=0, input_b=0, shw_b=0, shr_b=0)
    for line in lines:
        try:
            e = json.loads(line)
        except ValueError:
            continue
        ev = e.get("Event") if isinstance(e, dict) else None
        if ev == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if groups is None or g in groups:
                jobs += 1
                stage_ok.update(e.get("Stage IDs", []))
        elif ev == "SparkListenerTaskEnd" and e.get("Stage ID") in stage_ok:
            m = e.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            read_b = sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0)
            tot["tasks"] += 1
            tot["cpu_ns"] += m.get("Executor CPU Time", 0)
            tot["gc_ms"] += m.get("JVM GC Time", 0)
            tot["input_b"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            tot["shw_b"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            tot["shr_b"] += read_b
            per_stage.setdefault(e["Stage ID"], []).append(read_b)
    skew = 0.0
    if per_stage:
        reads = max(per_stage.values(), key=sum)
        med = statistics.median(reads)
        if sum(reads) > 0 and med > 0:
            skew = max(reads) / med
    return {
        "spark.jobs": jobs,
        "spark.stages": len({s for s in per_stage}),
        "spark.tasks": tot["tasks"],
        "spark.task_cpu_s": tot["cpu_ns"] / 1e9,
        "spark.gc_s": tot["gc_ms"] / 1e3,
        "spark.input_mb": tot["input_b"] / 1e6,
        "spark.shuffle_write_mb": tot["shw_b"] / 1e6,
        "spark.shuffle_read_mb": tot["shr_b"] / 1e6,
        "spark.shuffle_skew": skew,
    }


def event_log_lines(log_dir: str):
    for dp, _, fs in os.walk(log_dir):
        for f in sorted(fs):
            if not f.endswith(".crc"):
                with open(os.path.join(dp, f), errors="ignore") as fh:
                    yield from fh


# ---------- host probe ----------

_PROBE = (
    "import time\nt0=time.perf_counter()\nc=0\nx=1.0\n"
    "while time.perf_counter()-t0<{secs}:\n"
    "  for _ in range(20000): x=x*1.0000001+0.1\n"
    "  c+=1\nprint(c/(time.perf_counter()-t0))"
)


def cpu_probe_eff(n: int, secs: float = 0.3) -> float:
    """What the host delivers right now: aggregate busy-loop rate of `n`
    processes over `n` times the rate of one (1.0 = every core fully
    delivered). Explains a noisy run; says nothing about the engine."""

    def rate(k: int) -> float:
        code = _PROBE.format(secs=secs)
        ps = [
            subprocess.Popen([sys.executable, "-c", code], stdout=subprocess.PIPE, text=True)
            for _ in range(k)
        ]
        return sum(float(p.communicate()[0]) for p in ps)

    return rate(n) / (n * rate(1))
