"""CDC ingest benchmark for kafka_mongo_watcher_spark.

    python3 perfbench/run.py --workload replay_bulk --seed 1 --seconds 20 --trace 0

Runs one workload in one process against one `spark_session` at
local[nproc], closed loop with one client, from the root of a checkout
holding the package. It generates its inputs from --seed with
`datagen.generate_events` / `datagen.write_event_log`, measures for about
--seconds (the work per run is fixed and sized to about that span, so two
commits always run the same operations), checks every result against the
sequential oracle in perfbench/oracle.py (untimed), and prints as its last
stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer ledger
(--trace 1; spans, merge phases, Spark event log and /proc CPU split,
written to .perfbench_out/). The line before it is a JSON detail record
(raw latency samples, routes fired, host CPU probe, set-up phases). See
perfbench/NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import ledger  # noqa: E402
import oracle  # noqa: E402
from ledger import percentile  # noqa: E402

N_BUCKETS = 64
# The package defaults to an 8g pre-touched driver heap and a Spark local dir
# in /dev/shm. The benchmark writes only inside its checkout, so the local dir
# moves there (the shuffles are a few MB and stay in the page cache), and the
# heap is 1g, which holds these tables many times over on a shared host.
DRIVER_MEMORY = "1g"
ROUTES = ("salted", "semijoin", "window", "patch_append")

# The work per run is fixed, never sized by how fast the run goes, so two
# commits always do the same operations on the same table shapes.
# replay_bulk: a catch-up log applied in BULK_BATCHES batches, then compact();
# set-up first merges batch 0 into a throwaway table and compacts it, so the
# timed replay runs on a warm JVM and a started Python worker
BULK_EVENTS = 4_000
BULK_BATCHES = 2
BULK_LOOKUPS = 3
# read_under_ingest: set-up seeds a table with one batch (the cold first
# merge) and READ_WARM_MERGES more, compacting before the last of them, and
# takes the cold read paths: a warm merge still gets faster for several
# merges while the JIT works, and timing that slope made the spread follow
# the host's speed. Then READ_ROUNDS timed rounds: a small merge of partial
# updates and the reads after it. Every merge touches every bucket, so the
# chains grow to 1 + READ_ROUNDS deltas, below the 8 at which a merge
# compacts a bucket.
READ_ROUND_EVENTS = 300
# 16 buckets, not 64: scan planning and changes() cost per file, and at 64
# buckets the rounds' reads would not fit the run's time budget
READ_BUCKETS = 16
READ_WARM_MERGES = 2
READ_ROUNDS = 3
READ_LOOKUPS = 3


class Bench:
    """One run: paths, the Spark session, the op ledger and the samples."""

    def __init__(self, args):
        self.args = args
        self.trace = bool(args.trace)
        self.tracer = ledger.Tracer(self.trace)
        tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        self.work = os.path.join(ROOT, ".perfbench_work", f"{tag}-{os.getpid()}")
        self.out = os.path.join(ROOT, ".perfbench_out")
        self.event_log = os.path.join(self.work, "eventlog")
        self.trace_file = os.path.join(self.out, f"{tag}.json")
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.samples: dict[str, list[float]] = {}
        self.merges: list[dict] = []
        self.peak_mb = 0.0
        self.spark = None
        self.jvm_proc = None
        self._group_seq = 0
        self.timed_groups: set[str] = set()
        self.phases: dict[str, float] = {}
        self._mark_t = time.perf_counter()

    # -- session --

    def start(self):
        tmp = os.path.join(self.work, "tmp")
        for d in (tmp, self.out, self.event_log):
            os.makedirs(d, exist_ok=True)
        os.environ.update(
            KMW_DRIVER_MEMORY=DRIVER_MEMORY,
            KMW_LOCAL_DIR=os.path.join(self.work, "spark-local"),
            SPARK_LOCAL_DIRS=os.path.join(self.work, "spark-local"),
            TMPDIR=tmp,
        )
        from kafka_mongo_watcher_spark.session import spark_session

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # the package's heap pre-touch, plus temp files inside the checkout
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:-UsePerfData "
                f"-Djava.io.tmpdir={tmp}"
            ),
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_log,
                "spark.eventLog.compress": "false",
            })
        cores = len(os.sched_getaffinity(0))
        self.spark = spark_session(app_name=f"perfbench-{self.args.workload}", cores=cores,
                                   extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_proc = self.spark.sparkContext._gateway.proc
        self.cores = cores
        self.mark("session")

    def stop(self):
        """Stop Spark and wait for the JVM (and the Python workers it owns)."""
        if self.spark is not None:
            from pyspark import SparkContext

            self.spark.stop()
            gw = SparkContext._gateway
            if gw is not None:
                gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if self.jvm_proc is not None:
            try:
                self.jvm_proc.stdin.close()
            except OSError:
                pass
            try:
                self.jvm_proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 — must not leave the JVM behind
                self.jvm_proc.kill()
                self.jvm_proc.wait(timeout=30)

    # -- ledger --

    def group(self, kind: str) -> str:
        """Tag the Spark jobs of the next call (traced runs only); every
        kind but "untimed" counts in the event-log totals."""
        self._group_seq += 1
        gid = f"pb-{kind}-{self._group_seq}"
        if self.trace:
            self.spark.sparkContext.setJobGroup(gid, gid)
            if kind != "untimed":
                self.timed_groups.add(gid)
        return gid

    def jobs_in(self, gid: str) -> int:
        return len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(gid))

    def check(self, ok: bool, what: str):
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)

    def reset(self):
        """Forget the set-up's merges and samples: they are not measured."""
        self.merges.clear()
        self.samples.clear()
        self.attempted = 0

    def sample(self, name: str, value: float):
        self.samples.setdefault(name, []).append(value)

    def mark(self, phase: str):
        """Close a set-up phase (reported in the detail line)."""
        now = time.perf_counter()
        self.phases[phase] = now - self._mark_t
        self._mark_t = now

    def sample_rss(self):
        self.peak_mb = max(self.peak_mb, ledger.tree_hwm_mb(os.getpid()))

    def cpu(self) -> dict:
        return ledger.cpu_split(os.getpid(), self.jvm_proc.pid)

    def pct(self, name: str, q: float) -> float:
        return percentile(self.samples[name], q)[0]


# ---------- shared steps ----------

# Generation is set-up, not the engine: it runs interpreted and without
# adaptive re-planning, so a cold JVM does not spend its first seconds
# compiling the generator. The session's values come back before any
# engine call.
_GEN_CONF = {"spark.sql.codegen.wholeStage": "false", "spark.sql.adaptive.enabled": "false"}


def make_log(b: Bench, name: str, events, n_chunks: int, **kw) -> list[str]:
    from kafka_mongo_watcher_spark.datagen import write_event_log

    conf = b.spark.conf
    saved = {k: conf.get(k) for k in _GEN_CONF}
    for k, v in _GEN_CONF.items():
        conf.set(k, v)
    events = events.persist()
    try:
        return write_event_log(events, os.path.join(b.work, name), n_chunks=n_chunks, **kw)
    finally:
        events.unpersist()
        for k, v in saved.items():
            conf.set(k, v)


def apply_chunk(b: Bench, table, chunk: str, source: str, batch_id: int, n_events: int) -> dict:
    """read_event_log -> transform_events -> merge, timed as one commit."""
    from kafka_mongo_watcher_spark.operators.envelope import transform_events
    from kafka_mongo_watcher_spark.sources.events import read_event_log

    tr = b.tracer
    gid = b.group("merge")
    with tr.span("batch", batch=f"{source}/{batch_id}"):
        t0 = time.perf_counter()
        with tr.span("read_event_log"):
            df = read_event_log(b.spark, chunk)
        t1 = time.perf_counter()
        with tr.span("transform_events"):
            batch = transform_events(df, fingerprint=False)
        with tr.span("merge"):
            t2 = time.perf_counter()
            stats = table.merge(batch, source_id=source, batch_id=batch_id)
            t3 = time.perf_counter()
    b.attempted += 1  # its result is checked by the reads and state checks after it
    b.sample("commit_ms", (t3 - t0) * 1e3)
    b.sample("read_log_ms", (t1 - t0) * 1e3)
    b.merges.append({
        "wall_s": t3 - t2,
        "events": n_events,
        "jobs": b.jobs_in(gid) if b.trace else 0,
        "version": table.version,
        **{k: stats.get(k) for k in ("phases", "dedup_strategy", "files_written",
                                     "touched_buckets", "compacted_buckets", "merged_rows")},
    })
    return stats


def guarded(b: Bench, what: str, fn, *args):
    """Run one operation; one that raises counts as a failed op and the run
    goes on."""
    try:
        return fn(*args)
    except Exception:  # noqa: BLE001 — reported through failed/attempted
        traceback.print_exc()
        b.check(False, f"{what} raised")
        return None


def key_mix(rng: random.Random, touched: list, old: list, n: int) -> list:
    """Lookup keys: a third touched by the last batch, a third random old
    keys, a third absent (a repo the generator never emits)."""
    keys = []
    for i in range(n):
        if i % 3 == 0 and touched:
            keys.append(rng.choice(touched))
        elif i % 3 == 1 and old:
            keys.append(rng.choice(old))
        else:
            keys.append((f"org-9{rng.randrange(1000):03d}/absent", f"src/none_{i}.py"))
    return keys


def warm_reads(table, version: int):
    """Take, untimed, the read paths that are cold on their first call: a
    lookup that finds nothing, and changes()."""
    table.lookup("org-9000/absent", "src/none.py").collect()
    table.changes(version - 1, version).collect()


def middle(repos: list) -> str:
    """A repo from the middle of the sorted list: how many files its bounds
    prune then barely depends on the seed, so scan cost does not either."""
    return repos[len(repos) // 2]


def run_lookups(b: Bench, table, state: oracle.LwwState, keys):
    for repo, path in keys:
        guarded(b, "lookup", run_lookup, b, table, state, repo, path)


def run_lookup(b: Bench, table, state: oracle.LwwState, repo: str, path: str):
    b.group("lookup")
    with b.tracer.span("lookup"):
        t0 = time.perf_counter()
        df = table.lookup(repo, path)
        t1 = time.perf_counter()
        rows = df.collect()
        t2 = time.perf_counter()
    b.sample("lookup_ms", (t2 - t0) * 1e3)
    b.sample("lookup_plan_ms", (t1 - t0) * 1e3)
    b.sample("lookup_read_ms", (t2 - t1) * 1e3)
    want = state.row((repo, path))
    got = [oracle.engine_row(r) for r in rows]
    b.check(got == ([want] if want else []), f"lookup {repo}:{path} {got} != {want}")
    if b.trace:
        bucket = str(table.bucket_of(repo, path))
        b.sample("chain_depth", _n_entries(table.manifest["deltas"].get(bucket, [])))
        b.sample("lookup_input_kb", _input_bytes(df) / 1024)


def run_compact(b: Bench, table) -> float:
    b.group("compact")
    with b.tracer.span("compact"):
        t0 = time.perf_counter()
        table.compact()
        b.attempted += 1
        return time.perf_counter() - t0


def run_scan(b: Bench, table, state: oracle.LwwState, filters, pred):
    with b.tracer.span("scan"):
        t0 = time.perf_counter()
        df = table.scan(filters)
        t1 = time.perf_counter()
        rows = df.select(*oracle.COLS, "commit_seq").collect()
        t2 = time.perf_counter()
    b.sample("scan_ms", (t2 - t0) * 1e3)
    b.sample("scan_plan_ms", (t1 - t0) * 1e3)
    b.sample("scan_read_ms", (t2 - t1) * 1e3)
    want = {t for t in state.table() if pred(t)}
    got = [oracle.engine_row(r) for r in rows]
    b.check(len(got) == len(want) and set(got) == want,
            f"scan {filters}: {len(got)} rows vs {len(want)}")
    if b.trace:
        b.sample("scan_input_mb", _input_bytes(df) / 1e6)


def run_changes(b: Bench, table, version: int, changed: dict):
    with b.tracer.span("changes"):
        t0 = time.perf_counter()
        rows = table.changes(version - 1, version).select(
            "repo", "path", "commit_seq", "_change_type").collect()
        t1 = time.perf_counter()
    b.sample("changes_ms", (t1 - t0) * 1e3)
    b.sample("changes_rows", len(rows))
    got = {(r["repo"], r["path"]): (r["commit_seq"], r["_change_type"]) for r in rows}
    b.check(len(got) == len(rows) and got == changed,
            f"changes v{version}: {len(rows)} rows vs {len(changed)}")


def check_state(b: Bench, table, state: oracle.LwwState, what: str):
    rows = table.current().select(*oracle.COLS).collect()
    got = [tuple(r) for r in rows]
    want = {t[:5] for t in state.table()}
    b.check(len(got) == len(want) and oracle.digest(got) == oracle.digest(want),
            f"{what}: current() {len(got)} rows vs oracle {len(want)}")


def _n_entries(e) -> int:
    """Files in a manifest bucket entry: an inline list or a {"ref", "n"} sidecar."""
    return e["n"] if isinstance(e, dict) else len(e)


def _input_bytes(df) -> int:
    return sum(os.path.getsize(p.removeprefix("file:")) for p in df.inputFiles())


def table_layout(table) -> dict:
    m = table.manifest
    deltas = [_n_entries(e) for e in m["deltas"].values()]
    base = [_n_entries(e) for e in m["buckets"].values()]
    mfile = os.path.join(table.path, "_manifests", f"v{table.version:08d}.json")
    return {
        "lake.manifest_kb": os.path.getsize(mfile) / 1024 if os.path.exists(mfile) else 0.0,
        "lake.data_files": sum(deltas) + sum(base),
        "lake.delta_chain_max": max(deltas, default=0),
    }


# ---------- workloads ----------

def replay_bulk(b: Bench) -> dict:
    """Catch-up replay of one log into an empty 64-bucket MOR table in a
    few big batches plus compact(); then point reads, a pruned scan and a
    changelog read on the compacted table."""
    from kafka_mongo_watcher_spark.datagen import generate_events
    from kafka_mongo_watcher_spark.plans.lake import LakeTable

    seed = b.args.seed
    events = generate_events(b.spark, BULK_EVENTS, seed=seed, gen_parallelism=4)
    dirs = make_log(b, "log", events, BULK_BATCHES)
    b.mark("generate")
    warm = LakeTable.create(b.spark, os.path.join(b.work, "warmup"),
                            n_buckets=N_BUCKETS, write_mode="mor")
    apply_chunk(b, warm, dirs[0], "warmup", 0, 0)
    warm.compact()
    b.reset()
    b.mark("warmup")
    setup_end = time.perf_counter()

    chunks = [oracle.read_events(d) for d in dirs]
    table = LakeTable.create(b.spark, os.path.join(b.work, "table"),
                             n_buckets=N_BUCKETS, write_mode="mor")
    cpu0 = b.cpu()
    t0 = time.perf_counter()
    with b.tracer.span("replay", batch="replay"):
        for i, d in enumerate(dirs):
            guarded(b, "merge", apply_chunk, b, table, d, "bulk", i, len(chunks[i]))
        compact_s = guarded(b, "compact", run_compact, b, table) or 0.0
    replay_s = time.perf_counter() - t0
    b.group("untimed")
    b.sample_rss()
    state = oracle.LwwState()
    changed = [state.apply(c) for c in chunks]
    guarded(b, "state", check_state, b, table, state, "replay")

    rng = random.Random(seed)
    live = list(state.rows)
    touched = [key for key in changed[-1] if key in state.rows]
    run_lookups(b, table, state, key_mix(rng, touched, live, BULK_LOOKUPS))
    repo = middle(sorted({k[0] for k in live}))
    guarded(b, "scan", run_scan, b, table, state, [("repo", "=", repo), ("lang", "=", "py")],
            lambda t: t[0] == repo and t[3] == "py")
    # the last merge committed vB; the compaction after it changes nothing
    guarded(b, "changes", run_changes, b, table, BULK_BATCHES, changed[-1])
    b.group("untimed")
    cpu1 = b.cpu()
    b.sample_rss()
    return {
        "setup_end": setup_end,
        "events_per_s": BULK_EVENTS / replay_s,
        "live_rows": len(state.rows),
        "table": table,
        "cpu": (cpu0, cpu1),
        "compact_s": compact_s,
        "detail": {"events": BULK_EVENTS, "batches": BULK_BATCHES},
    }


def read_under_ingest(b: Bench) -> dict:
    """Rounds on a seeded table with live delta chains: one small merge of
    partial updates, then lookups, one pruned scan and changes(v-1, v)."""
    from pyspark.sql import functions as F

    from kafka_mongo_watcher_spark.datagen import generate_events
    from kafka_mongo_watcher_spark.plans.lake import LakeTable

    seed = b.args.seed
    n = READ_ROUND_EVENTS
    n_seed = 1 + READ_WARM_MERGES
    events = generate_events(b.spark, (n_seed + READ_ROUNDS) * n, seed=seed, skew_pct=0,
                             evolution_frac=0.0, gen_parallelism=4)
    # updates arrive as partial updates: half write content (and so its
    # fingerprint), half write lang only. Chunk 0 seeds the table, so the
    # cold first merge already takes the patch route.
    seq = F.col("commit_seq")
    events = events.withColumn(
        "patch_mask",
        F.when(F.col("op") == "update",
               F.when(seq % 2 == 0, F.array(F.lit("content"))).otherwise(F.array(F.lit("lang")))),
    )
    dirs = make_log(b, "log", events, n_seed + READ_ROUNDS)
    b.mark("generate")
    table = LakeTable.create(b.spark, os.path.join(b.work, "table"),
                             n_buckets=READ_BUCKETS, write_mode="mor")
    for i in range(n_seed - 1):
        apply_chunk(b, table, dirs[i], "seed", i, n)
    table.compact()
    # the first merge onto compacted buckets is slower than the ones after
    # it, so the last warm-up merge comes after the compaction
    apply_chunk(b, table, dirs[n_seed - 1], "seed", n_seed - 1, n)
    warm_reads(table, table.version)
    b.reset()
    b.mark("seed")
    setup_end = time.perf_counter()

    state = oracle.LwwState()
    chunks = [oracle.read_events(d) for d in dirs]
    for c in chunks[:n_seed]:
        state.apply(c)
    b.sample_rss()
    rng = random.Random(seed)
    cpu0 = b.cpu()
    for k in range(n_seed, len(dirs)):
        with b.tracer.span("round", batch=f"round{k}"):
            v0 = table.version
            t0 = time.perf_counter()
            guarded(b, "merge", apply_chunk, b, table, dirs[k], "ingest", k, len(chunks[k]))
            b.sample("events_per_s", len(chunks[k]) / (time.perf_counter() - t0))
            b.group("untimed")
            changed = state.apply(chunks[k])
            touched = [key for key in changed if key in state.rows]
            run_lookups(b, table, state, key_mix(rng, touched, list(state.rows), READ_LOOKUPS))
            lo = chunks[k - 1][0]["commit_seq"]
            repo = middle(sorted({key[0] for key in touched}))
            guarded(b, "scan", run_scan, b, table, state,
                    [("repo", "=", repo), ("commit_seq", ">=", lo)],
                    lambda t, r=repo, s=lo: t[0] == r and t[5] >= s)
            guarded(b, "changes", run_changes, b, table, v0 + 1, changed)
            b.group("untimed")
        b.sample_rss()
    cpu1 = b.cpu()
    return {
        "setup_end": setup_end,
        # the median round, like commit_ms_p50: one slow window of the host
        # moves a mean over three merges by more than the metric's bound
        "events_per_s": b.pct("events_per_s", 50),
        "live_rows": len(state.rows),
        "table": table,
        "cpu": (cpu0, cpu1),
        "compact_s": 0.0,
        "detail": {"rounds": READ_ROUNDS, "warm_merges": READ_WARM_MERGES,
                   "events_per_round": n, "lookups_per_round": READ_LOOKUPS},
    }


WORKLOADS = {"replay_bulk": replay_bulk, "read_under_ingest": read_under_ingest}


# ---------- reporting ----------

def end_to_end(b: Bench, r: dict, setup_s: float) -> dict:
    return {
        "setup_s": (setup_s, "s"),
        "events_per_s": (r["events_per_s"], "events/s"),
        "commit_ms_p50": (b.pct("commit_ms", 50), "ms"),
        "table_bytes_per_row": (ledger.dir_bytes(r["table"].path) / r["live_rows"], "bytes/row"),
        "peak_rss_mb": (b.peak_mb, "MB"),
    }


def per_layer(b: Bench, r: dict, e2e: dict, spark_stats: dict, probe: float) -> dict:
    ms = b.merges
    phase = lambda name: sum(m["phases"].get(name, 0.0) for m in ms)  # noqa: E731
    wall = sum(m["wall_s"] for m in ms)
    routes = [m["dedup_strategy"] for m in ms]
    cpu0, cpu1 = r["cpu"]
    out = {
        "lake.merge.lineage_s": (phase("lineage"), "s"),
        "lake.merge.plan_winners_s": (phase("plan_winners"), "s"),
        "lake.merge.dedup_delta_write_s": (phase("dedup_delta_write"), "s"),
        "lake.merge.manifest_commit_s": (phase("manifest_commit"), "s"),
        "lake.merge.auto_compact_s": (phase("auto_compact"), "s"),
        "lake.merge.wall_s": (wall, "s"),
        "lake.merge.unaccounted_s": (wall - sum(sum(m["phases"].values()) for m in ms), "s"),
        "lake.merge.compacted_buckets": (sum(m["compacted_buckets"] for m in ms), "count"),
        "lake.merge.spark_jobs": (sum(m["jobs"] for m in ms) / len(ms), "jobs/merge"),
        "lake.merge.files_written": (sum(m["files_written"] for m in ms) / len(ms), "files/merge"),
        "lake.merge.touched_buckets": (sum(m["touched_buckets"] for m in ms) / len(ms), "count"),
        "lake.merge.winner_ratio": (sum(m["merged_rows"] for m in ms)
                                    / sum(m["events"] for m in ms), "ratio"),
        **{f"lake.merge.route.{k}": (routes.count(k), "batches") for k in ROUTES},
        "lake.compact_s": (r["compact_s"], "s"),
        "lake.lookup.ms_p50": (b.pct("lookup_ms", 50), "ms"),
        "lake.lookup.ms_p90": (b.pct("lookup_ms", 90), "ms"),
        "lake.lookup.plan_ms_p50": (b.pct("lookup_plan_ms", 50), "ms"),
        "lake.lookup.read_ms_p50": (b.pct("lookup_read_ms", 50), "ms"),
        "lake.lookup.chain_depth_mean": (_mean(b.samples["chain_depth"]), "files"),
        "lake.lookup.input_kb": (_mean(b.samples["lookup_input_kb"]), "KB"),
        "lake.scan.ms_p50": (b.pct("scan_ms", 50), "ms"),
        "lake.scan.plan_ms_p50": (b.pct("scan_plan_ms", 50), "ms"),
        "lake.scan.read_ms_p50": (b.pct("scan_read_ms", 50), "ms"),
        "lake.scan.input_mb": (_mean(b.samples["scan_input_mb"]), "MB"),
        "lake.changes.read_ms_p50": (b.pct("changes_ms", 50), "ms"),
        "lake.changes.rows": (_mean(b.samples["changes_rows"]), "rows"),
        **{k: (v, "KB" if k.endswith("_kb") else "files")
           for k, v in table_layout(r["table"]).items()},
        "events.read_log_ms": (b.pct("read_log_ms", 50), "ms"),
        "proc.jvm_cpu_s": (cpu1["jvm_cpu_s"] - cpu0["jvm_cpu_s"], "s"),
        "proc.python_worker_cpu_s": (cpu1["python_worker_cpu_s"]
                                     - cpu0["python_worker_cpu_s"], "s"),
        "spark.shuffle_skew": (spark_stats.pop("spark.shuffle_skew"), "ratio"),
        **{k: (v, _SPARK_UNITS[k]) for k, v in spark_stats.items()},
        "host.cpu_probe_eff": (probe, "ratio"),
        "trace.events_per_s": (e2e["events_per_s"][0], "events/s"),
        "trace.commit_ms_p50": (e2e["commit_ms_p50"][0], "ms"),
    }
    return out


_SPARK_UNITS = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_cpu_s": "s", "spark.gc_s": "s", "spark.input_mb": "MB",
    "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB",
}


def _mean(xs) -> float:
    return sum(xs) / len(xs)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "kafka_mongo_watcher_spark", "__init__.py")):
        print(f"perfbench: no kafka_mongo_watcher_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    b = Bench(args)
    ticks0 = ledger.host_cpu_ticks()
    t_setup = time.perf_counter()
    try:
        try:
            b.start()
            r = WORKLOADS[args.workload](b)
        finally:
            t_stop = time.perf_counter()
            b.stop()
            b.phases["teardown"] = time.perf_counter() - t_stop
        steal = ledger.steal_share(ticks0, ledger.host_cpu_ticks())
        probe = ledger.cpu_probe_eff(b.cores)
        try:
            e2e = end_to_end(b, r, r["setup_end"] - t_setup)
            if b.trace:
                spark_stats = ledger.parse_event_log(ledger.event_log_lines(b.event_log),
                                                     b.timed_groups)
                metrics = per_layer(b, r, e2e, spark_stats, probe)
                with open(b.trace_file, "w") as f:
                    json.dump({"spans": b.tracer.spans, "self_times": b.tracer.self_times(),
                               "merges": b.merges, "metrics": metrics},
                              f, indent=1, default=str)
            else:
                metrics = e2e
        except (KeyError, ValueError, ZeroDivisionError):
            # a failed op left a metric without samples; the result still
            # reports the failure
            if not b.failed:
                raise
            traceback.print_exc()
            metrics = {}
    finally:
        shutil.rmtree(b.work, ignore_errors=True)
    routes = sorted({m["dedup_strategy"] for m in b.merges})
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "routes": routes, "host.cpu_probe_eff": probe, "host.steal_share": steal,
        "samples_ms": {k: [round(x, 1) for x in v] for k, v in b.samples.items()
                       if k.endswith("_ms")},
        "failed_op_share": ledger.failed_op_share(b.attempted, b.failed),
        "failures": b.failures, "phases": b.phases, **r["detail"],
    }
    print(json.dumps(detail))
    print(json.dumps({
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
