"""SparkSession bootstrap for the CDC engine.

Local-mode tuned; on a real cluster the same builder is used with master
unset (taken from spark-submit) and shuffle partitions sized to the
cluster (~2-3x total cores). AQE stays on everywhere: it handles runtime
partition coalescing and skew-join splitting on top of our explicit
salting (SURVEY.md §4).

Performance confs (VERDICT r1 §next 1 — previously only BENCH/scaling.py
had these, so the driver bench ran 15x slower than the scaling harness):
- `-Xms=Xmx -XX:+AlwaysPreTouch` on every JVM we launch: this sandbox's VM
  provisions guest pages lazily (~0.1 GB/s on first touch); pre-touching
  the full heap at JVM startup (untimed) keeps the page faucet out of the
  measured/serving path. Harmless on a normal host.
- `MALLOC_MMAP_THRESHOLD_=1GiB, MALLOC_TRIM_THRESHOLD_=-1` for python
  workers: glibc never munmaps freed Arrow/pandas buffers back to the OS,
  so once-provisioned worker memory stays fast.
- python-worker daemon pre-imports pandas/pyarrow (daemon_preload.py) —
  forked workers inherit the modules copy-on-write instead of paying a
  10-30 s import stampede per slot on wide pandas-UDF stages. Gated on the
  package being importable from a real filesystem path (ADVICE r1: on
  --py-files-only clusters the override must fall back to the stock
  daemon, not kill every Python task).
- `spark.python.sql.dataFrameDebugging.enabled=false`: PySpark's call-site
  capture adds Py4J round trips to every DataFrame API call, a large share
  of a small merge's fixed cost (a warm 300-event merge made ~3,100 round
  trips with it, ~1,200 without it and without the Python UDF). The
  trade-off: Spark error messages lose the DataFrame query context (the
  Python line that built the failing expression); set it back to true via
  `extra_conf` when debugging.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _local_cluster_mem_mb(master: str) -> int | None:
    """memMB from local-cluster[n,cores,memMB], else None."""
    if not master.startswith("local-cluster["):
        return None
    try:
        return int(master.rstrip("]").split(",")[2])
    except (IndexError, ValueError):
        return None


def _daemon_preload_available() -> bool:
    if os.environ.get("KMW_DAEMON_PRELOAD", "1") == "0":
        return False
    try:
        import kafka_mongo_watcher_spark.daemon_preload as mod

        return bool(mod.__file__) and os.path.isfile(mod.__file__)
    except Exception:
        return False


def spark_session(
    app_name: str = "kmw-spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cores=None → $SPARK_GRAFT_CPUS or 32 (sandbox default). master=None →
    $KMW_MASTER or local[cores]. On a single large host prefer
    `local-cluster[4,8,<mem>]` (multiple executor JVMs, 8 cores each): one
    JVM with 32 task threads bottlenecks on process-wide kernel locks
    (mmap/TLB) — measured ~1.9x speedup 8→32 threads in-process vs ~3.5x
    with 4 separate executor JVMs. On a real cluster the master comes from
    spark-submit and none of this applies.
    """
    cores = cores if cores is not None else os.environ.get("SPARK_GRAFT_CPUS", "32")
    n = 32 if cores == "*" else int(cores)
    shuffle = shuffle_partitions if shuffle_partitions is not None else max(n, 8)
    master = master or os.environ.get("KMW_MASTER") or f"local[{cores}]"
    driver_mem = os.environ.get("KMW_DRIVER_MEMORY", "8g")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_mem)
        # pre-touch the driver heap at launch (see module docstring); only
        # effective when this process is about to SPAWN the JVM (normal
        # python-launcher path) — ignored on an already-running gateway
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{driver_mem} -XX:+AlwaysPreTouch",
        )
        # python workers: never munmap freed blocks back to the OS
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", "1073741824")
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", "-1")
        .config("spark.python.worker.reuse", "true")
        # no per-call origin capture (see module docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if _daemon_preload_available():
        builder = (
            builder.config(
                "spark.python.daemon.module",
                "kafka_mongo_watcher_spark.daemon_preload",
            )
            # The daemon subprocess starts before --py-files land on
            # sys.path, so it needs the package importable from a real path.
            .config(
                "spark.executorEnv.PYTHONPATH",
                os.pathsep.join(
                    p
                    for p in [
                        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        os.environ.get("PYTHONPATH", ""),
                    ]
                    if p
                ),
            )
        )
    # Single-host sandbox: shuffle + spill through one disk serializes at
    # high thread counts; use RAM-backed local dirs when available. On a
    # real cluster this is per-node NVMe and spark.local.dir is left alone.
    shm = os.environ.get("KMW_LOCAL_DIR", "/dev/shm/kmw-spark-local")
    try:
        os.makedirs(shm, exist_ok=True)
        builder = builder.config("spark.local.dir", shm)
    except OSError:
        pass
    mem_mb = _local_cluster_mem_mb(master)
    if mem_mb is not None:
        # size executors to the worker spec and pre-touch their full heap
        heap = max(mem_mb - 512, 1024)
        builder = builder.config("spark.executor.memory", f"{heap}m").config(
            "spark.executor.extraJavaOptions",
            f"-Xms{heap}m -XX:+AlwaysPreTouch",
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
