"""CLI entry point — the single-binary parity of the reference watcher
(/root/reference/cmd/watcher/main.go:24-51): one process, two modes.

  python -m kafka_mongo_watcher_spark watch  --log-dir L --table T --checkpoint C
  python -m kafka_mongo_watcher_spark replay --snapshot S --table T
  python -m kafka_mongo_watcher_spark compact --table T

Also runnable via spark-submit --py-files pkg.zip (module file as the app).
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="kafka_mongo_watcher_spark")
    sub = p.add_subparsers(dest="mode", required=True)

    w = sub.add_parser("watch", help="tail the event log, apply per micro-batch (reference watch mode)")
    w.add_argument("--log-dir", required=True)
    w.add_argument("--table", required=True)
    w.add_argument("--checkpoint", required=True)
    w.add_argument("--source-id", default="watch")
    w.add_argument("--max-files-per-trigger", type=int, default=1)
    w.add_argument("--metrics-log", default=None)
    w.add_argument(
        "--tech-addr",
        default=None,
        metavar="HOST:PORT",
        help="serve /metrics, /liveness, /readiness and /sse/event while "
        "watching (the reference's technical HTTP server, server.go:83-105)",
    )

    r = sub.add_parser("replay", help="snapshot scan -> synthetic inserts -> apply (reference replay mode)")
    r.add_argument("--snapshot", required=True, help="parquet dir of the base table")
    r.add_argument("--table", required=True)
    r.add_argument("--metrics-log", default=None)

    c = sub.add_parser("compact", help="rewrite buckets, purge tombstones")
    c.add_argument("--table", required=True)

    d = sub.add_parser(
        "dimension",
        help="maintain the SCD2 warehouse dimension from the event log "
        "(streaming fold, plans/scd2_store.py)",
    )
    d.add_argument("--log-dir", required=True)
    d.add_argument("--dim", required=True, help="dimension store directory")
    d.add_argument("--checkpoint", required=True)
    d.add_argument("--source-id", default="dim")
    d.add_argument("--max-files-per-trigger", type=int, default=1)
    d.add_argument("--n-buckets", type=int, default=16)
    d.add_argument("--on-late", choices=("raise", "drop"), default="raise")
    d.add_argument("--write-mode", choices=("cow", "mor"), default="cow",
                   help="mor: O(batch) delta appends, reads resolve, compact folds")
    d.add_argument("--compact", action="store_true",
                   help="fold MOR deltas into resolved bucket bases after the run")
    d.add_argument("--expire-keep-last", type=int, default=0,
                   help=">0: GC orphaned version dirs after the run, keeping N versions")
    d.add_argument("--compact-every", type=int, default=0,
                   help=">0 (MOR): compact + refresh seed files every N committed epochs")

    t = sub.add_parser(
        "tail",
        help="watch a MOR table's changelog as a stream into a parquet dir "
        "(CDC out of the lake — the reference's watch loop pointed at OUR "
        "table instead of Mongo)",
    )
    t.add_argument("--table", required=True)
    t.add_argument("--out", required=True, help="parquet dir change rows append to")
    t.add_argument("--checkpoint", required=True)
    t.add_argument("--starting-version", default=None,
                   help="backfill from this version (exclusive); default: watch from now")
    t.add_argument("--max-versions-per-batch", type=int, default=0)
    t.add_argument("--available-now", action="store_true",
                   help="drain the backlog and exit instead of running continuously")

    a = p.parse_args(argv)

    from kafka_mongo_watcher_spark.metrics import MetricsLog
    from kafka_mongo_watcher_spark.plans.lake import LakeTable
    from kafka_mongo_watcher_spark.session import spark_session

    spark = spark_session(app_name=f"kmw-{a.mode}")
    mlog = MetricsLog(a.metrics_log) if getattr(a, "metrics_log", None) else None

    if a.mode == "watch":
        from kafka_mongo_watcher_spark.streaming.run import run_replay_stream

        tech = None
        recorder = None
        if a.tech_addr:
            from kafka_mongo_watcher_spark.observability import (
                Debugger,
                KafkaRecorder,
                TechServer,
            )

            host, _, port = a.tech_addr.rpartition(":")
            recorder = KafkaRecorder()
            tech = TechServer(
                recorder=recorder,
                debugger=Debugger(context={"table": a.table, "log_dir": a.log_dir}),
                addr=host or "127.0.0.1",
                port=int(port),
            ).start()
            print(json.dumps({"tech_server": tech.url}), flush=True)
        if not os.path.exists(os.path.join(a.table, "_latest")):
            LakeTable.create(spark, a.table)

        class _LiveStats(list):
            # batch-granular records, emitted as each epoch commits: a live
            # /metrics scrape sees progress (the produce/ack analog of
            # client_metric.go:23-47), and a crash keeps the metrics-log
            # records of every batch committed before it
            def append(self, s):
                super().append(s)
                if mlog:
                    mlog.emit(s)
                if recorder is not None and not s.get("skipped"):
                    recorder.inc_produce(a.source_id, s.get("merged_rows", 0))
                    recorder.inc_success(a.source_id, s.get("merged_rows", 0))

        try:
            stats = run_replay_stream(
                spark,
                log_dir=a.log_dir,
                table_path=a.table,
                checkpoint_dir=a.checkpoint,
                source_id=a.source_id,
                max_files_per_trigger=a.max_files_per_trigger,
                metrics_sink=_LiveStats(),
                # K5 parity (main.go:41-51): SIGINT/SIGTERM stop the stream
                # and exit 0 with a resumable checkpoint
                handle_signals=True,
            )
        finally:
            if tech is not None:
                tech.close()
        print(json.dumps({"mode": "watch", "epochs": len(stats),
                          "committed": len([s for s in stats if not s.get("skipped")])}))
    elif a.mode == "replay":
        from kafka_mongo_watcher_spark.operators.envelope import (
            build_insert_envelope,
            transform_events,
        )

        if not os.path.exists(os.path.join(a.table, "_latest")):
            LakeTable.create(spark, a.table)
        table = LakeTable(spark, a.table)
        base = spark.read.parquet(a.snapshot)
        stats = table.merge(
            transform_events(build_insert_envelope(base), fingerprint=False),
            source_id="replay",
            batch_id=0,
        )
        if mlog:
            mlog.emit(stats)
        print(json.dumps({"mode": "replay", **{k: v for k, v in stats.items() if k != "lineage"}}))
    elif a.mode == "dimension":
        from kafka_mongo_watcher_spark.plans.scd2_store import Scd2Store
        from kafka_mongo_watcher_spark.streaming.run import run_dimension_stream

        stats = run_dimension_stream(
            spark,
            log_dir=a.log_dir,
            dim_path=a.dim,
            checkpoint_dir=a.checkpoint,
            source_id=a.source_id,
            max_files_per_trigger=a.max_files_per_trigger,
            n_buckets=a.n_buckets,
            on_late=a.on_late,
            write_mode=a.write_mode,
            compact_every=a.compact_every,
        )
        comp = (
            Scd2Store(spark, a.dim).compact() if a.compact else {}
        )
        gc = (
            Scd2Store(spark, a.dim).expire_versions(keep_last=a.expire_keep_last)
            if a.expire_keep_last > 0
            else {}
        )
        print(json.dumps({
            "mode": "dimension",
            "epochs": len(stats),
            "committed": len([s for s in stats if not s.get("skipped")]),
            "version": Scd2Store(spark, a.dim).version,
            **comp,
            **gc,
        }))
    elif a.mode == "compact":
        table = LakeTable(spark, a.table)
        print(json.dumps({"mode": "compact", **table.compact()}))
    elif a.mode == "tail":
        import signal

        from kafka_mongo_watcher_spark.sources.lake_changes import (
            LakeChangesDataSource,
        )

        spark.dataSource.register(LakeChangesDataSource)
        reader = spark.readStream.format("lake_changes").option("path", a.table)
        if a.starting_version is not None:
            reader = reader.option("startingVersion", a.starting_version)
        if a.max_versions_per_batch:
            reader = reader.option("maxVersionsPerBatch", a.max_versions_per_batch)
        writer = (
            reader.load()
            .writeStream.format("parquet")
            .option("path", a.out)
            .option("checkpointLocation", a.checkpoint)
        )
        if a.available_now:
            q = writer.trigger(availableNow=True).start()
            q.awaitTermination()
        else:
            q = writer.trigger(processingTime="2 seconds").start()
            # K5 parity: SIGINT/SIGTERM stop the stream, exit 0, checkpoint
            # resumes where it left off
            for sig in (signal.SIGINT, signal.SIGTERM):
                signal.signal(sig, lambda *_: q.stop())
            q.awaitTermination()
        progress = [p for p in q.recentProgress if p]
        print(json.dumps({
            "mode": "tail",
            "batches": len(progress),
            "rows": sum(int(p.get("numInputRows", 0)) for p in progress),
        }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
