"""Technical HTTP surface (O6 /metrics + liveness, U4 SSE fan-out) and the
O5 tracer provider — parity with /root/reference/internal/http/server.go,
internal/http/handler/debug.go, internal/metrics/kafka.go and
internal/service/otel.go. Pure-stdlib server; Spark enters only in the
streaming-integration case at the bottom."""

import http.client
import json
import threading
import urllib.request

import pytest

from kafka_mongo_watcher_spark.observability import (
    Debugger,
    JsonSpanTracerProvider,
    KafkaRecorder,
    NoopTracerProvider,
    TechServer,
    get_tracer_provider,
)


# ---------------------------------------------------------------------------
# KafkaRecorder
# ---------------------------------------------------------------------------


def test_recorder_counters_and_exposition():
    r = KafkaRecorder()
    r.inc_produce("t1", 3)
    r.inc_produce("t1")
    r.inc_success("t1", 4)
    r.inc_error("t2")
    text = r.exposition()
    # metric names are the reference's (internal/metrics/kafka.go:26-50)
    assert '# TYPE kafka_client_produce_counter_total counter' in text
    assert 'kafka_client_produce_counter_total{topic="t1"} 4' in text
    assert 'kafka_producer_event_success_counter_total{topic="t1"} 4' in text
    assert 'kafka_producer_event_error_counter_total{topic="t2"} 1' in text
    with pytest.raises(ValueError):
        r.inc_produce("t1", -1)


def test_recorder_thread_safety():
    r = KafkaRecorder()
    n, per = 8, 500

    def work():
        for _ in range(per):
            r.inc_produce("t", 1)

    ts = [threading.Thread(target=work) for _ in range(n)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert r.value("kafka_client_produce_counter_total", "t") == n * per


# ---------------------------------------------------------------------------
# HTTP endpoints
# ---------------------------------------------------------------------------


@pytest.fixture()
def server():
    s = TechServer(debugger=Debugger(), ping_interval_s=0.2).start()
    yield s
    s.close()


def test_liveness_readiness_metrics(server):
    for path in ("/liveness", "/readiness"):
        with urllib.request.urlopen(server.url + path) as resp:
            assert resp.status == 200  # monitoring.go:19-21
    server.recorder.inc_produce("events", 7)
    with urllib.request.urlopen(server.url + "/metrics") as resp:
        assert resp.status == 200
        body = resp.read().decode()
    assert 'kafka_client_produce_counter_total{topic="events"} 7' in body


def test_unknown_route_404(server):
    with pytest.raises(urllib.error.HTTPError) as ei:
        urllib.request.urlopen(server.url + "/nope")
    assert ei.value.code == 404


# ---------------------------------------------------------------------------
# SSE fan-out (debug.go:45-110: every client sees every event)
# ---------------------------------------------------------------------------


def _sse_client(server, n_events, out):
    host, port = server.address
    conn = http.client.HTTPConnection(host, port, timeout=10)
    conn.request("GET", "/sse/event")
    resp = conn.getresponse()
    assert resp.headers["Content-Type"] == "text/event-stream"
    got = []
    event = None
    while len(got) < n_events:
        line = resp.fp.readline().decode().rstrip("\n")
        if line.startswith("event: "):
            event = line[len("event: "):]
        elif line.startswith("data: ") and event == "event":
            got.append(json.loads(line[len("data: "):]))
    out.append(got)
    conn.close()


def test_sse_two_clients_see_same_events(server):
    deb = server.debugger
    results: list = []
    threads = [
        threading.Thread(target=_sse_client, args=(server, 3, results))
        for _ in range(2)
    ]
    [t.start() for t in threads]
    # wait for both subscriptions before publishing (the reference blocks on
    # unbuffered newClients for the same reason)
    for _ in range(100):
        if deb.n_clients == 2:
            break
        threading.Event().wait(0.05)
    assert deb.n_clients == 2
    for i in range(3):
        deb.add({
            "key": f"k{i}",
            "value": json.dumps({
                "operationType": "insert",
                "fullDocument": {"commit": f"c{i}"},
                "clusterTime": 1000 + i,
            }),
        })
    [t.join(timeout=10) for t in threads]
    assert len(results) == 2
    for got in results:
        assert [e["id"] for e in got] == ["k0", "k1", "k2"]
        assert [e["operation"] for e in got] == ["insert"] * 3
        assert [e["timestamp"] for e in got] == [1000, 1001, 1002]
    # disconnected clients are unsubscribed (debug.go:64-67)
    for _ in range(100):
        if deb.n_clients == 0:
            break
        threading.Event().wait(0.05)
    assert deb.n_clients == 0


def test_debugger_event_mapping_error_tolerant():
    d = Debugger()
    q = d.subscribe()
    d.add(None)                                   # nil message skipped
    d.add({"key": "k", "value": "not json"})      # unparseable skipped
    d.add({
        "key": "doc1",
        "value": json.dumps({
            "operationType": "update",
            "fullDocument": {"commit": "c9"},
            "clusterTime": 42,
        }),
    })
    ev = q.get(timeout=2)
    assert ev == {
        "timestamp": 42,
        "id": "doc1",
        "operation": "update",
        "value": json.dumps({"commit": "c9"}, sort_keys=True),
    }
    assert q.empty()


# ---------------------------------------------------------------------------
# Tracer provider (otel.go:19-69)
# ---------------------------------------------------------------------------


def test_tracer_noop_when_no_endpoint():
    tp = get_tracer_provider("")
    assert isinstance(tp, NoopTracerProvider) and not tp.enabled
    with tp.start_span("x") as span:
        span.set_attribute("a", 1)  # no-op, no error


def test_tracer_json_fallback_records_spans(tmp_path):
    from kafka_mongo_watcher_spark.metrics import MetricsLog

    log = MetricsLog(str(tmp_path / "spans.jsonl"))
    tp = get_tracer_provider("collector:4317", span_log=log)
    assert isinstance(tp, JsonSpanTracerProvider) and tp.enabled
    with tp.start_span("kmw.emit_epoch", {"epoch": 3}) as span:
        span.set_attribute("rows", 10)
    with pytest.raises(RuntimeError):
        with tp.start_span("boom"):
            raise RuntimeError("x")
    spans = log.read()
    assert [s["name"] for s in spans] == ["kmw.emit_epoch", "boom"]
    assert spans[0]["attributes"]["epoch"] == 3
    assert spans[0]["attributes"]["rows"] == 10
    assert spans[0]["attributes"]["service.name"] == "kmw-spark"
    assert spans[0]["status"] == "OK" and spans[1]["status"] == "ERROR"
    assert spans[0]["duration_s"] >= 0


# ---------------------------------------------------------------------------
# Streaming integration: counters + debug tap + spans ride the message sink
# ---------------------------------------------------------------------------


def test_message_stream_observability(spark, tmp_path):
    from kafka_mongo_watcher_spark.datagen import generate_events, write_event_log
    from kafka_mongo_watcher_spark.metrics import MetricsLog
    from kafka_mongo_watcher_spark.streaming.run import run_message_stream

    ev = generate_events(spark, 600)
    write_event_log(ev, str(tmp_path / "log"), n_chunks=2)
    recorder = KafkaRecorder()
    debugger = Debugger(context={"table": "events"})
    seen: list = []
    q = debugger.subscribe()
    tracer = get_tracer_provider(
        "collector:4317", span_log=MetricsLog(str(tmp_path / "spans.jsonl"))
    )
    stats = run_message_stream(
        spark,
        log_dir=str(tmp_path / "log"),
        out_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        topic="kmw-events",
        max_files_per_trigger=1,
        recorder=recorder,
        debugger=debugger,
        debug_sample=4,
        tracer=tracer,
    )
    epochs = [s for s in stats if not s.get("skipped")]
    assert len(epochs) == 2
    # counters: exactly the emitted message count, incremented per batch
    emitted = sum(
        spark.read.parquet(str(tmp_path / "out" / f"epoch={s['epoch']}")).count()
        for s in epochs
    )
    assert recorder.value("kafka_client_produce_counter_total", "kmw-events") == emitted
    assert recorder.value("kafka_producer_event_success_counter_total", "kmw-events") == emitted
    assert recorder.value("kafka_producer_event_error_counter_total", "kmw-events") == 0
    # debug tap: a bounded sample per epoch, all well-formed events
    while not q.empty():
        seen.append(q.get_nowait())
    assert 1 <= len(seen) <= 2 * 4
    assert all(
        e["operation"] in ("insert", "update", "replace", "delete") for e in seen
    )
    assert all(e["id"] for e in seen)
    # one span per committed epoch
    spans = MetricsLog(str(tmp_path / "spans.jsonl")).read()
    assert [s["name"] for s in spans] == ["kmw.emit_epoch"] * 2
    assert sorted(s["attributes"]["epoch"] for s in spans) == [0, 1]


def test_cli_watch_serves_tech_endpoints_live(spark, tmp_path):
    """`watch --tech-addr` serves /liveness and a live-updating /metrics
    WHILE the stream runs (the reference single binary starts the technical
    server alongside the watcher, cmd/watcher/main.go + server.go:60-66),
    and still exits 0 on SIGTERM."""
    import os
    import signal
    import socket
    import subprocess
    import sys
    import time

    from kafka_mongo_watcher_spark.datagen import generate_events, write_event_log
    from kafka_mongo_watcher_spark.plans.lake import LakeTable

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ev = generate_events(spark, 3000)
    write_event_log(ev, str(tmp_path / "log"), n_chunks=6)
    LakeTable.create(spark, str(tmp_path / "t"), n_buckets=8)
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        port = s.getsockname()[1]

    env = {**os.environ, "PYTHONPATH": repo, "SPARK_GRAFT_CPUS": "4",
           "KMW_DRIVER_MEMORY": "2g"}
    p = subprocess.Popen(
        [sys.executable, "-m", "kafka_mongo_watcher_spark", "watch",
         "--log-dir", str(tmp_path / "log"),
         "--table", str(tmp_path / "t"),
         "--checkpoint", str(tmp_path / "ckpt"),
         "--max-files-per-trigger", "1",
         "--tech-addr", f"127.0.0.1:{port}"],
        env=env, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
    )
    base = f"http://127.0.0.1:{port}"
    deadline = time.time() + 240
    live_metrics = None
    try:
        # liveness comes up before Spark finishes booting
        while time.time() < deadline:
            if p.poll() is not None:
                raise AssertionError(f"watch exited early rc={p.returncode}")
            try:
                with urllib.request.urlopen(base + "/liveness", timeout=2) as r:
                    assert r.status == 200
                break
            except OSError:
                time.sleep(0.2)
        else:
            raise AssertionError("tech server never came up")
        # after ≥1 committed epoch the produce counter is visible mid-run
        while time.time() < deadline:
            if p.poll() is not None:
                raise AssertionError(f"watch exited early rc={p.returncode}")
            with urllib.request.urlopen(base + "/metrics", timeout=2) as r:
                body = r.read().decode()
            for line in body.splitlines():
                if line.startswith('kafka_client_produce_counter_total{topic="watch"}'):
                    if float(line.rsplit(" ", 1)[1]) > 0:
                        live_metrics = line
                        break
            if live_metrics:
                break
            time.sleep(0.3)
        assert live_metrics, "produce counter never advanced during the run"
        p.send_signal(signal.SIGTERM)
        out, _ = p.communicate(timeout=120)
    finally:
        if p.poll() is None:
            p.kill()
    assert p.returncode == 0, out


def test_cli_watch_metrics_log_keeps_committed_batches_on_crash(spark, tmp_path, monkeypatch):
    """`watch --metrics-log` writes each batch's record as it commits: a
    watch whose second batch raises inside `merge` still leaves batch 0's
    record in the log."""
    from kafka_mongo_watcher_spark import session
    from kafka_mongo_watcher_spark.__main__ import main
    from kafka_mongo_watcher_spark.datagen import generate_events, write_event_log
    from kafka_mongo_watcher_spark.metrics import MetricsLog
    from kafka_mongo_watcher_spark.plans.lake import LakeTable

    write_event_log(generate_events(spark, 400), str(tmp_path / "log"), n_chunks=2)
    merge = LakeTable.merge

    def failing_merge(self, batch, **kw):
        if kw.get("batch_id") == 1:
            raise RuntimeError("merge failed")
        return merge(self, batch, **kw)

    monkeypatch.setattr(LakeTable, "merge", failing_merge)
    monkeypatch.setattr(session, "spark_session", lambda **kw: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    mlog = str(tmp_path / "metrics.jsonl")
    with pytest.raises(Exception):
        main(["watch", "--log-dir", str(tmp_path / "log"), "--table", str(tmp_path / "t"),
              "--checkpoint", str(tmp_path / "ckpt"), "--metrics-log", mlog])
    records = MetricsLog(mlog).read()
    assert [r["epoch"] for r in records] == [0]
    assert not records[0]["skipped"] and records[0]["merged_rows"] > 0
