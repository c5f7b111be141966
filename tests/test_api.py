"""HTTP facade tests: the rqlite-style surface end-to-end over a real
socket (service.go route parity)."""

from __future__ import annotations

import json
import os
import urllib.request

import pytest

from wire_spark.api import WireService


@pytest.fixture()
def svc(spark):
    s = WireService(spark)
    port = s.serve()
    yield s, f"http://127.0.0.1:{port}"
    s.shutdown()


def _get(url):
    with urllib.request.urlopen(url, timeout=30) as r:
        return r.status, json.loads(r.read())


def _post(url, payload):
    req = urllib.request.Request(
        url, data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"}, method="POST",
    )
    with urllib.request.urlopen(req, timeout=60) as r:
        return r.status, json.loads(r.read())


def _delete(url):
    req = urllib.request.Request(url, method="DELETE")
    with urllib.request.urlopen(req, timeout=30) as r:
        return r.status, json.loads(r.read())


def test_readyz_and_status(svc):
    _, base = svc
    assert _get(base + "/readyz")[1] == {"ready": True}
    code, st = _get(base + "/status")
    assert code == 200 and "spark" in st and "store" in st


def test_execute_query_roundtrip(svc):
    _, base = svc
    code, res = _post(base + "/db/execute", ["SET greeting hello world", "SET n 1"])
    assert code == 200
    assert res["results"] == [{"rows_affected": 1}, {"rows_affected": 1}]

    _, q = _post(base + "/db/query", ["GET greeting", "GET missing"])
    assert q["results"][0] == {
        "columns": ["key", "value"], "types": ["text", "blob"],
        "values": [["greeting", "hello world"]],
    }
    assert q["results"][1]["values"] == []  # miss -> empty, not error

    _, qa = _post(base + "/db/query?associative", ["GET greeting"])
    assert qa["results"][0]["rows"] == [{"key": "greeting", "value": "hello world"}]


def test_key_endpoints_raw_path(svc):
    _, base = svc
    # raw put preserves arbitrary whitespace (StoreInDatabase path)
    _post(base + "/key", {"key": "cfg", "value": "a  b\tc"})
    assert _get(base + "/key?key=cfg")[1] == {"key": "cfg", "value": "a  b\tc"}
    _delete(base + "/key?key=cfg")
    assert _get(base + "/key?key=cfg")[1] == {"key": "cfg", "value": None}


def test_bad_statement_is_json_error(svc):
    _, base = svc
    _, res = _post(base + "/db/execute", ["UPSERT x 1"])
    assert "error" in res["results"][0]
    _, q = _post(base + "/db/query", ["FETCH x"])
    assert "error" in q["results"][0]


def test_connector_creates_and_runs_pipeline(svc, tmp_path):
    s, base = svc
    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    os.makedirs(in_dir)
    with open(os.path.join(in_dir, "a.json"), "w") as f:
        f.write(json.dumps({"id": 1, "word": "hi"}) + "\n")
    code, res = _post(
        base + "/connector",
        {
            "source": {"type": "file", "key": "api_pipe", "name": "in",
                       "config": {"path": in_dir}},
            "sink": {"type": "file", "key": "api_pipe", "name": "out",
                     "config": {"path": out_dir, "checkpoint": str(tmp_path / "ck")}},
            "available_now": True,
        },
    )
    assert code == 200
    assert res == {"key": "api_pipe", "pipeline": "in -> out"}
    # config persisted under 'config' (service.go:1870)
    assert s.kv.get("config") is not None
    for q in s.spark.streams.active:
        q.awaitTermination(60)
    rows = s.spark.read.json(out_dir).collect()
    assert [r.word for r in rows] == ["hi"]


def test_nodes_single_node_roster(svc, spark):
    # service.go:975-1022 analog: exactly one node (this driver),
    # keyed by the Spark application id, reachable + leader + voter —
    # the shape reference-built dashboards parse
    _, base = svc
    code, nodes = _get(base + "/nodes")
    assert code == 200
    assert list(nodes) == [spark.sparkContext.applicationId]
    rec = nodes[spark.sparkContext.applicationId]
    assert rec["reachable"] is True and rec["leader"] is True
    assert rec["voter"] is True
    assert rec["api_addr"] and rec["time"] >= 0


def test_debug_vars_counters_and_filter(svc):
    # service.go:1416-1436 analog: per-route expvar counters tick on
    # each hit; engine gauges present; ?key= filters to one variable
    _, base = svc
    _get(base + "/status")
    _get(base + "/status")
    _get(base + "/readyz")
    code, ev = _get(base + "/debug/vars")
    assert code == 200
    assert ev["num_status"] == 2
    assert ev["num_readyz"] == 1
    assert "active_streaming_queries" in ev and "kv_keys_live" in ev
    assert ev["uptime_seconds"] >= 0

    _, one = _get(base + "/debug/vars?key=num_status")
    assert one == {"num_status": 2}  # /debug/vars itself is not counted
    _, none = _get(base + "/debug/vars?key=no_such_var")
    assert none == {}


def test_boot_loads_records_idempotently(svc):
    # service.go:801-819 promises /boot but ships a 503 stub; our
    # analog loads {key,value} records through the LWW log, so a
    # replayed boot is a no-op and later live writes win
    _, base = svc
    recs = [{"key": "a", "value": "1"}, {"key": "b", "value": "2"}]
    code, res = _post(base + "/boot", recs)
    assert code == 200 and res == {"loaded": 2}
    assert _get(base + "/key?key=a")[1]["value"] == "1"

    _post(base + "/boot", recs)                     # replay: idempotent
    assert _get(base + "/key?key=a")[1]["value"] == "1"

    _post(base + "/key", {"key": "a", "value": "9"})  # live write wins
    assert _get(base + "/key?key=a")[1]["value"] == "9"
    _, ev = _get(base + "/debug/vars?key=num_boot")
    assert ev == {"num_boot": 2}


def test_queued_execute_over_http_with_wait(svc):
    """/db/execute?queue parity (service.go:1106-1159): enqueued
    batches return monotone sequence numbers; &wait blocks until the
    batch is applied; the writes land in the store."""
    s, base = svc
    seqs = []
    for i in range(5):
        code, res = _post(base + "/db/execute?queue", [f"SET qh{i} v{i}"])
        assert code == 200
        assert res["results"] == []
        seqs.append(res["sequence_number"])
    assert seqs == sorted(seqs) and len(set(seqs)) == 5  # strictly monotone
    # flush: wait on a final batch -> everything before it is applied too
    code, res = _post(base + "/db/execute?queue&wait", ["SET qh_last done"])
    assert code == 200 and res["sequence_number"] > seqs[-1]
    for i in range(5):
        assert s.kv.get(f"qh{i}") == f"v{i}"
    assert s.kv.get("qh_last") == "done"


def test_queued_writes_concurrent_with_streaming_pipeline(svc, tmp_path):
    """The KV queue (service.go:1106-1159) and a
    streaming pipeline (pipeline.go) exercising the SAME KV store at
    the same time.  A file-source stream foreachBatch-es rows into the
    store while HTTP queued writes hit overlapping keys concurrently;
    afterwards (a) sequence numbers from the queue are strictly
    monotone, (b) the log's seq column is gap-free and unique even
    under the two concurrent writers, and (c) the distributed
    resolve_kv state agrees with the driver-side resolved snapshot —
    last-writer-wins BY SEQ for every contended key."""
    import threading
    import time as _time

    from pyspark.sql import functions as F

    s, base = svc
    spark = s.spark
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    # stream side: 8 files x 25 rows, half on contended keys ck0..ck9
    n_files, rows_per = 8, 25
    for fno in range(n_files):
        with open(os.path.join(in_dir, f"f{fno:02d}.json"), "w") as f:
            for r in range(rows_per):
                i = fno * rows_per + r
                key = f"ck{i % 10}" if i % 2 == 0 else f"stream_only_{i}"
                f.write(json.dumps({"key": key, "value": f"stream_{i}"}) + "\n")

    def kv_sink(bdf, _epoch):
        for row in bdf.collect():  # control-plane-sized batch
            s.kv.put(row.key, row.value)

    stream = (
        spark.readStream.schema("key STRING, value STRING")
        .option("maxFilesPerTrigger", "1")
        .json(in_dir)
    )
    q = (
        stream.writeStream.foreachBatch(kv_sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )

    # HTTP side: two producer threads race queued writes onto the
    # contended keys while the stream is live
    http_seqs: list[int] = []
    seq_lock = threading.Lock()

    def producer(tid: int):
        for i in range(30):
            code, res = _post(
                base + "/db/execute?queue",
                [f"SET ck{i % 10} http_{tid}_{i}"],
            )
            assert code == 200
            with seq_lock:
                http_seqs.append(res["sequence_number"])
            _time.sleep(0.005)

    threads = [threading.Thread(target=producer, args=(t,)) for t in (0, 1)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    q.awaitTermination(120)
    # flush the queue: wait on a sentinel batch
    code, res = _post(base + "/db/execute?queue&wait", ["SET flush done"])
    assert code == 200

    # (a) each producer's view of sequence numbers is monotone, and no
    # two requests ever shared one
    assert len(set(http_seqs)) == len(http_seqs) == 60

    # (b) the unified log assigned unique, gap-free seqs across BOTH
    # writers (streaming puts and queued statements share one log)
    log = s.kv.log_df()
    n = log.count()
    mx, distinct = log.agg(F.max("seq"), F.countDistinct("seq")).first()
    assert n == n_files * rows_per + 60 + 1  # stream + http + flush
    assert mx == n and distinct == n  # gap-free, no duplicate seq

    # (c) distributed LWW state == driver-resolved snapshot, and every
    # contended key holds the value of its max-seq writer
    dist = {r.key: r.value for r in s.kv.state().collect()}
    assert dist == s.kv._resolved_state()
    winners = {
        r.key: r.value
        for r in log.groupBy("key").agg(
            F.max_by("value", "seq").alias("value")).collect()
    }
    for k in [f"ck{i}" for i in range(10)]:
        assert dist[k] == winners[k]


def test_queued_execute_wait_timeout_returns_408(svc):
    """?queue&wait&timeout=0 parity with the reference's
    StatusRequestTimeout path (service.go:1147-1151): the drain thread
    holds a non-full batch for its 100ms fill window, so a zero
    timeout expires first -> HTTP 408; the write itself is NOT rolled
    back and still applies once the queue flushes (rqlite semantics:
    wait is about acknowledgement, not atomicity)."""
    import time as _time
    import urllib.error

    s, base = svc
    try:
        _post(base + "/db/execute?queue&wait&timeout=0", ["SET slowk v1"])
        raise AssertionError("expected HTTP 408")
    except urllib.error.HTTPError as e:
        assert e.code == 408
        assert json.loads(e.read())["error"] == "queue wait timeout"
    # the enqueued write still lands after the batch window
    deadline = _time.time() + 10
    while _time.time() < deadline and s.kv.get("slowk") != "v1":
        _time.sleep(0.05)
    assert s.kv.get("slowk") == "v1"


def test_empty_statement_list_is_rejected_with_400(svc):
    """An empty statements array is a 400 on BOTH execute paths
    (request_parser.go:14 ErrNoStatements), never a vacuous success.
    The queued path previously returned sequence_number 0 without
    enqueueing anything, and wait=true 'succeeded' immediately
    against seq 0."""
    import urllib.error

    s, base = svc
    for path in ["/db/execute", "/db/execute?queue", "/db/execute?queue&wait",
                 "/db/query"]:
        try:
            _post(base + path, [])
            raise AssertionError(f"expected HTTP 400 for {path}")
        except urllib.error.HTTPError as e:
            assert e.code == 400, path
            assert "no statements" in json.loads(e.read())["error"], path
