"""Stream-stream joins, materialized views, DLQ routing, CDC apply —
the reference's declared-intent operator set (ROADMAP.md:55-58,
:102-107) delivered Spark-native."""

from __future__ import annotations

import datetime as dt
import json
import os

from pyspark.sql import functions as F

from wire_spark.model import SourceConfig
from wire_spark.sources import data_source_factory
from wire_spark.streaming.joins import stream_static_join, stream_stream_join
from wire_spark.streaming.materialized import materialize, read_view
from wire_spark.sinks.dlq import with_dlq
from wire_spark.transforms.cdc import CDC_SCHEMA, apply_cdc, cdc_stats


def _write_jsonl(path, rows):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _file_stream(spark, path):
    return data_source_factory(
        SourceConfig(name="s", type="file", key="k", config={"path": path})
    ).read(spark)


def test_stream_stream_join(spark, tmp_path):
    """Clicks enriched with impressions in the preceding hour."""
    clicks_dir, imps_dir = str(tmp_path / "clicks"), str(tmp_path / "imps")
    _write_jsonl(
        os.path.join(clicks_dir, "c.json"),
        [{"uid": 1, "cts": "2024-03-01T10:30:00", "page": "home"},
         {"uid": 2, "cts": "2024-03-01T10:40:00", "page": "shop"}],
    )
    _write_jsonl(
        os.path.join(imps_dir, "i.json"),
        [{"uid": 1, "its": "2024-03-01T10:00:00", "ad": "A"},   # within 1h -> match
         {"uid": 1, "its": "2024-03-01T08:00:00", "ad": "B"},   # too old -> no match
         {"uid": 2, "its": "2024-03-01T11:00:00", "ad": "C"}],  # after click -> no match
    )
    clicks = _file_stream(spark, clicks_dir).withColumn("cts", F.to_timestamp("cts"))
    imps = _file_stream(spark, imps_dir).withColumn("its", F.to_timestamp("its"))
    joined = stream_stream_join(
        clicks, imps, on="uid", left_time="cts", right_time="its", window="1 hour"
    )
    q = (
        joined.select("l.uid", "l.page", "r.ad")
        .writeStream.format("memory").queryName("ssj")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.awaitTermination(60)
    rows = {(r.uid, r.page, r.ad) for r in spark.sql("SELECT * FROM ssj").collect()}
    assert rows == {(1, "home", "A")}


def test_stream_static_join(spark, tmp_path, sf_dir):
    ev_dir = str(tmp_path / "ev")
    _write_jsonl(os.path.join(ev_dir, "e.json"),
                 [{"n_nationkey": 0, "x": 1}, {"n_nationkey": 99, "x": 2}])
    from wire_spark.engine import load_table

    stream = _file_stream(spark, ev_dir)
    static = load_table(spark, sf_dir, "nation")
    q = (
        stream_static_join(stream, static, on="n_nationkey")
        .select("n_nationkey", "x", "n_name")
        .writeStream.format("memory").queryName("ssj2")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.awaitTermination(60)
    rows = {(r.n_nationkey, r.n_name) for r in spark.sql("SELECT * FROM ssj2").collect()}
    assert (0, "NATION_0") in rows
    assert (99, None) in rows  # left join keeps unmatched stream rows


def test_materialized_view_maintenance(spark, tmp_path):
    """Streaming agg continuously maintaining a queryable table; new
    data arrives -> view updates on the next run (same checkpoint)."""
    in_dir, view_path = str(tmp_path / "in"), str(tmp_path / "view")
    _write_jsonl(os.path.join(in_dir, "b0.json"),
                 [{"k": "a", "v": 1.0}, {"k": "a", "v": 2.0}, {"k": "b", "v": 5.0}])
    stream = _file_stream(spark, in_dir)
    agg = stream.groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("v"), 2).alias("s")
    )
    materialize(agg, view_path, str(tmp_path / "ck"), "mv_test").awaitTermination(60)
    view = {r.k: (r.n, r.s) for r in read_view(spark, view_path).collect()}
    assert view == {"a": (2, 3.0), "b": (1, 5.0)}

    _write_jsonl(os.path.join(in_dir, "b1.json"), [{"k": "a", "v": 4.0}])
    materialize(agg, view_path, str(tmp_path / "ck"), "mv_test").awaitTermination(60)
    view2 = {r.k: (r.n, r.s) for r in read_view(spark, view_path).collect()}
    assert view2 == {"a": (3, 7.0), "b": (1, 5.0)}  # incremental state kept


def test_dlq_routes_invalid_rows(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    out_dir, dlq_dir = str(tmp_path / "out"), str(tmp_path / "dlq")
    _write_jsonl(
        os.path.join(in_dir, "b.json"),
        [{"id": 1, "amount": 10.0}, {"id": 2, "amount": -5.0}, {"id": 3, "amount": None}],
    )
    stream = _file_stream(spark, in_dir)
    q = with_dlq(
        stream,
        valid=F.col("amount") > 0,
        out_path=out_dir,
        dlq_path=dlq_dir,
        checkpoint=str(tmp_path / "ck"),
    )
    q.awaitTermination(60)
    good = {r.id for r in spark.read.json(out_dir).collect()}
    bad = {(r.id, r.dlq_reason) for r in spark.read.json(dlq_dir).collect()}
    assert good == {1}
    assert bad == {(2, "validation_failed"), (3, "validation_failed")}


def test_cdc_apply_and_stats(spark):
    base = dt.datetime(2024, 3, 1, 10, 0, 0)
    rows = [
        ("t1", "insert", "d1", '{"a":1}', "db", "c", None, None, base, 100),
        ("t2", "update", "d1", '{"a":2}', "db", "c", '{"a":2}', None, base, 101),
        ("t3", "insert", "d2", '{"b":1}', "db", "c", None, None, base, 102),
        ("t4", "delete", "d2", None, "db", "c", None, None, base, 103),
        ("t5", "insert", "d3", '{"c":1}', "db", "c", None, None, base, 104),
        ("t6", "replace", "d3", '{"c":9}', "db", "c", None, None, base, 105),
    ]
    changes = spark.createDataFrame(rows, schema=CDC_SCHEMA)
    state = {r.document_id: r.full_document for r in apply_cdc(changes).collect()}
    assert state == {"d1": '{"a":2}', "d3": '{"c":9}'}  # d2 deleted

    stats = {
        (r.operation_type, r.n_ops)
        for r in cdc_stats(changes).collect()
    }
    assert ("insert", 3) in stats and ("delete", 1) in stats


def test_rate_source_pipeline(spark, tmp_path):
    """The rate source (test/load-gen source, the in-engine analog of
    the reference's utils/generate-random-data script)."""
    src = data_source_factory(
        SourceConfig(name="gen", type="rate", key="k",
                     config={"rows_per_second": "500"})
    )
    stream = src.read(spark)
    q = (
        stream.withColumn("value2", F.col("value") * 2)
        .writeStream.format("memory").queryName("rate_mem")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        import time as _time

        deadline = _time.time() + 30
        n = 0
        while _time.time() < deadline:
            n = spark.sql("SELECT count(*) AS n FROM rate_mem").collect()[0].n
            if n > 0:
                break
            _time.sleep(0.5)
        assert n > 0
        rows = spark.sql("SELECT * FROM rate_mem LIMIT 5").collect()
        assert all(r.value2 == 2 * r.value for r in rows)
    finally:
        q.stop()


def test_cdc_stream_to_keyed_table(spark, tmp_path):
    """The reference's flagship use case end-to-end at table scale:
    a CDC change stream applied incrementally to a keyed table via
    foreachBatch + partitioned merge (sources/mongo.go:207-309 ->
    sink, but with O(touched partitions) apply)."""
    from wire_spark.operators.upsert import merge_upsert, read_table, write_initial
    from wire_spark.transforms.cdc import apply_cdc

    table = str(tmp_path / "docs_table")
    write_initial(
        spark.createDataFrame(
            [("d1", '{"a":0}'), ("d2", '{"b":0}')], ["document_id", "full_document"]
        ),
        table, key="document_id", n_buckets=4,
    )

    in_dir = str(tmp_path / "cdc")
    _write_jsonl(
        os.path.join(in_dir, "batch0.json"),
        [
            {"resume_token": "t1", "operation_type": "update", "document_id": "d1",
             "full_document": '{"a":1}', "cluster_time": 101},
            {"resume_token": "t2", "operation_type": "insert", "document_id": "d3",
             "full_document": '{"c":1}', "cluster_time": 102},
            {"resume_token": "t3", "operation_type": "delete", "document_id": "d2",
             "full_document": None, "cluster_time": 103},
        ],
    )
    changes = _file_stream(spark, in_dir)

    def apply_batch(batch_df, _epoch):
        if batch_df.isEmpty():
            return
        latest = apply_cdc(batch_df)  # fold batch to final op per doc
        deleted = (
            batch_df.groupBy("document_id")
            .agg(F.max_by("operation_type", "cluster_time").alias("op"))
            .filter(F.col("op") == "delete")
            .select("document_id")
        )
        merge_upsert(spark, table, latest, key="document_id",
                     n_buckets=4, delete_keys=deleted)

    q = (
        changes.writeStream.foreachBatch(apply_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.awaitTermination(120)

    state = {r.document_id: r.full_document for r in read_table(spark, table).collect()}
    assert state == {"d1": '{"a":1}', "d3": '{"c":1}'}  # d2 deleted, d3 inserted


def _stream_dedup(spark, src, idx, ck):
    """Runs ``append_and_probe`` in ``foreachBatch`` over a
    (doc_id, text) JSON-lines file stream, one file per micro-batch;
    returns each batch's sorted pairs."""
    from wire_spark.operators.text_index import append_and_probe

    batches: list[list[tuple]] = []
    q = (
        spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", "1")
        .json(src)
        .writeStream.foreachBatch(
            lambda bdf, _e: batches.append(
                sorted(map(tuple, append_and_probe(bdf, idx).collect()))
            )
        )
        .trigger(availableNow=True)
        .option("checkpointLocation", ck)
        .start()
    )
    q.awaitTermination(300)
    return batches


def _write_docs(spark, sf_dir, src, keep, n_files):
    """Spools the documents selected by ``keep`` as ``n_files``
    JSON-lines files (doc_id % n_files)."""
    from wire_spark.engine import load_table

    docs = load_table(spark, sf_dir, "documents").filter(keep)
    rows = [(r.doc_id, r.text) for r in docs.select("doc_id", "text").collect()]
    for i in range(n_files):
        _write_jsonl(
            os.path.join(src, f"b{i}.json"),
            [{"doc_id": d, "text": t} for d, t in rows if d % n_files == i],
        )


def test_streaming_minhash_near_dup_detection(spark, tmp_path):
    """Incremental dedup on a file stream: batch 1 (two unrelated
    docs) emits no pair; batch 2 (a copy of doc 1) emits exactly
    (1, 3, 1.0) — the index carries batch 1 across the restart."""
    src, idx, ck = (str(tmp_path / n) for n in ("in", "idx", "ck"))
    text_a = "the quick brown fox jumps over the lazy dog again and again"
    text_b = "completely different content with no overlapping shingles at all here"
    _write_jsonl(os.path.join(src, "b0.json"),
                 [{"doc_id": 1, "text": text_a}, {"doc_id": 2, "text": text_b}])
    assert _stream_dedup(spark, src, idx, ck) == [[]]

    _write_jsonl(os.path.join(src, "b1.json"), [{"doc_id": 3, "text": text_a}])
    assert _stream_dedup(spark, src, idx, ck) == [[(1, 3, 1.0)]]


def test_streaming_pairs_agree_with_batch_lsh(spark, sf_dir, tmp_path):
    """The sf0.001 corpus streamed as three micro-batches yields, over
    all batches, exactly ``dedup_minhash_lsh``'s verified pairs — the
    DuckDB-oracle-gated batch query is the stream path's oracle."""
    from wire_spark.catalog import load_registry

    src = str(tmp_path / "in")
    _write_docs(spark, sf_dir, src, F.lit(True), 3)
    batches = _stream_dedup(spark, src, str(tmp_path / "idx"), str(tmp_path / "ck"))
    assert len(batches) == 3
    streamed = sorted(
        (min(d1, d2), max(d1, d2), j) for b in batches for d1, d2, j in b
    )
    batch = sorted(
        map(tuple, load_registry()["dedup_minhash_lsh"].fn(spark, sf_dir).collect())
    )
    assert streamed == batch and batch  # non-vacuous


def test_streaming_dedup_long_document(spark, tmp_path):
    """A 16k-word document and its copy, in one micro-batch, give one
    pair at 1.0: signing is linear in document length."""
    text = " ".join(f"w{i}" for i in range(16_384))
    src = str(tmp_path / "in")
    _write_jsonl(os.path.join(src, "b0.json"),
                 [{"doc_id": 7, "text": text}, {"doc_id": 8, "text": text}])
    batches = _stream_dedup(spark, src, str(tmp_path / "idx"), str(tmp_path / "ck"))
    assert batches == [[(7, 8, 1.0)]]


def test_streaming_anomaly_scores_moment_parity(spark, tmp_path):
    """Streaming z-scores: per-type running moments fold hourly counts
    across micro-batches; scored-before-folded semantics; and after
    draining the stream the state moments equal the exact batch
    moments (integer arithmetic — bit-for-bit)."""
    from wire_spark.streaming.anomaly_stream import anomaly_scores

    src = str(tmp_path / "anom_in")
    # batch 1: three hours of 'click' history; batch 2: a spike hour
    _write_jsonl(os.path.join(src, "b1.json"), [
        {"event_type": "click", "ts": f"2024-03-01T{h:02d}:{m:02d}:00"}
        for h, n in ((10, 4), (11, 5), (12, 4)) for m in range(n)
    ])
    stream = _file_stream(spark, src).select(
        "event_type", F.col("ts").cast("timestamp").alias("ts")
    )
    collected: list = []

    def run_drain():
        # foreachBatch (not memory sink): supports restarting from the
        # same checkpoint, which is what carries the state between runs
        q = (
            anomaly_scores(stream)
            .writeStream.foreachBatch(lambda bdf, _e: collected.extend(bdf.collect()))
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    run_drain()
    first = {r.hr: r for r in collected}
    assert len(first) == 3
    # within one batch, hours fold in ascending order: n_hist = 0,1,2
    assert [first[h].n_hist for h in sorted(first)] == [0, 1, 2]
    hrs = sorted(first)
    # first two hours: history too short (n < 2) -> unscored
    assert first[hrs[0]].z is None and first[hrs[1]].z is None
    # third hour scored against history (4, 5): z = (4 - 4.5)/0.5 = -1
    assert abs(first[hrs[2]].z - (-1.0)) < 1e-12

    _write_jsonl(os.path.join(src, "b2.json"), [
        {"event_type": "click", "ts": f"2024-03-01T13:{m:02d}:00"} for m in range(30)
    ])
    collected.clear()
    run_drain()
    spike = list(collected)
    assert len(spike) == 1 and spike[0].c == 30 and spike[0].n_hist == 3
    # history (4,5,4): mean 13/3, var (3*57-169)/9 = 2/9 -> z large
    import math
    expected_z = (30 - 13 / 3) / math.sqrt((3 * 57 - 13 * 13) / 9)
    assert abs(spike[0].z - expected_z) < 1e-12

    # moment parity: streaming state == exact batch moments
    # (reconstruct from emitted rows: fold all scored counts)
    all_rows = list(first.values()) + spike
    n, sx, sx2 = 0, 0, 0
    for r in sorted(all_rows, key=lambda r: r.hr):
        n, sx, sx2 = n + 1, sx + r.c, sx2 + r.c * r.c
    assert (n, sx, sx2) == (4, 43, 957)


def test_streaming_heavy_hitters_exact_at_capacity(spark, tmp_path):
    """SpaceSaving top-k over a token stream: with capacity >= distinct
    tokens the running counts are EXACT and match a batch groupBy;
    across micro-batches state accumulates; with a tiny capacity the
    overestimation bound is honored."""
    from wire_spark.streaming.heavy_hitters import heavy_hitters

    src = str(tmp_path / "hh_in")
    b1 = ["spark"] * 5 + ["scan"] * 3 + ["join"] * 2
    b2 = ["spark"] * 2 + ["agg"] * 4
    _write_jsonl(os.path.join(src, "b1.json"), [{"lang": "en", "tok": t} for t in b1])

    stream = _file_stream(spark, src).select("lang", "tok")
    rows: list = []

    def drain(ck):
        q = (
            heavy_hitters(stream, "lang", "tok", capacity=64, top_n=5)
            .writeStream.outputMode("update")
            .foreachBatch(lambda bdf, _e: rows.extend(bdf.collect()))
            .option("checkpointLocation", str(tmp_path / ck))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    drain("ck")
    got = {r.token: (r.freq, r.err, r.rank) for r in rows}
    assert got == {"spark": (5, 0, 1), "scan": (3, 0, 2), "join": (2, 0, 3)}

    rows.clear()
    _write_jsonl(os.path.join(src, "b2.json"), [{"lang": "en", "tok": t} for t in b2])
    drain("ck")  # same checkpoint -> state carries over
    got = {r.token: (r.freq, r.err, r.rank) for r in rows}
    # running totals: spark 7, agg 4, scan 3, join 2 — all exact
    assert got == {"spark": (7, 0, 1), "agg": (4, 0, 2), "scan": (3, 0, 3),
                   "join": (2, 0, 4)}

    # tiny capacity: the table never exceeds it and the heavy hitter
    # survives with count >= true count (overestimate bounded by err)
    rows.clear()
    drain("ck_small_warmup")  # fresh state, capacity still 64 — warm path ok
    rows.clear()
    q = (
        heavy_hitters(stream, "lang", "tok", capacity=2, top_n=2)
        .writeStream.outputMode("update")
        .foreachBatch(lambda bdf, _e: rows.extend(bdf.collect()))
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    assert len(rows) <= 2
    top = {r.token: r for r in rows}
    assert "spark" in top                      # true heavy hitter survives
    spark_row = top["spark"]
    assert spark_row.freq >= 7                 # never undercounts
    assert spark_row.freq - spark_row.err <= 7  # overestimate within bound


def test_streaming_markov_transitions_batch_parity(spark, tmp_path):
    """Streaming per-user transition emission: state carries the last
    event across micro-batches; after draining two time-ordered
    batches, the transition counts equal the batch Markov query's
    n_trans exactly (same (ts, event_id) ordering)."""
    from wire_spark.catalog import load_registry
    from wire_spark.engine import load_table
    from wire_spark.streaming.markov_stream import transition_stream

    sf_dir = "/root/testdata/sf0.001"
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    cutoff = ev.agg(
        F.date_format(
            F.to_timestamp(F.expr("percentile(unix_timestamp(ts), 0.5)")),
            "yyyy-MM-dd HH:mm:ss",
        )
    ).first()[0]
    src = str(tmp_path / "mk_in")
    for name, pred in (("b1", F.col("ts") <= cutoff), ("b2", F.col("ts") > cutoff)):
        rows = ev.filter(pred).select(
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
            "event_id", "event_type",
        ).collect()
        _write_jsonl(
            os.path.join(src, f"{name}.json"),
            [r.asDict() for r in rows],
        )
    collected: list = []
    stream = _file_stream(spark, src).select(
        F.col("user_id").cast("long").alias("user_id"),
        F.to_timestamp("ts").alias("ts"),
        F.col("event_id").cast("long").alias("event_id"),
        "event_type",
    )
    q = (
        transition_stream(stream)
        .writeStream.foreachBatch(lambda bdf, _e: collected.extend(bdf.collect()))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .option("maxFilesPerTrigger", "1")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    stream_counts: dict[tuple, int] = {}
    for r in collected:
        k = (r.prev_type, r.next_type)
        stream_counts[k] = stream_counts.get(k, 0) + 1
    batch = load_registry()["events_markov_transitions"].fn(spark, sf_dir).collect()
    batch_counts = {(r.prev_type, r.next_type): r.n_trans for r in batch}
    assert batch_counts  # non-vacuous
    assert stream_counts == batch_counts


def test_streaming_gopher_gate_matches_batch(spark, tmp_path, sf_dir):
    """The stateless streaming quality gate (gopher_pass_all inside a
    readStream filter) must admit exactly the documents the batch
    audit counts as pass-all — batch/stream parity of the curation
    gate, the property that lets one pipeline definition serve both
    backfill and live ingestion."""
    from wire_spark.engine import load_table
    from wire_spark.queries.text3 import gopher_pass_all
    from wire_spark.catalog import load_registry

    docs = load_table(spark, sf_dir, "documents")
    spool = str(tmp_path / "docs_in")
    docs.select(F.to_json(F.struct("doc_id", "text", "source")).alias("value")) \
        .coalesce(2).write.mode("overwrite").text(spool)

    stream = (
        spark.readStream.schema("value STRING").text(spool)
        .select(
            F.get_json_object("value", "$.doc_id").cast("long").alias("doc_id"),
            F.get_json_object("value", "$.text").alias("text"),
            F.get_json_object("value", "$.source").alias("source"),
        )
        .filter(gopher_pass_all("text"))
    )
    q = (
        stream.writeStream.format("memory").queryName("gopher_gate")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.awaitTermination(120)
    admitted = {
        r.doc_id for r in spark.sql("SELECT doc_id FROM gopher_gate").collect()
    }

    batch = load_registry()["text_gopher_quality_rules"].fn(spark, sf_dir).collect()
    n_pass_batch = sum(r.n_pass_all for r in batch)
    assert admitted, "gate admitted nothing — vacuous"
    assert len(admitted) == n_pass_batch
    # and the admitted set is exactly the batch pass-all set
    batch_pass = {
        r.doc_id for r in docs.filter(gopher_pass_all("text")).collect()
    }
    assert admitted == batch_pass


def test_streaming_incremental_dedup_gate_matches_batch(spark, tmp_path, sf_dir):
    """Ingestion-time dedup gate: the corpus index is built at rest
    from the doc_id % 10 != 0 documents, the rest stream in, and the
    new documents paired with a corpus document (with their match
    counts) must be exactly ``dedup_incremental_lsh``'s rows — the
    same index serves backfill and live ingestion."""
    from collections import Counter

    from wire_spark.catalog import load_registry
    from wire_spark.engine import load_table
    from wire_spark.operators.text_index import build_minhash_index

    idx = str(tmp_path / "idx")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    build_minhash_index(docs.filter(F.col("doc_id") % 10 != 0), idx)
    src = str(tmp_path / "in")
    _write_docs(spark, sf_dir, src, F.col("doc_id") % 10 == 0, 2)
    batches = _stream_dedup(spark, src, idx, str(tmp_path / "ck"))
    streamed = Counter(d2 for b in batches for d1, d2, _ in b if d1 % 10 != 0)
    batch = {
        r.new_doc_id: r.n_matches
        for r in load_registry()["dedup_incremental_lsh"].fn(spark, sf_dir).collect()
    }
    assert dict(streamed) == batch and batch  # non-vacuous


def test_streaming_windowed_transition_matrix_batch_parity(spark, tmp_path):
    """Chained stateful operators (transition emitter -> watermarked
    tumbling count) in one append-mode query: every CLOSED window's
    (prev,next) counts must equal the batch lag-window computation;
    the trailing window past the final watermark emits nothing."""
    from pyspark.sql import Window as W

    from wire_spark.engine import load_table
    from wire_spark.streaming.markov_stream import windowed_transition_matrix

    sf_dir = "/root/testdata/sf0.001"
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    src = str(tmp_path / "wtm_in")
    rows = ev.select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        "event_id", "event_type",
    ).collect()
    _write_jsonl(os.path.join(src, "all.json"), [r.asDict() for r in rows])

    stream = _file_stream(spark, src).select(
        F.col("user_id").cast("long").alias("user_id"),
        F.to_timestamp("ts").alias("ts"),
        F.col("event_id").cast("long").alias("event_id"),
        "event_type",
    )
    q = (
        windowed_transition_matrix(stream, window="6 hours", watermark="1 hour")
        .writeStream.format("memory").queryName("wtm")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "wtm_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.w_start, r.prev_type, r.next_type): r.n
        for r in spark.sql("SELECT * FROM wtm").collect()
    }

    # batch expectation: lag transitions, tumbling 6h buckets, only
    # windows closed by the final watermark (max transition ts - 1h)
    wspec = W.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.withColumn("prev_type", F.lag("event_type").over(wspec))
        .filter(F.col("prev_type").isNotNull())
        .select("prev_type", F.col("event_type").alias("next_type"), "ts")
    )
    cutoff = trans.agg(
        (F.max("ts") - F.expr("INTERVAL 1 HOUR")).alias("c")
    ).first().c
    expected = {
        (r.w.start, r.prev_type, r.next_type): r.n
        for r in trans.groupBy(
            F.window("ts", "6 hours").alias("w"), "prev_type", "next_type"
        ).agg(F.count(F.lit(1)).alias("n")).collect()
        if r.w.end <= cutoff
    }
    assert expected  # non-vacuous: multiple closed windows at sf0.001
    assert got == expected


def test_streaming_cms_cell_parity_across_batches(spark, tmp_path):
    """Streaming CMS: folding tokens across two micro-batches yields
    estimates identical to a one-shot fold of the union (cell
    increments commute), and the cell mapping matches the batch
    query's md5-derived hash — verified against a Python model."""
    from wire_spark.streaming.cms_stream import cms_cell, cms_token_counts

    D, W_ = 4, 16
    src = str(tmp_path / "cms_in")
    b1 = [{"lang": "en", "token": t} for t in ["a", "b", "a", "c"]] + [
        {"lang": "de", "token": "x"}]
    b2 = [{"lang": "en", "token": t} for t in ["a", "c", "d"]]
    _write_jsonl(os.path.join(src, "b1.json"), b1)

    stream = _file_stream(spark, src).select("lang", "token")
    collected: list = []

    def run_drain():
        q = (
            cms_token_counts(stream, depth=D, width=W_)
            .writeStream.foreachBatch(
                lambda bdf, _e: collected.extend(bdf.collect()))
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    run_drain()
    _write_jsonl(os.path.join(src, "b2.json"), b2)
    run_drain()

    # python model: one-shot fold of ALL rows, same hash
    def model_cells(rows):
        cells = {}
        for r in rows:
            for d in range(D):
                k = (r["lang"], d * W_ + cms_cell(d, r["token"], W_))
                cells[k] = cells.get(k, 0) + 1
        return cells

    cells = model_cells(b1 + b2)

    def model_est(lang, tok):
        return min(cells.get((lang, d * W_ + cms_cell(d, tok, W_)), 0)
                   for d in range(D))

    # last emission per (group, token) reflects the full fold
    last = {}
    for r in collected:
        last[(r.group, r.token)] = r
    assert last[("en", "a")].est == model_est("en", "a") == 3
    assert last[("en", "c")].est == model_est("en", "c") == 2
    assert last[("en", "d")].est == model_est("en", "d")
    assert last[("de", "x")].est == model_est("de", "x") == 1
    # batch-2 rows carried per-batch occurrence counts
    assert last[("en", "a")].n_batch == 1  # one 'a' in b2
    # CMS never undercounts
    for (lang, tok), r in last.items():
        assert r.est >= model_est(lang, tok) >= 1


def test_streaming_kmv_merge_parity_across_batches(spark, tmp_path):
    """Streaming KMV: union-keep-k-smallest across micro-batches
    yields the same sketch as a one-shot fold (the KMV merge rule),
    exact below k and estimating above it, with the same 48-bit hash
    as the batch query."""
    from wire_spark.streaming.kmv_stream import kmv_hash, kmv_distinct

    K = 4
    src = str(tmp_path / "kmv_in")
    b1 = [{"event_type": "click", "user_id": u} for u in [1, 2, 3]]
    b2 = [{"event_type": "click", "user_id": u} for u in [3, 4, 5, 6, 7]]
    _write_jsonl(os.path.join(src, "b1.json"), b1)

    stream = _file_stream(spark, src).select("event_type", "user_id")
    collected: list = []

    def run_drain():
        q = (
            kmv_distinct(stream, k=K)
            .writeStream.foreachBatch(
                lambda bdf, _e: collected.extend(bdf.collect()))
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    run_drain()
    # below k: the sketch IS the distinct set -> exact
    assert collected[-1].n_held == 3 and collected[-1].estimate == 3

    _write_jsonl(os.path.join(src, "b2.json"), b2)
    run_drain()
    final = collected[-1]
    # one-shot model over the union, same hash and merge rule
    hashes = sorted({kmv_hash(str(u)) for u in [1, 2, 3, 4, 5, 6, 7]})[:K]
    expect = (K - 1) * (1 << 48) // hashes[K - 1]
    assert final.n_held == K
    assert final.estimate == expect


def test_streaming_funnel_stage_machine(spark, tmp_path):
    """Streaming funnel: strict-order stage advancement with per-step
    budgets, carried across micro-batches; non-next-step and
    out-of-budget events are ignored; terminal stage sticks."""
    from wire_spark.streaming.funnel_stream import funnel_stages

    H = 3_600_000_000
    src = str(tmp_path / "funnel_in")
    # user 1: view -> click(in 1h) in batch 1; purchase arrives batch 2
    # user 2: click before any view (ignored), view, then click TOO LATE
    b1 = [
        {"user_id": 1, "event_type": "view", "eu": 1000},
        {"user_id": 1, "event_type": "click", "eu": 1000 + H // 2},
        {"user_id": 2, "event_type": "click", "eu": 500},
        {"user_id": 2, "event_type": "view", "eu": 2000},
    ]
    b2 = [
        {"user_id": 1, "event_type": "purchase", "eu": 1000 + H // 2 + 10},
        {"user_id": 1, "event_type": "purchase", "eu": 1000 + H // 2 + 20},
        {"user_id": 2, "event_type": "click", "eu": 2000 + 2 * H},
    ]
    _write_jsonl(os.path.join(src, "b1.json"), b1)
    stream = _file_stream(spark, src).select("user_id", "event_type", "eu")
    collected: list = []

    def run_drain():
        q = (
            funnel_stages(stream)
            .writeStream.foreachBatch(
                lambda bdf, _e: collected.extend(bdf.collect()))
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    run_drain()
    got1 = sorted((r.user_id, r.stage, r.at_us) for r in collected)
    # user 1 reached stages 1 and 2; user 2 only stage 1 (early click
    # ignored — strict order)
    assert got1 == [(1, 1, 1000), (1, 2, 1000 + H // 2), (2, 1, 2000)]

    collected.clear()
    _write_jsonl(os.path.join(src, "b2.json"), b2)
    run_drain()
    got2 = sorted((r.user_id, r.stage, r.at_us, r.anchor_us)
                  for r in collected)
    # user 1 converts on the FIRST purchase (second is past terminal);
    # user 2's click is outside the 1h budget of its view anchor
    assert got2 == [(1, 3, 1000 + H // 2 + 10, 1000 + H // 2)]


def test_streaming_windowed_js_divergence_batch_parity(spark, tmp_path):
    """Chained windowed aggregations in one append-mode query: every
    CLOSED window's JS divergence against a static reference profile
    must equal the batch evaluation of the same formula on the same
    window buckets (float tolerance: collect_list fold order is
    nondeterministic); the trailing window emits nothing."""
    import math

    from wire_spark.engine import load_table
    from wire_spark.streaming.drift_stream import (
        reference_profile,
        windowed_js_divergence,
    )

    sf_dir = "/root/testdata/sf0.001"
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    profile = reference_profile(docs).cache()
    profile.count()

    # synthetic event time: one doc per minute from a fixed epoch
    base = dt.datetime(2024, 3, 1, 0, 0, 0)
    rows = [
        {
            "ts": (base + dt.timedelta(minutes=int(r.doc_id))).strftime(
                "%Y-%m-%d %H:%M:%S"
            ),
            "text": r.text,
        }
        for r in docs.collect()
    ]
    src = str(tmp_path / "drift_in")
    _write_jsonl(os.path.join(src, "all.json"), rows)

    stream = _file_stream(spark, src).select(
        F.to_timestamp("ts").alias("ts"), "text"
    )
    q = (
        windowed_js_divergence(
            stream, profile, window="1 hour", watermark="30 minutes"
        )
        .writeStream.format("memory").queryName("drift")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "drift_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        r.w_start: (r.n_tokens, r.js)
        for r in spark.sql("SELECT * FROM drift").collect()
    }

    # batch expectation: same windows, same formula, closed windows only
    tok = spark.createDataFrame(rows, "ts STRING, text STRING").select(
        F.to_timestamp("ts").alias("ts"),
        F.explode(F.split("text", " ")).alias("token"),
    )
    cutoff = tok.agg(
        (F.max("ts") - F.expr("INTERVAL 30 MINUTES")).alias("c")
    ).first().c
    wc = (
        tok.groupBy(F.window("ts", "1 hour").alias("w"), "token")
        .agg(F.count(F.lit(1)).alias("c"))
        .join(profile, "token", "left")
        .withColumn("q", F.coalesce("q", F.lit(0.0)))
        .collect()
    )
    from collections import defaultdict
    by_w = defaultdict(list)
    for r in wc:
        by_w[(r.w.start, r.w.end)].append((r.c, r.q))
    expected = {}
    for (ws, we), pairs in by_w.items():
        if we > cutoff:
            continue  # unclosed trailing window
        ns = sum(c for c, _ in pairs)
        qp = sum(qv for _, qv in pairs)
        s = 0.0
        for c, qv in pairs:
            p = c / ns
            m = (p + qv) / 2.0
            s += p * math.log(p / m)
            if qv > 0.0:
                s += qv * math.log(qv / m)
        expected[ws] = (ns, 0.5 * (s + math.log(2.0) * (1.0 - qp)))
    assert set(got) == set(expected)
    for ws, (ns, js) in expected.items():
        gns, gjs = got[ws]
        assert gns == ns, (ws, gns, ns)
        assert abs(gjs - js) < 1e-9, (ws, gjs, js)
    # sanity: self-distribution windows score well under the ln(2) bound
    assert all(0.0 <= js < math.log(2.0) for _, js in got.values())


def test_streaming_kanonymity_gate_batch_parity(spark, tmp_path):
    """The streaming k-anonymity gate (chained windowed aggregations)
    must report, for every CLOSED window, exactly the band rollup the
    batch audit computes on the same window slice; the trailing
    unclosed window emits nothing."""
    from collections import Counter, defaultdict

    from wire_spark.engine import load_table
    from wire_spark.streaming.governance_stream import windowed_kanonymity

    sf_dir = "/root/testdata/sf0.001"
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_nationkey", "c_acctbal"
    ).collect()
    base = dt.datetime(2024, 3, 1, 0, 0, 0)
    rows = [
        {
            "ts": (base + dt.timedelta(minutes=int(r.c_custkey))).strftime(
                "%Y-%m-%d %H:%M:%S"
            ),
            "seg": r.c_mktsegment,
            "nat": int(r.c_nationkey),
            "bal_sign": "neg" if r.c_acctbal < 0 else "pos",
        }
        for r in cust
    ]
    src = str(tmp_path / "kanon_in")
    _write_jsonl(os.path.join(src, "all.json"), rows)

    stream = _file_stream(spark, src).select(
        F.to_timestamp("ts").alias("ts"), "seg",
        F.col("nat").cast("int").alias("nat"), "bal_sign",
    )
    q = (
        windowed_kanonymity(
            stream, ["seg", "nat", "bal_sign"],
            window="1 hour", watermark="30 minutes",
        )
        .writeStream.format("memory").queryName("kanon")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "kanon_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.w_start, r.k_band): (r.n_classes, r.n_rows)
        for r in spark.sql("SELECT * FROM kanon").collect()
    }
    assert got, "no closed windows emitted"

    # batch expectation on the same hour buckets, closed windows only
    max_ts = max(dt.datetime.strptime(r["ts"], "%Y-%m-%d %H:%M:%S")
                 for r in rows)
    cutoff = max_ts - dt.timedelta(minutes=30)
    classes = Counter()
    for r in rows:
        t = dt.datetime.strptime(r["ts"], "%Y-%m-%d %H:%M:%S")
        w_start = t.replace(minute=0, second=0)
        classes[(w_start, r["seg"], r["nat"], r["bal_sign"])] += 1
    expected = defaultdict(lambda: [0, 0])
    for (w_start, *_qi), k in classes.items():
        if w_start + dt.timedelta(hours=1) > cutoff:
            continue  # unclosed trailing window
        band = ("k=1 unique" if k == 1 else "k=2-4" if k < 5
                else "k=5-9" if k < 10 else "k>=10")
        expected[(w_start, band)][0] += 1
        expected[(w_start, band)][1] += k
    assert got == {k: tuple(v) for k, v in expected.items()}
    # the gate's alarm band exists in this corpus (minute-grain QI
    # tuples at sf0.001 are mostly unique)
    assert any(b == "k=1 unique" for _, b in got)


def test_streaming_calibration_bins_batch_parity(spark, tmp_path):
    """The streaming reliability diagram with FROZEN batch-trained
    weights: every closed window's decile bins equal the batch
    computation (same fixed-point discipline) on that window's rows,
    bit-for-bit — the deploy shape: train in batch, monitor live."""
    import math
    from collections import defaultdict

    from wire_spark.engine import load_table
    from wire_spark.streaming.governance_stream import (
        windowed_calibration_bins,
    )

    sf_dir = "/root/testdata/sf0.001"
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text", "n_chars"
    )
    # frozen weights: the batch step-1 gradient (quality_logreg_step's
    # integers), computed here directly
    feats = docs.select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        F.size(F.split("text", " ")).cast("long").alias("x1"),
        F.col("n_chars").cast("long").alias("x2"),
        F.col("doc_id"),
    )
    g = feats.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((2 * F.col("y") - 1) * F.col("x1")).alias("g1"),
        F.sum((2 * F.col("y") - 1) * F.col("x2")).alias("g2"),
        F.sum(2 * F.col("y") - 1).alias("gb"),
    ).first()
    weights = (g.g1, g.g2, g.gb, g.n)

    base = dt.datetime(2024, 3, 1, 0, 0, 0)
    rows = [
        {
            "ts": (base + dt.timedelta(minutes=int(r.doc_id))).strftime(
                "%Y-%m-%d %H:%M:%S"
            ),
            "y": int(r.y), "x1": int(r.x1), "x2": int(r.x2),
        }
        for r in feats.collect()
    ]
    src = str(tmp_path / "calib_in")
    _write_jsonl(os.path.join(src, "all.json"), rows)

    stream = _file_stream(spark, src).select(
        F.to_timestamp("ts").alias("ts"),
        F.col("y").cast("int").alias("y"),
        F.col("x1").cast("long").alias("x1"),
        F.col("x2").cast("long").alias("x2"),
    )
    q = (
        windowed_calibration_bins(
            stream, weights, window="1 hour", watermark="30 minutes",
        )
        .writeStream.format("memory").queryName("calib")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "calib_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.w_start, r.bin): (r.n_bin, r.mean_p_1e4, r.pos_rate_1e4)
        for r in spark.sql("SELECT * FROM calib").collect()
    }
    assert got, "no closed windows emitted"

    # batch expectation with the identical double sigmoid + floors
    g1, g2, gb, n = weights
    max_ts = max(dt.datetime.strptime(r["ts"], "%Y-%m-%d %H:%M:%S")
                 for r in rows)
    cutoff = max_ts - dt.timedelta(minutes=30)
    acc = defaultdict(lambda: [0, 0, 0])  # (w,bin) -> [n, sum_p1e6, sum_y]
    for r in rows:
        t = dt.datetime.strptime(r["ts"], "%Y-%m-%d %H:%M:%S")
        w_start = t.replace(minute=0, second=0)
        if w_start + dt.timedelta(hours=1) > cutoff:
            continue
        pi = 1.0 / (1.0 + math.exp(
            -((g1 * r["x1"] + g2 * r["x2"] + gb) / (4.0 * n * 10000.0))))
        b = int(math.floor(pi * 10.0))
        a = acc[(w_start, b)]
        a[0] += 1
        a[1] += int(math.floor(pi * 1000000.0))
        a[2] += r["y"]
    expected = {
        k: (v[0], v[1] // (v[0] * 100), v[2] * 10000 // v[0])
        for k, v in acc.items()
    }
    assert got == expected


def test_streaming_contract_gate_quarantines_failing_batches(spark, tmp_path):
    """The per-micro-batch contract gate: a batch violating a hard
    rule is quarantined WHOLE (nothing from it reaches the published
    table), clean batches pass through, and the audit log records
    each batch's per-rule verdicts."""
    from wire_spark.operators.contracts import Expectation
    from wire_spark.streaming.governance_stream import contract_gate

    src = str(tmp_path / "gate_in")
    # file 1: clean; file 2: poisoned (a negative price) -> with
    # maxFilesPerTrigger=1 each file is one batch
    _write_jsonl(os.path.join(src, "a_clean.json"),
                 [{"k": i, "price": 10.0 + i} for i in range(20)])
    _write_jsonl(os.path.join(src, "b_poisoned.json"),
                 [{"k": 100 + i, "price": (-5.0 if i == 3 else 42.0)}
                  for i in range(20)])

    good = str(tmp_path / "good")
    bad = str(tmp_path / "bad")
    audit = str(tmp_path / "audit")
    rules = [
        Expectation("key_not_null", F.col("k").isNotNull()),
        Expectation("price_positive", F.col("price") > 0),
    ]
    stream = (
        spark.readStream.schema("k BIGINT, price DOUBLE")
        .option("maxFilesPerTrigger", "1").json(src)
    )
    q = (
        stream.writeStream
        .foreachBatch(contract_gate(rules, good, bad, audit))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    good_rows = spark.read.parquet(good).collect()
    bad_rows = spark.read.parquet(bad).collect()
    assert sorted(r.k for r in good_rows) == list(range(20))
    assert sorted(r.k for r in bad_rows) == list(range(100, 120))
    a = spark.read.parquet(audit)
    assert a.count() == 4  # 2 batches x 2 rules
    verdicts = {(r.rule, r.ok) for r in a.collect()}
    assert ("price_positive", False) in verdicts
    assert ("key_not_null", True) in verdicts
    # the failing batch's rate is 19/20
    fail_row = a.filter(~F.col("ok")).first()
    assert fail_row.n_pass == 19 and fail_row.n_rows == 20


def test_streaming_kanonymity_state_survives_restart(spark, tmp_path):
    """The k-anonymity gate's windowed state lives in the checkpointed
    state store: rows arriving BEFORE a stop and rows after it fold
    into the same window, and the band rollup emits exactly once when
    the watermark finally closes the window (foreachBatch sink — the
    memory sink cannot recover from a checkpoint)."""
    from wire_spark.streaming.governance_stream import windowed_kanonymity

    src = str(tmp_path / "kr_in")
    base = dt.datetime(2024, 3, 1, 0, 0, 0)

    def ev(minute, seg, nat):
        return {"ts": (base + dt.timedelta(minutes=minute)).strftime(
            "%Y-%m-%d %H:%M:%S"), "seg": seg, "nat": nat}

    # phase 1: hour-0 rows only -> window [00:00, 01:00) stays OPEN
    _write_jsonl(os.path.join(src, "p1.json"), [
        ev(1, "A", 1), ev(2, "A", 1), ev(3, "A", 1),   # class k=3 (partial)
        ev(4, "B", 2),                                  # class k=1 so far
    ])

    collected: list[tuple] = []

    def collect(bdf, _epoch):
        collected.extend(
            (r.w_start, r.k_band, r.n_classes, r.n_rows)
            for r in bdf.collect()
        )

    stream_df = (
        spark.readStream.schema("ts STRING, seg STRING, nat INT")
        .option("maxFilesPerTrigger", "1").json(src)
        .select(F.to_timestamp("ts").alias("ts"), "seg", "nat")
    )

    def run_once():
        q = (
            windowed_kanonymity(
                stream_df, ["seg", "nat"],
                window="1 hour", watermark="30 minutes",
            )
            .writeStream.foreachBatch(collect)
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "kr_ck"))
            .start()
        )
        q.awaitTermination(180)

    run_once()
    assert collected == []  # nothing closed yet

    # phase 2 (after restart): one more hour-0 row grows class B to
    # k=2, and an hour-2 row pushes the watermark past 01:30, closing
    # the hour-0 window with BOTH phases' rows folded in
    _write_jsonl(os.path.join(src, "p2.json"), [
        ev(5, "B", 2),
        ev(125, "C", 3),
    ])
    run_once()
    w0 = base
    got = sorted(t for t in collected if t[0] == w0)
    assert got == [
        (w0, "k=2-4", 2, 5),  # {A/1: k=3, B/2: k=2} — state crossed the restart
    ]


def test_streaming_centroid_shift_batch_parity(spark, tmp_path):
    """The encoder-drift monitor: per closed window, the centroid
    shift against a frozen batch reference equals the batch
    computation with identical fixed-point arithmetic; a window whose
    vectors are shifted by a constant reads a nonzero shift2 while an
    in-distribution window reads ~0."""
    from collections import defaultdict
    import math

    from wire_spark.engine import load_table
    from wire_spark.streaming.governance_stream import (
        windowed_centroid_shift,
    )

    sf_dir = "/root/testdata/sf0.001"
    emb = load_table(spark, sf_dir, "embeddings")
    # frozen reference: global centroid in integer micro-units, built
    # with the batch pipeline (posexplode -> floor 1e6 -> sum/count)
    ref = (
        emb.select(F.posexplode(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("d0", "xv"))
        .select((F.col("d0") + 1).alias("dim"),
                F.floor(F.col("xv") * F.lit(1000000.0)).cast("long")
                .alias("x6"))
        .groupBy("dim")
        .agg(F.expr("CAST(floor(sum(x6) * 1.0e0 / count(1)) AS BIGINT)")
             .alias("c6"))
    ).cache()
    ref.count()

    vecs = [list(r.embedding) for r in emb.limit(40).collect()]
    base = dt.datetime(2024, 3, 1, 0, 0, 0)
    rows = []
    for i, v in enumerate(vecs):
        # hour 0: as-is (in-distribution); hour 1: every coord +0.5
        # (the "encoder swap"); hour 3: late sentinel closing both
        rows.append({"ts": (base + dt.timedelta(minutes=i)).strftime(
            "%Y-%m-%d %H:%M:%S"), "embedding": [float(x) for x in v]})
        rows.append({"ts": (base + dt.timedelta(hours=1, minutes=i)).strftime(
            "%Y-%m-%d %H:%M:%S"),
            "embedding": [float(x) + 0.5 for x in v]})
    rows.append({"ts": (base + dt.timedelta(hours=3)).strftime(
        "%Y-%m-%d %H:%M:%S"), "embedding": [0.0] * 64})
    src = str(tmp_path / "cs_in")
    _write_jsonl(os.path.join(src, "all.json"), rows)

    stream = (
        spark.readStream.schema("ts STRING, embedding ARRAY<DOUBLE>")
        .json(src)
        .select(F.to_timestamp("ts").alias("ts"), "embedding")
    )
    q = (
        windowed_centroid_shift(
            stream, ref, window="1 hour", watermark="30 minutes",
        )
        .writeStream.format("memory").queryName("cshift")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "cs_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {r.w_start: (r.n_vectors, r.shift2_1e6)
           for r in spark.sql("SELECT * FROM cshift").collect()}
    assert set(got) == {base, base + dt.timedelta(hours=1)}

    # batch expectation with the identical arithmetic
    refmap = {r.dim: r.c6 for r in ref.collect()}
    for w_start, shift in ((base, 0.0), (base + dt.timedelta(hours=1), 0.5)):
        sums = defaultdict(int)
        n = len(vecs)
        for v in vecs:
            for d, x in enumerate(v, start=1):
                sums[d] += math.floor((float(x) + shift) * 1000000.0)
        ss = sum((math.floor(sums[d] / n) - refmap[d]) ** 2
                 for d in range(1, 65))
        assert got[w_start] == (n, ss // 1000000)
    # the drifted window alarms, the in-distribution one stays small
    assert got[base + dt.timedelta(hours=1)][1] > 100 * max(1, got[base][1])


def test_streaming_stratification_batch_parity(spark, tmp_path):
    """The streaming stratification monitor:
    every CLOSED window's (split, class) rows — within-split share,
    global share, deviation — must equal the batch
    split_stratification_audit computation on that window's slice,
    bit-for-bit (same integer-div 1e4 fixed point); the trailing
    unclosed window emits nothing."""
    import hashlib
    from collections import Counter

    from wire_spark.engine import load_table
    from wire_spark.streaming.governance_stream import windowed_stratification

    sf_dir = "/root/testdata/sf0.001"
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang").collect()
    base = dt.datetime(2024, 3, 1, 0, 0, 0)

    def split_of(doc_id: int) -> str:
        b = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16) % 100
        return "a_train" if b < 80 else "b_val" if b < 90 else "c_test"

    rows = [
        {
            "ts": (base + dt.timedelta(seconds=30 * i)).strftime(
                "%Y-%m-%d %H:%M:%S"
            ),
            # every 50th row arrives with a NULL class — the monitor
            # must report the NULL cell's real share (null-safe <=>
            # marginals), not NULL out its denominator
            "split": split_of(int(r.doc_id)),
            "lang": None if i % 50 == 0 else r.lang,
        }
        for i, r in enumerate(docs)
    ]
    src = str(tmp_path / "strat_in")
    _write_jsonl(os.path.join(src, "all.json"), rows)

    stream = _file_stream(spark, src).select(
        F.to_timestamp("ts").alias("ts"), "split", "lang"
    )
    q = (
        windowed_stratification(
            stream, "split", "lang", window="1 hour", watermark="30 minutes"
        )
        .writeStream.format("memory").queryName("strat")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "strat_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.w_start, r.split, r.cls): (
            r.n, r.share_in_split_1e4, r.share_global_1e4, r.deviation_1e4
        )
        for r in spark.sql("SELECT * FROM strat").collect()
    }
    assert got, "no closed windows emitted"

    max_ts = max(dt.datetime.strptime(r["ts"], "%Y-%m-%d %H:%M:%S") for r in rows)
    cutoff = max_ts - dt.timedelta(minutes=30)
    cells = Counter()
    for r in rows:
        t = dt.datetime.strptime(r["ts"], "%Y-%m-%d %H:%M:%S")
        w = t.replace(minute=0, second=0)
        if w + dt.timedelta(hours=1) > cutoff:
            continue  # unclosed trailing window
        cells[(w, r["split"], r["lang"])] += 1
    expected = {}
    for (w, s, c), n in cells.items():
        n_split = sum(v for (w2, s2, _c2), v in cells.items() if w2 == w and s2 == s)
        n_cls = sum(v for (w2, _s2, c2), v in cells.items() if w2 == w and c2 == c)
        n_all = sum(v for (w2, *_), v in cells.items() if w2 == w)
        a, b = n * 10000 // n_split, n_cls * 10000 // n_all
        expected[(w, s, c)] = (n, a, b, abs(a - b))
    assert got == expected
    # both splits and classes really mix in every closed window
    assert len({k[1] for k in got}) == 3 and len({k[2] for k in got}) >= 2
    # the NULL-class cells surface with REAL (non-NULL) shares
    null_cells = [v for k, v in got.items() if k[2] is None]
    assert null_cells and all(
        all(x is not None for x in v) for v in null_cells
    )


def test_streaming_windowed_quantiles_batch_parity(spark, tmp_path):
    """The windowed quantile monitor: every closed window's
    p50/p90/p99 bucket-upper-bounds equal the identical batch
    computation on that window's slice (exact integer bucket walk);
    the trailing unclosed window emits nothing."""
    import math
    from collections import Counter

    from wire_spark.engine import load_table
    from wire_spark.streaming.quantiles_stream import windowed_quantiles

    sf_dir = "/root/testdata/sf0.001"
    ev = load_table(spark, sf_dir, "events").select("event_id", "value").collect()
    base = dt.datetime(2024, 3, 1, 0, 0, 0)
    rows = [
        {
            "ts": (base + dt.timedelta(seconds=20 * i)).strftime("%Y-%m-%d %H:%M:%S"),
            # every 40th value is NULL: SQL percentile semantics —
            # excluded from the distribution, never a NULL bucket
            "v": None if i % 40 == 0 else float(r.value) * 100.0,
        }
        for i, r in enumerate(ev)
    ]
    src = str(tmp_path / "q_in")
    _write_jsonl(os.path.join(src, "all.json"), rows)
    stream = _file_stream(spark, src).select(
        F.to_timestamp("ts").alias("ts"), F.col("v").cast("double").alias("v")
    )
    q = (
        windowed_quantiles(
            stream, "v", window="1 hour", watermark="30 minutes", bucket_width=100
        )
        .writeStream.format("memory").queryName("wq")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "wq_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        r.w_start: (r.n, r.p50_hi, r.p90_hi, r.p99_hi)
        for r in spark.sql("SELECT * FROM wq").collect()
    }
    assert got, "no closed windows emitted"

    max_ts = max(dt.datetime.strptime(r["ts"], "%Y-%m-%d %H:%M:%S") for r in rows)
    cutoff = max_ts - dt.timedelta(minutes=30)
    buckets = {}
    for r in rows:
        if r["v"] is None:
            continue  # excluded from the distribution, like SQL
        t = dt.datetime.strptime(r["ts"], "%Y-%m-%d %H:%M:%S")
        w = t.replace(minute=0, second=0)
        if w + dt.timedelta(hours=1) > cutoff:
            continue
        buckets.setdefault(w, Counter())[math.floor(r["v"] / 100)] += 1
    expected = {}
    for w, cnt in buckets.items():
        n = sum(cnt.values())
        ps = []
        for pct in (50, 90, 99):
            need = math.ceil(pct * n / 100)
            cum = 0
            for b in sorted(cnt):
                cum += cnt[b]
                if cum >= need:
                    ps.append((b + 1) * 100)
                    break
        expected[w] = (n, *ps)
    assert got == expected
    # percentiles are ordered and the window really has spread
    for n, p50, p90, p99 in got.values():
        assert p50 <= p90 <= p99 and n > 50


def test_streaming_ab_ztest_batch_parity(spark, tmp_path):
    """The live A/B guardrail: every closed window's four arm
    counters and fixed-point z equal the batch computation on that
    window's rows — same md5 arm split, same IEEE op tree, same
    1e-4 floor as the batch events_ab_ztest."""
    import hashlib
    import math

    from wire_spark.engine import load_table
    from wire_spark.streaming.ab_stream import windowed_ab_ztest

    ev = (
        load_table(spark, "/root/testdata/sf0.001", "events")
        .select("user_id", "event_type")
        .collect()
    )
    base = dt.datetime(2024, 3, 1, 0, 0, 0)
    rows = [
        {
            "ts": (base + dt.timedelta(minutes=2 * i)).strftime(
                "%Y-%m-%d %H:%M:%S"
            ),
            "user_id": int(r.user_id),
            "event_type": r.event_type,
        }
        for i, r in enumerate(ev)
    ]
    src = str(tmp_path / "ab_in")
    _write_jsonl(os.path.join(src, "all.json"), rows)
    stream = _file_stream(spark, src).select(
        F.to_timestamp("ts").alias("ts"),
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_type").cast("string").alias("event_type"),
    )
    q = (
        windowed_ab_ztest(stream, window="1 hour", watermark="30 minutes")
        .writeStream.format("memory").queryName("abz")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ab_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        r.w_start: (r.n_control, r.n_treatment, r.conv_control,
                    r.conv_treatment, r.z_1e4)
        for r in spark.sql("SELECT * FROM abz").collect()
    }
    assert got, "no closed windows emitted"

    def treat(uid):
        return int(hashlib.md5(str(uid).encode()).hexdigest()[:15], 16) % 2 == 1

    max_ts = max(dt.datetime.strptime(r["ts"], "%Y-%m-%d %H:%M:%S")
                 for r in rows)
    cutoff = max_ts - dt.timedelta(minutes=30)
    acc = {}
    for r in rows:
        t = dt.datetime.strptime(r["ts"], "%Y-%m-%d %H:%M:%S")
        w = t.replace(minute=0, second=0)
        if w + dt.timedelta(hours=1) > cutoff:
            continue
        a = acc.setdefault(w, [0, 0, 0, 0])
        i = 1 if treat(r["user_id"]) else 0
        a[i] += 1
        if r["event_type"] == "purchase":
            a[2 + i] += 1
    expected = {}
    for w, (nc, nt, cc, ct) in acc.items():
        z = 0
        if nc > 0 and nt > 0:
            pp = (cc + ct) / (nc + nt)
            if 0.0 < pp < 1.0:
                z = int(math.floor(
                    (cc / nc - ct / nt)
                    / math.sqrt(pp * (1.0 - pp) * (1.0 / nc + 1.0 / nt))
                    * 10000.0))
        expected[w] = (nc, nt, cc, ct, z)
    assert got == expected
    # the synthetic stream must actually exercise both arms
    assert all(nc > 0 and nt > 0 for nc, nt, _, _, _ in got.values())


def test_streaming_srm_check_batch_parity(spark, tmp_path):
    """The live sample-ratio alarm: every closed window's DISTINCT
    per-arm user counts and integer chi-squared equal the batch
    recomputation on that window's rows — including a deliberately
    broken middle segment where one arm's users are dropped, which
    must trip srm_flag in its window.  Five hours of data so the
    broken hour-2 window is comfortably past the 30-minute
    watermark and actually closes."""
    import hashlib

    from wire_spark.streaming.ab_stream import windowed_srm_check

    def treat(uid):
        return int(hashlib.md5(str(uid).encode()).hexdigest()[:15], 16) % 2 == 1

    base = dt.datetime(2024, 3, 1, 0, 0, 0)
    rows = []
    i = 0
    for hour in range(5):
        for rep in range(3):  # repeats: distinctness must dedupe
            for uid in range(40):
                # hour 2: simulate a deploy that drops control users
                if hour == 2 and not treat(uid) and uid % 8 != 0:
                    continue
                rows.append({
                    "ts": (base + dt.timedelta(hours=hour, minutes=rep * 7,
                                               seconds=uid)).strftime(
                        "%Y-%m-%d %H:%M:%S"),
                    "user_id": uid,
                })
                i += 1
    src = str(tmp_path / "srm_in")
    _write_jsonl(os.path.join(src, "all.json"), rows)
    stream = _file_stream(spark, src).select(
        F.to_timestamp("ts").alias("ts"),
        F.col("user_id").cast("long").alias("user_id"),
    )
    q = (
        windowed_srm_check(stream, window="1 hour", watermark="30 minutes")
        .writeStream.format("memory").queryName("srm")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "srm_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        r.w_start: (r.nu_control, r.nu_treatment, r.srm_chi2_1e6, r.srm_flag)
        for r in spark.sql("SELECT * FROM srm").collect()
    }
    assert got, "no closed windows emitted"

    max_ts = max(dt.datetime.strptime(r["ts"], "%Y-%m-%d %H:%M:%S")
                 for r in rows)
    cutoff = max_ts - dt.timedelta(minutes=30)
    seen = {}
    for r in rows:
        t = dt.datetime.strptime(r["ts"], "%Y-%m-%d %H:%M:%S")
        w = t.replace(minute=0, second=0)
        if w + dt.timedelta(hours=1) > cutoff:
            continue
        seen.setdefault(w, set()).add(r["user_id"])
    expected = {}
    for w, users in seen.items():
        n2 = sum(1 for u in users if treat(u))
        n1 = len(users) - n2
        chi = (n1 - n2) ** 2 * 1000000 // (n1 + n2)
        expected[w] = (n1, n2, chi, 1 if chi > 3841459 else 0)
    assert got == expected
    # the broken hour must alarm; at least one healthy hour must not
    flags = [v[3] for v in got.values()]
    assert 1 in flags and 0 in flags


def test_streaming_ses_monitor_recursion_parity(spark, tmp_path):
    """The streaming SES level: every emitted forecast equals the
    per-step-floored integer recursion s' = (y*2^30 + s) div 2
    replayed in Python over the same hour folds, across a
    checkpoint restart (state carries the level), for two types."""
    from wire_spark.streaming.forecast_stream import ses_monitor

    src = str(tmp_path / "ses_in")
    _write_jsonl(os.path.join(src, "b1.json"), [
        {"event_type": t, "ts": f"2024-03-01T{h:02d}:{m:02d}:00"}
        for t, hours in (("click", ((9, 6), (10, 3), (11, 9))),
                         ("view", ((9, 2), (10, 4))))
        for h, n in hours for m in range(n)
    ])
    stream = _file_stream(spark, src).select(
        "event_type", F.col("ts").cast("timestamp").alias("ts")
    )
    collected: list = []

    def run_drain():
        q = (
            ses_monitor(stream)
            .writeStream.foreachBatch(
                lambda bdf, _e: collected.extend(bdf.collect()))
            .option("checkpointLocation", str(tmp_path / "ses_ck"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    run_drain()
    # batch 2 exercises the restart: the level must survive the
    # checkpoint and keep forecasting from where it left off
    _write_jsonl(os.path.join(src, "b2.json"), [
        {"event_type": "click", "ts": f"2024-03-01T12:{m:02d}:00"}
        for m in range(2)
    ])
    run_drain()

    series = {"click": [6, 3, 9, 2], "view": [2, 4]}
    W = 1 << 30
    expected = {}
    for t, ys in series.items():
        s = None
        for i, y in enumerate(ys):
            if s is None:
                expected[(t, i)] = (y, None, None, 0)
                s = y * W
            else:
                yhat4 = s * 10000 // W
                expected[(t, i)] = (y, yhat4, abs(yhat4 - y * 10000), i)
                s = (y * W + s) // 2
    got = {}
    for t in series:
        rows = sorted((r for r in collected if r.event_type == t),
                      key=lambda r: r.hr)
        for i, r in enumerate(rows):
            got[(t, i)] = (r.y, r.yhat_1e4, r.abs_err_1e4, r.n_hist)
    assert got == expected
    # the forecast for click's restart hour reflects all three prior
    # hours: s after (6,3,9) = ((9*W + ((3*W + 6W)//2))//2) -> check
    s = ((3 * (1 << 30) + 6 * (1 << 30)) // 2 + 9 * (1 << 30)) // 2
    assert got[("click", 3)][1] == s * 10000 // (1 << 30)


def test_streaming_attribution_monitor_parity(spark, tmp_path):
    """The attribution monitor emits exactly the batch query's
    per-user (first, last, k) rows when fed time-ordered batches:
    conversion-moment emission, zero-touch suppression, the
    (ts, event_id) tiebreak, post-conversion tombstoning, and state
    survival across a checkpoint restart."""
    from wire_spark.streaming.attribution_stream import attribution_monitor

    src = str(tmp_path / "attr_in")
    _write_jsonl(os.path.join(src, "b1.json"), [
        # user 1: two touches then purchase then a post-conv touch
        {"user_id": 1, "event_type": "click", "ts": "2024-03-01T09:00:00",
         "event_id": 1},
        {"user_id": 1, "event_type": "view", "ts": "2024-03-01T09:05:00",
         "event_id": 2},
        {"user_id": 1, "event_type": "purchase", "ts": "2024-03-01T09:10:00",
         "event_id": 3},
        {"user_id": 1, "event_type": "click", "ts": "2024-03-01T09:15:00",
         "event_id": 4},
        # user 2: purchase with zero prior touches -> suppressed
        {"user_id": 2, "event_type": "purchase", "ts": "2024-03-01T09:00:00",
         "event_id": 5},
        # user 3: touches only, no purchase yet
        {"user_id": 3, "event_type": "view", "ts": "2024-03-01T09:01:00",
         "event_id": 6},
        {"user_id": 3, "event_type": "error", "ts": "2024-03-01T09:02:00",
         "event_id": 7},
        # user 4: touch and purchase share a timestamp; the lower
        # event_id folds first, so the touch counts
        {"user_id": 4, "event_type": "click", "ts": "2024-03-01T09:03:00",
         "event_id": 10},
        {"user_id": 4, "event_type": "purchase", "ts": "2024-03-01T09:03:00",
         "event_id": 11},
    ])
    stream = attribution_monitor(
        _file_stream(spark, src).select(
            F.col("user_id").cast("long").alias("user_id"),
            "event_type",
            F.col("ts").cast("timestamp").alias("ts"),
            F.col("event_id").cast("long").alias("event_id"),
        )
    )
    collected: list = []

    def run_drain():
        q = (
            stream.writeStream.foreachBatch(
                lambda bdf, _e: collected.extend(bdf.collect()))
            .option("checkpointLocation", str(tmp_path / "attr_ck"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    run_drain()
    got = {(r.user_id): (r.first_touch, r.last_touch, r.n_touches)
           for r in collected}
    assert got == {1: ("click", "view", 2), 4: ("click", "click", 1)}

    # restart leg: user 3 converts (touch state survived the
    # checkpoint); user 1's second purchase is tombstoned
    _write_jsonl(os.path.join(src, "b2.json"), [
        {"user_id": 3, "event_type": "purchase", "ts": "2024-03-01T10:00:00",
         "event_id": 20},
        {"user_id": 1, "event_type": "purchase", "ts": "2024-03-01T10:01:00",
         "event_id": 21},
    ])
    collected.clear()
    run_drain()
    got2 = {(r.user_id): (r.first_touch, r.last_touch, r.n_touches)
            for r in collected}
    assert got2 == {3: ("view", "error", 2)}


def test_streaming_srm_sequential_batch_parity(spark, tmp_path):
    """The sequential-SRM monitor run over ONE micro-batch holding
    every day emits EXACTLY the batch ``events_srm_sequential`` rows
    for the same exposures (k_planned = observed K), and a checkpoint
    restart continues look index + cumulative counts with the
    boundary clamped at the final nominal value past k_planned."""
    import hashlib

    from wire_spark.queries.stats import events_srm_sequential
    from wire_spark.streaming.ab_stream import srm_sequential_monitor

    def is_treat(u):
        return int(hashlib.md5(str(u).encode()).hexdigest()[:15], 16) % 2 == 1

    pool = list(range(1, 2000))
    ctrl = [u for u in pool if not is_treat(u)]
    trt = [u for u in pool if is_treat(u)]
    day_users = {
        "2024-03-01": ctrl[:20] + trt[:20],       # balanced
        "2024-03-02": ctrl[20:40] + trt[20:40],   # balanced
        "2024-03-03": trt[40:160],                # control arm starved
    }
    rows = [{"user_id": u, "ts": f"{d}T09:00:00"}
            for d, us in day_users.items() for u in us]

    # batch side: the same exposures as an events table — one event
    # per user, so the batch query's first-seen day IS the exposure day
    sf = str(tmp_path / "sf")
    spark.createDataFrame(
        [(int(r["user_id"]),
          dt.datetime.strptime(r["ts"], "%Y-%m-%dT%H:%M:%S"),
          "view") for r in rows],
        "user_id BIGINT, ts TIMESTAMP, event_type STRING",
    ).write.parquet(os.path.join(sf, "events.parquet"))
    batch = {r.look: (r.day, r.nu_control_cum, r.nu_treatment_cum,
                      r.srm_chi2_1e6, r.bound_1e6, r.flag)
             for r in events_srm_sequential(spark, sf).collect()}
    assert len(batch) == 3

    src = str(tmp_path / "srmseq_in")
    # NULL ts (would crash the fold's sorted()) and NULL user (would
    # silently count as control) must both be excluded, not counted
    _write_jsonl(os.path.join(src, "b1.json"), rows + [
        {"user_id": ctrl[70], "ts": None},
        {"user_id": None, "ts": "2024-03-01T09:00:00"},
    ])
    stream = srm_sequential_monitor(
        _file_stream(spark, src).select(
            F.col("user_id").cast("long").alias("user_id"),
            F.col("ts").cast("timestamp").alias("ts"),
        ),
        k_planned=3,
    )
    collected: list = []

    def run_drain():
        q = (
            stream.writeStream.outputMode("append")
            .foreachBatch(lambda bdf, _e: collected.extend(bdf.collect()))
            .option("checkpointLocation", str(tmp_path / "srmseq_ck"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    run_drain()
    got = {r.look: (r.day, r.nu_control_cum, r.nu_treatment_cum,
                    r.srm_chi2_1e6, r.bound_1e6, r.flag)
           for r in collected}
    assert got == batch
    # the starved day must alarm; the balanced days must not
    assert [batch[i][5] for i in (1, 2, 3)] == [0, 0, 1]

    # restart leg: a 4th look past k_planned — state survived the
    # checkpoint and the boundary clamps at nominal 3841459
    _write_jsonl(os.path.join(src, "b2.json"), [
        {"user_id": u, "ts": "2024-03-04T09:00:00"} for u in ctrl[40:60]
    ])
    collected.clear()
    run_drain()
    assert len(collected) == 1
    r4 = collected[0]
    cum_c, cum_t = 40 + 20, 40 + 120
    chi2 = (cum_c - cum_t) ** 2 * 1000000 // (cum_c + cum_t)
    assert (r4.look, r4.nu_control_cum, r4.nu_treatment_cum,
            r4.srm_chi2_1e6, r4.bound_1e6, r4.flag) == (
        4, cum_c, cum_t, chi2, 3841459, 1 if chi2 > 3841459 else 0)


def test_streaming_welch_ttest_windows(spark, tmp_path):
    """Per closed window the Welch monitor reproduces the batch
    query's exact moment arithmetic (Python replay of the identical
    integer moments + IEEE op tree), NULL values are excluded, and a
    both-arms-constant window reports t = 0 instead of NaN."""
    import hashlib
    import math

    from wire_spark.streaming.ab_stream import windowed_welch_ttest

    def is_treat(u):
        return int(hashlib.md5(str(u).encode()).hexdigest()[:15], 16) % 2 == 1

    ctrl = [u for u in range(1, 400) if not is_treat(u)]
    trt = [u for u in range(1, 400) if is_treat(u)]
    rows = []
    # hour 9: clear mean gap (control ~ 10.x, treatment ~ 14.x)
    for i, u in enumerate(ctrl[:25]):
        rows.append({"user_id": u, "ts": f"2024-03-01 09:{i:02d}:00",
                     "value": 10.0 + i * 0.13})
    for i, u in enumerate(trt[:25]):
        rows.append({"user_id": u, "ts": f"2024-03-01 09:{i:02d}:30",
                     "value": 14.0 + i * 0.11})
    rows.append({"user_id": ctrl[30], "ts": "2024-03-01 09:05:10",
                 "value": None})  # excluded
    rows.append({"user_id": ctrl[31], "ts": None,
                 "value": 99.0})  # NULL ts: no unevictable NULL window
    rows.append({"user_id": None, "ts": "2024-03-01 09:06:00",
                 "value": 99.0})  # NULL user: belongs to neither arm
    # hour 10: both arms constant -> zero pooled SE -> t = 0
    for i, u in enumerate(ctrl[25:35] + trt[25:35]):
        rows.append({"user_id": u, "ts": f"2024-03-01 10:{i:02d}:00",
                     "value": 5.0})
    # hour 11: inside the watermark horizon -> never emitted, but
    # late enough (11:45 - 30min = 11:15 > 11:00) to close hour 10
    rows.append({"user_id": ctrl[40], "ts": "2024-03-01 11:45:00",
                 "value": 1.0})

    src = str(tmp_path / "welch_in")
    _write_jsonl(os.path.join(src, "b1.json"), rows)
    stream = _file_stream(spark, src).select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("ts").cast("timestamp").alias("ts"),
        F.col("value").cast("double").alias("value"),
    )
    q = (
        windowed_welch_ttest(stream, window="1 hour",
                             watermark="30 minutes")
        .writeStream.format("memory").queryName("welch")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "welch_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        r.w_start.hour: (r.n_control, r.n_treatment, r.mean_control,
                         r.mean_treatment, r.t_1e4)
        for r in spark.sql("SELECT * FROM welch").collect()
    }

    def replay(vals_c, vals_t):
        n1, n2 = len(vals_c), len(vals_t)
        s1 = sum(math.floor(v * 10000.0) for v in vals_c)
        s2 = sum(math.floor(v * 10000.0) for v in vals_t)
        q1 = sum(math.floor(v * v * 100.0) for v in vals_c)
        q2 = sum(math.floor(v * v * 100.0) for v in vals_t)
        m1 = (float(s1) / 10000.0) / float(n1)
        m2 = (float(s2) / 10000.0) / float(n2)
        x1 = (float(q1) / 100.0) / float(n1)
        x2 = (float(q2) / 100.0) / float(n2)
        v1 = (x1 - m1 * m1) * float(n1) / (float(n1) - 1.0)
        v2 = (x2 - m2 * m2) * float(n2) / (float(n2) - 1.0)
        se2 = v1 / float(n1) + v2 / float(n2)
        t = (math.floor((m1 - m2) / math.sqrt(se2) * 10000.0)
             if se2 > 0.0 else 0)
        return (n1, n2, math.floor(m1 * 10000.0) / 10000.0,
                math.floor(m2 * 10000.0) / 10000.0, t)

    exp9 = replay([10.0 + i * 0.13 for i in range(25)],
                  [14.0 + i * 0.11 for i in range(25)])
    exp10 = replay([5.0] * 10, [5.0] * 10)
    assert got == {9: exp9, 10: exp10}
    assert exp10[4] == 0 and exp9[4] < 0  # treatment mean higher


def test_streaming_ipw_ate_batch_parity(spark, tmp_path):
    """The live confounding-corrected effect monitor: every closed
    window's stratified (IPW/direct-standardization) and naive
    estimates equal an arbitrary-precision Python replay of the batch
    op tree on that window's rows — on engineered composition-drift
    data where the two estimates genuinely diverge, plus a stratum
    with a positivity violation that must be trimmed."""
    from wire_spark.streaming.ab_stream import windowed_ipw_ate

    base = dt.datetime(2024, 3, 1, 0, 0, 0)
    rows = []

    def add_user(uid, hour, clicks, views, purchases, pad=0):
        evs = (["click"] * clicks + ["view"] * views
               + ["purchase"] * purchases + ["error"] * pad)
        for k, et in enumerate(evs):
            rows.append({
                "ts": (base + dt.timedelta(hours=hour, minutes=0, seconds=k)
                       ).strftime("%Y-%m-%d %H:%M:%S"),
                "user_id": uid,
                "event_type": et,
            })

    # hour 0: classic confounding. Low-activity stratum (3 events):
    # 4 control-ish users with 0 purchases, 1 treated with 0; high-
    # activity stratum (20 events): 4 treated users with 6 purchases,
    # 1 control with 5. Naive mixes strata; IPW does not.
    for u in range(4):
        add_user(100 + u, 0, clicks=1, views=2, purchases=0)      # b1 ctrl
    add_user(104, 0, clicks=2, views=1, purchases=0)               # b1 treat
    for u in range(4):
        add_user(200 + u, 0, clicks=8, views=2, purchases=6, pad=4)  # b4 tr
    add_user(204, 0, clicks=2, views=8, purchases=5, pad=5)         # b4 ctrl
    # hour 1: positivity violation in b1 (everyone treated) + one
    # healthy b4 stratum; the b1 cell must be trimmed from IPW.
    for u in range(3):
        add_user(300 + u, 1, clicks=2, views=1, purchases=1)       # b1 all tr
    add_user(400, 1, clicks=9, views=2, purchases=4, pad=5)         # b4 tr
    add_user(401, 1, clicks=2, views=9, purchases=3, pad=6)         # b4 ctrl
    # hour 2: only exists so hours 0-1 close under the watermark
    add_user(999, 3, clicks=1, views=0, purchases=0)

    src = str(tmp_path / "ipw_in")
    _write_jsonl(os.path.join(src, "all.json"), rows)
    stream = _file_stream(spark, src).select(
        F.to_timestamp("ts").alias("ts"),
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_type").cast("string").alias("event_type"),
    )
    q = (
        windowed_ipw_ate(stream, window="1 hour", watermark="30 minutes")
        .writeStream.format("memory").queryName("ipw")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ipw_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        r.w_start: (r.n_users, r.n_treated, r.naive_ate_1e6,
                    r.ipw_ate_1e6, r.n_strata_ok)
        for r in spark.sql("SELECT * FROM ipw").collect()
    }
    assert got, "no closed windows emitted"

    # replay: the batch op tree in arbitrary-precision ints
    def band(n):
        for i, hi in enumerate((2, 4, 8, 16, 32, 64, 128, 256)):
            if n < hi:
                return i
        return 8

    def trunc_div(a, b):
        q_ = abs(a) // abs(b)
        return -q_ if (a < 0) != (b < 0) else q_

    max_ts = max(dt.datetime.strptime(r["ts"], "%Y-%m-%d %H:%M:%S")
                 for r in rows)
    cutoff = max_ts - dt.timedelta(minutes=30)
    perwin = {}
    for r in rows:
        t = dt.datetime.strptime(r["ts"], "%Y-%m-%d %H:%M:%S")
        w = t.replace(minute=0, second=0)
        if w + dt.timedelta(hours=1) > cutoff:
            continue
        u = perwin.setdefault(w, {}).setdefault(r["user_id"], [0, 0, 0, 0])
        u[0] += 1
        if r["event_type"] == "click":
            u[1] += 1
        elif r["event_type"] == "view":
            u[2] += 1
        elif r["event_type"] == "purchase":
            u[3] += 1
    expected = {}
    for w, users in perwin.items():
        strata = {}
        for n, c, v, y in users.values():
            s = strata.setdefault(band(n), [0, 0, 0, 0])
            tr = c > v
            s[0] += 1
            s[1] += 1 if tr else 0
            s[2 if tr else 3] += y
        NU = sum(s[0] for s in strata.values())
        NT = sum(s[1] for s in strata.values())
        S1 = sum(s[2] for s in strata.values())
        S0 = sum(s[3] for s in strata.values())
        naive = (S1 * 10 ** 6 // NT if NT else None)
        naive = (None if naive is None or NU == NT
                 else naive - S0 * 10 ** 6 // (NU - NT))
        num = den = n_ok = 0
        for N, T_, sy1, sy0 in strata.values():
            if 0 < T_ < N:
                d = sy1 * 10 ** 6 // T_ - sy0 * 10 ** 6 // (N - T_)
                num += N * d
                den += N
                n_ok += 1
        ipw = trunc_div(num, den) if den else None
        expected[w] = (NU, NT, naive, ipw, n_ok)
    assert got == expected
    h0 = base
    h1 = base + dt.timedelta(hours=1)
    # the engineered drift is real: naive and IPW disagree in hour 0
    assert got[h0][2] != got[h0][3]
    # hour 1's all-treated b1 stratum is trimmed: exactly 1 ok stratum
    assert got[h1][4] == 1


def test_streaming_variant_profile_batch_parity(spark, tmp_path):
    """The schemaless-ingest schema-drift monitor must report, per
    closed window and key, exactly the canonical type counts and
    promote decision an independent Python replay computes (labels
    re-derived from raw JSON with ``object_pairs_hook`` so duplicate
    keys count per occurrence, as both engines do); the trailing
    unclosed window emits nothing."""
    import json as _json
    from collections import defaultdict

    from wire_spark.streaming.variant_stream import windowed_variant_profile

    base = dt.datetime(2024, 3, 1, 10, 0, 0)
    # hour 0: key k monomorphic int; hour 1: k drifts int -> str and
    # a new key appears; hour 2 exists only to close hour 1's window
    payloads = [
        (0, 0, '{"k": 1}'),
        (0, 5, '{"k": 2, "k": 3}'),          # duplicate key
        (0, 10, '{"k": 18446744073709551615}'),  # uint64 -> num
        (0, 15, "not json"),                  # dropped payload
        (0, 20, "[1,2]"),                     # dropped payload
        (0, 25, '{"extra": null}'),
        (1, 0, '{"k": 4}'),
        (1, 5, '{"k": "oops"}'),              # type drift
        (1, 10, '{"fresh": true}'),           # new key
        (2, 30, '{"k": 5}'),                  # closes hour 1
    ]
    rows = [
        {
            "ts": (base + dt.timedelta(hours=h, minutes=m)).strftime(
                "%Y-%m-%d %H:%M:%S"
            ),
            "props": p,
        }
        for h, m, p in payloads
    ]
    src = str(tmp_path / "variant_in")
    _write_jsonl(os.path.join(src, "all.json"), rows)

    stream = _file_stream(spark, src).select(
        F.to_timestamp("ts").alias("ts"), "props"
    )
    q = (
        windowed_variant_profile(
            stream, window="1 hour", watermark="30 minutes"
        )
        .writeStream.format("memory").queryName("variant_prof")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "variant_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.w_start, r.key): (
            r.n_key, r.n_int, r.n_num, r.n_str, r.n_bool,
            r.n_null, r.n_array, r.n_object, r.n_types, r.promoted,
        )
        for r in spark.sql("SELECT * FROM variant_prof").collect()
    }
    assert got, "no closed windows emitted"

    def label(v):
        if v is None:
            return "null"
        if isinstance(v, bool):
            return "bool"
        if isinstance(v, int):
            return "int" if -(2**63) <= v <= 2**63 - 1 else "num"
        if isinstance(v, float):
            return "num"
        if isinstance(v, str):
            return "str"
        if isinstance(v, list):
            return "array"
        return "object"

    max_ts = base + dt.timedelta(hours=2, minutes=30)
    cutoff = max_ts - dt.timedelta(minutes=30)
    counts = defaultdict(lambda: defaultdict(int))
    for h, m, p in payloads:
        w_start = base + dt.timedelta(hours=h)
        if w_start + dt.timedelta(hours=1) > cutoff:
            continue  # unclosed trailing window
        try:
            pairs = _json.loads(p, object_pairs_hook=lambda x: ("obj", x))
        except ValueError:
            continue
        if not (isinstance(pairs, tuple) and pairs[0] == "obj"):
            continue  # valid JSON, non-object root
        for k, v in pairs[1]:
            counts[(w_start, k)][label(v)] += 1
    order = ["int", "num", "str", "bool", "null", "array", "object"]
    expected = {}
    for (w_start, k), c in counts.items():
        n_key = sum(c.values())
        vec = [c[label_name] for label_name in order]
        n_types = sum(1 for label_name in order
                      if label_name != "null" and c[label_name] > 0)
        if n_key == c["null"]:
            promoted = "void"
        elif n_types > 1:
            promoted = "variant"
        else:
            promoted = next(l for l in order if l != "null" and c[l] > 0)
        expected[(w_start, k)] = (n_key, *vec, n_types, promoted)
    assert got == expected
    # the engineered drift is visible: hour 0's k is a clean promote,
    # hour 1's k went polymorphic
    h0 = base
    h1 = base + dt.timedelta(hours=1)
    assert got[(h0, "k")][9] in ("int", "variant")
    # 3 ints (1, 2, 3 — the dup key counts twice) + 1 num (uint64)
    assert got[(h0, "k")][1] == 3 and got[(h0, "k")][2] == 1
    assert got[(h1, "k")][9] == "variant"
    assert got[(h1, "fresh")][9] == "bool"
    assert got[(h0, "extra")][9] == "void"
