"""Manifest-layer transactional tables (operators/txn.py): atomic
commit, snapshot isolation, optimistic concurrency, exactly-once
batch replay, time travel/rollback, vacuum.  The Spark-side ACID
tier SURVEY §7.3 substitutes for the reference's Raft-replicated
store (wire internal/store/store.go apply path)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from wire_spark.operators.txn import (
    TxnConflict, current_version, txn_create, txn_history, txn_merge,
    txn_read, txn_rollback, txn_vacuum)


def _mk(spark, n=100):
    return spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("val"))


def _as_dict(df):
    return {r.k: r.val for r in df.collect()}


def test_create_read_roundtrip(spark, tmp_path):
    t = str(tmp_path / "t1")
    v = txn_create(_mk(spark), t, "k", n_buckets=8)
    assert v == 1 and current_version(t) == 1
    assert _as_dict(txn_read(spark, t)) == {i: i * 10 for i in range(100)}


def test_merge_upsert_delete_and_time_travel(spark, tmp_path):
    t = str(tmp_path / "t2")
    txn_create(_mk(spark), t, "k", n_buckets=8)
    ups = spark.range(5).select(
        F.col("id").alias("k"), F.lit(-1).alias("val"))
    dels = spark.createDataFrame([(50,), (51,)], "k LONG")
    v = txn_merge(spark, t, ups, delete_keys=dels)
    assert v == 2
    got = _as_dict(txn_read(spark, t))
    want = {i: i * 10 for i in range(100)}
    for i in range(5):
        want[i] = -1
    del want[50], want[51]
    assert got == want
    # time travel: v1 still reads the pre-merge snapshot
    assert _as_dict(txn_read(spark, t, version=1)) == {
        i: i * 10 for i in range(100)}


def test_snapshot_isolation_under_concurrent_merge(spark, tmp_path):
    """A plan resolved before a merge commits must keep reading the
    OLD snapshot — data files are immutable and the manifest was
    resolved once."""
    t = str(tmp_path / "t3")
    txn_create(_mk(spark), t, "k", n_buckets=8)
    before = txn_read(spark, t)  # resolves manifest v1 NOW
    txn_merge(spark, t, spark.range(100).select(
        F.col("id").alias("k"), F.lit(0).alias("val")))
    assert _as_dict(before) == {i: i * 10 for i in range(100)}
    assert set(_as_dict(txn_read(spark, t)).values()) == {0}


def test_optimistic_conflict_loser_raises_and_is_invisible(spark, tmp_path):
    """Claim the target version first (as a racing writer would);
    the merge must raise TxnConflict and leave the table readable at
    the winner's snapshot — the loser's data files are orphans."""
    t = str(tmp_path / "t4")
    txn_create(_mk(spark), t, "k", n_buckets=8)
    # simulate the racing winner: copy v1's manifest to v2
    mdir = os.path.join(t, "_manifests")
    m = json.load(open(os.path.join(mdir, "v00000001.json")))
    m["version"], m["parent"] = 2, 1
    json.dump(m, open(os.path.join(mdir, "v00000002.json"), "w"))
    with pytest.raises(TxnConflict):
        txn_merge(spark, t, spark.range(3).select(
            F.col("id").alias("k"), F.lit(7).alias("val")),
            base_version=1)
    assert _as_dict(txn_read(spark, t)) == {i: i * 10 for i in range(100)}
    # the losing attempt's files are unreferenced; vacuum reclaims
    rep = txn_vacuum(spark, t, keep_versions=2, min_age_seconds=0)
    assert rep["dropped_data_dirs"] >= 1


def test_crash_before_commit_is_invisible(spark, tmp_path):
    """A writer that dies after writing data files but BEFORE the
    manifest link leaves only orphans: readers see the old version,
    vacuum reclaims the debris (stray temp manifest included)."""
    t = str(tmp_path / "t5")
    txn_create(_mk(spark), t, "k", n_buckets=8)
    # simulate the half-done writer: orphan commit dir + tmp manifest
    orphan = os.path.join(t, "data", "c2-deadbeef")
    os.makedirs(os.path.join(orphan, "__bucket=0"))
    open(os.path.join(t, "_manifests", ".tmp-crashed"), "w").write("{}")
    assert current_version(t) == 1
    assert _as_dict(txn_read(spark, t)) == {i: i * 10 for i in range(100)}
    rep = txn_vacuum(spark, t, keep_versions=1, min_age_seconds=0)
    assert rep["dropped_data_dirs"] == 1
    assert not os.path.exists(orphan)
    assert not os.path.exists(os.path.join(t, "_manifests", ".tmp-crashed"))


def test_exactly_once_batch_replay_noop(spark, tmp_path):
    """At-least-once foreachBatch replays a batch after a crash
    between merge and offset commit; the SAME batch_id must no-op —
    transactional exactly-once, not just idempotent arithmetic."""
    t = str(tmp_path / "t6")
    txn_create(_mk(spark), t, "k", n_buckets=8)
    ups = spark.range(5).select(
        F.col("id").alias("k"), F.lit(1).alias("val"))
    v1 = txn_merge(spark, t, ups, batch_id=7)
    assert v1 == 2
    v2 = txn_merge(spark, t, ups, batch_id=7)  # replay
    assert v2 == 2 and current_version(t) == 2
    # a NEW batch id commits normally
    assert txn_merge(spark, t, ups, batch_id=8) == 3


def test_streaming_foreachbatch_exactly_once(spark, tmp_path):
    """End-to-end: a file-source stream MERGEs each micro-batch with
    its batch id; re-running the same stream from a FRESH checkpoint
    (worst-case full replay) leaves the table unchanged."""
    t = str(tmp_path / "t7")
    txn_create(_mk(spark, 20), t, "k", n_buckets=4)
    log = tmp_path / "log"
    log.mkdir()
    src = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") + 1000).alias("val"))
    src.coalesce(1).write.parquet(str(log / "b1"))

    def run(ckpt):
        (spark.readStream.schema(src.schema).parquet(str(log / "b*"))
         .writeStream.foreachBatch(
             lambda b, bid: txn_merge(
                 b.sparkSession, t, b, batch_id=f"q1-{bid}"))
         .option("checkpointLocation", str(tmp_path / ckpt))
         .trigger(availableNow=True).start().awaitTermination(120))

    run("ck1")
    after_first = _as_dict(txn_read(spark, t))
    v_first = current_version(t)
    assert all(after_first[i] == 1000 + i for i in range(10))
    run("ck2")  # fresh checkpoint: the batch replays with the same id
    assert current_version(t) == v_first
    assert _as_dict(txn_read(spark, t)) == after_first


def test_rollback_restores_and_history(spark, tmp_path):
    t = str(tmp_path / "t8")
    txn_create(_mk(spark), t, "k", n_buckets=8)
    txn_merge(spark, t, spark.range(100).select(
        F.col("id").alias("k"), F.lit(0).alias("val")))
    v = txn_rollback(spark, t, to_version=1)
    assert v == 3
    assert _as_dict(txn_read(spark, t)) == {i: i * 10 for i in range(100)}
    h = {r.version: r for r in txn_history(spark, t).collect()}
    assert h[3].rolled_back_to == 1 and h[3].parent == 2
    assert h[1].parent is None


def test_delete_all_keys_empties_table_with_schema(spark, tmp_path):
    """Deleting every key leaves live buckets pointing nowhere; the
    snapshot still reads (0 rows) with the manifest-carried schema."""
    t = str(tmp_path / "t9")
    txn_create(_mk(spark, 10), t, "k", n_buckets=4)
    txn_merge(spark, t,
              spark.createDataFrame([], "k LONG, val LONG"),
              delete_keys=spark.range(10).select(F.col("id").alias("k")))
    out = txn_read(spark, t)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["k", "val"]
    # and the table accepts inserts again
    txn_merge(spark, t, spark.range(3).select(
        F.col("id").alias("k"), F.lit(5).alias("val")))
    assert _as_dict(txn_read(spark, t)) == {0: 5, 1: 5, 2: 5}


def test_vacuum_bounds_retention_and_keeps_current(spark, tmp_path):
    t = str(tmp_path / "t10")
    txn_create(_mk(spark), t, "k", n_buckets=4)
    for i in range(4):
        txn_merge(spark, t, spark.range(2).select(
            F.col("id").alias("k"), F.lit(i).alias("val")))
    assert current_version(t) == 5
    rep = txn_vacuum(spark, t, keep_versions=2, min_age_seconds=0)
    assert rep["retained_versions"] == [4, 5]
    assert rep["dropped_manifests"] == 3
    with pytest.raises(Exception):
        txn_read(spark, t, version=1)  # expired snapshot
    got = _as_dict(txn_read(spark, t))
    assert got[0] == 3 and got[1] == 3 and got[99] == 990


def test_merge_cost_is_bucket_pruned(spark, tmp_path):
    """The merge target scan must touch only the buckets the batch
    hashes into — count distinct commit-dir scans in the plan via the
    touched-bucket return contract: a 1-key update rewrites exactly
    one bucket (pointer diff vs the parent manifest)."""
    t = str(tmp_path / "t11")
    txn_create(_mk(spark), t, "k", n_buckets=8)
    m1 = json.load(open(os.path.join(t, "_manifests", "v00000001.json")))
    txn_merge(spark, t, spark.createDataFrame(
        [(5, 123)], "k LONG, val LONG"))
    m2 = json.load(open(os.path.join(t, "_manifests", "v00000002.json")))
    moved = [b for b in m1["buckets"]
             if m1["buckets"][b] != m2["buckets"][b]]
    assert len(moved) == 1
    assert _as_dict(txn_read(spark, t))[5] == 123


def test_two_writer_race_no_lost_updates(spark, tmp_path):
    """Two threads run read-modify-write increment loops against the
    SAME key with retry-on-conflict, each passing the base_version
    its read came from.  The version claim admits exactly one writer
    per version, so every increment survives: final counter == total
    increments — the lost-update anomaly is structurally impossible.
    Each thread also owns a private key to show non-conflicting
    writes interleave untouched."""
    import threading

    from wire_spark.operators.txn import TxnConflict

    t = str(tmp_path / "race")
    txn_create(spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0)], "k LONG, val LONG"), t, "k",
        n_buckets=4)
    n_incr = 5
    errors = []

    def worker(tid):
        try:
            for _ in range(n_incr):
                while True:
                    base = current_version(t)
                    cur = {r.k: r.val
                           for r in txn_read(spark, t, version=base).collect()}
                    ups = spark.createDataFrame(
                        [(0, cur[0] + 1), (tid, cur[tid] + 1)],
                        "k LONG, val LONG")
                    try:
                        txn_merge(spark, t, ups, base_version=base)
                        break
                    except TxnConflict:
                        continue  # re-read the new snapshot, retry
        except Exception as ex:  # noqa: BLE001 — surface in main thread
            errors.append(ex)

    threads = [threading.Thread(target=worker, args=(tid,))
               for tid in (1, 2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=600)
    assert not errors, errors
    final = {r.k: r.val for r in txn_read(spark, t).collect()}
    assert final[0] == 2 * n_incr  # shared counter: nothing lost
    assert final[1] == n_incr and final[2] == n_incr


def test_staged_txn_lifecycle_matches_duckdb_oracle(spark):
    """The unregistered catalog query (queries/kv.py): create ->
    merge(update+delete) -> replay no-op -> merge(insert) -> aggregate
    the time-traveled initial AND final snapshots; value equality vs
    the inline DuckDB recomputation at two SFs."""
    import duckdb

    from wire_spark.queries.kv import (
        TXN_LIFECYCLE_ORACLE, txn_lifecycle_orders)

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        sdf = txn_lifecycle_orders(spark, sf_dir)
        scols = sorted(sdf.columns)
        srows = sorted([tuple(r[c] for c in scols) for r in sdf.collect()],
                       key=repr)
        assert srows, sf_dir  # non-vacuous at every SF
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW orders AS SELECT * FROM "
            f"read_parquet('{sf_dir}/orders.parquet')")
        res = con.execute(TXN_LIFECYCLE_ORACLE)
        oc = [d[0] for d in res.description]
        idx = sorted(range(len(oc)), key=lambda i: oc[i])
        orows = sorted([tuple(row[i] for i in idx) for row in res.fetchall()],
                       key=repr)
        assert scols == sorted(oc)
        assert srows == orows, sf_dir


def test_compact_restores_single_dir_and_preserves_state(spark, tmp_path):
    """After several merges spread live buckets across commit dirs,
    compact rewrites the snapshot into ONE dir (manifest points every
    live bucket there), preserves table state and batch-id memory,
    keeps pre-compact versions time-travelable, and the superseded
    dirs fall to the next vacuum."""
    import json as _json

    from wire_spark.operators.txn import txn_compact

    t = str(tmp_path / "tc")
    txn_create(_mk(spark, 50), t, "k", n_buckets=4)
    for i in range(3):
        txn_merge(spark, t, spark.createDataFrame(
            [(i * 7, 9000 + i)], "k LONG, val LONG"), batch_id=f"m{i}")
    before = _as_dict(txn_read(spark, t))
    mdir = os.path.join(t, "_manifests")
    pre = _json.load(open(os.path.join(mdir, "v00000004.json")))
    assert len({c for c in pre["buckets"].values() if c}) > 1

    v = txn_compact(spark, t)
    assert v == 5
    post = _json.load(open(os.path.join(mdir, "v00000005.json")))
    assert len({c for c in post["buckets"].values() if c}) == 1
    assert post["batch_ids"] == pre["batch_ids"]
    assert _as_dict(txn_read(spark, t)) == before
    assert _as_dict(txn_read(spark, t, version=4)) == before
    # replay across the compaction still no-ops
    assert txn_merge(spark, t, spark.createDataFrame(
        [(0, 1)], "k LONG, val LONG"), batch_id="m1") == 5
    rep = txn_vacuum(spark, t, keep_versions=1, min_age_seconds=0)
    assert rep["dropped_data_dirs"] >= 3
    assert _as_dict(txn_read(spark, t)) == before


def test_changes_feed_classifies_and_skips_unchanged(spark, tmp_path):
    """Change data feed from the manifest diff: inserts/updates/
    deletes classified by full-outer key join over MOVED buckets
    only; rows rewritten with identical payloads don't appear, so a
    pure compaction yields zero changes; net-effect semantics across
    multiple versions."""
    from wire_spark.operators.txn import txn_changes, txn_compact

    t = str(tmp_path / "cdf")
    txn_create(_mk(spark, 30), t, "k", n_buckets=4)         # v1
    txn_merge(spark, t, spark.createDataFrame(
        [(3, -1), (100, 7)], "k LONG, val LONG"),
        delete_keys=spark.createDataFrame([(5,)], "k LONG"))  # v2
    txn_merge(spark, t, spark.createDataFrame(
        [(3, -2)], "k LONG, val LONG"))                      # v3

    ch = {(r.op, r.k): r.val
          for r in txn_changes(spark, t, from_version=1).collect()}
    assert ch == {("update", 3): -2, ("insert", 100): 7,
                  ("delete", 5): None}
    # single-step feed sees the intermediate value
    ch12 = {(r.op, r.k): r.val
            for r in txn_changes(spark, t, 1, 2).collect()}
    assert ch12 == {("update", 3): -1, ("insert", 100): 7,
                    ("delete", 5): None}
    # compaction rewrites every bucket but changes no row
    v = txn_compact(spark, t)
    assert txn_changes(spark, t, v - 1, v).count() == 0
    # a merge that rewrites a bucket with identical rows: no change
    txn_merge(spark, t, spark.createDataFrame(
        [(3, -2)], "k LONG, val LONG"))
    assert txn_changes(spark, t, v).count() == 0
    # net effect of everything since v1 is unchanged by compaction
    ch_all = {(r.op, r.k): r.val
              for r in txn_changes(spark, t, from_version=1).collect()}
    assert ch_all == ch


def test_txn_change_feed_drives_index_maintenance(spark, tmp_path):
    """Composition e2e: embeddings live in a txn table; a MERGE
    updates/deletes/inserts vectors; the table's own change feed —
    in the CDC envelope shape — drives merge_index_update on a
    stored IVF-PQ index built from the PRE-merge snapshot.  Stored
    cells+codes must equal a frozen-codebook rebuild of the
    POST-merge snapshot: the store is a change SOURCE feeding the
    pipeline's existing CDC consumers, end to end."""
    from wire_spark.engine import load_table
    from wire_spark.operators.txn import txn_changes_envelope
    from wire_spark.operators.upsert import read_table
    from wire_spark.operators.vector_index import (
        assign_cells, build_index, fold_vector_delta, merge_index_update,
        pq_encode)

    sf_dir = "/root/testdata/sf0.001"
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    t = str(tmp_path / "vec_store")
    txn_create(e, t, "vec_id", n_buckets=4)                   # v1

    idx = str(tmp_path / "idx")
    v1 = txn_read(spark, t, version=1)
    build_index(v1.select("vec_id", F.col("v").alias("embedding")), idx)

    ups = (e.filter((F.col("vec_id") % 7 == 0) & (F.col("vec_id") % 13 != 0))
           .select("vec_id", F.transform("v", lambda x: -x).alias("v"))
           .unionByName(e.filter(F.col("vec_id") % 11 == 0).select(
               (F.col("vec_id") + F.lit(10_000_000)).alias("vec_id"),
               F.reverse("v").alias("v"))))
    dels = e.filter(F.col("vec_id") % 13 == 0).select("vec_id")
    txn_merge(spark, t, ups, delete_keys=dels)                # v2

    env = txn_changes_envelope(spark, t, from_version=1)
    n_aff = merge_index_update(spark, idx, fold_vector_delta(env))
    assert n_aff > 0

    # frozen-codebook rebuild reference = the POST-merge snapshot
    post = txn_read(spark, t)
    cent = spark.read.parquet(idx + "/centroids").withColumn(
        "cn", F.sqrt(F.aggregate(F.zip_with("cv", "cv", lambda a, b: a * b),
                                 F.lit(0.0), lambda a, b: a + b)))
    cw = spark.read.parquet(idx + "/codebook")
    got_cells = {(r.vec_id, r.cid)
                 for r in read_table(spark, idx + "/cells").collect()}
    want_cells = {(r.vec_id, r.cid)
                  for r in assign_cells(post, cent).collect()}
    assert got_cells == want_cells
    got_codes = {(r.vec_id, r.m, r.code)
                 for r in spark.read.parquet(idx + "/codes")
                 .select("vec_id", "m", "code").collect()}
    want_codes = {(r.vec_id, r.m, r.code)
                  for r in pq_encode(post, cw).collect()}
    assert got_codes == want_codes


def test_change_feed_scan_is_bucket_pruned(spark, tmp_path):
    """txn_changes must read only the buckets whose manifest pointer
    moved: the snapshot scans expose __bucket as a hive partition
    column and the isin filter lands as a PartitionFilter (directory
    pruning), never a full-table read."""
    from wire_spark.operators.txn import txn_changes
    from wire_spark.plans import formatted_plan

    t = str(tmp_path / "prune")
    txn_create(_mk(spark), t, "k", n_buckets=8)
    txn_merge(spark, t, spark.createDataFrame(
        [(5, 123)], "k LONG, val LONG"))
    df = txn_changes(spark, t, from_version=1)
    rows = df.collect()
    assert [(r.op, r.k, r.val) for r in rows] == [("update", 5, 123)]
    plan = formatted_plan(df)
    assert "PartitionFilters" in plan
    # and the old-side scan is pruned too: no scan in the plan reads
    # without a partition filter on the bucket column
    scans = [s for s in plan.split("\n") if "PartitionFilters: []" in s]
    assert not scans, scans


def test_vacuum_min_age_spares_inflight_writer_dirs(spark, tmp_path):
    """An unreferenced commit dir younger than min_age_seconds is an
    in-flight writer as far as vacuum can tell — it must survive; the
    same dir is reclaimed once it ages past the threshold."""
    t = str(tmp_path / "tv")
    txn_create(_mk(spark, 10), t, "k", n_buckets=2)
    inflight = os.path.join(t, "data", "c9-inflight")
    os.makedirs(os.path.join(inflight, "__bucket=0"))
    rep = txn_vacuum(spark, t, keep_versions=1)  # default min_age
    assert rep["dropped_data_dirs"] == 0
    assert os.path.isdir(inflight)
    rep = txn_vacuum(spark, t, keep_versions=1, min_age_seconds=0)
    assert rep["dropped_data_dirs"] == 1
    assert not os.path.exists(inflight)


def test_fsck_reports_clean_and_detects_damage(spark, tmp_path):
    """fsck is clean on a healthy chain (orphans/expired parents are
    warnings, not errors) and flags a missing commit dir and a
    schema-drifted manifest as errors."""
    import json as _json
    import shutil as _shutil

    from wire_spark.operators.txn import txn_fsck

    t = str(tmp_path / "fs")
    txn_create(_mk(spark, 20), t, "k", n_buckets=4)
    txn_merge(spark, t, spark.createDataFrame(
        [(1, -1)], "k LONG, val LONG"), batch_id="a")
    rep = txn_fsck(spark, t)
    assert rep["ok"] and rep["errors"] == [] and rep["versions"] == 2

    # orphan dir + stray tmp manifest: warnings only
    os.makedirs(os.path.join(t, "data", "c9-orphan"))
    open(os.path.join(t, "_manifests", ".tmp-x"), "w").write("{}")
    rep = txn_fsck(spark, t)
    assert rep["ok"] and rep["orphan_dirs"] == 1
    assert any("orphan" in w for w in rep["warnings"])
    assert any("tmp" in w for w in rep["warnings"])

    # vacuumed-away parent: warning, not error
    txn_merge(spark, t, spark.createDataFrame(
        [(2, -2)], "k LONG, val LONG"))
    txn_vacuum(spark, t, keep_versions=2, min_age_seconds=0)
    rep = txn_fsck(spark, t)
    assert rep["ok"]
    assert any("expired" in w for w in rep["warnings"])

    # damage 1: delete a referenced commit dir
    m = _json.load(open(os.path.join(t, "_manifests",
                                     f"v{3:08d}.json")))
    victim = next(c for c in m["buckets"].values() if c)
    _shutil.rmtree(os.path.join(t, victim))
    rep = txn_fsck(spark, t)
    assert not rep["ok"]
    assert any("missing commit dir" in e for e in rep["errors"])

    # damage 2: schema drift in a retained manifest
    m2 = _json.load(open(os.path.join(t, "_manifests", "v00000002.json")))
    m2["key"] = "not_k"
    _json.dump(m2, open(os.path.join(t, "_manifests", "v00000002.json"),
                        "w"))
    rep = txn_fsck(spark, t)
    assert any("key differs" in e for e in rep["errors"])
