"""IVF-PQ index at rest: build -> parquet tables -> search matches
the inline catalog query bit-for-bit, and the codes read is
partition-pruned to the probed cells."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from wire_spark.engine import load_table
from wire_spark.operators.vector_index import build_index, search_index


def test_stored_index_search_matches_inline_query(spark, tmp_path):
    sf_dir = "/root/testdata/sf0.001"
    idx = str(tmp_path / "ivfpq")
    emb = load_table(spark, sf_dir, "embeddings")
    stats = build_index(emb, idx)
    assert stats["cells"] == emb.count()
    assert stats["codes"] == stats["cells"] * 8  # one code per subspace

    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    got = search_index(spark, idx, queries, k=5, nprobe=2).collect()

    # the inline catalog query computes the identical index per call
    from wire_spark.catalog import load_registry

    want = load_registry()["ann_ivfpq_adc"].fn(spark, sf_dir).collect()
    as_t = lambda rows: [(r.qid, r.nid, r.adist, r.rn) for r in rows]  # noqa: E731
    assert as_t(got) == as_t(want)


def test_stored_index_codes_read_is_cell_pruned(spark, tmp_path):
    """The codes relation is laid out partitionBy(cid); the search
    plan's codes scan must carry a partition filter / pruned
    partition count, not a full-table read."""
    sf_dir = "/root/testdata/sf0.001"
    idx = str(tmp_path / "ivfpq2")
    emb = load_table(spark, sf_dir, "embeddings")
    build_index(emb, idx)
    queries = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    df = search_index(spark, idx, queries, k=5, nprobe=2)
    df.collect()
    from wire_spark.plans import formatted_plan

    plan = formatted_plan(df)
    # the cid equi-join against the partitionBy(cid) layout must allow
    # partition pruning: the scan exposes cid as a partition column
    assert "PartitionFilters" in plan or "dynamicpruning" in plan.lower()


def _rebuild_reference(spark, sf_dir):
    """One-shot rebuild: apply the change rules to the vector table,
    then assign EVERY live vector from scratch — the semantics the
    incremental path must reproduce bit-for-bit."""
    from wire_spark.operators.vector_index import assign_cells
    from wire_spark.queries.similarity import _valid_vectors

    e = _valid_vectors(spark, sf_dir).select("vec_id", "v")
    cent = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv"),
        F.sqrt(F.aggregate(F.zip_with("v", "v", lambda a, b: a * b),
                           F.lit(0.0), lambda a, b: a + b)).alias("cn"),
    )
    untouched = e.filter(
        (F.col("vec_id") % 7 != 0) & (F.col("vec_id") % 13 != 0))
    updated = (
        e.filter((F.col("vec_id") % 7 == 0) & (F.col("vec_id") % 13 != 0))
        .select("vec_id", F.transform("v", lambda x: -x).alias("v"))
    )
    inserted = e.filter(F.col("vec_id") % 11 == 0).select(
        (F.col("vec_id") + F.lit(10_000_000)).alias("vec_id"),
        F.reverse("v").alias("v"),
    )
    live = untouched.unionByName(updated).unionByName(inserted)
    return assign_cells(live, cent)


def test_incremental_update_equals_rebuild(spark):
    """update_cells(base, fold(changelog), cent) must equal a from-
    scratch assignment of the post-change table — the incremental ==
    rebuild property the staged catalog query pins cross-engine."""
    from wire_spark.queries.similarity import vector_index_cdc_update

    sf_dir = "/root/testdata/sf0.001"
    got = {
        (r.cid, r.n_vecs, r.sum_vec_id, r.n_changed)
        for r in vector_index_cdc_update(spark, sf_dir).collect()
    }
    ref = {
        (r.cid, r["n"], float(r.s), None)
        for r in _rebuild_reference(spark, sf_dir)
        .groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.col("vec_id").cast("decimal(38,0)")).alias("s"))
        .collect()
    }
    assert {(c, n, s) for c, n, s, _ in got} == {
        (c, n, s) for c, n, s, _ in ref}
    # churn metering: every changed row is an upsert winner
    n_changed = sum(r[3] for r in got)
    assert n_changed > 0


def test_staged_query_matches_duckdb_oracle(spark):
    """The r15-staged catalog entry must already be driver-green in
    this suite: Spark kernel vs the DuckDB rebuild oracle, value
    equality on sorted rows, at two SFs."""
    import duckdb

    from wire_spark.queries.similarity import (
        VECTOR_INDEX_CDC_ORACLE, vector_index_cdc_update)

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        sdf = vector_index_cdc_update(spark, sf_dir)
        scols = sorted(sdf.columns)
        srows = sorted([tuple(r[c] for c in scols) for r in sdf.collect()],
                       key=repr)
        assert srows, sf_dir  # non-vacuous at every SF
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{sf_dir}/embeddings.parquet')")
        res = con.execute(VECTOR_INDEX_CDC_ORACLE)
        oc = [d[0] for d in res.description]
        idx = sorted(range(len(oc)), key=lambda i: oc[i])
        orows = sorted([tuple(row[i] for i in idx) for row in res.fetchall()],
                       key=repr)
        assert scols == sorted(oc)
        assert srows == orows, sf_dir


def test_streaming_changelog_maintains_stored_cells(spark, tmp_path):
    """End-to-end streaming maintenance: a changelog file-stream,
    one microbatch per file (delivery in cluster_time order), each
    folded with fold_vector_delta and MERGEd into the bucketed cells
    table by merge_cells_update inside foreachBatch.  The final
    stored table must equal the from-scratch assignment of the
    post-change corpus — including the % 91 keys whose update
    (batch 1) is overridden by a later delete (batch 2)."""
    from wire_spark.operators.upsert import read_table, write_initial
    from wire_spark.operators.vector_index import (
        assign_cells, fold_vector_delta, merge_cells_update)
    from wire_spark.queries.similarity import _valid_vectors

    sf_dir = "/root/testdata/sf0.001"
    cells_path = str(tmp_path / "cells_tbl")
    log_dir = tmp_path / "changelog"
    log_dir.mkdir()

    e = _valid_vectors(spark, sf_dir).select("vec_id", "v")
    cent = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv"),
        F.sqrt(F.aggregate(F.zip_with("v", "v", lambda a, b: a * b),
                           F.lit(0.0), lambda a, b: a + b)).alias("cn"),
    )
    write_initial(assign_cells(e, cent), cells_path, "vec_id", n_buckets=8)

    tok = lambda pfx: F.concat(  # noqa: E731
        F.lit(pfx), F.lpad(F.col("vec_id").cast("string"), 12, "0"))
    batch1 = (
        e.filter(F.col("vec_id") % 7 == 0).select(
            tok("u").alias("resume_token"),
            F.lit("update").alias("operation_type"),
            F.col("vec_id").alias("document_id"),
            F.transform("v", lambda x: -x).alias("full_document"),
            F.lit(1).cast("long").alias("cluster_time"))
        .unionByName(e.filter(F.col("vec_id") % 11 == 0).select(
            tok("i").alias("resume_token"),
            F.lit("insert").alias("operation_type"),
            (F.col("vec_id") + F.lit(10_000_000)).alias("document_id"),
            F.reverse("v").alias("full_document"),
            F.lit(1).cast("long").alias("cluster_time")))
    )
    batch2 = e.filter(F.col("vec_id") % 13 == 0).select(
        tok("d").alias("resume_token"),
        F.lit("delete").alias("operation_type"),
        F.col("vec_id").alias("document_id"),
        F.lit(None).cast("array<double>").alias("full_document"),
        F.lit(2).cast("long").alias("cluster_time"))
    schema = batch1.schema
    batch1.coalesce(1).write.parquet(str(log_dir / "b0001"))
    batch2.coalesce(1).write.parquet(str(log_dir / "b0002"))

    cent_rows = cent.collect()  # bounded: K centroids

    def apply_batch(batch, _bid):
        s = batch.sparkSession
        c = s.createDataFrame(cent_rows, cent.schema)
        merge_cells_update(s, cells_path, fold_vector_delta(batch), c,
                           n_buckets=8)

    (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(log_dir / "b*"))
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )

    got = {(r.vec_id, r.cid) for r in read_table(spark, cells_path).collect()}
    want = {(r.vec_id, r.cid)
            for r in _rebuild_reference(spark, sf_dir).collect()}
    assert got == want


def test_merge_index_update_matches_frozen_rebuild(spark, tmp_path):
    """Full-index maintenance: merge_index_update must land BOTH
    stored relations (cells reverse index, cid-partitioned codes)
    exactly on a frozen-codebook rebuild of the post-change corpus —
    so search_index over the incrementally-updated index is
    bit-identical to search over that rebuild by construction."""
    from wire_spark.engine import load_table
    from wire_spark.operators.upsert import read_table
    from wire_spark.operators.vector_index import (
        assign_cells, build_index, fold_vector_delta, merge_index_update,
        pq_encode)
    from wire_spark.queries.similarity import _valid_vectors

    sf_dir = "/root/testdata/sf0.001"
    idx = str(tmp_path / "ivfpq_inc")
    build_index(load_table(spark, sf_dir, "embeddings"), idx)

    e = _valid_vectors(spark, sf_dir).select("vec_id", "v")
    tok = lambda pfx: F.concat(  # noqa: E731
        F.lit(pfx), F.lpad(F.col("vec_id").cast("string"), 12, "0"))
    changes = (
        e.filter(F.col("vec_id") % 7 == 0).select(
            tok("u").alias("resume_token"),
            F.lit("update").alias("operation_type"),
            F.col("vec_id").alias("document_id"),
            F.transform("v", lambda x: -x).alias("full_document"),
            F.lit(1).cast("long").alias("cluster_time"))
        .unionByName(e.filter(F.col("vec_id") % 13 == 0).select(
            tok("d").alias("resume_token"),
            F.lit("delete").alias("operation_type"),
            F.col("vec_id").alias("document_id"),
            F.lit(None).cast("array<double>").alias("full_document"),
            F.lit(2).cast("long").alias("cluster_time")))
        .unionByName(e.filter(F.col("vec_id") % 11 == 0).select(
            tok("i").alias("resume_token"),
            F.lit("insert").alias("operation_type"),
            (F.col("vec_id") + F.lit(10_000_000)).alias("document_id"),
            F.reverse("v").alias("full_document"),
            F.lit(1).cast("long").alias("cluster_time")))
    )
    n_affected = merge_index_update(spark, idx, fold_vector_delta(changes))
    assert n_affected > 0

    # frozen-codebook rebuild of the post-change corpus.  NOTE: the
    # delta vectors are the CDC-applied table, NOT _valid_vectors of
    # some re-gated set — build_index loads the raw table, so the
    # reference corpus is raw-table rows transformed by the rules.
    raw = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    # the changelog was derived from the GATED set, so untouched =
    # raw minus gated-touched keys; at sf0.001 the gate excludes no
    # row (asserted), keeping this reference exact
    assert raw.count() == e.count()
    cent = spark.read.parquet(idx + "/centroids").withColumn(
        "cn", F.sqrt(F.aggregate(F.zip_with("cv", "cv", lambda a, b: a * b),
                                 F.lit(0.0), lambda a, b: a + b)))
    cw = spark.read.parquet(idx + "/codebook")
    post = (
        raw.filter((F.col("vec_id") % 7 != 0) & (F.col("vec_id") % 13 != 0))
        .unionByName(
            raw.filter((F.col("vec_id") % 7 == 0)
                       & (F.col("vec_id") % 13 != 0))
            .select("vec_id", F.transform("v", lambda x: -x).alias("v")))
        .unionByName(
            raw.filter(F.col("vec_id") % 11 == 0).select(
                (F.col("vec_id") + F.lit(10_000_000)).alias("vec_id"),
                F.reverse("v").alias("v")))
    )
    want_cells = {(r.vec_id, r.cid)
                  for r in assign_cells(post, cent).collect()}
    got_cells = {(r.vec_id, r.cid)
                 for r in read_table(spark, idx + "/cells").collect()}
    assert got_cells == want_cells

    want_codes = {(r.vec_id, r.m, r.code)
                  for r in pq_encode(post, cw).collect()}
    got_codes = {(r.vec_id, r.m, r.code)
                 for r in spark.read.parquet(idx + "/codes")
                 .select("vec_id", "m", "code").collect()}
    assert got_codes == want_codes


def test_merge_index_update_idempotent_under_replay(spark, tmp_path):
    """At-least-once delivery re-applies a batch after a crash between
    MERGE and offset commit; the index MERGE must be idempotent —
    re-applying the identical folded delta leaves both relations
    bit-identical (the exactly-once-EFFECT argument of
    transforms/cdc.py applied to the index surface)."""
    from wire_spark.engine import load_table
    from wire_spark.operators.upsert import read_table
    from wire_spark.operators.vector_index import (
        build_index, fold_vector_delta, merge_index_update)
    from wire_spark.queries.similarity import _valid_vectors

    sf_dir = "/root/testdata/sf0.001"
    idx = str(tmp_path / "ivfpq_replay")
    build_index(load_table(spark, sf_dir, "embeddings"), idx)

    e = _valid_vectors(spark, sf_dir).select("vec_id", "v")
    tok = lambda pfx: F.concat(  # noqa: E731
        F.lit(pfx), F.lpad(F.col("vec_id").cast("string"), 12, "0"))
    changes = (
        e.filter(F.col("vec_id") % 7 == 0).select(
            tok("u").alias("resume_token"),
            F.lit("update").alias("operation_type"),
            F.col("vec_id").alias("document_id"),
            F.transform("v", lambda x: -x).alias("full_document"),
            F.lit(1).cast("long").alias("cluster_time"))
        .unionByName(e.filter(F.col("vec_id") % 13 == 0).select(
            tok("d").alias("resume_token"),
            F.lit("delete").alias("operation_type"),
            F.col("vec_id").alias("document_id"),
            F.lit(None).cast("array<double>").alias("full_document"),
            F.lit(2).cast("long").alias("cluster_time")))
    )
    merge_index_update(spark, idx, fold_vector_delta(changes))
    cells_1 = sorted((r.vec_id, r.cid)
                     for r in read_table(spark, idx + "/cells").collect())
    codes_1 = sorted((r.vec_id, r.m, r.code)
                     for r in spark.read.parquet(idx + "/codes")
                     .select("vec_id", "m", "code").collect())

    merge_index_update(spark, idx, fold_vector_delta(changes))  # replay
    cells_2 = sorted((r.vec_id, r.cid)
                     for r in read_table(spark, idx + "/cells").collect())
    codes_2 = sorted((r.vec_id, r.m, r.code)
                     for r in spark.read.parquet(idx + "/codes")
                     .select("vec_id", "m", "code").collect())
    assert cells_1 == cells_2
    assert codes_1 == codes_2


def test_streaming_cells_restart_from_checkpoint(spark, tmp_path):
    """Kill-and-restart: the maintenance stream consumes batch 1,
    stops, batch 2 lands, and a RESTART from the same checkpoint
    processes only the new file — the final stored table still equals
    the rebuild.  (foreachBatch + file source + availableNow is the
    checkpoint-recovery shape the suite's streaming tests pin; this
    extends it to the index-MERGE pipeline.)"""
    from wire_spark.operators.upsert import read_table, write_initial
    from wire_spark.operators.vector_index import (
        assign_cells, fold_vector_delta, merge_cells_update)
    from wire_spark.queries.similarity import _valid_vectors

    sf_dir = "/root/testdata/sf0.001"
    cells_path = str(tmp_path / "cells_rst")
    log_dir = tmp_path / "log_rst"
    log_dir.mkdir()
    ckpt = str(tmp_path / "ckpt_rst")

    e = _valid_vectors(spark, sf_dir).select("vec_id", "v")
    cent = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv"),
        F.sqrt(F.aggregate(F.zip_with("v", "v", lambda a, b: a * b),
                           F.lit(0.0), lambda a, b: a + b)).alias("cn"),
    )
    write_initial(assign_cells(e, cent), cells_path, "vec_id", n_buckets=8)

    tok = lambda pfx: F.concat(  # noqa: E731
        F.lit(pfx), F.lpad(F.col("vec_id").cast("string"), 12, "0"))
    batch1 = e.filter(F.col("vec_id") % 7 == 0).select(
        tok("u").alias("resume_token"),
        F.lit("update").alias("operation_type"),
        F.col("vec_id").alias("document_id"),
        F.transform("v", lambda x: -x).alias("full_document"),
        F.lit(1).cast("long").alias("cluster_time"))
    batch2 = e.filter(F.col("vec_id") % 13 == 0).select(
        tok("d").alias("resume_token"),
        F.lit("delete").alias("operation_type"),
        F.col("vec_id").alias("document_id"),
        F.lit(None).cast("array<double>").alias("full_document"),
        F.lit(2).cast("long").alias("cluster_time"))
    schema = batch1.schema
    cent_rows = cent.collect()
    applied = []

    def apply_batch(batch, bid):
        s = batch.sparkSession
        c = s.createDataFrame(cent_rows, cent.schema)
        merge_cells_update(s, cells_path, fold_vector_delta(batch), c,
                           n_buckets=8)
        applied.append(bid)

    def run_stream():
        (spark.readStream.schema(schema)
         .option("maxFilesPerTrigger", 1)
         .parquet(str(log_dir / "b*"))
         .writeStream.foreachBatch(apply_batch)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True)
         .start().awaitTermination(120))

    batch1.coalesce(1).write.parquet(str(log_dir / "b0001"))
    run_stream()          # consumes batch 1, then the query STOPS
    n_first = len(applied)
    assert n_first >= 1
    batch2.coalesce(1).write.parquet(str(log_dir / "b0002"))
    run_stream()          # restart from checkpoint: only the new file
    assert len(applied) > n_first

    got = {(r.vec_id, r.cid) for r in read_table(spark, cells_path).collect()}
    want = {
        (r.vec_id, r.cid)
        for r in assign_cells(
            e.filter((F.col("vec_id") % 7 != 0) & (F.col("vec_id") % 13 != 0))
            .unionByName(
                e.filter((F.col("vec_id") % 7 == 0)
                         & (F.col("vec_id") % 13 != 0))
                .select("vec_id", F.transform("v", lambda x: -x).alias("v"))),
            cent).collect()
    }
    assert got == want


def test_null_payload_upsert_is_tombstone_not_cell0(spark):
    """A CDC update whose full_document payload is NULL (a Mongo
    update event without fullDocument lookup) must NOT be assigned —
    before the r15 gate its K NULL similarities plus NULLS-LAST
    ordering silently parked it in cell 0.  update_cells
    treats it as a tombstone: the key leaves the index and re-enters
    on the next payload-bearing change."""
    from wire_spark.operators.vector_index import (
        assign_cells, fold_vector_delta, update_cells)

    e = spark.createDataFrame(
        [(i, [float(i + 1), float((i * 7) % 5 + 1)]) for i in range(12)],
        ["vec_id", "v"],
    )
    cent = e.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv"),
        F.sqrt(F.aggregate(F.zip_with("v", "v", lambda a, b: a * b),
                           F.lit(0.0), lambda a, b: a + b)).alias("cn"),
    )
    cells0 = assign_cells(e, cent)
    changes = spark.createDataFrame(
        [("t1", "update", 5, None, 1),
         ("t2", "update", 6, [9.0, 1.0], 1)],
        "resume_token string, operation_type string, document_id long, "
        "full_document array<double>, cluster_time long",
    )
    updated = update_cells(cells0, fold_vector_delta(changes), cent)
    rows = {r.vec_id: (r.cid, r.changed) for r in updated.collect()}
    assert 5 not in rows                      # tombstoned, not cell 0
    assert rows[6][1] == 1                    # payload-bearing: reassigned
    assert len(rows) == 11                    # 12 - the null-payload key


def test_null_payload_upsert_deletes_from_stored_index(spark, tmp_path):
    """The stored-table merge paths agree with update_cells: a
    NULL-payload upsert routes to the delete side of the MERGE in
    both merge_cells_update and merge_index_update."""
    from wire_spark.engine import load_table
    from wire_spark.operators.upsert import read_table
    from wire_spark.operators.vector_index import (
        build_index, fold_vector_delta, merge_cells_update,
        merge_index_update)

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding")
    idx = str(tmp_path / "ivfpq")
    build_index(emb, idx)

    victim = emb.select("vec_id").orderBy("vec_id").limit(1).collect()[0].vec_id
    changes = spark.createDataFrame(
        [("t1", "update", int(victim), None, 1)],
        "resume_token string, operation_type string, document_id long, "
        "full_document array<double>, cluster_time long",
    )
    merge_index_update(spark, idx, fold_vector_delta(changes))
    cells = read_table(spark, os.path.join(idx, "cells"))
    assert cells.filter(F.col("vec_id") == victim).count() == 0
    codes = spark.read.parquet(os.path.join(idx, "codes"))
    assert codes.filter(F.col("vec_id") == victim).count() == 0

    # merge_cells_update with n_buckets derived from the stored marker
    cent = spark.read.parquet(os.path.join(idx, "centroids")).withColumn(
        "cn", F.sqrt(F.aggregate(F.zip_with("cv", "cv", lambda a, b: a * b),
                                 F.lit(0.0), lambda a, b: a + b)))
    victim2 = emb.select("vec_id").orderBy(F.desc("vec_id")).limit(1)\
        .collect()[0].vec_id
    changes2 = spark.createDataFrame(
        [("t2", "update", int(victim2), None, 1)],
        "resume_token string, operation_type string, document_id long, "
        "full_document array<double>, cluster_time long",
    )
    merge_cells_update(spark, os.path.join(idx, "cells"),
                       fold_vector_delta(changes2), cent)  # derives buckets
    cells = read_table(spark, os.path.join(idx, "cells"))
    assert cells.filter(F.col("vec_id") == victim2).count() == 0


def test_staged_search_lifecycle_matches_duckdb_oracle(spark):
    """The r16-staged query-from-storage entry must already be
    driver-green in this suite: build -> CDC merge -> search from the
    STORED index, vs the DuckDB inline recomputation over the
    post-change corpus with frozen centroids/codebook, value equality
    on sorted rows, at two SFs."""
    import duckdb

    from wire_spark.queries.similarity import (
        VECTOR_INDEX_SEARCH_ORACLE, vector_index_search_stored)

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        sdf = vector_index_search_stored(spark, sf_dir)
        scols = sorted(sdf.columns)
        srows = sorted([tuple(r[c] for c in scols) for r in sdf.collect()],
                       key=repr)
        assert srows, sf_dir  # non-vacuous at every SF
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{sf_dir}/embeddings.parquet')")
        res = con.execute(VECTOR_INDEX_SEARCH_ORACLE)
        oc = [d[0] for d in res.description]
        idx = sorted(range(len(oc)), key=lambda i: oc[i])
        orows = sorted([tuple(row[i] for i in idx) for row in res.fetchall()],
                       key=repr)
        assert scols == sorted(oc)
        assert srows == orows, sf_dir


def test_merge_index_update_multibatch_matches_replay_model(spark, tmp_path):
    """Sequential merge_index_update batches over ANY op sequence must
    leave the stored index equal to a frozen-codebook rebuild of the
    replay-model final state — batch boundaries, intra-batch folds,
    NULL-payload tombstones, emptied-partition cleanup, and
    re-inserts all exercised by a deterministic pseudo-random log
    (hypothesis-style model check; a fixed seed keeps the suite
    reproducible while still leaving the fixed %-protocol)."""
    import random

    from pyspark.sql import functions as F

    from wire_spark.operators.upsert import read_table
    from wire_spark.operators.vector_index import (
        assign_cells, fold_vector_delta, merge_index_update, pq_encode)

    rng = random.Random(1507)

    def vec(key: int, salt: int) -> list[float]:
        return [float(((key * 31 + salt * 17 + j) % 7) + 1) for j in range(64)]

    base = {k: vec(k, 0) for k in range(20)}
    emb = spark.createDataFrame(
        [(k, v) for k, v in base.items()], "vec_id long, embedding array<double>")
    idx = str(tmp_path / "propidx")
    from wire_spark.operators.vector_index import build_index
    build_index(emb, idx)

    state = dict(base)
    t = 0
    ops = ["insert", "update", "replace", "delete", "update_null"]
    for batch_i in range(3):
        rows = []
        winner = {}
        for _ in range(rng.randint(2, 9)):
            key = rng.randrange(0, 22)  # 20-21 exercise fresh inserts
            op = rng.choice(ops)
            t += 1
            payload = None if op in ("delete", "update_null") else vec(key, t)
            rows.append((f"t{t:04d}", "update" if op == "update_null" else op,
                         key, payload, t))
            winner[key] = (op, t)
        changes = spark.createDataFrame(
            rows, "resume_token string, operation_type string, "
                  "document_id long, full_document array<double>, "
                  "cluster_time long")
        merge_index_update(spark, idx, fold_vector_delta(changes))
        for key, (op, wt) in winner.items():
            if op in ("delete", "update_null"):
                state.pop(key, None)
            else:
                state[key] = vec(key, wt)

    cent = spark.read.parquet(f"{idx}/centroids").withColumn(
        "cn", F.sqrt(F.aggregate(F.zip_with("cv", "cv", lambda a, b: a * b),
                                 F.lit(0.0), lambda a, b: a + b)))
    cw = spark.read.parquet(f"{idx}/codebook")
    final = spark.createDataFrame(
        [(k, v) for k, v in state.items()], "vec_id long, v array<double>")
    expected_cells = {(r.vec_id, r.cid)
                      for r in assign_cells(final, cent).collect()}
    expected_codes = {
        (r.vec_id, r.m, r.code, r.cid)
        for r in pq_encode(final, cw).join(assign_cells(final, cent), "vec_id")
        .collect()}

    got_cells = {(r.vec_id, r.cid)
                 for r in read_table(spark, f"{idx}/cells").collect()}
    got_codes = {(r.vec_id, r.m, r.code, r.cid)
                 for r in spark.read.parquet(f"{idx}/codes").collect()}
    assert got_cells == expected_cells
    assert got_codes == expected_codes


def test_drift_report_retrain_signal(spark, tmp_path):
    """The quantization-drift monitor (the WHEN-to-retrain half of the
    frozen-codebook contract): on the unchanged corpus the current
    error equals the build baseline (ratio 1.0 exactly — same
    integer-domain statistic); on a shifted corpus (every component
    offset away from the codebook's training range) the ratio rises
    above 1 in every subspace."""
    from pyspark.sql import functions as F

    from wire_spark.engine import load_table
    from wire_spark.operators.vector_index import build_index, drift_report

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding")
    idx = str(tmp_path / "driftidx")
    build_index(emb, idx)

    same = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    rep = {r.m: r for r in drift_report(spark, idx, same).collect()}
    assert len(rep) == 8
    assert all(r.drift_ratio == 1.0 for r in rep.values())
    assert all(r.mean_err6 == r.build_mean_err6 for r in rep.values())

    shifted = same.select(
        "vec_id", F.transform("v", lambda x: x + F.lit(3.0)).alias("v"))
    rep2 = {r.m: r for r in drift_report(spark, idx, shifted).collect()}
    assert all(r.drift_ratio > 1.0 for r in rep2.values())
    # p95 is reported alongside the mean for tail drift
    assert all(r.p95_err6 >= r.mean_err6 * 0.5 for r in rep2.values())


def test_cell_balance_report_shares_and_skew(spark, tmp_path):
    """Cell-occupancy monitor: shares sum to 1, n_vecs per cell match
    a direct count of the cells relation, and skew_ratio is n_vecs
    normalized by the fair share total/K — the probe-planner's
    hot-partition signal."""
    from pyspark.sql import functions as F

    from wire_spark.engine import load_table
    from wire_spark.operators.upsert import read_table
    from wire_spark.operators.vector_index import (
        build_index, cell_balance_report)

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding")
    idx = str(tmp_path / "balidx")
    build_index(emb, idx)

    rep = {r.cid: r for r in cell_balance_report(spark, idx).collect()}
    truth = {
        r.cid: r.n for r in read_table(spark, f"{idx}/cells")
        .groupBy("cid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert {c: r.n_vecs for c, r in rep.items()} == truth
    assert abs(sum(r.share for r in rep.values()) - 1.0) < 1e-9
    k, tot = len(rep), sum(truth.values())
    for c, r in rep.items():
        assert abs(r.skew_ratio - truth[c] * k / tot) < 1e-9


def test_streaming_full_index_restart_then_search(spark, tmp_path):
    """Streaming maintenance of the FULL index with kill-and-restart:
    batch 1 (updates) is consumed, the query stops, batch 2
    (deletes + inserts) lands, and a restart from the same checkpoint
    applies only the new file via merge_index_update.  The stored
    cells+codes must equal a frozen-codebook rebuild of the
    post-change corpus, and search_index SERVED FROM the maintained
    store must (a) never surface a deleted key and (b) rank an
    inserted vector's own key first for its own query — the
    change-stream -> MERGE -> query-from-storage lifecycle under the
    same foreachBatch + file-source + availableNow recovery shape the
    cells-only restart test pins."""
    from wire_spark.operators.upsert import read_table
    from wire_spark.operators.vector_index import (
        assign_cells, fold_vector_delta, merge_index_update, pq_encode)

    sf_dir = "/root/testdata/sf0.001"
    idx = str(tmp_path / "ivfpq_stream")
    raw = load_table(spark, sf_dir, "embeddings")
    build_index(raw, idx)

    e = raw.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    tok = lambda pfx: F.concat(  # noqa: E731
        F.lit(pfx), F.lpad(F.col("vec_id").cast("string"), 12, "0"))
    batch1 = e.filter(F.col("vec_id") % 7 == 0).select(
        tok("u").alias("resume_token"),
        F.lit("update").alias("operation_type"),
        F.col("vec_id").alias("document_id"),
        F.transform("v", lambda x: -x).alias("full_document"),
        F.lit(1).cast("long").alias("cluster_time"))
    batch2 = (
        e.filter(F.col("vec_id") % 13 == 0).select(
            tok("d").alias("resume_token"),
            F.lit("delete").alias("operation_type"),
            F.col("vec_id").alias("document_id"),
            F.lit(None).cast("array<double>").alias("full_document"),
            F.lit(2).cast("long").alias("cluster_time"))
        .unionByName(e.filter(F.col("vec_id") % 11 == 0).select(
            tok("i").alias("resume_token"),
            F.lit("insert").alias("operation_type"),
            (F.col("vec_id") + F.lit(10_000_000)).alias("document_id"),
            F.reverse("v").alias("full_document"),
            F.lit(1).cast("long").alias("cluster_time"))))
    schema = batch1.schema

    log_dir = tmp_path / "log_full"
    log_dir.mkdir()
    ckpt = str(tmp_path / "ckpt_full")
    applied = []

    def apply_batch(batch, bid):
        merge_index_update(batch.sparkSession, idx, fold_vector_delta(batch))
        applied.append(bid)

    def run_stream():
        (spark.readStream.schema(schema)
         .option("maxFilesPerTrigger", 1)
         .parquet(str(log_dir / "b*"))
         .writeStream.foreachBatch(apply_batch)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True)
         .start().awaitTermination(180))

    batch1.coalesce(1).write.parquet(str(log_dir / "b0001"))
    run_stream()          # consumes batch 1, then the query STOPS
    n_first = len(applied)
    assert n_first >= 1
    batch2.coalesce(1).write.parquet(str(log_dir / "b0002"))
    run_stream()          # restart from checkpoint: only the new file
    assert len(applied) > n_first

    # stored relations == frozen-codebook rebuild of the post corpus
    cent = spark.read.parquet(idx + "/centroids").withColumn(
        "cn", F.sqrt(F.aggregate(F.zip_with("cv", "cv", lambda a, b: a * b),
                                 F.lit(0.0), lambda a, b: a + b)))
    cw = spark.read.parquet(idx + "/codebook")
    post = (
        e.filter((F.col("vec_id") % 7 != 0) & (F.col("vec_id") % 13 != 0))
        .unionByName(
            e.filter((F.col("vec_id") % 7 == 0) & (F.col("vec_id") % 13 != 0))
            .select("vec_id", F.transform("v", lambda x: -x).alias("v")))
        .unionByName(
            e.filter(F.col("vec_id") % 11 == 0).select(
                (F.col("vec_id") + F.lit(10_000_000)).alias("vec_id"),
                F.reverse("v").alias("v")))
    )
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

    # serve from the maintained store: deleted keys never surface,
    # and an inserted vector's own query ranks its own key first
    # (ADC distance to a vector's own code is the per-subspace
    # minimum, hence the global minimum over candidates)
    ins_id = next(iter(sorted(
        r.vec_id for r in post.filter(F.col("vec_id") >= 10_000_000)
        .select("vec_id").collect())))
    queries = (
        post.filter(F.col("vec_id") == ins_id)
        .select(F.col("vec_id").alias("qid"), F.col("v").alias("embedding"))
        .unionByName(
            post.filter((F.col("vec_id") % 5 == 0)
                        & (F.col("vec_id") < 10_000_000))
            .limit(3)
            .select(F.col("vec_id").alias("qid"),
                    F.col("v").alias("embedding")))
    )
    hits = search_index(spark, idx, queries, k=5, nprobe=2).collect()
    assert hits, "maintained index served no results"
    deleted = {r.vec_id for r in e.filter(F.col("vec_id") % 13 == 0)
               .select("vec_id").collect()}
    assert not {h.nid for h in hits} & deleted
    # the inserted key's own query: qid != nid filter does not drop it
    # because the query id IS the inserted id (self-match excluded) —
    # so probe its vector under a foreign qid instead
    probe_self = search_index(
        spark, idx,
        post.filter(F.col("vec_id") == ins_id)
        .select(F.lit(-1).cast("long").alias("qid"),
                F.col("v").alias("embedding")),
        k=3, nprobe=2).collect()
    assert probe_self and probe_self[0].nid == ins_id
