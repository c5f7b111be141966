"""IVF-PQ vector index at rest: build once into parquet tables,
search from storage.

The catalog query ``ann_ivfpq_adc`` (queries/similarity.py) computes
the whole index inline per query — correct for the oracle gate, but a
production corpus builds the index ONCE and amortizes it over every
query. This module materializes the index relations:

- ``cells/``     (vec_id, cid)         hash-bucketed by vec_id — the
                 REVERSE index (vec_id -> cid); searches never read
                 it, incremental maintenance uses it to locate a
                 touched key's old codes partition by a bucket-pruned
                 read instead of a codes scan
- ``codes/``     (vec_id, m, code)     partitioned by cid via join at
                 build time (PQ codes co-located with their cell —
                 this is the relation searches prune on)
- ``centroids/`` (cid, cv)             tiny, broadcast at search
- ``codebook/``  (code, m, cv)         tiny (k x m rows), broadcast

Search = probe top-``nprobe`` centroids (broadcast), read the probed
cells' codes, rank by asymmetric distance from the per-query distance
table. No stored vector is ever touched at search time; at 100 TB
the scan per query is (nprobe/k of the table) x 8 bytes/vector.

Index determinism matches ann_ivfpq_adc exactly (same fixed seeds,
same floor-truncated ranking), asserted in tests/test_vector_index.py
by comparing stored-index search output to the inline catalog query.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

_K_CELLS = 8
_PQ_M = 8
_PQ_SUB = 8
_PQ_K = 16
_CELLS_BUCKETS = 16  # hash buckets of the cells reverse index


def _dot(x, y):
    return F.aggregate(F.zip_with(x, y, lambda p, q: p * q), F.lit(0.0), lambda a, b: a + b)


def _l2(a, b):
    return F.sqrt(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0), lambda acc, z: acc + z,
        )
    )


def _t6(col):
    return F.floor(col * F.lit(1000000.0)) / F.lit(1000000.0)


def assign_cells(vectors: DataFrame, cent: DataFrame) -> DataFrame:
    """(vec_id, cid): nearest TRAINED centroid per vector by
    floor-truncated cosine (desc, ties to the lowest cid) — the one
    ranking shared by the full build and incremental maintenance, so
    an incrementally-updated cells relation is bit-identical to a
    rebuild by construction of the kernel, not by luck.

    ``vectors``: (vec_id, v double[]); ``cent``: (cid, cv, cn) tiny
    and broadcast — cost is |vectors| x K cosine evals, one window
    per vec_id, no shuffle of the vector table beyond the window's
    hash on vec_id."""
    v_n = vectors.withColumn("__nrm", F.sqrt(_dot(F.col("v"), F.col("v"))))
    sim_c = _t6(_dot(F.col("v"), F.col("cv")) / (F.col("__nrm") * F.col("cn")))
    w_assign = W.partitionBy("vec_id").orderBy(F.desc("csim"), F.asc("cid"))
    return (
        v_n.crossJoin(F.broadcast(cent))
        .select("vec_id", "cid", sim_c.alias("csim"))
        .withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid")
    )


def pq_encode(vectors: DataFrame, cw: DataFrame) -> DataFrame:
    """(vec_id, m, code): nearest codebook entry per subspace by
    floor-truncated L2 (ties to the lowest code) — shared by the full
    build and incremental maintenance, same bit-identity argument as
    ``assign_cells``.  ``vectors``: (vec_id, v double[]); ``cw``: the
    FROZEN codebook (code, m, cv), tiny and broadcast."""
    spark = vectors.sparkSession
    subs = spark.range(_PQ_M).select(F.col("id").cast("int").alias("m"))
    sub_v = vectors.crossJoin(F.broadcast(subs)).select(
        "vec_id", "m", F.slice("v", F.col("m") * _PQ_SUB + 1, _PQ_SUB).alias("sv")
    )
    w_pq = W.partitionBy("vec_id", "m").orderBy("d", "code")
    return (
        sub_v.join(F.broadcast(cw), "m")
        .select("vec_id", "m", "code", _t6(_l2(F.col("sv"), F.col("cv"))).alias("d"))
        .withColumn("rn", F.row_number().over(w_pq))
        .filter(F.col("rn") == 1)
        .select("vec_id", "m", "code")
    )


def build_index(embeddings: DataFrame, path: str) -> dict:
    """Materialize the IVF-PQ index for an (vec_id, embedding) frame.

    Build cost: two broadcast passes over the vectors (cell
    assignment + PQ encoding) and one shuffle on cid to cluster the
    codes by cell. Returns the relation row counts."""
    e = embeddings.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    ).withColumn("nrm", F.sqrt(_dot(F.col("v"), F.col("v"))))
    cent = e.filter(F.col("vec_id") < _K_CELLS).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv"), F.col("nrm").alias("cn")
    )
    cells = assign_cells(e.select("vec_id", "v"), cent)
    spark = embeddings.sparkSession
    subs = spark.range(_PQ_M).select(F.col("id").cast("int").alias("m"))
    sub_v = e.crossJoin(F.broadcast(subs)).select(
        "vec_id", "m", F.slice("v", F.col("m") * _PQ_SUB + 1, _PQ_SUB).alias("sv")
    )
    cw = (
        sub_v.filter(F.col("vec_id") < _PQ_K)
        .select(F.col("vec_id").alias("code"), "m", F.col("sv").alias("cv"))
    )
    codes = pq_encode(e.select("vec_id", "v"), cw)
    # co-locate codes with their cell: one shuffle on cid at BUILD
    # time buys cell-pruned reads on every future search
    codes_by_cell = codes.join(cells, "vec_id")
    cent.select("cid", "cv").write.mode("overwrite").parquet(os.path.join(path, "centroids"))
    cw.write.mode("overwrite").parquet(os.path.join(path, "codebook"))
    # cells is hash-bucketed by vec_id (operators/upsert.py layout):
    # it doubles as the REVERSE index (vec_id -> cid) incremental
    # maintenance needs to locate a touched key's old codes partition
    # with a bucket-pruned read instead of a codes scan
    from wire_spark.operators.upsert import write_initial

    write_initial(cells, os.path.join(path, "cells"), "vec_id",
                  n_buckets=_CELLS_BUCKETS)
    (
        codes_by_cell.repartition("cid")
        .write.mode("overwrite")
        .partitionBy("cid")
        .parquet(os.path.join(path, "codes"))
    )
    # build-time quantization error per subspace: the baseline the
    # drift_report retrain signal compares against (one more
    # |corpus| x m x k broadcast pass, same shape as the encoding)
    quantization_error(e.select("vec_id", "v"), cw).write.mode(
        "overwrite").parquet(os.path.join(path, "qerror"))
    # count the WRITTEN tables, not the logical plans: counting the
    # plans would recompute the full assignment/encoding pipeline a
    # second and third time (observed ~2x build wall time), while a
    # parquet count folds to row-group metadata
    return {
        "cells": spark.read.parquet(os.path.join(path, "cells")).count(),
        "codes": spark.read.parquet(os.path.join(path, "codes")).count(),
        "centroids": _K_CELLS,
        "codebook_rows": _PQ_K * _PQ_M,
    }


def search_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """Top-``k`` neighbors per query from the STORED index.

    ``queries``: (qid, embedding). The codes read is partition-pruned
    to the probed cells (partitionBy(cid) layout + an equi-join on
    cid); centroids and the per-query distance tables broadcast."""
    cent = spark.read.parquet(os.path.join(path, "centroids")).withColumn(
        "cn", F.sqrt(_dot(F.col("cv"), F.col("cv")))
    )
    cw = spark.read.parquet(os.path.join(path, "codebook"))
    codes = spark.read.parquet(os.path.join(path, "codes"))
    q = queries.select(
        "qid", F.transform("embedding", lambda x: x.cast("double")).alias("qv")
    ).withColumn("qn", F.sqrt(_dot(F.col("qv"), F.col("qv"))))
    w_probe = W.partitionBy("qid").orderBy(F.desc("csim"), F.asc("cid"))
    probes = (
        q.crossJoin(F.broadcast(cent))
        .select("qid", "qv", "qn", "cid",
                _t6(_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("csim"))
        .withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= nprobe)
        .select("qid", "qv", "cid")
    )
    spark_m = spark.range(_PQ_M).select(F.col("id").cast("int").alias("m"))
    qsub = (
        probes.select("qid", "qv").distinct()
        .crossJoin(F.broadcast(spark_m))
        .select("qid", "m", F.slice("qv", F.col("m") * _PQ_SUB + 1, _PQ_SUB).alias("qsv"))
    )
    dist_table = (
        qsub.join(F.broadcast(cw), "m")
        .select("qid", "m", "code", _l2(F.col("qsv"), F.col("cv")).alias("qd"))
    )
    # candidates: codes of the probed cells only (partition-pruned read)
    cand_codes = codes.join(
        probes.select("qid", "cid").distinct(), "cid"
    ).filter(F.col("vec_id") != F.col("qid"))
    adc = (
        cand_codes.alias("s")
        .join(F.broadcast(dist_table).alias("t"),
              (F.col("s.qid") == F.col("t.qid"))
              & (F.col("s.m") == F.col("t.m"))
              & (F.col("s.code") == F.col("t.code")))
        .groupBy(F.col("s.qid").alias("qid"), F.col("s.vec_id").alias("nid"))
        .agg(F.sum(F.floor(F.col("t.qd") * F.lit(1000000.0)).cast("long")).alias("adist_i"))
    )
    w_top = W.partitionBy("qid").orderBy("adist_i", F.asc("nid"))
    return (
        adc.withColumn("rn", F.row_number().over(w_top))
        .filter(F.col("rn") <= k)
        .select("qid", "nid", (F.col("adist_i") / F.lit(1000000.0)).alias("adist"), "rn")
        .orderBy("qid", "rn")
    )


# --------------------------------------------------------------------
# Incremental maintenance: CDC fold -> assignment update
# --------------------------------------------------------------------

def fold_vector_delta(changes: DataFrame) -> DataFrame:
    """Fold a vector change log into a per-key delta — TOMBSTONES
    INCLUDED — ready to merge into a stored cells relation.

    ``changes`` is the CDC envelope shape (transforms/cdc.py
    CDC_SCHEMA field names; reference sources/mongo.go:23-41) with
    ``document_id`` a vector key and ``full_document`` the vector
    payload (array<double> — the fold is payload-type-agnostic).
    Reuses ``checkpoint_state``: the (cluster_time, resume_token)
    argmax decides each key's winning op, and tombstones survive the
    fold because an index MERGE needs them to DELETE entries — the
    same retention argument the CDC restart protocol proved
    (transforms/cdc.py:checkpoint_state point 2).

    Returns (vec_id, op, v) with v NULL on tombstones.  One shuffle
    on the key; cost O(|log|), output O(|distinct keys touched|).
    """
    from wire_spark.transforms.cdc import checkpoint_state

    return checkpoint_state(changes).select(
        F.col("document_id").alias("vec_id"),
        F.col("operation_type").alias("op"),
        F.col("full_document").alias("v"),
    )


def update_cells(cells: DataFrame, delta: DataFrame,
                 cent: DataFrame) -> DataFrame:
    """Incrementally maintain the IVF cells relation under a folded
    CDC delta: the streaming-first reference's identity (README.md:7)
    applied to the index surface — the index follows the change
    stream instead of being rebuilt.

    - every touched key (upsert OR tombstone) leaves ``cells`` via
      one left-anti join on vec_id;
    - upserted vectors are (re)assigned against the FROZEN trained
      centroids with the same ``assign_cells`` kernel the full build
      uses, so incremental == rebuild is bit-identical by
      construction (centroid retraining is a periodic build concern,
      not a per-batch one — production IVF systems pin the codebook
      between retrains for exactly this reason);
    - the union carries ``changed`` = 1 on re-assigned rows so a
      caller can meter churn per cell;
    - an upsert whose payload is NULL (a Mongo update event delivered
      WITHOUT fullDocument lookup) cannot be assigned — its K cosine
      similarities would all be NULL and the NULLS-LAST/tie-break
      ordering would silently park it in cell 0. Such a
      key is treated as a TOMBSTONE for the index: it leaves via the
      touched anti join and re-enters on the next payload-bearing
      change, the same don't-guess rule as the ``_valid_vectors``
      domain gate.

    Scale: the distance kernel runs on |delta upserts| x K rows ONLY
    — restart-cost O(changes), never O(corpus); the anti join
    shuffles on vec_id (or stays shuffle-free when ``cells`` is
    bucketed by vec_id at rest).  Inside foreachBatch against the
    stored cells table this is the per-microbatch MERGE.
    """
    from wire_spark.transforms.cdc import _UPSERTS

    touched = delta.select("vec_id")
    live = delta.filter(
        F.col("op").isin(*_UPSERTS) & F.col("v").isNotNull()
    ).select("vec_id", "v")
    survivors = cells.join(touched, "vec_id", "left_anti").select(
        "vec_id", "cid", F.lit(0).alias("changed")
    )
    reassigned = assign_cells(live, cent).select(
        "vec_id", "cid", F.lit(1).alias("changed")
    )
    return survivors.unionByName(reassigned)


def merge_cells_update(spark: SparkSession, path: str, delta: DataFrame,
                       cent: DataFrame, n_buckets: int | None = None) -> int:
    """MERGE a folded CDC delta into the STORED cells table — the
    ``foreachBatch`` body of a streaming index-maintenance pipeline
    (changelog stream -> ``fold_vector_delta`` -> this).

    The cells table lives as hash-bucketed parquet
    (operators/upsert.py): upserted vectors are re-assigned against
    the frozen trained centroids with ``assign_cells`` and MERGEd,
    tombstoned keys are deleted, and only the buckets the touched
    keys hash into are rewritten — per-microbatch cost
    O(|delta| x K distance evals + touched buckets), never O(table).
    Returns the number of partitions rewritten.

    Ordering: the per-batch fold resolves intra-batch duplicates by
    the CDC (cluster_time, resume_token) order; ACROSS microbatches
    the stream's delivery order decides, the same monotone-token
    assumption every foreachBatch CDC consumer makes — out-of-order
    replay after a restart is the checkpoint/resume protocol's job
    (transforms/cdc.py:resume_apply, pinned by cdc_resume_restart).

    ``n_buckets`` defaults to the count the stored table was written
    with (the ``_n_buckets=`` marker); passing a different count
    raises instead of silently duplicating keys.  A
    NULL-payload upsert is routed to the delete side — it cannot be
    assigned, and leaving the stale row would diverge from
    ``update_cells`` (see its docstring).
    """
    from wire_spark.operators.upsert import merge_upsert, stored_bucket_count
    from wire_spark.transforms.cdc import _UPSERTS

    if n_buckets is None:
        n_buckets = stored_bucket_count(spark, path) or 16
    live = delta.filter(
        F.col("op").isin(*_UPSERTS) & F.col("v").isNotNull()
    ).select("vec_id", "v")
    assigned = assign_cells(live, cent)
    dead = delta.filter(
        ~F.col("op").isin(*_UPSERTS) | F.col("v").isNull()
    ).select("vec_id")
    return merge_upsert(spark, path, assigned, "vec_id",
                        n_buckets=n_buckets, delete_keys=dead)


def merge_index_update(spark: SparkSession, path: str,
                       delta: DataFrame) -> int:
    """MERGE a folded CDC delta into the FULL stored IVF-PQ index
    (build_index layout) — both relations search reads stay fresh:

    - ``cells`` (the vec_id-bucketed reverse index) upserts via
      operators/upsert.py merge_upsert — touched buckets only;
    - ``codes`` (partitioned by cid) rewrites only the AFFECTED cid
      partitions: the old partition of every touched key comes from a
      bucket-pruned reverse-index read (never a codes scan), the new
      partition from re-assigning the upserted vectors against the
      frozen centroids; upserted vectors are re-encoded against the
      frozen codebook with the same ``pq_encode`` kernel the build
      uses.

    Centroids and codebook are FROZEN — retraining is a periodic
    rebuild concern; between retrains the incremental index is
    bit-identical to a frozen-codebook rebuild (test-pinned).

    Cost per batch: |delta| x K cosine evals + |delta| x k x m code
    distances + (touched cells buckets + affected cid partitions)
    rewrites — O(changes), never O(corpus).  The affected-cid
    collect is bounded by _K_CELLS.  Returns #affected cid
    partitions."""
    from wire_spark.operators.upsert import (
        BUCKET_COL, _with_bucket, merge_upsert, stored_bucket_count)
    from wire_spark.queries._util import materialize, release_tracked_caches
    from wire_spark.transforms.cdc import _UPSERTS

    cells_path = os.path.join(path, "cells")
    codes_path = os.path.join(path, "codes")
    # the stored table's own bucket count, never an assumed constant —
    # a mismatched count hashes keys into different buckets and the
    # reverse-index read silently misses the old rows
    n_buckets = stored_bucket_count(spark, cells_path) or _CELLS_BUCKETS
    cent = spark.read.parquet(os.path.join(path, "centroids")).withColumn(
        "cn", F.sqrt(_dot(F.col("cv"), F.col("cv"))))
    cw = spark.read.parquet(os.path.join(path, "codebook"))

    # the folded delta feeds FIVE consumers (touched keys, old-cid
    # lookup, live re-assignment, new-cid collect, tombstone side);
    # left lazy, each re-executes the CDC fold window over the log —
    # materialize once, bounded O(|distinct keys touched|) by the
    # fold's definition.  Every checkpoint taken here is freed before
    # returning: a stream calls this once per micro-batch.
    delta = materialize(delta)
    assigned = merged = None
    try:
        touched = delta.select("vec_id").distinct()
        # old cid of every touched key: bucket-pruned reverse-index read
        tb = _with_bucket(touched, "vec_id", n_buckets)
        tbuckets = [r[BUCKET_COL] for r in tb.select(BUCKET_COL).distinct().collect()]
        old_cids = {
            r.cid
            for r in spark.read.parquet(cells_path)
            .filter(F.col(BUCKET_COL).isin(tbuckets))
            .join(touched, "vec_id")
            .select("cid").distinct().collect()
        }

        # NULL-payload upserts route to the delete side (update_cells
        # docstring: a vector we cannot assign must not be guessed into
        # cell 0 — it re-enters on the next payload-bearing change)
        live = delta.filter(
            F.col("op").isin(*_UPSERTS) & F.col("v").isNotNull()
        ).select("vec_id", "v")
        # assigned feeds the codes union, the new-cid collect, AND the
        # cells merge — materialize the |delta|-row assignment once
        assigned = materialize(assign_cells(live, cent))
        new_codes = pq_encode(live, cw).join(assigned, "vec_id")
        new_cids = {r.cid for r in assigned.select("cid").distinct().collect()}
        affected = sorted(old_cids | new_cids)

        if affected:
            target = spark.read.parquet(codes_path).filter(
                F.col("cid").isin(affected))
            kept = target.join(touched, "vec_id", "left_anti")
            # upsert.py lesson: dynamic overwrite deletes the files a lazy
            # plan would re-read
            merged = materialize(
                kept.select("vec_id", "m", "code", "cid")
                .unionByName(new_codes.select("vec_id", "m", "code", "cid"))
            )
            # one file per rewritten cid partition (upsert.py small-files
            # rule): the searches this layout serves read whole cid
            # partitions and pay an open/footer cost per file
            (merged.repartition(max(1, len(affected)), F.col("cid"))
             .write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy("cid").parquet(codes_path))
            # a cid whose every key was deleted leaves no row in `merged`
            # — dynamic overwrite never rewrites it; clear explicitly
            present = {r.cid for r in merged.select("cid").distinct().collect()}
            emptied = [c for c in affected if c not in present]
            if emptied:
                hconf = spark._jsc.hadoopConfiguration()
                for c in emptied:
                    p = spark._jvm.org.apache.hadoop.fs.Path(
                        f"{codes_path}/cid={c}")
                    p.getFileSystem(hconf).delete(p, True)

        dead = delta.filter(
            ~F.col("op").isin(*_UPSERTS) | F.col("v").isNull()
        ).select("vec_id")
        merge_upsert(spark, cells_path, assigned, "vec_id",
                     n_buckets=n_buckets, delete_keys=dead)
        return len(affected)
    finally:
        release_tracked_caches(
            *(d for d in (delta, assigned, merged) if d is not None))


# --------------------------------------------------------------------
# Retrain signal: quantization drift vs the frozen codebook
# --------------------------------------------------------------------

def quantization_error(vectors: DataFrame, cw: DataFrame) -> DataFrame:
    """Per-subspace quantization error of ``vectors`` against a FROZEN
    codebook: (m, n, mean_err6, p95_err6) where err is the L2 distance
    from each subvector to its NEAREST codebook entry, floor-truncated
    to 1e-6 fixed point (the engine-parity convention) and aggregated
    in integer domain so the statistic is deterministic.

    This is the monitoring half of the frozen-codebook contract:
    ``merge_index_update`` keeps the index exact w.r.t. the frozen
    centroids/codebook forever, but ADC RANKING quality decays as the
    corpus drifts away from the codebook's training distribution.
    Cost: one |vectors| x m x k broadcast pass — the same shape as
    ``pq_encode``, no shuffle of the vector table."""
    spark = vectors.sparkSession
    subs = spark.range(_PQ_M).select(F.col("id").cast("int").alias("m"))
    sub_v = vectors.crossJoin(F.broadcast(subs)).select(
        "vec_id", "m", F.slice("v", F.col("m") * _PQ_SUB + 1, _PQ_SUB).alias("sv")
    )
    w_near = W.partitionBy("vec_id", "m").orderBy("d6", "code")
    nearest = (
        sub_v.join(F.broadcast(cw), "m")
        .select("vec_id", "m", "code",
                F.floor(_l2(F.col("sv"), F.col("cv")) * F.lit(1000000.0))
                .cast("long").alias("d6"))
        .withColumn("rn", F.row_number().over(w_near))
        .filter(F.col("rn") == 1)
    )
    return (
        nearest.groupBy("m")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.col("d6").cast("decimal(38,0)"))
             / F.count(F.lit(1)) / F.lit(1000000.0)).cast("double")
            .alias("mean_err6"),
            (F.percentile_approx("d6", 0.95, 10000) / F.lit(1000000.0))
            .cast("double").alias("p95_err6"),
        )
        .orderBy("m")
    )


def drift_report(spark: SparkSession, path: str,
                 vectors: DataFrame) -> DataFrame:
    """Compare the CURRENT corpus's quantization error against the
    error recorded at build time (``qerror/``) — the retrain trigger.

    Returns (m, n, mean_err6, p95_err6, build_mean_err6, drift_ratio)
    where drift_ratio = current mean / build mean per subspace; a
    sustained ratio well above 1 means the frozen codebook no longer
    represents the corpus and a periodic rebuild should be scheduled.
    The incremental index stays CORRECT regardless (bit-identical to
    a frozen-codebook rebuild by construction) — this measures
    RANKING quality of the quantization, the one thing maintenance
    cannot preserve under distribution shift."""
    cw = spark.read.parquet(os.path.join(path, "codebook"))
    build_err = spark.read.parquet(os.path.join(path, "qerror")).select(
        "m", F.col("mean_err6").alias("build_mean_err6"))
    cur = quantization_error(vectors, cw)
    return (
        cur.join(F.broadcast(build_err), "m")
        .withColumn(
            "drift_ratio",
            F.when(F.col("build_mean_err6") > 0,
                   F.col("mean_err6") / F.col("build_mean_err6"))
            .otherwise(F.lit(None).cast("double")))
        .orderBy("m")
    )


def cell_balance_report(spark: SparkSession, path: str) -> DataFrame:
    """Per-cell occupancy of the stored index and the skew statistics
    a probe planner cares about: (cid, n_vecs, share, skew_ratio)
    where share = n_vecs / total and skew_ratio = n_vecs / (total/K).

    At 100 TB a skewed cell IS a hot partition: a probe that lands on
    a cell holding 5x its fair share scans 5x the codes, and the
    worst cell bounds tail latency for every query probing it.  The
    companion signal to ``drift_report`` — drift says the CODEBOOK no
    longer fits the corpus, imbalance says the CENTROIDS no longer
    partition it evenly; either one sustained is the retrain trigger.
    Cost: one codes scan folded to per-partition counts (parquet
    row-group metadata per cid partition — no row materialization)."""
    codes = spark.read.parquet(os.path.join(path, "codes"))
    per_cell = (
        codes.groupBy("cid")
        .agg((F.count(F.lit(1)) / F.lit(_PQ_M)).cast("long").alias("n_vecs"))
    )
    tot = per_cell.agg(F.sum("n_vecs").alias("t"),
                       F.count(F.lit(1)).alias("k"))
    return (
        per_cell.crossJoin(F.broadcast(tot))
        .select(
            "cid", "n_vecs",
            (F.col("n_vecs") / F.col("t")).alias("share"),
            (F.col("n_vecs") * F.col("k") / F.col("t")).alias("skew_ratio"),
        )
        .orderBy("cid")
    )
