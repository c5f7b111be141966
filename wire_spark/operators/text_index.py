"""MinHash-LSH text index at rest: build once into parquet, probe
new batches from storage — the text-dedup sibling of
``vector_index.py``.

The catalog queries (``dedup_minhash_lsh``, ``dedup_incremental_lsh``)
compute signatures inline per run — right for the oracle gate, but a
production corpus signs each document ONCE and amortizes the index
over every future ingest batch.  This module materializes three
relations:

- ``bands/``     (doc_id, band, bsig)  partitioned by ``pb`` =
                 hash(band, bsig) % 64 — a probe batch reads only the
                 band-buckets its own signatures land in
- ``shingles/``  (doc_id, shingle)     partitioned by ``db`` =
                 doc_id % 64 — the exact-verify step reads only the
                 candidate docs' buckets
- ``sizes/``     (doc_id, n)           doc-grain, tiny per row

Probe = sign the new batch (same arithmetic as the catalog queries:
one md5 per shingle, 24 Carter-Wegman permutations, 6 bands of 4),
join the stored bands on (band, bsig) — with the touched ``pb``
partitions pushed as an IN-literal so the scan is PARTITION-PRUNED,
not just filtered — then exact-verify Jaccard on candidates only,
reading only the touched ``db`` shingle buckets.

The driver-side ``collect()`` of touched bucket ids is bounded by
construction (<= 64 values each — the ``upsert.py`` touched-bucket
discipline), never by corpus or batch size.  At 100 TB raise the
bucket counts with the corpus; the probe cost stays proportional to
the BATCH (signatures) plus the touched buckets (candidate grain),
never the indexed corpus.

Append = the same builder in append mode: signatures are per-doc
(never global state), so incrementally indexed corpora are
bit-identical to a from-scratch build — asserted in
tests/test_text_index.py.

Streaming ingest dedup = ``append_and_probe`` inside ``foreachBatch``:
each micro-batch is a static frame, so it is appended and probed with
the same kernel — no second MinHash form and no streaming state.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wire_spark.queries._util import md5_long, t4, word_shingles

_N_BUCKETS = 64  # hive partitions per relation; scale with corpus


def _doc_shingles(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id", F.explode(word_shingles("text", 3)).alias("shingle")
    )


def _band_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, band, bsig) — DELEGATES to the catalog's
    ``minhash_band_signatures`` (queries/dedup.py), the single home
    of the MinHash arithmetic: stored signatures and freshly-signed
    probes must agree bit-for-bit, so the index must never carry its
    own copy that could drift (r9 review finding)."""
    from wire_spark.queries.dedup import minhash_band_signatures

    return minhash_band_signatures(_doc_shingles(docs))


def _pb(band, bsig):
    # deterministic bucket of a band signature: the same md5-derived
    # integer arithmetic as every other hash in the repo, so probe
    # and build can never disagree on a bucket
    return md5_long(F.concat_ws(":", band.cast("string"), bsig)) % _N_BUCKETS


def _write_index(docs: DataFrame, path: str, mode: str) -> None:
    # sizes/ is written LAST: a doc_id there means its bands and
    # shingles are stored, which append_and_probe's replay check reads
    bands = _band_signatures(docs).withColumn("pb", _pb(F.col("band"), F.col("bsig")))
    sh = _doc_shingles(docs).withColumn("db", F.col("doc_id") % _N_BUCKETS)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    (
        bands.repartition("pb")
        .write.mode(mode).partitionBy("pb").parquet(os.path.join(path, "bands"))
    )
    (
        sh.repartition("db")
        .write.mode(mode).partitionBy("db").parquet(os.path.join(path, "shingles"))
    )
    sizes.write.mode(mode).parquet(os.path.join(path, "sizes"))


def build_minhash_index(docs: DataFrame, path: str, mode: str = "overwrite") -> dict:
    """Materialize (or, with ``mode='append'``, extend) the index for
    a (doc_id, text) frame.  Signatures are per-document — no global
    state — so appended batches compose bit-identically with a
    from-scratch build over the union.  Returns the stored index's
    total band/doc row counts after this write (metadata-only scans
    of the just-written parquet)."""
    _write_index(docs, path, mode)
    # stats from the JUST-WRITTEN parquet (footer-metadata counts) —
    # counting the lazy frames would re-run the whole signing
    # pipeline twice more (r9 review finding)
    spark = docs.sparkSession
    return {
        "bands": spark.read.parquet(os.path.join(path, "bands")).count(),
        "docs": spark.read.parquet(os.path.join(path, "sizes")).count(),
    }


def probe_minhash_index(
    spark: SparkSession,
    path: str,
    new_docs: DataFrame,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-dup pairs (index_doc_id, new_doc_id, jaccard) between the
    STORED corpus and a new (doc_id, text) batch.

    Candidate generation touches only the ``pb`` partitions the
    batch's own signatures hash into, and exact verification touches
    only the ``db`` partitions of candidate docs — both pushed as
    IN-literals so the scans are partition-pruned (plan-asserted in
    tests/test_text_index.py).  Recall is the LSH band guarantee
    (identical docs share every band, so exact duplicates are always
    candidates); precision is 1.0 by exact Jaccard verification."""
    nb = _band_signatures(new_docs).withColumn(
        "pb", _pb(F.col("band"), F.col("bsig"))
    )
    # the touched-bucket collects below EXECUTE the batch-side
    # signing, and the final plan re-derives it lazily — deliberate:
    # re-signing a bounded batch is cheaper than a checkpoint, and it
    # keeps the whole probe (including both partition-pruned stored
    # scans) in ONE inspectable plan (tests assert PartitionFilters)
    touched_pb = sorted({r.pb for r in nb.select("pb").distinct().collect()})
    no_pairs = nb.select(
        F.col("doc_id").alias("d1"), F.col("doc_id").alias("d2"),
        F.lit(0.0).alias("jaccard"),
    ).limit(0)
    if not touched_pb:  # every batch doc is under 3 words: no bands
        return no_pairs
    bands = spark.read.parquet(os.path.join(path, "bands")).filter(
        F.col("pb").isin(touched_pb)
    )
    cand = (
        bands.alias("i")
        .join(
            nb.alias("q"),
            (F.col("i.pb") == F.col("q.pb"))
            & (F.col("i.band") == F.col("q.band"))
            & (F.col("i.bsig") == F.col("q.bsig")),
        )
        .select(
            F.col("i.doc_id").alias("d1"), F.col("q.doc_id").alias("d2")
        )
        .distinct()
        .withColumn("db", F.col("d1") % _N_BUCKETS)
    )
    touched_db = sorted({r.db for r in cand.select("db").distinct().collect()})
    if not touched_db:
        return no_pairs
    ish = spark.read.parquet(os.path.join(path, "shingles")).filter(
        F.col("db").isin(touched_db)
    )
    isz = spark.read.parquet(os.path.join(path, "sizes"))
    qsh = _doc_shingles(new_docs)
    qsz = qsh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        cand.join(ish.select(F.col("doc_id").alias("d1"), "shingle"), "d1")
        .join(qsh.select(F.col("doc_id").alias("d2"), "shingle"), ["d2", "shingle"])
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    jac = F.col("i") * F.lit(1.0) / (F.col("n1") + F.col("n2") - F.col("i"))
    return (
        inter.join(isz.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1")), "d1")
        .join(F.broadcast(qsz.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2"))), "d2")
        .filter(jac >= threshold)
        .select("d1", "d2", t4(jac).alias("jaccard"))
    )


def append_and_probe(batch: DataFrame, path: str) -> DataFrame:
    """Incremental near-dup detection for one static (doc_id, text)
    micro-batch — the body of a ``foreachBatch`` ingest dedup.

    1. Appends to the index at ``path`` (created on the first call)
       the batch documents it does not already hold: a left-anti join
       on the stored ``sizes/``, so a replayed micro-batch appends
       nothing.
    2. Probes the batch against the index — which now holds every
       earlier batch and this one — with ``probe_minhash_index`` at
       its 0.8 threshold.
    3. Returns exact-verified (d1, d2, jaccard) pairs.  d2 is always a
       batch document; d1 is an earlier indexed document or, for a
       pair inside the batch, the smaller id — each such pair appears
       once.  Self-pairs are dropped.

    The contract is verified pairs, not candidate buckets: precision
    is 1.0 and the consumer runs no exact check of its own.  Calling
    it again on an applied batch leaves the three relations unchanged
    and returns the same pairs (plus any with documents indexed
    since).  Documents under 3 words have no shingles, so they never
    pair.  ``sizes/`` is written last; a crash between the three
    relation writes leaves bands/shingles rows that the replay appends
    again — the same window ``build_minhash_index(mode="append")``
    has.
    """
    spark = batch.sparkSession
    sizes = os.path.join(path, "sizes")
    new = batch
    p = spark._jvm.org.apache.hadoop.fs.Path(sizes)
    if p.getFileSystem(spark._jsc.hadoopConfiguration()).exists(p):
        stored = spark.read.parquet(sizes).select("doc_id")
        new = batch.join(stored, "doc_id", "left_anti")
    _write_index(new, path, mode="append")
    in_batch = batch.select(F.col("doc_id").alias("d1"), F.lit(True).alias("both"))
    return (
        probe_minhash_index(spark, path, batch)
        .join(in_batch, "d1", "left")
        .filter(F.col("both").isNull() | (F.col("d1") < F.col("d2")))
        .select("d1", "d2", "jaccard")
    )
