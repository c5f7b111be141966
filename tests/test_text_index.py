"""At-rest MinHash text index: build/probe parity with the inline
catalog dedup queries, incremental-append equivalence,
partition-pruned probe scans, and the append-then-probe step of
streaming dedup (replay and short documents)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from wire_spark.engine import load_table
from wire_spark.operators.text_index import (
    append_and_probe,
    build_minhash_index,
    probe_minhash_index,
)


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").select("doc_id", "text")


def test_probe_finds_exact_duplicates_with_exact_jaccard(spark, sf_dir, tmp_path):
    """Plant exact copies of indexed docs in the probe batch: every
    copy MUST surface (identical docs share all 6 bands — the LSH
    recall guarantee for duplicates) at jaccard 1.0, and every
    reported pair must exact-verify (precision 1.0 by construction:
    recompute jaccard brute-force for each reported pair)."""
    d = _docs(spark, sf_dir)
    idx = str(tmp_path / "tix")
    stats = build_minhash_index(d, idx)
    assert stats["docs"] == d.count()

    copies = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    n_copies = copies.count()
    assert n_copies > 0
    got = probe_minhash_index(spark, idx, copies, threshold=0.8)
    rows = got.collect()
    # every planted copy found against its original, at 1.0
    found = {(r.d1, r.d2): r.jaccard for r in rows}
    for r in copies.select("doc_id").collect():
        orig = r.doc_id - 1_000_000
        assert found.get((orig, r.doc_id)) == 1.0, (orig, r.doc_id)
    # precision: every reported pair >= 0.8 under brute-force jaccard
    from wire_spark.queries._util import word_shingles

    sh_i = d.select("doc_id", F.explode(word_shingles("text", 3)).alias("s"))
    sh_q = copies.select("doc_id", F.explode(word_shingles("text", 3)).alias("s"))
    for r in rows:
        a = {x.s for x in sh_i.filter(F.col("doc_id") == r.d1).collect()}
        b = {x.s for x in sh_q.filter(F.col("doc_id") == r.d2).collect()}
        jac = len(a & b) / len(a | b)
        assert jac >= 0.8 and abs(jac - r.jaccard) < 1e-3, (r, jac)


def test_incremental_append_equals_full_build(spark, sf_dir, tmp_path):
    """Per-doc signatures carry no global state, so append-built and
    from-scratch indexes must answer a probe identically."""
    d = _docs(spark, sf_dir)
    half1, half2 = d.filter(F.col("doc_id") % 2 == 0), d.filter(F.col("doc_id") % 2 == 1)

    full, incr = str(tmp_path / "full"), str(tmp_path / "incr")
    build_minhash_index(d, full)
    build_minhash_index(half1, incr)
    build_minhash_index(half2, incr, mode="append")

    probe = d.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"
    )
    got_full = sorted(map(tuple, probe_minhash_index(spark, full, probe).collect()))
    got_incr = sorted(map(tuple, probe_minhash_index(spark, incr, probe).collect()))
    assert got_full == got_incr and got_full


def test_probe_scans_are_partition_pruned(spark, sf_dir, tmp_path):
    """The probe's stored-bands and stored-shingles scans must carry
    PartitionFilters on pb/db (IN-literal pruning from the batch's
    own touched buckets), so probe IO is proportional to the batch,
    never the indexed corpus."""
    d = _docs(spark, sf_dir)
    idx = str(tmp_path / "tixp")
    build_minhash_index(d, idx)
    probe = d.filter(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"), "text"
    )
    out = probe_minhash_index(spark, idx, probe)
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re

    assert re.search(r"PartitionFilters: \[pb#\d+ INSET", plan), plan[:2000]
    assert re.search(r"PartitionFilters: \[db#\d+ INSET", plan), plan[:2000]


def test_append_and_probe_replay_appends_nothing(spark, sf_dir, tmp_path):
    """foreachBatch redelivers the last uncommitted batch on restart:
    applying a batch twice must leave every stored relation's row
    count unchanged and return the same verified pairs."""
    d = _docs(spark, sf_dir)
    idx = str(tmp_path / "tixr")

    def counts():
        return {
            rel: spark.read.parquet(os.path.join(idx, rel)).count()
            for rel in ("sizes", "bands", "shingles")
        }

    first = sorted(map(tuple, append_and_probe(d, idx).collect()))
    after_first = counts()
    again = sorted(map(tuple, append_and_probe(d, idx).collect()))
    assert counts() == after_first
    assert after_first["sizes"] == d.filter(F.size(F.split("text", " ")) >= 3).count()
    assert again == first and first  # non-vacuous
    assert all(d1 < d2 for d1, d2, _ in first)  # one row per in-batch pair


def test_append_and_probe_short_documents_never_pair(spark, tmp_path):
    """Documents under 3 words have no shingles, hence no signature:
    they must never pair — not with each other, not with their own
    copies — even when they are all a batch holds."""
    texts = ["", "hello world", "completely unrelated"]
    batch = spark.createDataFrame(
        list(enumerate(texts + texts, start=1)), "doc_id LONG, text STRING"
    )
    idx = str(tmp_path / "tixs")
    assert append_and_probe(batch, idx).collect() == []
    assert append_and_probe(batch, idx).collect() == []
