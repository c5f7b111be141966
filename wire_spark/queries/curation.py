"""Corpus-curation operators: benchmark decontamination, length
bucketing, and sequence-packing planning — the remaining standard ops
of a training-data pipeline (alongside dedup/, sampling.py, text.py).

All JVM-side column ops with exact-integer or floor-truncated outputs
so the DuckDB oracles match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from wire_spark.catalog import register
from wire_spark.queries._util import T, md5_long, t4, word_shingles

# --------------------------------------------------------------------
# benchmark decontamination: n-gram overlap vs a held-out probe set
# --------------------------------------------------------------------

_DECONTAM_ORACLE = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         unnest([ words[i] || ' ' || words[i+1] || ' ' || words[i+2]
                  for i in range(1, len(words)-1) ]) AS shingle
  FROM w
), bench AS (
  SELECT doc_id FROM documents
  WHERE CAST(CONCAT('0x', SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 50 = 0
), probe AS (
  SELECT DISTINCT shingle FROM sh JOIN bench USING (doc_id)
), cand AS (
  SELECT sh.doc_id,
         count(*) AS n_shingles,
         count(*) FILTER (WHERE probe.shingle IS NOT NULL) AS n_overlap
  FROM sh
  LEFT JOIN probe ON sh.shingle = probe.shingle
  WHERE sh.doc_id NOT IN (SELECT doc_id FROM bench)
  GROUP BY sh.doc_id
)
SELECT doc_id, n_shingles, n_overlap,
       floor(n_overlap * 1.0 / n_shingles * 10000.0) / 10000.0 AS overlap_frac
FROM cand
WHERE n_overlap > 0
ORDER BY overlap_frac DESC, doc_id
LIMIT 20
"""


@register("decontamination_overlap", oracle=_DECONTAM_ORACLE, bench=True,
          doc="benchmark decontamination: 3-gram overlap of corpus docs "
              "against a held-out probe set, top-20 most contaminated")
def decontamination_overlap(spark, sf_dir):
    """Flag training documents that leak a held-out benchmark: the
    probe set is the distinct shingles of a deterministic 2% document
    sample (md5 % 50 — standing in for a real benchmark suite), and
    each candidate doc scores the fraction of ITS shingles found in the
    probe set. Scale shape: probe-set semi-scoring is a shuffle on
    shingle (same key as the dedup family — one co-partitioning
    serves all of them); the probe side is small enough to broadcast
    in a real deployment.
    """
    sh = (
        T(spark, sf_dir, "documents")
        .select("doc_id", F.explode(word_shingles("text", 3)).alias("shingle"))
    )
    is_bench = md5_long(F.col("doc_id").cast("string")) % 50 == 0
    bench_ids = (
        T(spark, sf_dir, "documents").filter(is_bench).select("doc_id")
    )
    probe = (
        sh.join(F.broadcast(bench_ids), "doc_id")
        .select("shingle").distinct()
        .withColumn("__hit", F.lit(1))
    )
    cand = (
        sh.join(F.broadcast(bench_ids), "doc_id", "left_anti")
        .join(probe, "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("__hit").alias("n_overlap"),
        )
    )
    frac = F.col("n_overlap") * F.lit(1.0) / F.col("n_shingles")
    return (
        cand.filter(F.col("n_overlap") > 0)
        .select("doc_id", "n_shingles", "n_overlap", t4(frac).alias("overlap_frac"))
        .orderBy(F.desc("overlap_frac"), F.asc("doc_id"))
        .limit(20)
    )


# --------------------------------------------------------------------
# token-length histogram (sequence-length planning)
# --------------------------------------------------------------------

_LENBUCKET_ORACLE = """
WITH lens AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
)
SELECT
  CASE WHEN n_tokens <= 64 THEN '<=64'
       WHEN n_tokens <= 128 THEN '<=128'
       WHEN n_tokens <= 256 THEN '<=256'
       WHEN n_tokens <= 512 THEN '<=512'
       ELSE '>512' END AS bucket,
  count(*) AS n_docs,
  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
  min(n_tokens) AS min_tokens,
  max(n_tokens) AS max_tokens
FROM lens
GROUP BY 1
ORDER BY min(n_tokens)
"""


@register("length_bucket_histogram", oracle=_LENBUCKET_ORACLE, bench=True,
          doc="token-length histogram in doubling buckets (sequence-length "
              "planning for packing/curriculum)")
def length_bucket_histogram(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.col("text"), " "))
    bucket = (
        F.when(n_tokens <= 64, "<=64")
        .when(n_tokens <= 128, "<=128")
        .when(n_tokens <= 256, "<=256")
        .when(n_tokens <= 512, "<=512")
        .otherwise(">512")
    )
    return (
        d.select(bucket.alias("bucket"), n_tokens.alias("n_tokens"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
        .orderBy("min_tokens")
    )


# --------------------------------------------------------------------
# sequence-packing plan (concat-and-chunk into fixed context windows)
# --------------------------------------------------------------------

_PACKING_ORACLE = """
WITH lens AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
), planned AS (
  SELECT doc_id, n_tokens,
         CAST(floor((sum(n_tokens) OVER (ORDER BY doc_id) - n_tokens) / 2048.0) AS BIGINT)
           AS bin
  FROM lens
)
SELECT bin,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
       floor(sum(n_tokens) * 1.0 / 2048 * 10000.0) / 10000.0 AS fill_ratio
FROM planned
GROUP BY bin
ORDER BY bin
"""


#: doc_ids per prefix-sum bucket (pass-1 granularity). At 100 TB pick
#: this so one bucket's rows fit a task (e.g. 1e6); the pass-1
#: aggregate is then n_docs / _PACK_BUCKET rows — small enough to
#: cumsum on the driver (or cascade one more level if not).
_PACK_BUCKET = 128


@register("sequence_packing_plan", oracle=_PACKING_ORACLE, bench=True,
          doc="concat-and-chunk packing plan: docs into 2048-token context "
              "bins by running token count, with per-bin fill ratios")
def sequence_packing_plan(spark, sf_dir):
    """Deterministic packing plan: documents in doc_id order are
    concatenated and chunked into 2048-token context windows; a doc's
    bin is its running-sum prefix divided by the context length (the
    streaming-concat packing every pretraining loader uses).

    The global running sum is a DISTRIBUTED two-pass prefix sum — a
    naive ``sum().over(W.orderBy(...))`` would move the whole corpus
    through one task (Exchange SinglePartition; plan-asserted against
    in tests/test_plans.py):

    1. bucket docs by ``floor(doc_id / _PACK_BUCKET)`` (deterministic
       order-preserving ranges, no sampling-based range partitioner
       whose bounds could differ between passes);
    2. aggregate per-bucket token totals and cumsum them into
       per-bucket offsets with a window over the BUCKET-GRAIN relation
       — n_docs/_PACK_BUCKET narrow rows through one task, never the
       corpus, and nothing round-trips the driver;
    3. broadcast-join the offsets back and window WITHIN each bucket
       only — every partition does bounded work, no global sort.

    At 100 TB, scale ``_PACK_BUCKET`` with the corpus (e.g. 1e6
    docs/bucket → ~10k offset rows at 10B docs) so both the offset
    window and its broadcast stay trivially bounded.

    Fill ratios audit padding waste."""
    d = T(spark, sf_dir, "documents")
    lens = d.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
        F.floor(F.col("doc_id") / F.lit(_PACK_BUCKET)).cast("long").alias("bkt"),
    )
    # pass 1: per-bucket totals -> exclusive cumsum over the bucket
    # grain (one narrow column through a deliberate single-partition
    # window — n_docs/_PACK_BUCKET rows, not the corpus)
    totals = lens.groupBy("bkt").agg(F.sum("n_tokens").alias("t"))
    w_off = W.orderBy("bkt").rowsBetween(W.unboundedPreceding, -1)
    off_df = totals.select(
        "bkt",
        F.coalesce(F.sum("t").over(w_off), F.lit(0)).alias("bkt_offset"),
    )
    # pass 2: within-bucket running sum + broadcast bucket offset
    w = W.partitionBy("bkt").orderBy("doc_id")
    planned = (
        lens.join(F.broadcast(off_df), "bkt")
        .withColumn(
            "bin",
            F.floor(
                (F.sum("n_tokens").over(w) + F.col("bkt_offset") - F.col("n_tokens"))
                / F.lit(2048.0)
            ).cast("long"),
        )
    )
    return (
        planned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("bin_tokens"),
            t4(F.sum("n_tokens") * F.lit(1.0) / F.lit(2048)).alias("fill_ratio"),
        )
        .orderBy("bin")
    )


# --------------------------------------------------------------------
# composed corpus-cleaning pipeline: exact dedup -> near-dup removal
# -> quality filter -> train/val/test split
# --------------------------------------------------------------------

from wire_spark.queries.dedup import _SHINGLES_CTE, _jaccard_pairs  # noqa: E402

_CLEAN_ORACLE = _SHINGLES_CTE + r"""
, inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), dup_pairs AS (
  SELECT d1, d2 FROM inter
  JOIN sizes s1 ON d1 = s1.doc_id
  JOIN sizes s2 ON d2 = s2.doc_id
  WHERE i * 1.0 / (s1.n + s2.n - i) >= 0.8
), ex AS (
  SELECT min(doc_id) AS keep FROM documents GROUP BY md5(text)
), clean AS (
  SELECT d.doc_id, d.n_chars,
         CAST(CONCAT('0x', SUBSTRING(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 100 AS b
  FROM documents d
  WHERE d.doc_id IN (SELECT keep FROM ex)
    AND d.doc_id NOT IN (SELECT d2 FROM dup_pairs)
    AND (0.4 * least(1.0, d.n_chars / 500.0)
       + 0.3 * (length(list_distinct(regexp_extract_all(d.text, '\S+'))) * 1.0
                / length(regexp_extract_all(d.text, '\S+')))
       + 0.3 * (length(regexp_extract_all(d.text, '\b(?:the|a|of|and|in)\b')) * 1.0
                / length(regexp_extract_all(d.text, '\S+')))) >= 0.4
)
SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
            ELSE 'test' END AS split,
       count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
       min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
FROM clean
GROUP BY 1 ORDER BY 1
"""


@register("corpus_clean_split", oracle=_CLEAN_ORACLE, bench=True,
          doc="composed cleaning pipeline: exact dedup -> near-dup "
              "removal -> quality filter -> 80/10/10 split summary")
def corpus_clean_split(spark, sf_dir):
    """The end-to-end corpus-curation flagship: compose four
    already-verified stages into ONE declarative plan — exact
    dedup (keep min doc_id per md5), near-dup removal (drop the
    higher id of every >=0.8-Jaccard pair), heuristic quality
    filter (same weighted score as ``text_quality_score``,
    full-precision threshold 0.4), then the deterministic
    80/10/10 hash split — and emit per-split doc/char totals.

    The point of composing INSIDE one DataFrame plan (vs running
    four jobs and materializing between them): no intermediate
    parquet round-trips — the keep-set (id-only) and the near-dup
    pair set (tiny, broadcast anti-join) flow straight into the main
    pass, whose scan evaluates the quality predicate in place. The
    corpus is scanned three times (md5 agg, shingle join, main
    pass), each scan pruned to just the columns that stage needs —
    at 100 TB the shingle scan is the one to replace with the LSH
    banding pass, which also reads text exactly once. Each stage is
    the already-audited scale shape (hash agg; capped shingle join
    — swap LSH edges per ``dedup_components_lsh`` at full scale;
    scan-local quality expression; hash-bucket split)."""
    from wire_spark.functions.text import stopword_tokens, ws_tokens
    from wire_spark.queries._util import md5_long

    docs = T(spark, sf_dir, "documents")
    keep = (
        docs.groupBy(F.md5(F.col("text")).alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    dup_d2 = _jaccard_pairs(spark, sf_dir, 0.8).select(
        F.col("d2").alias("doc_id")
    ).distinct()
    toks = ws_tokens("text")
    # nullif: zero-token docs get NULL quality on both engines (the
    # oracle's 0/0 NULL-bands, NULL >= 0.4 filters them out; Spark 4
    # ANSI would otherwise raise — unicode-sweep class)
    n_tokens = F.nullif(F.size(toks), F.lit(0))
    quality = (
        F.lit(0.4) * F.least(F.lit(1.0), F.col("n_chars") / F.lit(500.0))
        + F.lit(0.3) * (F.size(F.array_distinct(toks)) * F.lit(1.0) / n_tokens)
        + F.lit(0.3) * (F.size(stopword_tokens("text")) * F.lit(1.0) / n_tokens)
    )
    b = md5_long(F.col("doc_id").cast("string")) % 100
    clean = (
        docs.join(keep, "doc_id", "left_semi")
        .join(F.broadcast(dup_d2), "doc_id", "left_anti")
        .filter(quality >= F.lit(0.4))
        .select(
            "doc_id", "n_chars",
            F.when(b < 80, "train").when(b < 90, "val")
            .otherwise("test").alias("split"),
        )
    )
    return (
        clean.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("split")
    )


# --------------------------------------------------------------------
# sliding-window context chunking (size 128, stride 96)
# --------------------------------------------------------------------

_CHUNK_ORACLE = """
WITH lens AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
), starts AS (
  SELECT doc_id, n_tokens,
         unnest(generate_series(1, n_tokens, 96)) AS start
  FROM lens
), chunks AS (
  SELECT doc_id, n_tokens, start,
         least(128, n_tokens - start + 1) AS chunk_len
  FROM starts
)
SELECT doc_id, n_tokens,
       count(*) AS n_chunks,
       CAST(sum(chunk_len) AS BIGINT) AS emitted_tokens,
       CAST(sum(chunk_len) - n_tokens AS BIGINT) AS overlap_tokens
FROM chunks
GROUP BY doc_id, n_tokens
ORDER BY doc_id
LIMIT 50
"""


@register("context_chunking_plan", oracle=_CHUNK_ORACLE,
          doc="sliding-window context chunking (size 128, stride 96): "
              "per-doc chunk counts and overlap cost")
def context_chunking_plan(spark, sf_dir):
    """Split each document into overlapping context windows (chunk
    size 128 tokens, stride 96 => 32-token overlap) — the chunking
    every long-document pretraining pipeline runs before packing —
    and audit per-doc chunk counts and the token cost of the
    overlap. With ``sequence_packing_plan`` (bin packing) and
    ``train_val_test_split`` this completes the chunk -> pack ->
    split prep chain.

    The chunk windows are REAL (built with transform over
    sequence(start, stride) inside the scan projection — the same
    zero-shuffle array path as bigram extraction; a downstream
    consumer would explode these structs into training rows); this
    audit then aggregates them per doc. One shuffle for the per-doc
    rollup, TakeOrdered for the preview rows. Token arithmetic is
    all-integer, so the oracle (closed-form via generate_series)
    matches exactly."""
    d = T(spark, sf_dir, "documents")
    # the token count is bound through a one-element struct array so
    # the window lambda reads it as a FIELD of its own argument: the
    # earlier form captured size(split(text)) inside the lambda and
    # re-split the document once per chunk — O(tokens²/stride) per
    # doc, 64 s on the r11 longdocs corpus vs ~2 s for this form
    # n_tokens is NOT projected next to the explode: a column that
    # rides through a Generate gets re-evaluated per generated row
    # (the split ran once per chunk — quadratic on long docs, 32 s on
    # the r11 longdocs corpus).  The last chunk always ends at the
    # document's final token, so n_tokens is recovered in the rollup
    # as max(start + chunk_len - 1).
    chunks = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "flatten(transform("
                " array(named_struct('nt', size(split(text, ' ')))),"
                " d -> transform(sequence(1, d.nt, 96),"
                "  s -> struct(s AS start,"
                "   least(128, d.nt - s + 1) AS chunk_len))))"
            )
        ).alias("ch"),
    )
    return (
        chunks.groupBy("doc_id")
        .agg(
            F.max(F.col("ch.start") + F.col("ch.chunk_len") - 1)
            .cast("int").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("ch.chunk_len").alias("emitted_tokens"),
        )
        .select(
            "doc_id", "n_tokens", "n_chunks", "emitted_tokens",
            (F.col("emitted_tokens") - F.col("n_tokens")).alias("overlap_tokens"),
        )
        .orderBy("doc_id")
        .limit(50)
    )


# --------------------------------------------------------------------
# token-budget selection plan (quality-ranked greedy data selection)
# --------------------------------------------------------------------

_BUDGET_ORACLE = """
WITH per_doc AS (
  SELECT source,
         len(list_filter(string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' '), x -> x != ''))
           AS n_tokens,
         CAST(floor(len(list_distinct(list_filter(string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' '),
                    x -> x != ''))) * 10000.0
              / len(list_filter(string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' '), x -> x != '')))
           AS BIGINT) AS q4
  FROM documents
), per_source AS (
  SELECT source,
         count(*) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         CAST(sum(q4) AS BIGINT) AS qsum
  FROM per_doc GROUP BY source
), tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t FROM per_source),
ranked AS (
  SELECT source, n_docs, n_tokens, qsum,
         floor(qsum * 1.0 / n_docs / 10000.0 * 10000.0) / 10000.0
           AS mean_quality,
         row_number() OVER (ORDER BY qsum * 1.0 / n_docs DESC, source) AS rnk,
         CAST(sum(n_tokens) OVER (ORDER BY qsum * 1.0 / n_docs DESC, source)
           AS BIGINT) AS cum_tokens
  FROM per_source
)
SELECT source, rnk, n_docs, n_tokens, mean_quality, cum_tokens,
       CASE WHEN 2 * cum_tokens <= (SELECT t FROM tot)
            THEN 1 ELSE 0 END AS selected
FROM ranked
ORDER BY rnk
"""


@register("curation_token_budget_plan", oracle=_BUDGET_ORACLE, bench=True,
          doc="greedy data selection under a token budget: sources "
              "ranked by mean quality, cumulative tokens, selected "
              "while within 50% of the corpus token budget")
def curation_token_budget_plan(spark, sf_dir):
    """Data selection under a token budget: rank sources by mean
    document quality (type-token ratio, floored to integer basis
    points per doc so the per-source mean is a ratio of exact
    integers), take sources greedily until the cumulative token count
    exceeds half the corpus — the decision table behind "train on the
    best X tokens" curation.

    Cross-engine: per-doc quality is floor(distinct*1e4/n) — exact
    integers; the ranking key qsum/n_docs is one deterministic double
    division (identical in both engines per PARITY.md rule 6); the
    budget predicate ``2*cum_tokens <= total`` is exact-integer.

    Scale shape: per-doc metrics are scan-projection HOFs; one
    shuffle to the per-source rollup (source-cardinality rows); the
    ranking window runs over the aggregated frame (sources, not
    docs — single tiny partition by design, like all plan tables).
    """
    from pyspark.sql import Window as W

    words = "filter(split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' '), x -> x != '')"
    per_doc = T(spark, sf_dir, "documents").select(
        "source",
        F.expr(f"size({words})").alias("n_tokens"),
        F.expr(
            # nullif: zero-token docs carry NULL q4 (the oracle's 0/0
            # NULL-bands; both engines' sum() then skips them) rather
            # than raising under Spark-ANSI — unicode-sweep class
            f"cast(floor(size(array_distinct({words})) * 10000.0 "
            f"/ nullif(size({words}), 0)) as long)"
        ).alias("q4"),
    )
    per_source = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum("q4").alias("qsum"),
    )
    total = per_source.agg(F.sum("n_tokens").alias("t"))
    order = [
        (F.col("qsum") * F.lit(1.0) / F.col("n_docs")).desc(),
        F.col("source").asc(),
    ]
    w = W.orderBy(*order)
    ranked = per_source.select(
        "source",
        "n_docs",
        "n_tokens",
        "qsum",
        (
            F.floor(F.col("qsum") * F.lit(1.0) / F.col("n_docs") / F.lit(10000.0) * F.lit(10000.0))
            / F.lit(10000.0)
        ).alias("mean_quality"),
        F.row_number().over(w).alias("rnk"),
        F.sum("n_tokens").over(w).alias("cum_tokens"),
    )
    return (
        ranked.crossJoin(F.broadcast(total))
        .select(
            "source",
            "rnk",
            "n_docs",
            "n_tokens",
            "mean_quality",
            "cum_tokens",
            F.when(2 * F.col("cum_tokens") <= F.col("t"), 1).otherwise(0).alias("selected"),
        )
        .orderBy("rnk")
    )
