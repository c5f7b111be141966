"""Deduplication operators for LLM-data pipelines: exact (hash),
n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine near-dup.

North-star operators (BASELINE.json) beyond the reference's surface.
All JVM-side (split/transform/md5/bit ops — no Python UDFs); the LSH
variants are the 100 TB scale path: candidate generation by
band-bucket equi-join (shuffle on band signature) instead of an
all-pairs cross join, then exact verification on the candidate set
only.

Parity design: both engines compute the identical deterministic
algorithm (md5-derived 60-bit hashes), so Spark-vs-DuckDB results
match bit-for-bit — including the LSH candidate sets. For SimHash the
banding (6 bands x 10 bits, threshold hamming<=5) is *provably*
equivalent to the all-pairs filter by pigeonhole, so the oracle uses
the simpler all-pairs form.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from wire_spark.catalog import register
from wire_spark.functions.text import ascii_lower
from wire_spark.queries._util import (T, local_df, md5_long, t4, t6, tracked_cache,
                                      word_shingles)

# --------------------------------------------------------------------
# exact dedup: hash-groupBy
# --------------------------------------------------------------------

_EXACT_ORACLE = """
SELECT
  doc_id,
  md5(text) AS fp,
  doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS keep
FROM documents
ORDER BY doc_id
"""


@register("dedup_exact", oracle=_EXACT_ORACLE, bench=True,
          doc="exact dedup via content-hash groupBy, min-id survivor")
def dedup_exact(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    # window over the fingerprint == groupBy fp + broadcast-back join;
    # at 100 TB this is one shuffle keyed on a uniform 128-bit hash —
    # no skew by construction.
    w = W.partitionBy("fp")
    return (
        d.select("doc_id", F.md5("text").alias("fp"))
        .withColumn("keep", F.col("doc_id") == F.min("doc_id").over(w))
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------
# n-gram Jaccard (exact all-pairs via shingle equi-join)
# --------------------------------------------------------------------

_SHINGLES_CTE = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         unnest([ words[i] || ' ' || words[i+1] || ' ' || words[i+2]
                  for i in range(1, len(words)-1) ]) AS shingle
  FROM w
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
)
"""

_JACCARD_ORACLE = _SHINGLES_CTE + """
, inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT d1, d2, floor(i * 1.0 / (s1.n + s2.n - i) * 10000.0) / 10000.0 AS jaccard
FROM inter
JOIN sizes s1 ON d1 = s1.doc_id
JOIN sizes s2 ON d2 = s2.doc_id
WHERE i * 1.0 / (s1.n + s2.n - i) >= 0.8
ORDER BY d1, d2
"""


def _shingle_df(spark, sf_dir):
    """(doc_id, shingle) exploded pairs, cached.

    Every dedup query reuses this relation on both sides of a
    self-join, and without persistence Spark re-derives it from the
    parquet scan per branch. On a cluster the equivalent is
    persisting (or checkpointing) the shingle/signature table before
    the LSH join — a standard pattern for multi-pass dedup.
    """
    d = T(spark, sf_dir, "documents")
    sh = d.select("doc_id", F.explode(word_shingles("text", 3)).alias("shingle"))
    return tracked_cache(sh)


def _jaccard_pairs(spark, sf_dir, threshold: float, df_cap: int | None = 1000,
                   with_weight: bool = False):
    """Exact Jaccard via shingle equi-join, with a stop-shingle cap.

    Scale path: the join shuffles on `shingle`, so cost is
    sum(df(shingle)^2) over shingle doc-frequencies. A single viral
    boilerplate shingle with df=10^6 would alone yield 10^12 join
    candidates, so shingles with df > `df_cap` are dropped BEFORE the
    self-join (they contribute candidates, not evidence — a shingle
    shared by a million documents identifies none of them). Jaccard is
    then computed over the surviving shingle sets (both intersection
    and sizes), so the semantics are "Jaccard over non-stop shingles".
    The default cap (1000) is far above the observed max df at every
    test SF (25 at sf0.1), making the default output identical to the
    uncapped form — the oracles rely on this; `dedup_jaccard_capped`
    exercises a low cap with a mirrored oracle.

    The df filter is a window count over the same `shingle` key the
    join shuffles on, so the exchange is reused — the cap costs no
    extra shuffle. The LSH variant below removes the df^2 term
    entirely.
    """
    sh = _shingle_df(spark, sf_dir)
    if df_cap is not None:
        w_df = W.partitionBy("shingle")
        sh = (
            sh.withColumn("df", F.count(F.lit(1)).over(w_df))
            .filter(F.col("df") <= df_cap)
            .drop("df")
        )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    jac = F.col("i") * F.lit(1.0) / (F.col("n1") + F.col("n2") - F.col("i"))
    out = ["d1", "d2", t4(jac).alias("jaccard")]
    if with_weight:
        # integer fixed-point similarity weight: floor(jaccard*1e4)
        # computed in the INTEGER domain ((i*10000) div union), never
        # by re-scaling the truncated float — float re-scaling is off
        # by one ulp exactly when the 4-dp value is not representable
        out.append(
            F.expr("(i * 10000) div (n1 + n2 - i)").cast("long").alias("w1e4")
        )
    return (
        inter.join(sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1")), "d1")
        .join(sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2")), "d2")
        .filter(jac >= threshold)
        .select(*out)
    )


@register("dedup_ngram_jaccard", oracle=_JACCARD_ORACLE, bench=True,
          doc="exact 3-gram Jaccard near-dup pairs (threshold 0.8)")
def dedup_ngram_jaccard(spark, sf_dir):
    return _jaccard_pairs(spark, sf_dir, 0.8).orderBy("d1", "d2")


_CAPPED_ORACLE = _SHINGLES_CTE + """
, dfp AS (
  SELECT shingle, count(*) AS df FROM sh GROUP BY shingle
), shc AS (
  SELECT sh.doc_id, sh.shingle FROM sh JOIN dfp USING (shingle) WHERE df <= 5
), csizes AS (
  SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
  FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT d1, d2, floor(i * 1.0 / (s1.n + s2.n - i) * 10000.0) / 10000.0 AS jaccard
FROM inter
JOIN csizes s1 ON d1 = s1.doc_id
JOIN csizes s2 ON d2 = s2.doc_id
WHERE i * 1.0 / (s1.n + s2.n - i) >= 0.8
ORDER BY d1, d2
"""


@register("dedup_jaccard_capped", oracle=_CAPPED_ORACLE, bench=True,
          doc="Jaccard near-dup with an aggressive stop-shingle cap "
              "(df <= 5): the 100 TB skew guard, demonstrated live")
def dedup_jaccard_capped(spark, sf_dir):
    """Same operator as dedup_ngram_jaccard but with the stop-shingle
    cap low enough (df <= 5) to actually drop shingles at the test
    SFs — proving the candidate-set guard is implemented, not just
    documented. At 100 TB this knob bounds the shingle-join cost at
    sum(min(df, cap)^2) regardless of boilerplate skew."""
    return _jaccard_pairs(spark, sf_dir, 0.8, df_cap=5).orderBy("d1", "d2")


# --------------------------------------------------------------------
# MinHash + LSH (24 permutations, 6 bands x 4 rows, verify >= 0.8)
# --------------------------------------------------------------------

# Shared prefix for every MinHash-based oracle: shingles + 24
# Carter-Wegman permutations + per-(doc, perm) min + 6x4 band
# signatures.  The in-corpus pair oracle, the clustering oracle, and
# the incremental-probe oracle all compose from this constant (never
# by string-slicing a sibling oracle — a cosmetic edit to one must
# not silently shift the others).
_MINHASH_BANDS_CTE = _SHINGLES_CTE + """
, perms AS (SELECT unnest(range(24)) AS p)
, sh2 AS (
  SELECT doc_id,
         CAST(CONCAT('0x', SUBSTRING(md5(shingle), 1, 12)) AS BIGINT)  AS h1,
         CAST(CONCAT('0x', SUBSTRING(md5(shingle), 13, 12)) AS BIGINT) AS h2
  FROM sh
), h AS (
  SELECT doc_id, p, (h1 + p * h2) % 1073741789 AS hv
  FROM sh2, perms
), sig AS (
  SELECT doc_id, p, min(hv) AS mh FROM h GROUP BY doc_id, p
), band AS (
  SELECT doc_id, p // 4 AS band,
         string_agg(CAST(mh AS VARCHAR), ',' ORDER BY p) AS bsig
  FROM sig GROUP BY doc_id, p // 4
)"""

# in-corpus band-bucket candidates + exact intersect counts
_MINHASH_CAND_INTER_CTE = """
, cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM band a JOIN band b
    ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
), inter AS (
  SELECT c.d1, c.d2, count(*) AS i
  FROM cand c
  JOIN sh a ON a.doc_id = c.d1
  JOIN sh b ON b.doc_id = c.d2 AND b.shingle = a.shingle
  GROUP BY c.d1, c.d2
)"""

_MINHASH_ORACLE = _MINHASH_BANDS_CTE + _MINHASH_CAND_INTER_CTE + """
SELECT i.d1, i.d2, floor(i.i * 1.0 / (s1.n + s2.n - i.i) * 10000.0) / 10000.0 AS jaccard
FROM inter i
JOIN sizes s1 ON i.d1 = s1.doc_id
JOIN sizes s2 ON i.d2 = s2.doc_id
WHERE i.i * 1.0 / (s1.n + s2.n - i.i) >= 0.8
ORDER BY i.d1, i.d2
"""


def minhash_band_signatures(sh: "DataFrame") -> "DataFrame":
    """(doc_id, band, bsig) band signatures for a (doc_id, shingle)
    relation — THE single implementation of the repo's MinHash
    arithmetic, shared by the catalog queries here and the at-rest
    index (``operators/text_index.py``), whose ``append_and_probe``
    is also the streaming dedup (one call per micro-batch).  Stored
    signatures must match freshly-signed probes bit-for-bit, so this
    arithmetic has exactly one home.

    One md5 per shingle; 24 permutations via Carter-Wegman-style
    (h1 + p*h2) mod prime — pure 53-bit-safe integer arithmetic,
    identical in DuckDB, and 24x cheaper than hashing per perm;
    6 bands of 4 minima joined into a string signature."""
    spark = sh.sparkSession
    perms = spark.range(24).select(F.col("id").cast("long").alias("p"))
    md5c = F.md5("shingle")
    sh2 = sh.select(
        "doc_id",
        F.conv(F.substring(md5c, 1, 12), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring(md5c, 13, 12), 16, 10).cast("long").alias("h2"),
    )
    h = sh2.crossJoin(F.broadcast(perms)).select(
        "doc_id", "p",
        ((F.col("h1") + F.col("p") * F.col("h2")) % F.lit(1073741789)).alias("hv"),
    )
    sig = h.groupBy("doc_id", "p").agg(F.min("hv").alias("mh"))
    return (
        sig.withColumn("band", (F.col("p") / 4).cast("int"))
        .groupBy("doc_id", "band")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("p", "mh"))),
                    lambda x: x["mh"].cast("string"),
                ),
                ",",
            ).alias("bsig")
        )
    )


def _minhash_bands(spark, sf_dir):
    """(shingles, band-signature) relations — the MinHash-LSH index
    builder shared by the in-corpus pair generator and the
    incremental new-batch probe. Returns ``band`` uncached; callers
    decide persistence (both sides of a self-join vs probe-only)."""
    sh = _shingle_df(spark, sf_dir)
    return sh, minhash_band_signatures(sh)


def _lsh_candidate_pairs(band: "DataFrame") -> "DataFrame":
    """Distinct (d1 < d2) candidate pairs from a band-signature
    relation — THE single home of the LSH bucket self-join, shared
    by the Jaccard-verified pair generator and the edit-distance
    verifier so a banding or tiebreak change cannot silently
    diverge between the two dedup families.  Callers cache ``band``
    first: it feeds both sides of the join."""
    a, b = band.alias("a"), band.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bsig") == F.col("b.bsig"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )


def _minhash_pairs(spark, sf_dir):
    """Verified near-dup pairs (>= 0.8 Jaccard) from MinHash-LSH band
    candidates — the scale-path edge generator shared by
    dedup_minhash_lsh and dedup_components_lsh."""
    sh, band = _minhash_bands(spark, sf_dir)
    band = tracked_cache(band)  # reused on both sides of the LSH bucket join
    cand = _lsh_candidate_pairs(band)
    # exact-verify ONLY the candidates: intersect counts via two joins
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa = sh.select(F.col("doc_id").alias("d1"), "shingle")
    sb = sh.select(F.col("doc_id").alias("d2"), "shingle")
    inter = (
        cand.join(sa, "d1").join(sb, ["d2", "shingle"])
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    jac = F.col("i") * F.lit(1.0) / (F.col("n1") + F.col("n2") - F.col("i"))
    return (
        inter.join(sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1")), "d1")
        .join(sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2")), "d2")
        .filter(jac >= 0.8)
        .select("d1", "d2", t4(jac).alias("jaccard"))
    )


@register("dedup_minhash_lsh", oracle=_MINHASH_ORACLE, bench=True,
          doc="MinHash-LSH near-dup: 24 perms, 6 bands x 4, exact verify")
def dedup_minhash_lsh(spark, sf_dir):
    return _minhash_pairs(spark, sf_dir).orderBy("d1", "d2")


# --------------------------------------------------------------------
# SimHash (60-bit over 3-gram shingles; banded; hamming <= 5)
# --------------------------------------------------------------------

_SIMHASH_ORACLE = _SHINGLES_CTE + """
, h AS (
  SELECT doc_id, CAST(CONCAT('0x', SUBSTRING(md5(shingle), 1, 15)) AS BIGINT) AS hv
  FROM sh
), bits AS (
  SELECT doc_id, b,
         sum(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
  FROM h, (SELECT unnest(range(60)) AS b)
  GROUP BY doc_id, b
), sig AS (
  SELECT doc_id,
         sum(CASE WHEN vote > 0 THEN (1::BIGINT << b) ELSE 0 END) AS s
  FROM bits GROUP BY doc_id
)
SELECT a.doc_id AS d1, b.doc_id AS d2, bit_count(xor(a.s, b.s)) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.s, b.s)) <= 5
ORDER BY d1, d2
"""


@register("dedup_simhash", oracle=_SIMHASH_ORACLE, bench=True,
          doc="60-bit shingle SimHash, 6x10-bit bands, hamming<=5")
def dedup_simhash(spark, sf_dir):
    sh = _shingle_df(spark, sf_dir)
    h = sh.select("doc_id", md5_long(F.col("shingle")).alias("hv"))
    # shiftright/shiftleft take a column shift amount only in SQL form
    bits = (
        h.select("doc_id", "hv", F.explode(F.sequence(F.lit(0), F.lit(59))).alias("b"))
        .groupBy("doc_id", "b")
        .agg(
            F.sum(
                F.when(F.expr("shiftright(hv, b) & 1") == 1, 1).otherwise(-1)
            ).alias("vote")
        )
    )
    sig = bits.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("vote") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), b)")).otherwise(0)
        ).alias("s")
    )
    sig = tracked_cache(sig)  # reused on both sides of the band join
    # 6 bands x 10 bits: any pair with hamming <= 5 shares at least one
    # band (pigeonhole) => banded candidates == all-pairs filter,
    # without the O(n^2) cross join the oracle can afford.
    bands = spark.range(6).select(F.col("id").cast("int").alias("i"))
    banded = sig.crossJoin(F.broadcast(bands)).select(
        "doc_id", "s", "i",
        F.expr("shiftright(s, i * 10) & 1023").alias("bv"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, (F.col("a.i") == F.col("b.i"))
               & (F.col("a.bv") == F.col("b.bv"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"),
            F.col("a.s").alias("s1"), F.col("b.s").alias("s2"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("s1").bitwiseXOR(F.col("s2")))
    return (
        cand.filter(hamming <= 5)
        .select("d1", "d2", hamming.cast("int").alias("hamming"))
        .orderBy("d1", "d2")
    )


# --------------------------------------------------------------------
# embedding-cosine near-dup pairs
# --------------------------------------------------------------------

_EMB_DUP_ORACLE = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
)
SELECT a.vec_id AS v1, b.vec_id AS v2,
       floor(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
             * 10000.0) / 10000.0 AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.45
ORDER BY v1, v2
"""


def cosine_expr(va, vb):
    """dot(a,b)/(|a||b|) over array<double> columns — built-in
    zip_with/aggregate higher-order fns, same left-to-right summation
    order as DuckDB's list_dot_product => bit-identical doubles."""
    def dot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda p, q: p * q), F.lit(0.0), lambda acc, v: acc + v
        )

    return dot(va, vb) / (F.sqrt(dot(va, va)) * F.sqrt(dot(vb, vb)))


def _emb_vectors(spark, sf_dir):
    def dot(x, y):
        return F.aggregate(F.zip_with(x, y, lambda p, q: p * q), F.lit(0.0), lambda a, b: a + b)

    # norms precomputed per vector: one dot per pair in the pair stage
    return (
        T(spark, sf_dir, "embeddings")
        .select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v"))
        .withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
    )


def _block_pair_gemm(pdf):
    """Per-block-pair kernel: one BLAS GEMM computes every cross-block
    dot product at once. Runs inside applyInPandas (Arrow batch in,
    Arrow batch out); numpy float64 matches the JVM/DuckDB per-element
    double math (verified value-exact vs the all-pairs oracle at every
    test SF by the catalog-oracle sweep, tests/test_catalog_oracle.py)."""
    import numpy as np
    import pandas as pd

    gi, gj = int(pdf["gi"].iloc[0]), int(pdf["gj"].iloc[0])
    a_side = pdf[pdf["g"] == gi]
    b_side = pdf[pdf["g"] == gj]
    if a_side.empty or b_side.empty:
        return pd.DataFrame({"v1": [], "v2": [], "cosine": []})
    Va = np.stack(a_side["v"].to_numpy())
    Vb = np.stack(b_side["v"].to_numpy())
    ids_a = a_side["vec_id"].to_numpy()
    ids_b = b_side["vec_id"].to_numpy()
    cos = (Va @ Vb.T) / np.outer(a_side["nrm"].to_numpy(), b_side["nrm"].to_numpy())
    if gi == gj:
        # self-block: upper triangle only (a.id < b.id)
        mask = ids_a[:, None] < ids_b[None, :]
    else:
        # cross-block: every pair once, ordered (min,max) below
        mask = np.ones_like(cos, dtype=bool)
    ia, ib = np.nonzero(mask & (cos >= 0.45))
    return pd.DataFrame(
        {
            "v1": np.minimum(ids_a[ia], ids_b[ib]),
            "v2": np.maximum(ids_a[ia], ids_b[ib]),
            "cosine": np.floor(cos[ia, ib] * 10000.0) / 10000.0,
        }
    )


@register("dedup_embedding_cosine", oracle=_EMB_DUP_ORACLE, bench=True,
          doc="embedding-cosine near-dup pairs (threshold 0.45), "
              "block-partitioned exact all-pairs via per-task GEMM")
def dedup_embedding_cosine(spark, sf_dir, blocks: int = 8):
    """Exact all-pairs cosine >= 0.45, block-partitioned + GEMM.

    Scale shape: a naive `a.vec_id < b.vec_id` non-equi self-join
    executes as BroadcastNestedLoopJoin — every row shipped to every
    task. Instead: hash each vector into one of B blocks, replicate
    each vector to the B block-pair tasks containing its block
    (broadcast join on the tiny membership table, shuffle O(n*B)
    rows), and compute each task's cross-block similarities with ONE
    numpy GEMM inside applyInPandas. Row-at-a-time higher-order-
    function dots cost ~15us/pair (measured 33s for the 2M pairs at
    sf0.1); the blocked GEMM is the standard distributed all-pairs
    similarity design (O(n^2) flops are inherent to the exact form,
    BLAS does them at memory bandwidth). Same-block pairs are kept
    only in the diagonal task to avoid duplicates. Raise `blocks` ~
    sqrt(2 * cluster cores) on a real cluster. The bucketed scale
    path that avoids O(n^2) entirely is `dedup_embedding_cosine_lsh`.
    """
    B = blocks
    e = _emb_vectors(spark, sf_dir).withColumn(
        "g", F.pmod(F.col("vec_id"), F.lit(B)).cast("int")
    )
    # (task, gi, gj, g): one membership row per block of each block
    # pair; same-block pairs live only in the diagonal task (gi==gj).
    rows = []
    for i in range(B):
        for j in range(i, B):
            t = i * B + j
            rows.append((t, i, j, i))
            if j != i:
                rows.append((t, i, j, j))
    tasks = local_df(spark, rows, "task int, gi int, gj int, g int")
    rep = e.join(F.broadcast(tasks), "g")
    pairs = rep.groupBy("task", "gi", "gj").applyInPandas(
        _block_pair_gemm, schema="v1 long, v2 long, cosine double"
    )
    return pairs.orderBy("v1", "v2")


# --------------------------------------------------------------------
# embedding-cosine near-dup, LSH-banded candidates (the scale path)
# --------------------------------------------------------------------

_LSH_DEDUP_PLANES = 64
_LSH_DEDUP_R = 4  # planes per band
_LSH_DEDUP_BANDS = _LSH_DEDUP_PLANES // _LSH_DEDUP_R


def _emb_lsh_oracle() -> str:
    from wire_spark.queries.similarity import _lsh_planes

    planes = _lsh_planes(_LSH_DEDUP_PLANES)
    plane_sql = ", ".join(
        "[" + ", ".join(repr(w) for w in row) + "]" for row in planes
    )
    plane_cols = ", ".join(f"pl[{i + 1}] AS p{i}" for i in range(len(planes)))
    band_arms = []
    for k in range(_LSH_DEDUP_BANDS):
        bv = " + ".join(
            f"(CASE WHEN list_dot_product(v, p{k * _LSH_DEDUP_R + t}) >= 0 "
            f"THEN {1 << t} ELSE 0 END)"
            for t in range(_LSH_DEDUP_R)
        )
        band_arms.append(f"SELECT vec_id, {k} AS k, {bv} AS bv FROM hashed")
    bands_sql = " UNION ALL ".join(band_arms)
    return f"""
WITH pl_t AS (SELECT [{plane_sql}]::DOUBLE[][] AS pl),
hashed AS (
  SELECT vec_id, embedding::DOUBLE[] AS v, {plane_cols}
  FROM embeddings, pl_t
), bands AS ({bands_sql}),
cand AS (
  SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
  FROM bands a JOIN bands b ON a.k = b.k AND a.bv = b.bv AND a.vec_id < b.vec_id
), e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT c.v1, c.v2,
       floor(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
             * 10000.0) / 10000.0 AS cosine
FROM cand c
JOIN e a ON a.vec_id = c.v1
JOIN e b ON b.vec_id = c.v2
WHERE list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.45
ORDER BY v1, v2
"""


@register("dedup_embedding_cosine_lsh", oracle=_emb_lsh_oracle(), bench=True,
          doc="embedding near-dup via banded sign-bit LSH candidates "
              "(64 planes, 16 bands x 4 bits) + exact verify")
def dedup_embedding_cosine_lsh(spark, sf_dir):
    """Bucketed near-dup pairs: candidates from banded random-
    hyperplane LSH (a pair is a candidate iff it agrees on all 4 sign
    bits of at least one of 16 bands), then exact cosine verification
    on candidates only.

    Scale shape: candidate generation is an equi-join on (band,
    band-value) — shuffle keyed on band buckets, never all-pairs.
    Recall at threshold 0.45 is data-dependent (measured 6/7 at
    sf0.001, 14/14 at sf0.01, 142/144 at sf0.1 — pairs at cosine
    ~0.45 sit at ~63 degrees where sign-LSH separation is weakest; at
    realistic near-dup thresholds >= 0.7 recall approaches 1 with far
    fewer bands). The oracle mirrors the identical deterministic banding,
    so the check verifies the algorithm, not a recall gamble;
    `tests/test_operator_properties.py` measures recall vs the exact
    block-partitioned form.
    """
    from wire_spark.queries.similarity import _lsh_planes

    planes = _lsh_planes(_LSH_DEDUP_PLANES)
    e = _emb_vectors(spark, sf_dir)

    def band_explode(batches):
        # all 64 plane dots per vector in ONE GEMM (V @ P.T); the
        # row-at-a-time HOF formulation evaluated a 64-literal
        # zip_with per plane per row per join side (~10s of the 11.5s
        # sf0.1 wall). Sign parity with the oracle's per-plane
        # list_dot_product is exact on this data (all-SF oracle sweep).
        # Each vector is emitted once per band, carrying (v, nrm) so
        # the bucket verify below needs NO gather join. At 100 TB the
        # 16x vector replication trades against a 1M+-candidate
        # distinct + two array-gather shuffles — replication wins
        # while dim*bands stays O(1 KB/row); beyond that, ship
        # (vec_id,k,bv) and gather.
        import numpy as np
        import pandas as pd

        P = np.array(planes)  # (planes, dim)
        n_bands, r = _LSH_DEDUP_BANDS, _LSH_DEDUP_R
        weights = (1 << np.arange(r)).astype("int64")
        for pdf in batches:
            if pdf.empty:
                continue
            V = np.stack(pdf["v"].to_numpy())
            bits = (V @ P.T) >= 0  # (n, planes), plane index = k*r + t
            n = len(pdf)
            bv = (bits.reshape(n, n_bands, r) * weights).sum(axis=2)
            idx = np.repeat(np.arange(n), n_bands)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy()[idx],
                    "k": np.tile(np.arange(n_bands, dtype="int32"), n),
                    "bv": bv.reshape(-1).astype("int32"),
                    "v": pdf["v"].to_numpy()[idx],
                    "nrm": pdf["nrm"].to_numpy()[idx],
                }
            )

    def bucket_verify(pdf):
        # one small GEMM per (band, band-value) bucket: exact cosine
        # over the bucket's upper-triangle pairs. A pair sharing j
        # bands surfaces j times with a bit-identical cosine (same
        # input rows, same K=64 kernel); dropDuplicates collapses them.
        import numpy as np
        import pandas as pd

        ids = pdf["vec_id"].to_numpy()
        V = np.stack(pdf["v"].to_numpy())
        nrm = pdf["nrm"].to_numpy()
        cos = (V @ V.T) / np.outer(nrm, nrm)
        ia, ib = np.nonzero((ids[:, None] < ids[None, :]) & (cos >= 0.45))
        return pd.DataFrame(
            {
                "v1": ids[ia],
                "v2": ids[ib],
                "cosine": np.floor(cos[ia, ib] * 10000.0) / 10000.0,
            }
        )

    banded = e.select("vec_id", "v", "nrm").mapInPandas(
        band_explode,
        schema="vec_id long, k int, bv int, v array<double>, nrm double",
    )
    return (
        banded.groupBy("k", "bv")
        .applyInPandas(bucket_verify, schema="v1 long, v2 long, cosine double")
        .dropDuplicates(["v1", "v2"])
        .orderBy("v1", "v2")
    )


# --------------------------------------------------------------------
# near-dup survivor materialization (greedy keep-lowest-id)
# --------------------------------------------------------------------

_SURVIVORS_ORACLE = _SHINGLES_CTE + """
, inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), dup_pairs AS (
  SELECT d1, d2 FROM inter
  JOIN sizes s1 ON d1 = s1.doc_id
  JOIN sizes s2 ON d2 = s2.doc_id
  WHERE i * 1.0 / (s1.n + s2.n - i) >= 0.8
)
SELECT d.doc_id, d.lang, d.n_chars
FROM documents d
WHERE d.doc_id NOT IN (SELECT d2 FROM dup_pairs)
ORDER BY d.doc_id
"""


@register("dedup_near_survivors", oracle=_SURVIVORS_ORACLE,
          doc="near-dup removal: drop the higher-id doc of each dup pair")
def dedup_near_survivors(spark, sf_dir):
    """Greedy survivor set: any document appearing as the HIGHER id of
    a >=0.8-Jaccard pair is dropped; lowest id of each dup cluster
    survives (for chains a~b~c this keeps a and may keep c — the
    standard one-pass policy; full transitive closure needs iterative
    connected components, a different cost class).
    """
    pairs = _jaccard_pairs(spark, sf_dir, 0.8)
    d = T(spark, sf_dir, "documents")
    drop = pairs.select(F.col("d2").alias("doc_id")).distinct()
    return (
        d.join(drop, "doc_id", "left_anti")
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------
# shingle vocabulary mining: most frequent 3-grams
# --------------------------------------------------------------------

_VOCAB_ORACLE = _SHINGLES_CTE + """
SELECT shingle, count(*) AS doc_freq
FROM sh
GROUP BY shingle
HAVING count(*) >= 4
ORDER BY doc_freq DESC, shingle
LIMIT 50
"""


@register("ngram_vocab_mining", oracle=_VOCAB_ORACLE,
          doc="document-frequency mining of 3-gram shingles (top 50)")
def ngram_vocab_mining(spark, sf_dir):
    """The df(shingle) profile that justifies stop-shingle capping in
    exact Jaccard at scale (see _jaccard_pairs docstring)."""
    sh = _shingle_df(spark, sf_dir)
    return (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .filter(F.col("doc_freq") >= 4)
        .orderBy(F.desc("doc_freq"), F.asc("shingle"))
        .limit(50)
    )


# --------------------------------------------------------------------
# full near-dup clustering: transitive closure over dup pairs
# --------------------------------------------------------------------

_COMPONENTS_ORACLE = _SHINGLES_CTE + """
, inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT d1, d2 FROM inter
  JOIN sizes s1 ON d1 = s1.doc_id
  JOIN sizes s2 ON d2 = s2.doc_id
  WHERE i * 1.0 / (s1.n + s2.n - i) >= 0.8
), edges AS (
  SELECT d1 AS a, d2 AS b FROM pairs
  UNION SELECT d2, d1 FROM pairs
  UNION SELECT d1, d1 FROM pairs
  UNION SELECT d2, d2 FROM pairs
), reach AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
)
SELECT a AS doc_id, min(b) AS component_id
FROM reach GROUP BY a ORDER BY doc_id
"""
# note: driver prepends nothing — DuckDB needs WITH RECURSIVE:
_COMPONENTS_ORACLE = _COMPONENTS_ORACLE.replace("WITH w AS", "WITH RECURSIVE w AS", 1)


@register("dedup_connected_components", oracle=_COMPONENTS_ORACLE, bench=True,
          doc="transitive near-dup clustering (iterative label propagation "
              "vs recursive-CTE oracle)")
def dedup_connected_components(spark, sf_dir):
    """Full dup-cluster ids: min-label propagation over >=0.8-Jaccard
    edges (wire_spark/operators/graph.py) — the iterative algorithm a
    single join cannot express; the oracle computes the same closure
    with a recursive CTE."""
    from wire_spark.operators.graph import connected_components

    pairs = _jaccard_pairs(spark, sf_dir, 0.8).select("d1", "d2")
    comps = connected_components(pairs, src="d1", dst="d2")
    return (
        comps.select(F.col("id").alias("doc_id"), F.col("comp").alias("component_id"))
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------
# full near-dup clustering over LSH edges (the 100 TB variant)
# --------------------------------------------------------------------

_MINHASH_PAIRS_CTE = _MINHASH_BANDS_CTE + _MINHASH_CAND_INTER_CTE + """
, pairs AS (
  SELECT i.d1, i.d2
  FROM inter i
  JOIN sizes s1 ON i.d1 = s1.doc_id
  JOIN sizes s2 ON i.d2 = s2.doc_id
  WHERE i.i * 1.0 / (s1.n + s2.n - i.i) >= 0.8
)
"""

_COMPONENTS_LSH_ORACLE = (_MINHASH_PAIRS_CTE + """
, edges AS (
  SELECT d1 AS a, d2 AS b FROM pairs
  UNION SELECT d2, d1 FROM pairs
  UNION SELECT d1, d1 FROM pairs
  UNION SELECT d2, d2 FROM pairs
), reach AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
)
SELECT a AS doc_id, min(b) AS component_id
FROM reach GROUP BY a ORDER BY doc_id
""").replace("WITH w AS", "WITH RECURSIVE w AS", 1)


@register("dedup_components_lsh", oracle=_COMPONENTS_LSH_ORACLE,
          doc="transitive near-dup clustering over MinHash-LSH edges — "
              "no exact shingle self-join anywhere in the pipeline")
def dedup_components_lsh(spark, sf_dir):
    """The end-to-end 100 TB clustering path: edges come from the
    banded MinHash candidates (exact-verified on candidates only,
    never an all-shingle self-join), closure from the same iterative
    min-label propagation as dedup_connected_components. At every
    stage the shuffle key is bounded (band signature, then vertex id)
    — this is the variant to run when the exact-Jaccard edge
    generator's sum(df^2) term is unaffordable even with the stop-
    shingle cap."""
    from wire_spark.operators.graph import connected_components

    pairs = _minhash_pairs(spark, sf_dir).select("d1", "d2")
    comps = connected_components(pairs, src="d1", dst="d2")
    return (
        comps.select(F.col("id").alias("doc_id"), F.col("comp").alias("component_id"))
        .orderBy("doc_id")
    )

_COMPONENTS_STAR_ORACLE = _COMPONENTS_LSH_ORACLE


@register("dedup_components_star", oracle=_COMPONENTS_STAR_ORACLE, bench=True,
          doc="near-dup clustering via large-star/small-star CC over "
              "MinHash-LSH edges (O(log n) rounds, diameter-independent)")
def dedup_components_star(spark, sf_dir):
    """Same LSH-edge clustering as dedup_components_lsh but closed
    with the large-star/small-star algorithm
    (operators/graph.py:connected_components_star) instead of label
    propagation: O(log n) rounds independent of component diameter.
    Use when dup clusters can be chain-shaped (rolling crawl
    snapshots, near-identical revisions) rather than cliques — label
    propagation's O(diameter) round count is the bottleneck there.
    The oracle (recursive-CTE closure) is shared: both algorithms
    must produce the identical min-id labeling."""
    from wire_spark.operators.graph import connected_components_star

    pairs = _minhash_pairs(spark, sf_dir).select("d1", "d2")
    comps = connected_components_star(pairs, src="d1", dst="d2")
    return (
        comps.select(F.col("id").alias("doc_id"), F.col("comp").alias("component_id"))
        .orderBy("doc_id")
    )

# --------------------------------------------------------------------
# winnowing fingerprints (MOSS): positional k-gram hashes -> window
# minima -> cross-doc overlap
# --------------------------------------------------------------------

# Positional k-grams and the width-4 window minimum are both zips of
# shifted slices (DuckDB slices are 1-based INCLUSIVE, so hs[i:i+3]
# was a FOUR-element window): a comprehension that slices per index
# is quadratic in list length — measured 227 s vs 0.09 s on twenty
# 30k-element lists (the r11 longdocs sweep; same lesson as the
# Spark side's captured-lambda rewrite).
_WINNOW_ORACLE = """
WITH w AS (
  SELECT doc_id, string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ') AS words FROM documents
), sh AS (
  -- the len >= 3 guard matters: a shorter doc makes len(words)-2
  -- NEGATIVE and DuckDB slices then count from the END, producing
  -- unequal slices that list_zip NULL-pads (the comprehension's
  -- empty range needed no guard)
  SELECT doc_id,
         CASE WHEN len(words) >= 3 THEN list_transform(
           list_zip(words[1:len(words)-2], words[2:len(words)-1],
                    words[3:len(words)]),
           z -> CAST(CONCAT('0x', SUBSTRING(md5(z[1] || ' ' || z[2] || ' ' || z[3]), 1, 15)) AS BIGINT)
         ) ELSE [] END AS hs
  FROM w
), fp AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(
           list_zip(hs[1:len(hs)-3], hs[2:len(hs)-2],
                    hs[3:len(hs)-1], hs[4:len(hs)]),
           z -> least(z[1], z[2], z[3], z[4]))) AS fp
  FROM sh WHERE len(hs) >= 4
), capped AS (
  SELECT fp FROM fp GROUP BY fp HAVING count(*) <= 100
), fpc AS (
  SELECT f.doc_id, f.fp FROM fp f JOIN capped USING (fp)
), pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_shared
  FROM fpc a JOIN fpc b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT d1, d2, n_shared FROM pairs
ORDER BY n_shared DESC, d1, d2
LIMIT 20
"""


def winnow_pair_overlap(docs, k: int = 3, w: int = 4, df_cap: int = 100):
    """Winnowing fingerprint overlap over any (doc_id, text) frame:
    (d1, d2, n_shared) for every doc pair sharing a selected
    fingerprint. Guarantee (Schleimer/Wilkerson/Aiken): any shared
    word run of length >= w + k - 1 selects at least one common
    fingerprint in both documents — property-tested with planted runs
    in tests/test_operator_properties.py."""
    words = F.split(ascii_lower(F.col("text")), " ")
    # docs shorter than one k-gram must drop BEFORE the positional
    # transform: Spark's sequence(1, n-k+1) with n < k descends
    # through 0 and slice(words, 0, k) raises INVALID_PARAMETER_VALUE
    # under ANSI (the unicode-sweep empty-text crash); DuckDB's range
    # is empty for the same bounds
    wd = docs.select("doc_id", words.alias("ws")).filter(
        F.size("ws") >= k)
    # positional (NOT distinct) k-gram hashes — built from k shifted
    # slices zipped positionally, then hashed with a lambda that
    # touches only its element argument.  The earlier
    # transform(sequence(...), i -> md5(concat_ws(slice(ws, i, k))))
    # form captured ws, and Catalyst's projection collapse re-inlines
    # the split() behind it into the lambda — re-evaluated per
    # element, O(words²) per document (the r11 longdocs timeout; the
    # word_shingles lesson applied to the positional form)
    def _shifted(col, count):
        n_expr = F.size(col)
        return [F.slice(col, i + 1, n_expr - (count - 1))
                for i in range(count)]

    def _zip_fold(cols, combine):
        acc = cols[0]
        for c in cols[1:]:
            acc = F.zip_with(acc, c, combine)
        return acc

    grams = _zip_fold(_shifted(F.col("ws"), k),
                      lambda a, b: F.concat_ws(" ", a, b))
    hs = F.transform(
        grams,
        lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long"),
    )
    d = wd.select("doc_id", hs.alias("hs")).filter(F.size("hs") >= w)
    # sliding window-min of width w as a least()-fold over w shifted
    # slices: each zip references hs once per ROW (never per element)
    wins = _zip_fold(_shifted(F.col("hs"), w),
                     lambda a, b: F.least(a, b))
    # df cap as a window count over the same fp key the join shuffles
    # on (exchange reuse, no extra shuffle — the _jaccard_pairs
    # pattern); cached because the md5-per-position extraction feeds
    # BOTH sides of the self-join and would otherwise recompute
    fpc = tracked_cache(
        d.select("doc_id", F.explode(F.array_distinct(wins)).alias("fp"))
        .withColumn("df", F.count(F.lit(1)).over(W.partitionBy("fp")))
        .filter(F.col("df") <= df_cap)
        .drop("df")
    )
    a = fpc.select(F.col("doc_id").alias("d1"), "fp")
    b = fpc.select(F.col("doc_id").alias("d2"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


@register("dedup_winnowing_overlap", oracle=_WINNOW_ORACLE, bench=True,
          doc="winnowing (MOSS) fingerprint overlap: window-min of "
              "positional 3-gram hashes, top-20 overlapping doc pairs")
def dedup_winnowing_overlap(spark, sf_dir):
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    the MOSS algorithm): hash every POSITIONAL word 3-gram, slide a
    4-hash window, keep each window's minimum — guaranteeing any
    shared run of >= 6 words shares a fingerprint while storing only
    ~2/(w+1) of the hashes. Overlap = count of shared selected
    fingerprints per doc pair.

    Scale shape: fingerprint extraction is a pure projection (HOFs,
    no shuffle); the pair join is an equi-join on fingerprint with a
    df cap (fps in > 100 docs are boilerplate, dropped — same
    Σmin(df,cap)² bound as the capped-Jaccard join); top-20 is
    TakeOrdered."""
    pairs = winnow_pair_overlap(T(spark, sf_dir, "documents"))
    return pairs.orderBy(F.desc("n_shared"), "d1", "d2").limit(20)

# --------------------------------------------------------------------
# cross-modal consistency: text near-dups vs their embedding cosine
# --------------------------------------------------------------------

_CROSSMODAL_ORACLE = _SHINGLES_CTE + """
, inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT d1, d2,
         floor(i * 1.0 / (s1.n + s2.n - i) * 10000.0) / 10000.0 AS jaccard
  FROM inter
  JOIN sizes s1 ON d1 = s1.doc_id
  JOIN sizes s2 ON d2 = s2.doc_id
  WHERE i * 1.0 / (s1.n + s2.n - i) >= 0.8
), e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
         WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0.0
           AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) < 1.0e12)
SELECT p.d1, p.d2, p.jaccard,
       floor(list_dot_product(e1.v, e2.v)
             / (sqrt(list_dot_product(e1.v, e1.v))
                * sqrt(list_dot_product(e2.v, e2.v)))
             * 1000000.0) / 1000000.0 AS cos_sim,
       floor(list_dot_product(e1.v, e2.v)
             / (sqrt(list_dot_product(e1.v, e1.v))
                * sqrt(list_dot_product(e2.v, e2.v)))
             * 1000000.0) / 1000000.0 < 0.9 AS modality_disagree
FROM pairs p
JOIN e e1 ON e1.vec_id = p.d1
JOIN e e2 ON e2.vec_id = p.d2
ORDER BY d1, d2
"""


@register("dedup_crossmodal_audit", oracle=_CROSSMODAL_ORACLE,
          doc="cross-modal dup audit: >=0.8-Jaccard text pairs joined to "
              "their embedding cosine; flags modality disagreement")
def dedup_crossmodal_audit(spark, sf_dir):
    """Pipeline-quality audit joining two dup signals: pairs the text
    layer calls near-duplicates (>=0.8 shingle Jaccard) annotated
    with the embedding cosine of the same pair. Disagreement (text
    says dup, embeddings say < 0.9 cosine) indicates a stale/buggy
    embedding run or templated text with divergent semantics — the
    audit every multimodal corpus needs before trusting either signal
    for deletion. Scale shape: the pair list is tiny next to the
    vector table, so both embedding lookups are broadcast-able point
    equi-joins on vec_id; no new all-pairs work anywhere."""
    pairs = _jaccard_pairs(spark, sf_dir, 0.8)
    # valid-embedding domain gate (see similarity._valid_vectors): a
    # zero-norm vector on either side of a dup pair is 0/0 cosine
    from wire_spark.queries.similarity import _valid_vectors

    e = _valid_vectors(spark, sf_dir).select(
        "vec_id", "v", F.sqrt(F.col("dd")).alias("nrm")
    )
    e1 = e.select(F.col("vec_id").alias("d1"), F.col("v").alias("v1"), F.col("nrm").alias("n1"))
    e2 = e.select(F.col("vec_id").alias("d2"), F.col("v").alias("v2"), F.col("nrm").alias("n2"))
    dot = F.aggregate(
        F.zip_with("v1", "v2", lambda x, y: x * y), F.lit(0.0), lambda a, b: a + b
    )
    # the dup-pair list is tiny next to the vector table: broadcast it
    # so the two embedding lookups never shuffle the vectors
    return (
        F.broadcast(pairs).join(e1, "d1")
        .join(e2, "d2")
        .withColumn("cos_sim", t6(dot / (F.col("n1") * F.col("n2"))))
        .select(
            "d1", "d2", "jaccard", "cos_sim",
            (F.col("cos_sim") < 0.9).alias("modality_disagree"),
        )
        .orderBy("d1", "d2")
    )


# --------------------------------------------------------------------
# incremental dedup: probe a NEW batch against the existing corpus
# --------------------------------------------------------------------

_INCR_ORACLE = _MINHASH_BANDS_CTE + """
, newb AS (SELECT * FROM band WHERE doc_id % 10 = 0),
oldb AS (SELECT * FROM band WHERE doc_id % 10 != 0),
cand AS (
  SELECT DISTINCT n.doc_id AS dn, o.doc_id AS dc
  FROM newb n JOIN oldb o ON n.band = o.band AND n.bsig = o.bsig
), inter AS (
  SELECT c.dn, c.dc, count(*) AS i
  FROM cand c
  JOIN sh a ON a.doc_id = c.dn
  JOIN sh b ON b.doc_id = c.dc AND b.shingle = a.shingle
  GROUP BY c.dn, c.dc
), verified AS (
  SELECT i.dn, i.dc,
         i.i * 1.0 / (s1.n + s2.n - i.i) AS jraw
  FROM inter i
  JOIN sizes s1 ON i.dn = s1.doc_id
  JOIN sizes s2 ON i.dc = s2.doc_id
  WHERE i.i * 1.0 / (s1.n + s2.n - i.i) >= 0.8
)
SELECT new_doc_id, n_matches, best_match, best_jaccard FROM (
  SELECT dn AS new_doc_id,
         count(*) OVER (PARTITION BY dn) AS n_matches,
         dc AS best_match,
         floor(jraw * 10000.0) / 10000.0 AS best_jaccard,
         row_number() OVER (PARTITION BY dn ORDER BY jraw DESC, dc) AS rn
  FROM verified
) WHERE rn = 1
ORDER BY new_doc_id
"""


@register("dedup_incremental_lsh", oracle=_INCR_ORACLE, bench=True,
          doc="incremental dedup: MinHash-LSH probe of a new batch "
              "(doc_id % 10 = 0) against the standing corpus, "
              "rejected docs with their best corpus match")
def dedup_incremental_lsh(spark, sf_dir):
    """The production ingestion pattern: the standing corpus keeps its
    band-signature index at rest; only the NEW batch (here the
    deterministic doc_id % 10 = 0 slice standing in for today's crawl)
    computes signatures and probes it. Emits each new doc that
    near-duplicates the corpus (verified Jaccard >= 0.8) with its
    match count and best-matching corpus doc — the reject/link table
    an incremental pipeline writes before admitting the batch.

    Scale shape vs in-corpus dedup: the candidate join is new-batch x
    corpus on (band, bsig) — cost scales with BATCH size, not corpus
    size; the corpus index is read, never rebuilt (here both sides
    derive from one relation only because the sandbox has a single
    table). Verification touches candidates only, same as the
    in-corpus path.
    """
    sh, band = _minhash_bands(spark, sf_dir)
    band = tracked_cache(band)  # corpus side + batch side read it once each
    is_new = F.col("doc_id") % 10 == 0
    newb = band.filter(is_new).select(
        F.col("doc_id").alias("dn"), "band", "bsig"
    )
    oldb = band.filter(~is_new).select(
        F.col("doc_id").alias("dc"), "band", "bsig"
    )
    cand = newb.join(oldb, ["band", "bsig"]).select("dn", "dc").distinct()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa = sh.select(F.col("doc_id").alias("dn"), "shingle")
    sb = sh.select(F.col("doc_id").alias("dc"), "shingle")
    inter = (
        cand.join(sa, "dn").join(sb, ["dc", "shingle"])
        .groupBy("dn", "dc")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    jraw = F.col("i") * F.lit(1.0) / (F.col("n1") + F.col("n2") - F.col("i"))
    verified = (
        inter.join(sizes.select(F.col("doc_id").alias("dn"), F.col("n").alias("n1")), "dn")
        .join(sizes.select(F.col("doc_id").alias("dc"), F.col("n").alias("n2")), "dc")
        .filter(jraw >= 0.8)
        .select("dn", "dc", jraw.alias("jraw"))
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("dn")
    wr = w.orderBy(F.desc("jraw"), F.asc("dc"))
    return (
        verified.select(
            F.col("dn").alias("new_doc_id"),
            F.count(F.lit(1)).over(w).alias("n_matches"),
            F.col("dc").alias("best_match"),
            (F.floor(F.col("jraw") * F.lit(10000.0)) / F.lit(10000.0)).alias(
                "best_jaccard"
            ),
            F.row_number().over(wr).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
        .orderBy("new_doc_id")
    )


# --------------------------------------------------------------------
# LSH quality audit: candidate precision/recall vs exact Jaccard truth
# --------------------------------------------------------------------

_LSH_QUALITY_ORACLE = _MINHASH_BANDS_CTE + """
, cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM band a JOIN band b
    ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
), inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), truth AS (
  SELECT d1, d2 FROM inter
  JOIN sizes s1 ON d1 = s1.doc_id
  JOIN sizes s2 ON d2 = s2.doc_id
  WHERE i * 1.0 / (s1.n + s2.n - i) >= 0.8
), tp AS (
  SELECT count(*) AS n FROM cand JOIN truth USING (d1, d2)
), nc AS (SELECT count(*) AS n FROM cand),
nt AS (SELECT count(*) AS n FROM truth)
SELECT CAST(nc.n AS BIGINT) AS n_candidates,
       CAST(nt.n AS BIGINT) AS n_true_pairs,
       CAST(tp.n AS BIGINT) AS n_hits,
       CASE WHEN nc.n = 0 THEN CAST(0 AS BIGINT)
            ELSE (tp.n * 10000) // nc.n END AS precision_1e4,
       CASE WHEN nt.n = 0 THEN CAST(0 AS BIGINT)
            ELSE (tp.n * 10000) // nt.n END AS recall_1e4
FROM nc, nt, tp
"""


@register("dedup_lsh_quality_audit", oracle=_LSH_QUALITY_ORACLE, bench=True,
          doc="MinHash-LSH candidate quality: precision/recall of the "
              "band-bucket candidate set vs exact >=0.8 Jaccard truth")
def dedup_lsh_quality_audit(spark, sf_dir):
    """Measures the LSH index itself: how many band-bucket candidate
    pairs are real near-dups (precision) and how many real near-dups
    the bands surface (recall). This is the go/no-go gauge for the
    (bands, rows) S-curve before pointing the scale path at a new
    corpus — ann_recall_audit's sibling for the dedup family.

    Scale shape: candidates come from the banded self-join (never
    all-pairs); truth is the df-capped exact-Jaccard join whose cost
    is bounded by sum(min(df,cap)^2) — at 100 TB the audit runs on a
    sampled partition of documents, but every join here is already
    key-bucketed so the full-corpus form only pays the same two
    bounded joins. Metrics are exact integer fixed-point (x*10000
    div n) so the single output row hash-matches cross-engine.
    """
    sh, band = _minhash_bands(spark, sf_dir)
    band = tracked_cache(band)  # both sides of the bucket self-join
    a, b = band.alias("a"), band.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bsig") == F.col("b.bsig"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )
    truth = _jaccard_pairs(spark, sf_dir, 0.8).select("d1", "d2")
    # single pass: a full outer join on the pair key classifies every
    # pair as candidate-only / truth-only / hit, and ONE aggregation
    # produces all three counts — each expensive relation is scanned
    # exactly once (three separate count branches would race a lazy
    # cache and recompute the shingle joins)
    j = cand.withColumn("c", F.lit(1)).join(
        truth.withColumn("t", F.lit(1)), ["d1", "d2"], "full")
    return j.agg(
        F.count("c").alias("n_candidates"),
        F.count("t").alias("n_true_pairs"),
        F.count(F.when(F.col("c").isNotNull()
                       & F.col("t").isNotNull(), 1)).alias("n_hits"),
    ).select(
        "n_candidates", "n_true_pairs", "n_hits",
        F.expr("CASE WHEN n_candidates = 0 THEN CAST(0 AS BIGINT) "
               "ELSE (n_hits * 10000) div n_candidates END")
        .alias("precision_1e4"),
        F.expr("CASE WHEN n_true_pairs = 0 THEN CAST(0 AS BIGINT) "
               "ELSE (n_hits * 10000) div n_true_pairs END")
        .alias("recall_1e4"),
    )


# --------------------------------------------------------------------
# n-gram novelty: per-doc share of corpus-first shingles
# --------------------------------------------------------------------

_NOVELTY_ORACLE = _SHINGLES_CTE + """
, first AS (
  SELECT shingle, min(doc_id) AS fd FROM sh GROUP BY shingle
), per_doc AS (
  SELECT sh.doc_id,
         CAST(count(*) AS BIGINT) AS n_sh,
         CAST(count(CASE WHEN f.fd = sh.doc_id THEN 1 END) AS BIGINT)
           AS n_novel
  FROM sh JOIN first f ON sh.shingle = f.shingle
  GROUP BY sh.doc_id
)
SELECT doc_id, n_sh, n_novel,
       (n_novel * 10000) // n_sh AS novelty_bp
FROM per_doc
ORDER BY novelty_bp, doc_id
LIMIT 30
"""


@register("text_ngram_novelty", oracle=_NOVELTY_ORACLE, bench=True,
          doc="per-doc novelty: share of 3-gram shingles this doc "
              "introduced to the corpus (id order), lowest first")
def text_ngram_novelty(spark, sf_dir):
    """For each document, the share of its 3-gram shingles that first
    appear (by doc_id order) in THAT document. Low-novelty documents
    are assembled almost entirely from earlier material — the cheap
    memorization/duplication risk score that ranks candidates for the
    expensive pairwise dedup passes, and the per-doc refinement of
    ``text_vocab_growth``'s corpus curve.

    Scale shape: first-occurrence attribution again — min(doc_id)
    per shingle is one map-combinable groupBy on the shingle key,
    and the per-doc rollup joins on the same key the shingle
    relation is already hashed by; nothing pairwise anywhere. The
    ratio is exact integer basis points. Ascending top-30 via
    TakeOrderedAndProject (partial top-k, no global sort).
    """
    sh = _shingle_df(spark, sf_dir)
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("fd"))
    per_doc = (
        sh.join(first, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.count(F.when(F.col("fd") == F.col("doc_id"), 1))
            .alias("n_novel"),
        )
    )
    return (
        per_doc.select(
            "doc_id", "n_sh", "n_novel",
            F.expr("(n_novel * 10000) div n_sh").alias("novelty_bp"),
        )
        .orderBy("novelty_bp", "doc_id")
        .limit(30)
    )


# --------------------------------------------------------------------
# dedup cost model: candidate-pair counts per stop-shingle cap
# --------------------------------------------------------------------

_DEDUP_COST_ORACLE = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         unnest([ words[i] || ' ' || words[i+1] || ' ' || words[i+2]
                  for i in range(1, len(words)-1) ]) AS shingle
  FROM w
), dfh AS (
  SELECT shingle, CAST(count(*) AS BIGINT) AS df FROM sh GROUP BY shingle
), caps AS (SELECT unnest([5, 25, 100, 1000]) AS cap),
tot AS (SELECT CAST(sum(df) AS BIGINT) AS mass,
               CAST(count(*) AS BIGINT) AS n_shingles FROM dfh)
SELECT c.cap,
       CAST(count(CASE WHEN d.df <= c.cap THEN 1 END) AS BIGINT)
         AS n_shingles_kept,
       CAST(sum(CASE WHEN d.df <= c.cap
                     THEN d.df * (d.df - 1) // 2 ELSE 0 END) AS BIGINT)
         AS candidate_pairs,
       (CAST(sum(CASE WHEN d.df <= c.cap THEN d.df ELSE 0 END) AS BIGINT)
          * 10000) // t.mass AS mass_kept_bp
FROM dfh d, caps c, tot t
GROUP BY c.cap, t.mass
ORDER BY c.cap
"""


@register("dedup_cost_model", oracle=_DEDUP_COST_ORACLE, bench=True,
          doc="stop-shingle cap planner: predicted candidate-pair "
              "count and kept shingle mass per cap, from the df "
              "histogram alone")
def dedup_cost_model(spark, sf_dir):
    """Choose the stop-shingle cap BEFORE paying for the join: the
    exact-Jaccard candidate count is sum over kept shingles of
    C(df, 2), so the df histogram alone predicts the join's cost at
    each cap, alongside how much shingle evidence survives. This is
    the planning query behind dedup_jaccard_capped's knob — at
    100 TB you run this (one cheap aggregation) and pick the largest
    cap whose predicted candidates fit the cluster, instead of
    discovering a 10^12-pair join the hard way.

    Scale shape: one map-combinable groupBy to the df histogram, a
    4-row cap relation crosses it broadcast-side, and the rollup is
    4 groups. Everything integer (pair counts, kept-mass basis
    points).
    """
    sh = _shingle_df(spark, sf_dir)
    dfh = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    caps = local_df(spark, [(5,), (25,), (100,), (1000,)], "cap INT")
    tot = dfh.agg(F.sum("df").alias("mass"))
    return (
        dfh.crossJoin(F.broadcast(caps))
        .crossJoin(F.broadcast(tot))
        .groupBy("cap", "mass")
        .agg(
            F.count(F.when(F.col("df") <= F.col("cap"), 1))
            .alias("n_shingles_kept"),
            F.sum(F.when(F.col("df") <= F.col("cap"),
                         F.expr("df * (df - 1) div 2")).otherwise(F.lit(0)))
            .alias("candidate_pairs"),
            F.expr("(sum(CASE WHEN df <= cap THEN df ELSE 0 END) * 10000) "
                   "div first(mass)").alias("mass_kept_bp"),
        )
        .drop("mass")
        .orderBy("cap")
    )


# --------------------------------------------------------------------
# containment (asymmetric near-dup: quotes, subsets, expansions)
# --------------------------------------------------------------------

# Jaccard misses SUBSET duplication by construction: a document fully
# quoted inside one 4x its size has J = 1/4 (invisible at any usual
# threshold) but containment C = |A∩B| / min(|A|,|B|) = 1.0.  This is
# the dedup pass that catches quote-inflation, boilerplate wrappers,
# and train/test contamination via excerpts — the asymmetric
# complement of dedup_ngram_jaccard over the same shingle relation.
_CONTAIN_ORACLE = _SHINGLES_CTE + """
, dfp AS (
  SELECT shingle, count(*) AS df FROM sh GROUP BY shingle
), shc AS (
  SELECT sh.doc_id, sh.shingle FROM sh JOIN dfp USING (shingle)
  WHERE df <= 1000
), csizes AS (
  SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
  FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT d1, d2,
       floor(i * 10000.0e0 / least(s1.n, s2.n)) / 10000.0e0 AS containment,
       floor(i * 10000.0e0 / (s1.n + s2.n - i)) / 10000.0e0 AS jaccard
FROM inter
JOIN csizes s1 ON d1 = s1.doc_id
JOIN csizes s2 ON d2 = s2.doc_id
WHERE i * 2 >= least(s1.n, s2.n)
ORDER BY d1, d2
"""


@register("dedup_containment", oracle=_CONTAIN_ORACLE, bench=True,
          doc="asymmetric near-dup by shingle containment "
              "C = |A∩B|/min(|A|,|B|) — catches subset/quote "
              "duplication Jaccard structurally misses")
def dedup_containment(spark, sf_dir):
    """Subset-duplication detection: pairs whose smaller document's
    shingle set is >= 50% contained in the other, reported with both
    containment and Jaccard so the asymmetry is visible (high C, low
    J = excerpt/wrapper; high C, high J = ordinary near-dup).

    Scale path is dedup_ngram_jaccard's exactly: the pair join
    shuffles on `shingle` with the df <= 1000 stop-shingle cap
    bounding join fan-out at sum(min(df,cap)^2); sizes join back at
    pair grain.  Both ratios are per-row floor-4dp (`t4`), exact in
    both engines.  Reference parity: the reference ships no dedup
    operator at all (SURVEY §2 gap-fill family)."""
    sh = _shingle_df(spark, sf_dir)
    w_df = W.partitionBy("shingle")
    shc = (
        sh.withColumn("df", F.count(F.lit(1)).over(w_df))
        .filter(F.col("df") <= 1000)
        .drop("df")
    )
    sizes = shc.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = shc.alias("a"), shc.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    return (
        inter
        .join(sizes.select(F.col("doc_id").alias("d1"),
                           F.col("n").alias("n1")), "d1")
        .join(sizes.select(F.col("doc_id").alias("d2"),
                           F.col("n").alias("n2")), "d2")
        .filter(F.col("i") * 2 >= F.least("n1", "n2"))
        .select(
            "d1", "d2",
            F.expr("floor(i * 10000.0e0 / least(n1, n2)) / 10000.0e0")
            .alias("containment"),
            F.expr("floor(i * 10000.0e0 / (n1 + n2 - i)) / 10000.0e0")
            .alias("jaccard"),
        )
        .orderBy("d1", "d2")
    )


# --------------------------------------------------------------------
# edit-distance near-dup: LSH-banded candidates verified by
# bounded Levenshtein
# --------------------------------------------------------------------

_EDIT_LSH_ORACLE = _MINHASH_BANDS_CTE + """
, cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM band a JOIN band b
    ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
), tx AS (
  -- ASCII projection before the prefix: DuckDB's levenshtein is
  -- BYTE-grain while Spark's is codepoint-grain (measured r10:
  -- levenshtein('🚀','x') = 4 vs 1), so the engines agree only on
  -- single-byte code points; the verifier compares the documents'
  -- printable-ASCII projections
  SELECT doc_id,
         substring(regexp_replace(text, '[^ -~]', '', 'g'), 1, 256) AS t
  FROM documents
)
SELECT c.d1, c.d2,
       CAST(levenshtein(ta.t, tb.t) AS BIGINT) AS edit_distance,
       CAST((greatest(length(ta.t), length(tb.t))
             - levenshtein(ta.t, tb.t)) * 10000
            // greatest(greatest(length(ta.t), length(tb.t)), 1)
            AS BIGINT) AS edit_sim_1e4
FROM cand c
JOIN tx ta ON ta.doc_id = c.d1
JOIN tx tb ON tb.doc_id = c.d2
WHERE levenshtein(ta.t, tb.t) * 5
      <= greatest(length(ta.t), length(tb.t))
ORDER BY c.d1, c.d2
"""


@register("dedup_edit_distance_lsh", oracle=_EDIT_LSH_ORACLE, bench=True,
          doc="edit-distance near-dup: MinHash-LSH banded candidates "
              "verified by Levenshtein on 256-char prefixes, "
              "similarity >= 0.8")
def dedup_edit_distance_lsh(spark, sf_dir):
    """Character-level near-duplicate detection: the repo's shared
    MinHash-LSH bands (``minhash_band_signatures``) generate
    candidate pairs, and each candidate is VERIFIED with exact
    Levenshtein distance on the documents' 256-char prefixes —
    keeping pairs whose edit similarity ``(maxlen - ld) / maxlen``
    is >= 0.8 (the filter is the pure-integer form
    ``ld * 5 <= maxlen``, no float threshold).

    This is the complement of the token-level verifiers
    (``dedup_minhash_lsh``'s Jaccard, ``dedup_simhash``): edit
    distance catches in-token mutations (typo/casing/OCR noise)
    that whole-token shingles weight too coarsely.

    Scale shape: candidate generation is the banded bucket join —
    never all-pairs — and the O(L^2) Levenshtein DP runs ONLY on
    surviving candidates with L capped at 256 chars (<= 64k cells
    per pair), the standard blocked record-linkage layout.  The
    band relation is cached across both sides of the self-join
    (tracked_cache, released by bench/CLI after the action).
    """
    band = tracked_cache(_minhash_bands(spark, sf_dir)[1])
    cand = _lsh_candidate_pairs(band)
    # ASCII projection before the prefix: DuckDB levenshtein is
    # byte-grain, Spark's codepoint-grain (measured: '🚀' vs 'x' = 4
    # vs 1) — they agree exactly on single-byte code points, so the
    # verifier compares printable-ASCII projections on both engines
    tx = T(spark, sf_dir, "documents").select(
        "doc_id",
        F.substring(F.regexp_replace("text", "[^ -~]", ""), 1, 256)
        .alias("t"))
    ta = tx.select(F.col("doc_id").alias("d1"), F.col("t").alias("t1"))
    tb = tx.select(F.col("doc_id").alias("d2"), F.col("t").alias("t2"))
    ld = F.levenshtein("t1", "t2")
    maxlen = F.greatest(F.length("t1"), F.length("t2"))
    return (
        cand.join(ta, "d1").join(tb, "d2")
        .filter(ld * 5 <= maxlen)
        .select(
            "d1", "d2",
            ld.cast("long").alias("edit_distance"),
            ((maxlen - ld) * 10000)
            .cast("long").alias("_num"),
            F.greatest(maxlen, F.lit(1)).cast("long").alias("_den"))
        .select(
            "d1", "d2", "edit_distance",
            F.expr("CAST(_num div _den AS BIGINT)").alias("edit_sim_1e4"))
        .orderBy("d1", "d2")
    )
