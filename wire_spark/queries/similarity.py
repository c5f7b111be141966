"""Similarity search over embedding columns: brute-force cosine top-k
(baseline) and a one-pass IVF probe variant (the scale path), plus
vector stats.

North-star operators (BASELINE.json). Dot products use built-in
`zip_with`/`aggregate` higher-order functions — JVM-side, no Python
UDFs; the query side of every join is broadcast (queries and
centroids are small by construction, so the big vector table never
shuffles).

Scale design: brute-force is O(|Q| x N) — correct baseline, and with
broadcast queries it is one scan of the vector table, embarrassingly
parallel. The IVF variant assigns vectors to centroids once
(clustered table at rest), probes the top-2 centroids per query, and
brute-forces only those clusters — at 100 TB with k centroids the
scan shrinks by ~k/2x while staying deterministic (fixed seed
centroids, rounded-similarity ranking with id tiebreaks).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from wire_spark.catalog import register
from wire_spark.queries._util import T, materialize, r4, t6

_COS = """list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))"""


def _dot(x, y):
    return F.aggregate(F.zip_with(x, y, lambda p, q: p * q), F.lit(0.0), lambda a, b: a + b)


def _valid_vectors(spark, sf_dir):
    """(vec_id, label, v, dd): double-cast vectors restricted to the
    VALID-EMBEDDING DOMAIN — 0 < dot(v,v) < 1e12, i.e. non-zero,
    finite, norm < 1e6 (and so every component <= 1e6 and every
    pairwise |dot| < 1e12 by Cauchy-Schwarz).  The r12 ``zerovec``
    sweep showed one malformed row (an all-zero or huge vector)
    crashes every cosine kernel under ANSI (0/0 → DIVIDE_BY_ZERO) or
    silently saturates int64 fixed-point; the r12 review pass then
    tightened the bound from 1e30 to 1e12 so the domain actually
    covers the kernels' fixed-point budgets — Spark's floor(DOUBLE)
    SATURATES SILENTLY at int64 max, so a 1e13-component vector
    admitted by the old gate gave a silently wrong 1e6-fixed-point
    centroid on Spark while DuckDB errored.  With dd < 1e12 every
    1e6-scale floor input (components, dots, squared distances <=
    4e12) stays per-row exact.  At 100 TB a contract gate in front
    of the vector stage is the production shape, so the exclusion
    lives in the loader and is mirrored verbatim in every oracle's
    scan (no real test row at any SF is excluded — norms are
    unit-scale).  NaN/Inf components make dd non-finite, and both
    engines order NaN above every number, so dd < 1e12 rejects them
    identically."""
    v = F.transform("embedding", lambda x: x.cast("double"))
    return (
        T(spark, sf_dir, "embeddings")
        .select("vec_id", "label", v.alias("v"))
        .withColumn("dd", _dot(F.col("v"), F.col("v")))
        .filter((F.col("dd") > 0.0) & (F.col("dd") < 1.0e12))
    )


def valid_embedding_cond():
    """Boolean Column implementing the valid-embedding domain gate on
    a raw ``embedding`` (array<float>) column — for kernels that feed
    the untouched column into numpy (gram matrix, power iteration)
    and so can't go through ``_valid_vectors``."""
    v = F.transform("embedding", lambda x: x.cast("double"))
    dd = _dot(v, v)
    return (dd > 0.0) & (dd < 1.0e12)


def gram_domain_cond():
    """``valid_embedding_cond()`` PLUS the spectral kernels'
    per-component fixed-point budget: max |component| <= 1024, so
    per-row outer products (<= 1024^2 * 1e6 ~ 1.05e12) stay
    int64-exact inside the numpy partials.  The dd-gate alone admits
    components up to ~1e6, which left an engine-ASYMMETRIC band:
    for |component| in (1024, ~3e4] Spark's kernel
    raised its domain ValueError while the DuckDB oracle still
    returned rows.  Mirroring the bound into BOTH scans (oracle
    WHERE: ``list_max(list_transform(embedding::DOUBLE[], x ->
    abs(x))) <= 1024.0e0``) makes the two engines exclude the band
    identically; the kernel's internal raise becomes an unreachable
    invariant backstop for the registered queries.  Identity on real
    data (components are O(1)).  Rows reaching this condition have
    finite components — non-finite vectors already fail the dd-gate
    in both engines (NaN orders above all numbers)."""
    v = F.transform("embedding", lambda x: x.cast("double"))
    mx = F.array_max(F.transform(v, F.abs))
    return valid_embedding_cond() & (mx <= F.lit(1024.0))


def _vectors(spark, sf_dir):
    # NOT cached: columnar-caching array<double> columns measurably
    # hurts here (cache build + InMemoryTableScan breaks the codegen
    # pipeline around the higher-order-function dot products); the
    # parquet re-scan of a pruned 3-column table is cheaper.
    #
    # Norm precomputed ONCE per vector (O(N)) so the pairwise stage
    # evaluates a single dot product per pair instead of three —
    # parity-safe: sqrt(dot(v,v)) is the same double whether computed
    # per row or per pair.
    return _valid_vectors(spark, sf_dir).select(
        "vec_id", "label", "v", F.sqrt(F.col("dd")).alias("nrm")
    )


# --------------------------------------------------------------------
# brute-force cosine top-k
# --------------------------------------------------------------------

_KNN_ORACLE = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0.0
             AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) < 1.0e12),
q AS (SELECT * FROM e WHERE vec_id % 100 = 0),
sims AS (
  SELECT a.vec_id AS qid, b.vec_id AS nid,
         floor((""" + _COS + """) * 1000000.0) / 1000000.0 AS sim
  FROM q a JOIN e b ON b.vec_id != a.vec_id
)
SELECT qid, nid, sim, rn FROM (
  SELECT qid, nid, sim,
         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
  FROM sims
)
WHERE rn <= 5
ORDER BY qid, rn
"""


@register("knn_bruteforce_cosine", oracle=_KNN_ORACLE, bench=True,
          doc="brute-force cosine top-5 for query vectors (id % 100 == 0)")
def knn_bruteforce_cosine(spark, sf_dir):
    e = _vectors(spark, sf_dir)
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    sims = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
        .select("qid", F.col("vec_id").alias("nid"),
                t6(_dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))).alias("sim"))
    )
    w = W.partitionBy("qid").orderBy(F.desc("sim"), F.asc("nid"))
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("qid", "nid", "sim", "rn")
        .orderBy("qid", "rn")
    )


# --------------------------------------------------------------------
# IVF probe top-k (approximate, deterministic)
# --------------------------------------------------------------------

_IVF_ORACLE = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0.0
             AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) < 1.0e12),
cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
assign AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, cent.cid,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY floor(list_dot_product(e.v, cent.cv)
                  / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cent.cv, cent.cv)))
                  * 1000000.0) / 1000000.0 DESC,
               cent.cid) AS rn
    FROM e CROSS JOIN cent
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 100 = 0),
probes AS (
  SELECT qid, cid FROM (
    SELECT q.qid, cent.cid,
           row_number() OVER (
             PARTITION BY q.qid
             ORDER BY floor(list_dot_product(q.qv, cent.cv)
                  / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(cent.cv, cent.cv)))
                  * 1000000.0) / 1000000.0 DESC,
               cent.cid) AS rn
    FROM q CROSS JOIN cent
  ) WHERE rn <= 2
),
cand AS (
  SELECT q.qid, q.qv, e.vec_id AS nid, e.v
  FROM probes p
  JOIN q ON q.qid = p.qid
  JOIN assign a ON a.cid = p.cid
  JOIN e ON e.vec_id = a.vec_id AND e.vec_id != q.qid
)
SELECT qid, nid, sim, rn FROM (
  SELECT qid, nid,
         floor(list_dot_product(qv, v)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v)))
               * 1000000.0) / 1000000.0 AS sim,
         row_number() OVER (
           PARTITION BY qid
           ORDER BY floor(list_dot_product(qv, v)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v)))
               * 1000000.0) / 1000000.0 DESC,
             nid) AS rn
  FROM cand
)
WHERE rn <= 5
ORDER BY qid, rn
"""


@register("ann_ivf_cosine", oracle=_IVF_ORACLE, bench=True,
          doc="IVF-probe approximate top-5 (8 fixed centroids, 2 probes)")
def ann_ivf_cosine(spark, sf_dir):
    e = _vectors(spark, sf_dir).select("vec_id", "v", "nrm")
    cent = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv"), F.col("nrm").alias("cn")
    )
    # 1. assignment: nearest centroid per vector (one broadcast pass).
    # Kept as a rank-1 window DELIBERATELY (r15 optimization round):
    # Spark's WindowGroupLimit already prunes to top-1 per key on the
    # map side before the exchange, and a min(struct) aggregate
    # measured SLOWER (struct buffers fall out of codegen hash
    # aggregation into ObjectHashAggregate).
    sim_c = t6(_dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cn")))
    w_assign = W.partitionBy("vec_id").orderBy(F.desc("csim"), F.asc("cid"))
    assign = (
        e.crossJoin(F.broadcast(cent))
        .select("vec_id", "cid", sim_c.alias("csim"))
        .withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid")
    )
    # 2. probe: top-2 centroids per query
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    w_probe = W.partitionBy("qid").orderBy(F.desc("csim"), F.asc("cid"))
    probes = (
        q.crossJoin(F.broadcast(cent))
        .select("qid", "qv", "qn",
                t6(_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("csim"),
                "cid")
        .withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= 2)
        .select("qid", "qv", "qn", "cid")
    )
    # 3. brute-force within probed clusters only
    cand = (
        probes.join(assign, "cid")
        .join(e, "vec_id")
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "qv", "qn", F.col("vec_id").alias("nid"), "v", "nrm")
    )
    w_top = W.partitionBy("qid").orderBy(F.desc("sim"), F.asc("nid"))
    return (
        cand.select("qid", "nid",
                    t6(_dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))).alias("sim"))
        .withColumn("rn", F.row_number().over(w_top))
        .filter(F.col("rn") <= 5)
        .select("qid", "nid", "sim", "rn")
        .orderBy("qid", "rn")
    )


# --------------------------------------------------------------------
# IVF over Lloyd-refined centroids (train the index, then search it)
# --------------------------------------------------------------------

def _ivf_lloyd_oracle() -> str:
    from wire_spark.queries.clustering import LLOYD_CENT1_CTE

    cos_cent = """floor(list_dot_product({a}.{av}, cent1.cv)
         / (sqrt(list_dot_product({a}.{av}, {a}.{av}))
            * sqrt(list_dot_product(cent1.cv, cent1.cv)))
         * 1000000.0) / 1000000.0"""
    return LLOYD_CENT1_CTE + f""",
assign AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, cent1.cid,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {cos_cent.format(a='e', av='v')} DESC, cent1.cid) AS rn
    FROM e CROSS JOIN cent1
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 100 = 0),
probes AS (
  SELECT qid, cid FROM (
    SELECT q.qid, cent1.cid,
           row_number() OVER (
             PARTITION BY q.qid
             ORDER BY {cos_cent.format(a='q', av='qv')} DESC, cent1.cid) AS rn
    FROM q CROSS JOIN cent1
  ) WHERE rn <= 2
),
cand AS (
  SELECT q.qid, q.qv, e.vec_id AS nid, e.v
  FROM probes p
  JOIN q ON q.qid = p.qid
  JOIN assign a ON a.cid = p.cid
  JOIN e ON e.vec_id = a.vec_id AND e.vec_id != q.qid
)
SELECT qid, nid, sim, rn FROM (
  SELECT qid, nid,
         floor(list_dot_product(qv, v)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v)))
               * 1000000.0) / 1000000.0 AS sim,
         row_number() OVER (
           PARTITION BY qid
           ORDER BY floor(list_dot_product(qv, v)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v)))
               * 1000000.0) / 1000000.0 DESC,
             nid) AS rn
  FROM cand
)
WHERE rn <= 5
ORDER BY qid, rn
"""


@register("ann_ivf_lloyd_cosine", oracle=_ivf_lloyd_oracle(), bench=True,
          doc="IVF top-5 over Lloyd-refined centroids: one k-means round "
              "trains the index, probes search it")
def ann_ivf_lloyd_cosine(spark, sf_dir):
    """The full train-then-search ANN pipeline: seed centroids are
    refined by one integer-exact Lloyd round (clustering.lloyd_cent1 —
    bit-identical across engines), vectors are assigned to the
    refined cells, and each query probes its top-2 cells. Refined
    centroids track the data distribution, so cells are better
    balanced than raw seed rows — at 100 TB that evens out per-cell
    scan cost and improves recall at the same probe count. Same scale
    shape as ann_ivf_cosine: centroids broadcast everywhere, the
    vector table never shuffles for the index, candidates shuffle on
    cell id only. More Lloyd rounds = repeat the refinement block."""
    from wire_spark.queries.clustering import lloyd_cent1

    e = _vectors(spark, sf_dir).select("vec_id", "v", "nrm")
    # 8-row refined-centroid relation, broadcast into BOTH the
    # assignment and the probe pass — materialized once so the Lloyd
    # refinement (a full pass over the vector table) does not execute
    # per consumer
    cent = materialize(lloyd_cent1(spark, sf_dir).withColumn(
        "cn", F.sqrt(_dot(F.col("cv"), F.col("cv")))
    ))
    sim_c = t6(_dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cn")))
    w_assign = W.partitionBy("vec_id").orderBy(F.desc("csim"), F.asc("cid"))
    assign = (
        e.crossJoin(F.broadcast(cent))
        .select("vec_id", "cid", sim_c.alias("csim"))
        .withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid")
    )
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    w_probe = W.partitionBy("qid").orderBy(F.desc("csim"), F.asc("cid"))
    probes = (
        q.crossJoin(F.broadcast(cent))
        .select("qid", "qv", "qn",
                t6(_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("csim"),
                "cid")
        .withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= 2)
        .select("qid", "qv", "qn", "cid")
    )
    cand = (
        probes.join(assign, "cid")
        .join(e, "vec_id")
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "qv", "qn", F.col("vec_id").alias("nid"), "v", "nrm")
    )
    w_top = W.partitionBy("qid").orderBy(F.desc("sim"), F.asc("nid"))
    return (
        cand.select("qid", "nid",
                    t6(_dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))).alias("sim"))
        .withColumn("rn", F.row_number().over(w_top))
        .filter(F.col("rn") <= 5)
        .select("qid", "nid", "sim", "rn")
        .orderBy("qid", "rn")
    )


# --------------------------------------------------------------------
# vector stats
# --------------------------------------------------------------------

_NORM_ORACLE = """
SELECT label,
       count(*) AS n,
       round(avg(sqrt(list_dot_product(v, v))), 4) AS avg_norm,
       floor(min(sqrt(list_dot_product(v, v))) * 1000000.0) / 1000000.0 AS min_norm,
       floor(max(sqrt(list_dot_product(v, v))) * 1000000.0) / 1000000.0 AS max_norm
FROM (SELECT label, embedding::DOUBLE[] AS v FROM embeddings
      WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0.0
        AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) < 1.0e12)
GROUP BY label
ORDER BY label
"""


@register("embedding_norm_stats", oracle=_NORM_ORACLE,
          doc="per-label embedding norm statistics")
def embedding_norm_stats(spark, sf_dir):
    e = _vectors(spark, sf_dir)
    return (
        e.select("label", F.col("nrm").alias("norm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            r4(F.avg("norm")).alias("avg_norm"),
            t6(F.min("norm")).alias("min_norm"),
            t6(F.max("norm")).alias("max_norm"),
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------
# LSH-bucketed ANN (random hyperplanes)
# --------------------------------------------------------------------

def _lsh_planes(n_planes: int = 8, dim: int = 64) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from md5 — computed
    once in Python, embedded as literals in BOTH engines so the
    sign-bit hashing is bit-identical."""
    import hashlib

    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[:15], 16)
            row.append((h % 2000001) / 1000000.0 - 1.0)  # [-1, 1)
        planes.append(row)
    return planes


def _lsh_oracle() -> str:
    planes = _lsh_planes()
    plane_sql = ", ".join(
        "[" + ", ".join(repr(w) for w in row) + "]" for row in planes
    )
    bucket_terms = " + ".join(
        f"(CASE WHEN list_dot_product(v, p{i}) >= 0 THEN {1 << i} ELSE 0 END)"
        for i in range(len(planes))
    )
    plane_cols = ", ".join(f"pl[{i + 1}] AS p{i}" for i in range(len(planes)))
    return f"""
WITH pl_t AS (SELECT [{plane_sql}]::DOUBLE[][] AS pl),
e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v, {plane_cols}
  FROM embeddings, pl_t
  WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0.0
    AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) < 1.0e12
), hashed AS (
  SELECT vec_id, v, {bucket_terms} AS bucket FROM e
), q AS (SELECT vec_id AS qid, v AS qv, bucket FROM hashed WHERE vec_id % 100 = 0),
cand AS (
  SELECT q.qid, q.qv, h.vec_id AS nid, h.v
  FROM q JOIN hashed h ON h.bucket = q.bucket AND h.vec_id != q.qid
)
SELECT qid, nid, sim, rn FROM (
  SELECT qid, nid,
         floor(list_dot_product(qv, v)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v)))
               * 1000000.0) / 1000000.0 AS sim,
         row_number() OVER (
           PARTITION BY qid
           ORDER BY floor(list_dot_product(qv, v)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v)))
               * 1000000.0) / 1000000.0 DESC, nid) AS rn
  FROM cand
)
WHERE rn <= 5
ORDER BY qid, rn
"""


def _lsh_multiprobe_oracle() -> str:
    planes = _lsh_planes()
    plane_sql = ", ".join(
        "[" + ", ".join(repr(w) for w in row) + "]" for row in planes
    )
    bucket_terms = " + ".join(
        f"(CASE WHEN list_dot_product(v, p{i}) >= 0 THEN {1 << i} ELSE 0 END)"
        for i in range(len(planes))
    )
    plane_cols = ", ".join(f"pl[{i + 1}] AS p{i}" for i in range(len(planes)))
    flips = ", ".join(str(1 << i) for i in range(len(planes)))
    return f"""
WITH pl_t AS (SELECT [{plane_sql}]::DOUBLE[][] AS pl),
e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v, {plane_cols}
  FROM embeddings, pl_t
  WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0.0
    AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) < 1.0e12
), hashed AS (
  SELECT vec_id, v, {bucket_terms} AS bucket FROM e
), q AS (SELECT vec_id AS qid, v AS qv, bucket FROM hashed WHERE vec_id % 100 = 0),
probes AS (
  SELECT qid, qv, xor(bucket, f) AS probe
  FROM q, (SELECT unnest([0, {flips}]) AS f)
),
cand AS (
  SELECT DISTINCT p.qid, p.qv, h.vec_id AS nid, h.v
  FROM probes p JOIN hashed h ON h.bucket = p.probe AND h.vec_id != p.qid
)
SELECT qid, nid, sim, rn FROM (
  SELECT qid, nid,
         floor(list_dot_product(qv, v)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v)))
               * 1000000.0) / 1000000.0 AS sim,
         row_number() OVER (
           PARTITION BY qid
           ORDER BY floor(list_dot_product(qv, v)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v)))
               * 1000000.0) / 1000000.0 DESC, nid) AS rn
  FROM cand
)
WHERE rn <= 5
ORDER BY qid, rn
"""


@register("ann_lsh_multiprobe_cosine", oracle=_lsh_multiprobe_oracle(), bench=True,
          doc="multi-probe LSH ANN: own bucket + all 8 hamming-1 flips "
              "(9 of 256 buckets) -> higher recall, same equi-join shape")
def ann_lsh_multiprobe_cosine(spark, sf_dir):
    """Multi-probe companion to ann_lsh_cosine: each query probes its
    own sign-bit bucket PLUS the 8 buckets that differ in exactly one
    bit (the standard multi-probe trick — a near neighbor's most
    likely 'wrong' bucket differs on one low-margin hyperplane).
    Candidate generation stays a bucket equi-join: the query side
    explodes to 9 probe keys (still tiny, still broadcast), the
    vector table is scanned once and touches ~9N/256 of its rows.
    See test_lsh_multiprobe_recall for measured recall vs exact."""
    planes = _lsh_planes()
    e = _vectors(spark, sf_dir).select("vec_id", "v", "nrm")

    def dot_lit(vcol, row):
        arr = F.array(*[F.lit(w) for w in row])
        return F.aggregate(
            F.zip_with(vcol, arr, lambda x, y: x * y), F.lit(0.0), lambda a, b: a + b
        )

    bucket = None
    for i, row in enumerate(planes):
        bit = F.when(dot_lit(F.col("v"), row) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    hashed = e.withColumn("bucket", bucket)
    flips = F.array(F.lit(0), *[F.lit(1 << i) for i in range(len(planes))])
    q = (
        hashed.filter(F.col("vec_id") % 100 == 0)
        .select(
            F.col("vec_id").alias("qid"), F.col("v").alias("qv"),
            F.col("nrm").alias("qn"), F.col("bucket").alias("qbucket"),
        )
        .withColumn("f", F.explode(flips))
        .withColumn("probe", F.col("qbucket").bitwiseXOR(F.col("f")))
    )
    cand = hashed.join(
        F.broadcast(q),
        (F.col("bucket") == F.col("probe")) & (F.col("vec_id") != F.col("qid")),
    ).select("qid", "qv", "qn", F.col("vec_id").alias("nid"), "v", "nrm")
    w = W.partitionBy("qid").orderBy(F.desc("sim"), F.asc("nid"))
    return (
        cand.select(
            "qid", "nid",
            t6(_dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))).alias("sim"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("qid", "nid", "sim", "rn")
        .orderBy("qid", "rn")
    )


@register("ann_lsh_cosine", oracle=_lsh_oracle(), bench=True,
          doc="LSH-bucketed ANN: 8 random-hyperplane sign bits -> 256 buckets")
def ann_lsh_cosine(spark, sf_dir):
    """Scale path #2 (companion to IVF): vectors hashed to one of 256
    sign-bit buckets (8 deterministic hyperplanes); a query scans only
    its own bucket (~N/256 of the table), then exact cosine top-5.
    At 100 TB the bucket is a partition key — the scan prunes to one
    partition per query; multi-probe (flip lowest-margin bits) trades
    recall for scan breadth without changing the shape."""
    planes = _lsh_planes()
    e = _vectors(spark, sf_dir).select("vec_id", "v", "nrm")

    def dot_lit(vcol, row):
        arr = F.array(*[F.lit(w) for w in row])
        return F.aggregate(
            F.zip_with(vcol, arr, lambda x, y: x * y), F.lit(0.0), lambda a, b: a + b
        )

    bucket = None
    for i, row in enumerate(planes):
        bit = F.when(dot_lit(F.col("v"), row) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    hashed = e.withColumn("bucket", bucket)
    q = hashed.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv"),
        F.col("nrm").alias("qn"), F.col("bucket").alias("qbucket"),
    )
    cand = hashed.join(
        F.broadcast(q),
        (F.col("bucket") == F.col("qbucket")) & (F.col("vec_id") != F.col("qid")),
    )
    w = W.partitionBy("qid").orderBy(F.desc("sim"), F.asc("nid"))
    return (
        cand.select(
            "qid", F.col("vec_id").alias("nid"),
            t6(_dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))).alias("sim"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("qid", "nid", "sim", "rn")
        .orderBy("qid", "rn")
    )


# --------------------------------------------------------------------
# int8 quantization audit
# --------------------------------------------------------------------

_QUANT_ORACLE = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0.0
             AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) < 1.0e12),
q AS (
  SELECT vec_id, v,
         list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
  FROM e
)
SELECT vec_id,
       floor(scale * 1000000.0) / 1000000.0 AS scale,
       floor(list_max(
         list_transform(v, x -> abs(x - floor(x / scale) * scale))
       ) * 1000000.0) / 1000000.0 AS max_abs_err
FROM q
ORDER BY vec_id
"""


@register("embedding_quantize_int8", oracle=_QUANT_ORACLE, bench=True,
          doc="int8 symmetric quantization audit: per-vector scale and "
              "max reconstruction error")
def embedding_quantize_int8(spark, sf_dir):
    """Storage-shrink audit for the embedding table: symmetric int8
    quantization (scale = max|v| / 127, code = floor(v/scale)) with
    the per-vector max reconstruction error — the check you run
    before switching an ANN index to quantized storage (8x smaller
    vectors, 8x more of the table per executor page). Pure
    higher-order functions per row, embarrassingly parallel, no
    shuffle; every arithmetic step is per-element deterministic so
    the oracle matches bit-for-bit."""
    e = _valid_vectors(spark, sf_dir).select("vec_id", "v")
    # The scale must not be bound via withColumn: after projection
    # collapse, a F.col("scale") reference inside a transform()
    # lambda nests the scale's own transform() under the outer
    # lambda and the Python-lambda variable binding silently
    # captures the OUTER element (scale became per-element —
    # observed, wrong by 3%). Naive inlining is correct but
    # re-evaluates the array_max PER ELEMENT (d^2 = 4096 flops/row;
    # measured 0.21 -> 0.67 s on the err phase). Instead the scale
    # is computed once per row as the single element of the outer
    # transform()'s input array and bound to the lambda variable
    # `s` — each lambda body is O(d) and the SQL-parsed lambda
    # variables (`a`, `s`, `x`) are distinct by construction, so
    # the capture bug cannot recur. Same arithmetic tree per
    # element, bit-identical output.
    scale = F.array_max(F.transform("v", lambda x: F.abs(x))) / F.lit(127.0)
    err = F.element_at(
        F.expr(
            "transform(array(array_max(transform(v, a -> abs(a))) / 127.0E0),"
            " s -> array_max(transform(v, x -> abs(x - floor(x / s) * s))))"
        ),
        1,
    )
    return (
        e.select("vec_id", t6(scale).alias("scale"), t6(err).alias("max_abs_err"))
        .orderBy("vec_id")
    )


# --------------------------------------------------------------------
# product-quantized ANN (asymmetric distance computation)
# --------------------------------------------------------------------

_PQ_M = 8        # subspaces
_PQ_SUB = 8      # dims per subspace (8 x 8 = 64)
_PQ_K = 16       # codewords per subspace (deterministic: first 16 vectors)


def _pq_oracle() -> str:
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0.0
             AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) < 1.0e12),
subs AS (SELECT unnest(range({_PQ_M})) AS m),
cw AS (
  SELECT vec_id AS code, m, v[m * {_PQ_SUB} + 1 : m * {_PQ_SUB} + {_PQ_SUB}] AS cv
  FROM e, subs WHERE vec_id < {_PQ_K}
),
sub_v AS (
  SELECT vec_id, m, v[m * {_PQ_SUB} + 1 : m * {_PQ_SUB} + {_PQ_SUB}] AS sv
  FROM e, subs
),
assigned AS (
  SELECT vec_id, m, code FROM (
    SELECT sub_v.vec_id, sub_v.m, cw.code,
           row_number() OVER (
             PARTITION BY sub_v.vec_id, sub_v.m
             ORDER BY floor(list_distance(sub_v.sv, cw.cv) * 1000000.0) / 1000000.0,
                      cw.code
           ) AS rn
    FROM sub_v JOIN cw ON sub_v.m = cw.m
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS qid, m, sv AS qsv FROM sub_v WHERE vec_id % 100 = 0),
adc AS (
  SELECT q.qid, a.vec_id AS nid,
         sum(CAST(floor(list_distance(q.qsv, cw.cv) * 1000000.0) AS BIGINT)) AS adist_i
  FROM q
  JOIN assigned a ON a.m = q.m AND a.vec_id != q.qid
  JOIN cw ON cw.m = a.m AND cw.code = a.code
  GROUP BY q.qid, a.vec_id
)
SELECT qid, nid, adist_i / 1000000.0 AS adist, rn FROM (
  SELECT qid, nid, adist_i,
         row_number() OVER (
           PARTITION BY qid ORDER BY adist_i, nid
         ) AS rn
  FROM adc
)
WHERE rn <= 5
ORDER BY qid, rn
"""


@register("ann_pq_adc", oracle=_pq_oracle(), bench=True,
          doc="product-quantized ANN: 8x8-dim subspaces, 16 codewords each, "
              "asymmetric-distance top-5")
def ann_pq_adc(spark, sf_dir):
    """Product quantization with asymmetric distance computation: the
    64-dim space splits into 8 subspaces of 8 dims; each sub-vector is
    replaced by its nearest of 16 deterministic codewords (the first
    16 vectors' sub-vectors — the same fixed-seed convention as the
    IVF centroids), so a vector stores 8 small codes (64 dims -> 8
    bytes, 32x compression). A query computes one 8x16 distance table
    per subspace and ranks the WHOLE table by summed codeword
    distances without touching any stored vector — the memory-bound
    regime PQ exists for.

    Scale shape: codebook (128 rows) broadcasts everywhere; encoding
    is a one-pass broadcast join; the ADC join keys on (m, code)
    against the tiny distance table, then aggregates 8 partial
    distances per candidate — shuffle on vec_id only. Distances are
    floor-truncated (t6) before every comparison so ranking matches
    the oracle bit-for-bit.
    """
    e = _valid_vectors(spark, sf_dir).select("vec_id", "v")
    subs = spark.range(_PQ_M).select(F.col("id").cast("int").alias("m"))
    # sub-vectors: slice m*8+1 .. +8 (1-based, mirrors DuckDB list slice)
    sub_v = (
        e.crossJoin(F.broadcast(subs))
        .select(
            "vec_id", "m",
            F.slice("v", F.col("m") * _PQ_SUB + 1, _PQ_SUB).alias("sv"),
        )
    )
    cw = (
        sub_v.filter(F.col("vec_id") < _PQ_K)
        .select(F.col("vec_id").alias("code"), "m", F.col("sv").alias("cv"))
    )

    def l2(a, b):
        # euclidean distance, same element order as DuckDB list_distance
        return F.sqrt(
            F.aggregate(
                F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0), lambda acc, z: acc + z,
            )
        )

    w_assign = W.partitionBy("vec_id", "m").orderBy("d", "code")
    assigned = (
        sub_v.join(F.broadcast(cw), "m")
        .select("vec_id", "m", "code", t6(l2(F.col("sv"), F.col("cv"))).alias("d"))
        .withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
        .select("vec_id", "m", "code")
    )
    q = sub_v.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"), "m", F.col("sv").alias("qsv")
    )
    # per-query distance table: |Q| x m x k rows — tiny, broadcast
    dist_table = (
        q.join(F.broadcast(cw), "m")
        .select("qid", "m", "code", l2(F.col("qsv"), F.col("cv")).alias("qd"))
    )
    # partial distances sum in INTEGER domain (floor(d*1e6) as long):
    # adding 8 truncated doubles in Spark's nondeterministic agg order
    # differs from DuckDB's in the last ulp — integer sums are exact
    # in any order (PARITY.md rule 1 / msum)
    adc = (
        assigned.join(F.broadcast(dist_table), ["m", "code"])
        .filter(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", F.col("vec_id").alias("nid"))
        .agg(F.sum(F.floor(F.col("qd") * F.lit(1000000.0)).cast("decimal(38,0)")).alias("adist_i"))
    )
    w_top = W.partitionBy("qid").orderBy(F.col("adist_i"), F.asc("nid"))
    return (
        adc.withColumn("rn", F.row_number().over(w_top))
        .filter(F.col("rn") <= 5)
        .select("qid", "nid",
                (F.col("adist_i") / F.lit(1000000.0)).alias("adist"), "rn")
        .orderBy("qid", "rn")
    )


# --------------------------------------------------------------------
# IVF-PQ: probe IVF cells, rank candidates by PQ asymmetric distance
# --------------------------------------------------------------------

def _ivfpq_oracle() -> str:
    cos = """floor(list_dot_product({a}.{av}, cent.cv)
         / (sqrt(list_dot_product({a}.{av}, {a}.{av}))
            * sqrt(list_dot_product(cent.cv, cent.cv)))
         * 1000000.0) / 1000000.0"""
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0.0
             AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) < 1.0e12),
cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
ivf_assign AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, cent.cid,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {cos.format(a='e', av='v')} DESC, cent.cid) AS rn
    FROM e CROSS JOIN cent
  ) WHERE rn = 1
),
q0 AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 100 = 0),
probes AS (
  SELECT qid, cid FROM (
    SELECT q0.qid, cent.cid,
           row_number() OVER (
             PARTITION BY q0.qid
             ORDER BY {cos.format(a='q0', av='qv')} DESC, cent.cid) AS rn
    FROM q0 CROSS JOIN cent
  ) WHERE rn <= 2
),
cand AS (
  SELECT p.qid, a.vec_id AS nid
  FROM probes p JOIN ivf_assign a ON a.cid = p.cid
  WHERE a.vec_id != p.qid
),
subs AS (SELECT unnest(range({_PQ_M})) AS m),
cw AS (
  SELECT vec_id AS code, m, v[m * {_PQ_SUB} + 1 : m * {_PQ_SUB} + {_PQ_SUB}] AS cv
  FROM e, subs WHERE vec_id < {_PQ_K}
),
sub_v AS (
  SELECT vec_id, m, v[m * {_PQ_SUB} + 1 : m * {_PQ_SUB} + {_PQ_SUB}] AS sv
  FROM e, subs
),
assigned AS (
  SELECT vec_id, m, code FROM (
    SELECT sub_v.vec_id, sub_v.m, cw.code,
           row_number() OVER (
             PARTITION BY sub_v.vec_id, sub_v.m
             ORDER BY floor(list_distance(sub_v.sv, cw.cv) * 1000000.0) / 1000000.0,
                      cw.code
           ) AS rn
    FROM sub_v JOIN cw ON sub_v.m = cw.m
  ) WHERE rn = 1
),
qsub AS (SELECT vec_id AS qid, m, sv AS qsv FROM sub_v WHERE vec_id % 100 = 0),
adc AS (
  SELECT qsub.qid, pq.vec_id AS nid,
         sum(CAST(floor(list_distance(qsub.qsv, cw.cv) * 1000000.0) AS BIGINT)) AS adist_i
  FROM qsub
  JOIN assigned pq ON pq.m = qsub.m
  JOIN cand c ON c.qid = qsub.qid AND c.nid = pq.vec_id
  JOIN cw ON cw.m = pq.m AND cw.code = pq.code
  GROUP BY qsub.qid, pq.vec_id
)
SELECT qid, nid, adist_i / 1000000.0 AS adist, rn FROM (
  SELECT qid, nid, adist_i,
         row_number() OVER (PARTITION BY qid ORDER BY adist_i, nid) AS rn
  FROM adc
)
WHERE rn <= 5
ORDER BY qid, rn
"""


@register("ann_ivfpq_adc", oracle=_ivfpq_oracle(), bench=True,
          doc="IVF-PQ: probe top-2 IVF cells, rank members by PQ "
              "asymmetric distance — the production ANN composition")
def ann_ivfpq_adc(spark, sf_dir):
    """The standard production ANN index composition (FAISS-style
    IVF-PQ): coarse IVF cells bound WHICH vectors are considered
    (probe top-2 of 8 cells); product-quantized codes bound WHAT is
    read per candidate (8 bytes, never the stored vector). At 100 TB
    the scan per query is (2/8 of the table) x (8 bytes/vector) — the
    two reductions compose multiplicatively. Scale shape: centroids +
    codebook + per-query distance tables all broadcast; candidates
    come from an equi-join on cell id; the ADC fold shuffles on
    (qid, vec_id) only. Integer-domain partial-distance sums keep the
    ranking bit-identical across engines."""
    e = _valid_vectors(spark, sf_dir).select(
        "vec_id", "v", F.sqrt(F.col("dd")).alias("nrm")
    )
    cent = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv"), F.col("nrm").alias("cn")
    )
    # coarse quantizer: nearest cell per vector, top-2 probes per query
    sim_c = t6(_dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cn")))
    w_assign = W.partitionBy("vec_id").orderBy(F.desc("csim"), F.asc("cid"))
    ivf_assign = (
        e.crossJoin(F.broadcast(cent))
        .select("vec_id", "cid", sim_c.alias("csim"))
        .withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid")
    )
    q0 = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    w_probe = W.partitionBy("qid").orderBy(F.desc("csim"), F.asc("cid"))
    probes = (
        q0.crossJoin(F.broadcast(cent))
        .select("qid",
                t6(_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("csim"),
                "cid")
        .withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= 2)
        .select("qid", "cid")
    )
    cand = (
        probes.join(ivf_assign, "cid")
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", F.col("vec_id").alias("nid"))
    )
    # PQ encoding (identical to ann_pq_adc)
    subs = spark.range(_PQ_M).select(F.col("id").cast("int").alias("m"))
    sub_v = (
        e.crossJoin(F.broadcast(subs))
        .select("vec_id", "m", F.slice("v", F.col("m") * _PQ_SUB + 1, _PQ_SUB).alias("sv"))
    )
    cw = (
        sub_v.filter(F.col("vec_id") < _PQ_K)
        .select(F.col("vec_id").alias("code"), "m", F.col("sv").alias("cv"))
    )

    def l2(a, b):
        return F.sqrt(
            F.aggregate(
                F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0), lambda acc, z: acc + z,
            )
        )

    w_pq = W.partitionBy("vec_id", "m").orderBy("d", "code")
    assigned = (
        sub_v.join(F.broadcast(cw), "m")
        .select("vec_id", "m", "code", t6(l2(F.col("sv"), F.col("cv"))).alias("d"))
        .withColumn("rn", F.row_number().over(w_pq))
        .filter(F.col("rn") == 1)
        .select("vec_id", "m", "code")
    )
    qsub = sub_v.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"), "m", F.col("sv").alias("qsv")
    )
    dist_table = (
        qsub.join(F.broadcast(cw), "m")
        .select("qid", "m", "code", l2(F.col("qsv"), F.col("cv")).alias("qd"))
    )
    scored = (
        assigned.join(F.broadcast(dist_table), ["m", "code"])
        .filter(F.col("vec_id") != F.col("qid"))
    )
    adc = (
        scored.alias("s")
        .join(
            cand.alias("c"),
            (F.col("s.qid") == F.col("c.qid")) & (F.col("s.vec_id") == F.col("c.nid")),
        )
        .groupBy(F.col("s.qid").alias("qid"), F.col("s.vec_id").alias("nid"))
        .agg(F.sum(F.floor(F.col("s.qd") * F.lit(1000000.0)).cast("decimal(38,0)")).alias("adist_i"))
    )
    w_top = W.partitionBy("qid").orderBy(F.col("adist_i"), F.asc("nid"))
    return (
        adc.withColumn("rn", F.row_number().over(w_top))
        .filter(F.col("rn") <= 5)
        .select("qid", "nid",
                (F.col("adist_i") / F.lit(1000000.0)).alias("adist"), "rn")
        .orderBy("qid", "rn")
    )


# --------------------------------------------------------------------
# ANN recall audit: IVF-probe top-k vs brute-force ground truth
# --------------------------------------------------------------------

_RECALL_ORACLE = (
    "WITH truth AS (" + _KNN_ORACLE + "),\napprox AS (" + _IVF_ORACLE + ")\n"
    + """
SELECT t.qid,
       count(*) AS n_truth,
       CAST(sum(CASE WHEN a.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hit,
       floor(sum(CASE WHEN a.nid IS NOT NULL THEN 1 ELSE 0 END) * 10000.0
             / count(*)) / 10000.0 AS recall_at_5
FROM truth t LEFT JOIN approx a ON t.qid = a.qid AND t.nid = a.nid
GROUP BY t.qid
ORDER BY t.qid
"""
)


@register("ann_recall_audit", oracle=_RECALL_ORACLE, bench=True,
          doc="recall@5 of the IVF-probe index vs brute-force ground "
              "truth, per query vector")
def ann_recall_audit(spark, sf_dir):
    """Index-quality evaluation: joins the IVF-probe top-5
    (``ann_ivf_cosine``) against the brute-force top-5
    (``knn_bruteforce_cosine``) and reports per-query recall@5 — the
    number any ANN deployment must monitor before trading scan cost
    for approximation.

    Cross-engine: composes the two already-parity-verified operators
    verbatim (same floors, same tiebreaks); the recall ratio is an
    exact-integer count pair floored at 4dp.

    Scale shape: both sides reduce the vector table to |Q| x 5 rows
    before this audit runs; the audit itself is an equi-join of two
    tiny result sets — evaluation cost is dominated by the index
    scans it reuses, which are the operators under test.
    """
    truth = knn_bruteforce_cosine(spark, sf_dir).select("qid", "nid")
    approx = ann_ivf_cosine(spark, sf_dir).select(
        F.col("qid").alias("aqid"), F.col("nid").alias("anid")
    )
    joined = truth.join(
        approx,
        (F.col("qid") == F.col("aqid")) & (F.col("nid") == F.col("anid")),
        "left",
    )
    hit = F.sum(F.when(F.col("anid").isNotNull(), 1).otherwise(0))
    return (
        joined.groupBy("qid")
        .agg(
            F.count(F.lit(1)).alias("n_truth"),
            hit.alias("n_hit"),
            (F.floor(hit * F.lit(10000.0) / F.count(F.lit(1))) / F.lit(10000.0)).alias(
                "recall_at_5"
            ),
        )
        .orderBy("qid")
    )


# --------------------------------------------------------------------
# kNN label agreement: embedding-space label-noise audit
# --------------------------------------------------------------------

_LABEL_AGREE_ORACLE = """
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
  WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0.0
    AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) < 1.0e12
),
q AS (SELECT * FROM e WHERE vec_id % 100 = 0),
sims AS (
  SELECT a.vec_id AS qid, a.label AS qlabel, b.label AS nlabel,
         floor((""" + _COS + """) * 1000000.0) / 1000000.0 AS sim,
         b.vec_id AS nid
  FROM q a JOIN e b ON b.vec_id != a.vec_id
),
top5 AS (
  SELECT qid, qlabel, nlabel FROM (
    SELECT qid, qlabel, nlabel,
           row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
    FROM sims
  ) WHERE rn <= 5
),
perq AS (
  SELECT qid, qlabel,
         CAST(sum(CASE WHEN nlabel = qlabel THEN 1 ELSE 0 END) AS BIGINT) AS agree
  FROM top5 GROUP BY qid, qlabel
)
SELECT qlabel AS label,
       CAST(count(*) AS BIGINT) AS n_queries,
       floor(sum(agree) * 10000.0 / (5 * count(*))) / 10000.0 AS agree_ratio,
       CAST(sum(CASE WHEN agree <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_suspect
FROM perq GROUP BY qlabel
ORDER BY label
"""


@register("knn_label_agreement", oracle=_LABEL_AGREE_ORACLE, bench=True,
          doc="embedding-space label-noise audit: per-label top-5 "
              "neighbor label agreement + suspect-query counts")
def knn_label_agreement(spark, sf_dir):
    """Label-noise detection in embedding space: for every query
    vector, how many of its 5 nearest neighbors carry the SAME
    label? Per label this reports mean agreement and the count of
    suspect queries (<=1 of 5 neighbors agree) — the standard
    confident-learning-style screen a curation pipeline runs before
    trusting labels for supervised filtering.

    Cross-engine: reuses the exact kNN machinery verbatim (same 6dp
    sim floors, same (sim DESC, nid) tiebreaks as
    ``knn_bruteforce_cosine``); the agreement ratio is an
    exact-integer count pair floored at 4dp — no float crosses the
    engine boundary except the already-verified sims.

    Scale shape: identical to the brute-force kNN it audits (query
    subset broadcast over one vector scan, WindowGroupLimit top-5);
    at corpus scale the neighbor source swaps to any of the ANN
    paths (IVF/LSH/PQ) unchanged, since only (qid, qlabel, nlabel)
    rows reach the audit."""
    e = _vectors(spark, sf_dir)
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"), F.col("label").alias("qlabel"),
        F.col("v").alias("qv"), F.col("nrm").alias("qn"),
    )
    sims = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
        .select(
            "qid", "qlabel", F.col("label").alias("nlabel"),
            F.col("vec_id").alias("nid"),
            t6(_dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))).alias("sim"),
        )
    )
    w = W.partitionBy("qid").orderBy(F.desc("sim"), F.asc("nid"))
    top5 = sims.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5)
    perq = top5.groupBy("qid", "qlabel").agg(
        F.sum(F.when(F.col("nlabel") == F.col("qlabel"), 1).otherwise(0)).alias("agree")
    )
    return (
        perq.groupBy(F.col("qlabel").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            (
                F.floor(F.sum("agree") * F.lit(10000.0)
                        / (F.lit(5) * F.count(F.lit(1)))) / F.lit(10000.0)
            ).alias("agree_ratio"),
            F.sum(F.when(F.col("agree") <= 1, 1).otherwise(0)).alias("n_suspect"),
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------
# label-centroid geometry (embedding drift / cohort separation)
# --------------------------------------------------------------------

# Pairwise distances between label centroids — the embedding-space
# health check: collapsing pairs (dist -> 0) mean the labels are not
# separable; a centroid drifting between ingest snapshots means the
# upstream encoder changed.  Everything after the one data-sized
# aggregation runs on the labels x dims grid (10 x 64 rows).
#
# Exactness: per-cell values are floored to integer micro-units
# BEFORE summation (exact any-order integer sums accumulated in
# DECIMAL(38,0)/HUGEINT — r13 widening, see the kernel comment);
# each centroid coordinate is floor(sum/count) evaluated in double —
# the int128 -> double conversion and the division round identically
# (IEEE) in both engines, so the coordinate is deterministic even
# where sums exceed 2^53; pair distances are then pure BIGINT
# (coordinates are value-bounded by the per-vector domain gate
# regardless of row count, so the squared sums never approach int64
# at ANY corpus size).
_CENTROID_ORACLE = """
WITH e AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings
           WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0.0
             AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) < 1.0e12),
dims AS (SELECT unnest(range(1, 65)) AS i),
x AS (
  SELECT e.label, dims.i AS dim,
         CAST(floor(e.v[dims.i] * 1000000.0e0) AS BIGINT) AS x6
  FROM e, dims
), s AS (
  SELECT label, dim, sum(CAST(x6 AS HUGEINT)) AS sx,
         CAST(count(*) AS BIGINT) AS n
  FROM x GROUP BY label, dim
), c AS (
  SELECT label, dim,
         CAST(floor(CAST(sx AS DOUBLE) / n) AS BIGINT) AS c6, n
  FROM s
), pairs AS (
  SELECT a.label AS l1, b.label AS l2,
         sum(CAST(a.c6 - b.c6 AS HUGEINT) * (a.c6 - b.c6)) AS ss,
         CAST(max(a.n) AS BIGINT) AS n1, CAST(max(b.n) AS BIGINT) AS n2
  FROM c a JOIN c b ON a.dim = b.dim AND a.label < b.label
  GROUP BY a.label, b.label
)
SELECT l1, l2, n1, n2,
       CAST(ss // 1000000 AS BIGINT) AS dist2_1e6
FROM pairs
ORDER BY l1, l2
"""


@register("embedding_centroid_distance", oracle=_CENTROID_ORACLE, bench=True,
          doc="pairwise label-centroid distances in fixed-point — "
              "embedding-space separation / encoder-drift audit")
def embedding_centroid_distance(spark, sf_dir):
    """Cohort geometry of the embedding space: the squared L2
    distance between every pair of label centroids.  This is the
    audit behind two production questions: are my classes separable
    at all (near-zero pairs), and did the encoder silently change
    between snapshots (all centroids moved).

    Scale shape: posexplode to (label, dim) cells floored to integer
    micro-units, ONE map-combinable groupBy to the labels x dims grid
    (10 x 64 = 640 rows — bounded by schema, not data), then a
    grid self-join on dim for the 45 pairs.  The only data-sized step
    is the first aggregation; at 100 TB nothing else grows."""
    e = _valid_vectors(spark, sf_dir).select(
        "label", F.posexplode(F.col("v")).alias("d0", "xv")
    ).select(
        "label",
        (F.col("d0") + 1).alias("dim"),
        F.floor(F.col("xv") * F.lit(1000000.0)).cast("long").alias("x6"),
    )
    # sx accumulates in DECIMAL(38,0)/HUGEINT (r13 widening): the
    # valid-embedding gate admits |component| up to ~1e6, so |x6| can
    # reach 1e12 per cell and a LONG accumulator broke at ~9.2e6
    # vectors per label — far below a 100 TB corpus's per-label
    # count.  The exact int128 converts to DOUBLE identically in both
    # engines, so the centroid coordinate floor(sx/n) stays
    # deterministic at any mass (and c6 itself is value-bounded by
    # the mean, so BIGINT downstream is safe at any corpus size).
    s = e.groupBy("label", "dim").agg(
        F.sum(F.col("x6").cast("decimal(38,0)")).alias("sx"),
        F.count(F.lit(1)).alias("n"),
    )
    c = s.select(
        "label", "dim", "n",
        F.expr("CAST(floor(CAST(sx AS DOUBLE) / n) AS BIGINT)").alias("c6"),
    )
    a, b = c.alias("a"), c.alias("b")
    return (
        a.join(b, (F.col("a.dim") == F.col("b.dim"))
               & (F.col("a.label") < F.col("b.label")))
        .groupBy(F.col("a.label").alias("l1"), F.col("b.label").alias("l2"))
        .agg(
            # the squared diff runs in DECIMAL(38,0)/HUGEINT: centroid
            # coords reach 1e12 at the domain-gate edge (norm < 1e6 at
            # 1e6 fixed point), so diff^2 reaches 4e24 — far past
            # int64, which both engines previously overflowed LOUDLY
            # but with different exceptions (r12 zerovec near-budget
            # probe).  The OUTPUT still fits: dist^2 <= (2e6)^2 whole
            # units -> dist2_1e6 <= 4e18 < int64 for ALL in-gate data.
            F.expr(
                "sum(CAST(a.c6 - b.c6 AS DECIMAL(19,0))"
                " * (a.c6 - b.c6))"
            ).alias("ss"),
            F.max(F.col("a.n")).alias("n1"),
            F.max(F.col("b.n")).alias("n2"),
        )
        .select(
            "l1", "l2", "n1", "n2",
            F.expr(
                "CAST((ss - ss % 1000000) / 1000000 AS BIGINT)"
            ).alias("dist2_1e6"),
        )
        .orderBy("l1", "l2")
    )


# --------------------------------------------------------------------
# hard-negative mining for contrastive training
# --------------------------------------------------------------------

def _hard_neg_oracle() -> str:
    planes = _lsh_planes()
    plane_sql = ", ".join(
        "[" + ", ".join(repr(w) for w in row) + "]" for row in planes
    )
    bucket_terms = " + ".join(
        f"(CASE WHEN list_dot_product(v, p{i}) >= 0 THEN {1 << i} ELSE 0 END)"
        for i in range(len(planes))
    )
    plane_cols = ", ".join(f"pl[{i + 1}] AS p{i}" for i in range(len(planes)))
    return f"""
WITH pl_t AS (SELECT [{plane_sql}]::DOUBLE[][] AS pl),
e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v, {plane_cols}
  FROM embeddings, pl_t
  WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0.0
    AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) < 1.0e12
), hashed AS (
  SELECT vec_id, v, {bucket_terms} AS bucket FROM e
), q AS (SELECT vec_id AS qid, v AS qv, bucket FROM hashed WHERE vec_id % 50 = 0),
sims AS (
  SELECT q.qid,
         floor(list_dot_product(qv, h.v)
               / (sqrt(list_dot_product(qv, qv))
                  * sqrt(list_dot_product(h.v, h.v)))
               * 1000000.0) AS s6
  FROM q JOIN hashed h ON h.bucket = q.bucket AND h.vec_id != q.qid
)
SELECT qid,
       CAST(count(*) AS BIGINT) AS n_hard,
       CAST(min(s6) AS BIGINT) AS min_sim_1e6,
       CAST(max(s6) AS BIGINT) AS max_sim_1e6
FROM sims
WHERE s6 >= 150000 AND s6 < 450000
GROUP BY qid
ORDER BY qid
"""


@register("embedding_hard_negatives", bench=True,
          oracle=_hard_neg_oracle(),
          doc="hard-negative mining for contrastive training: per "
              "anchor, same-LSH-bucket neighbors with cosine in "
              "[0.15, 0.45) — similar enough to teach, below the "
              "near-dup threshold")
def embedding_hard_negatives(spark, sf_dir):
    """Contrastive-pair mining, the embedding-space sibling of
    ``negative_sampling_pairs``: random negatives are too easy (cosine
    ~0) and near-dups are false negatives (cosine ~1); what a
    contrastive fine-tune needs is the band in between.  Candidates
    come from the same 256-bucket sign-LSH table as ``ann_lsh_cosine``
    (co-bucketed vectors skew similar — exactly the population worth
    exact-scoring), then the exact floored cosine keeps [0.15, 0.45):
    above the background-noise floor, strictly below 0.45 — the
    near-dup threshold ``dedup_embedding_cosine_lsh`` removes at, so
    the mined set and the dedup set can never overlap (a near-dup
    used as a negative is a false negative that poisons the loss).

    Scale shape: the bucket table is computed once (one projection);
    anchors join candidates on the bucket key — a shuffle keyed on
    256 buckets, hint-free so AQE broadcasts the anchor side only
    while it is actually small.  Never all-pairs; the mined band per
    anchor is the per-bucket population, bounded by bucket size.
    The band filter applies to the FLOORED 1e6 cosine on both
    engines, so banding is deterministic (the t6 discipline);
    populated at all three test SFs (6/10/114 pairs)."""
    planes = _lsh_planes()
    e = _vectors(spark, sf_dir).select("vec_id", "v", "nrm")

    def dot_lit(vcol, row):
        arr = F.array(*[F.lit(w) for w in row])
        return F.aggregate(
            F.zip_with(vcol, arr, lambda x, y: x * y), F.lit(0.0), lambda a, b: a + b
        )

    bucket = None
    for i, row in enumerate(planes):
        bit = F.when(dot_lit(F.col("v"), row) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    hashed = e.withColumn("bucket", bucket)
    q = hashed.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv"),
        F.col("nrm").alias("qn"), F.col("bucket").alias("qbucket"),
    )
    s6 = F.floor(
        _dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))
        * F.lit(1000000.0)
    ).cast("long")
    return (
        hashed.join(
            q,
            (F.col("bucket") == F.col("qbucket"))
            & (F.col("vec_id") != F.col("qid")),
        )
        .select("qid", s6.alias("s6"))
        .filter((F.col("s6") >= 150000) & (F.col("s6") < 450000))
        .groupBy("qid")
        .agg(
            F.count(F.lit(1)).alias("n_hard"),
            F.min("s6").alias("min_sim_1e6"),
            F.max("s6").alias("max_sim_1e6"),
        )
        .orderBy("qid")
    )


# --------------------------------------------------------------------
# Incremental IVF maintenance off the CDC fold (STAGED for r15)
# --------------------------------------------------------------------

VECTOR_INDEX_CDC_ORACLE = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0.0
             AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) < 1.0e12),
cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
live AS (
  SELECT vec_id, v, 0 AS changed FROM e
  WHERE vec_id % 7 != 0 AND vec_id % 13 != 0
  UNION ALL
  SELECT vec_id, list_transform(v, x -> -x) AS v, 1 FROM e
  WHERE vec_id % 7 = 0 AND vec_id % 13 != 0
  UNION ALL
  SELECT vec_id + 10000000 AS vec_id, list_reverse(v) AS v, 1 FROM e
  WHERE vec_id % 11 = 0
),
assign AS (
  SELECT vec_id, cid, changed FROM (
    SELECT l.vec_id, cent.cid, l.changed,
           row_number() OVER (
             PARTITION BY l.vec_id
             ORDER BY floor(list_dot_product(l.v, cent.cv)
                  / (sqrt(list_dot_product(l.v, l.v))
                     * sqrt(list_dot_product(cent.cv, cent.cv)))
                  * 1000000.0) / 1000000.0 DESC,
               cent.cid) AS rn
    FROM live l CROSS JOIN cent
  ) WHERE rn = 1
)
SELECT cid, COUNT(*) AS n_vecs,
       CAST(CAST(SUM(vec_id) AS HUGEINT) AS DOUBLE) AS sum_vec_id,
       CAST(SUM(changed) AS BIGINT) AS n_changed
FROM assign GROUP BY cid ORDER BY cid
"""


@register("vector_index_cdc_update", oracle=VECTOR_INDEX_CDC_ORACLE, bench=True,
          doc="incremental IVF cell maintenance off the CDC fold == one-shot rebuild")
def vector_index_cdc_update(spark, sf_dir):
    """Incremental IVF assignment maintenance driven off the CDC fold:
    the reference's streaming-first
    identity (README.md:7) applied to the vector-index surface — the
    index FOLLOWS the change stream instead of being rebuilt per
    batch.

    Protocol under test, end to end:

    1. a deterministic vector change log in the CDC envelope shape
       (sources/mongo.go:23-41; document_id = vec_id, full_document =
       the vector payload): updates negate every component
       (vec_id % 7 == 0, cluster_time 1), deletes tombstone
       (vec_id % 13 == 0, cluster_time 2 — so % 91 keys exercise
       update-then-delete fold order), inserts add reversed vectors
       under fresh keys (vec_id % 11 == 0 -> vec_id + 10,000,000,
       cluster_time 1);
    2. ``fold_vector_delta`` (operators/vector_index.py) folds the
       log with the CDC restart primitive ``checkpoint_state`` —
       tombstones retained, because an index MERGE needs them to
       DELETE entries;
    3. ``update_cells`` merges the delta into the built assignment:
       touched keys leave via one anti join, upserted vectors are
       re-assigned against the FROZEN trained centroids with the same
       ``assign_cells`` kernel the full build uses.

    The ORACLE is the one-shot REBUILD over the post-change table —
    driver equality on (cid, n_vecs, sum_vec_id, n_changed) proves
    incremental == rebuild, the index-maintenance analog of
    ``cdc_resume_restart``'s idempotence proof.

    Scale: the distance kernel runs on |delta| x K rows only; the
    untouched corpus contributes one anti join on vec_id
    (shuffle-free when cells is bucketed by vec_id at rest, as
    build_index lays out).  Per-cell membership mass (sum of
    ~1e7-scale keys) accumulates in DECIMAL(38,0)/HUGEINT with a
    CAST-AS-DOUBLE final tree — the r13 widening convention, so a
    100 TB cell cannot saturate int64 silently.
    """
    from wire_spark.operators.vector_index import (
        assign_cells, fold_vector_delta, update_cells)

    e = _valid_vectors(spark, sf_dir).select("vec_id", "v")
    cent = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv"),
        F.sqrt(_dot(F.col("v"), F.col("v"))).alias("cn"),
    )
    cells0 = assign_cells(e, cent)

    tok = lambda pfx: F.concat(  # noqa: E731 — local label maker
        F.lit(pfx), F.lpad(F.col("vec_id").cast("string"), 12, "0"))
    upd = e.filter(F.col("vec_id") % 7 == 0).select(
        tok("u").alias("resume_token"),
        F.lit("update").alias("operation_type"),
        F.col("vec_id").alias("document_id"),
        F.transform("v", lambda x: -x).alias("full_document"),
        F.lit(1).cast("long").alias("cluster_time"),
    )
    dels = e.filter(F.col("vec_id") % 13 == 0).select(
        tok("d").alias("resume_token"),
        F.lit("delete").alias("operation_type"),
        F.col("vec_id").alias("document_id"),
        F.lit(None).cast("array<double>").alias("full_document"),
        F.lit(2).cast("long").alias("cluster_time"),
    )
    ins = e.filter(F.col("vec_id") % 11 == 0).select(
        tok("i").alias("resume_token"),
        F.lit("insert").alias("operation_type"),
        (F.col("vec_id") + F.lit(10_000_000)).alias("document_id"),
        F.reverse("v").alias("full_document"),
        F.lit(1).cast("long").alias("cluster_time"),
    )
    delta = fold_vector_delta(upd.unionByName(dels).unionByName(ins))
    updated = update_cells(cells0, delta, cent)
    return (
        updated.groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum(F.col("vec_id").cast("decimal(38,0)"))
            .cast("double").alias("sum_vec_id"),
            F.sum("changed").cast("long").alias("n_changed"),
        )
        .orderBy("cid")
    )


# --------------------------------------------------------------------
# Query-from-storage after CDC maintenance (STAGED for r16)
# --------------------------------------------------------------------

VECTOR_INDEX_SEARCH_ORACLE = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0.0
             AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) < 1.0e12),
cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
subs AS (SELECT unnest(range(8)) AS m),
cw AS (
  SELECT vec_id AS code, m, v[m * 8 + 1 : m * 8 + 8] AS cv
  FROM e, subs WHERE vec_id < 16
),
live AS (
  SELECT vec_id, v FROM e
  WHERE vec_id % 7 != 0 AND vec_id % 13 != 0
  UNION ALL
  SELECT vec_id, list_transform(v, x -> -x) AS v FROM e
  WHERE vec_id % 7 = 0 AND vec_id % 13 != 0
  UNION ALL
  SELECT vec_id + 10000000 AS vec_id, list_reverse(v) AS v FROM e
  WHERE vec_id % 11 = 0
),
ivf_assign AS (
  SELECT vec_id, cid FROM (
    SELECT l.vec_id, cent.cid,
           row_number() OVER (
             PARTITION BY l.vec_id
             ORDER BY floor(list_dot_product(l.v, cent.cv)
                  / (sqrt(list_dot_product(l.v, l.v))
                     * sqrt(list_dot_product(cent.cv, cent.cv)))
                  * 1000000.0) / 1000000.0 DESC,
               cent.cid) AS rn
    FROM live l CROSS JOIN cent
  ) WHERE rn = 1
),
q0 AS (SELECT vec_id AS qid, v AS qv FROM live WHERE vec_id % 100 = 0),
probes AS (
  SELECT qid, cid FROM (
    SELECT q0.qid, cent.cid,
           row_number() OVER (
             PARTITION BY q0.qid
             ORDER BY floor(list_dot_product(q0.qv, cent.cv)
                  / (sqrt(list_dot_product(q0.qv, q0.qv))
                     * sqrt(list_dot_product(cent.cv, cent.cv)))
                  * 1000000.0) / 1000000.0 DESC,
               cent.cid) AS rn
    FROM q0 CROSS JOIN cent
  ) WHERE rn <= 2
),
cand AS (
  SELECT p.qid, a.vec_id AS nid
  FROM probes p JOIN ivf_assign a ON a.cid = p.cid
  WHERE a.vec_id != p.qid
),
sub_live AS (
  SELECT vec_id, m, v[m * 8 + 1 : m * 8 + 8] AS sv
  FROM live, subs
),
assigned AS (
  SELECT vec_id, m, code FROM (
    SELECT sub_live.vec_id, sub_live.m, cw.code,
           row_number() OVER (
             PARTITION BY sub_live.vec_id, sub_live.m
             ORDER BY floor(list_distance(sub_live.sv, cw.cv) * 1000000.0) / 1000000.0,
                      cw.code
           ) AS rn
    FROM sub_live JOIN cw ON sub_live.m = cw.m
  ) WHERE rn = 1
),
qsub AS (SELECT vec_id AS qid, m, sv AS qsv FROM sub_live WHERE vec_id % 100 = 0),
adc AS (
  SELECT qsub.qid, pq.vec_id AS nid,
         sum(CAST(floor(list_distance(qsub.qsv, cw.cv) * 1000000.0) AS BIGINT)) AS adist_i
  FROM qsub
  JOIN assigned pq ON pq.m = qsub.m
  JOIN cand c ON c.qid = qsub.qid AND c.nid = pq.vec_id
  JOIN cw ON cw.m = pq.m AND cw.code = pq.code
  GROUP BY qsub.qid, pq.vec_id
)
SELECT qid, nid, adist_i / 1000000.0 AS adist, rn FROM (
  SELECT qid, nid, adist_i,
         row_number() OVER (PARTITION BY qid ORDER BY adist_i, nid) AS rn
  FROM adc
)
WHERE rn <= 5
ORDER BY qid, rn
"""


def vector_index_search_stored(spark, sf_dir):
    """The full production ANN lifecycle under one query:
    build the IVF-PQ index AT REST, apply a CDC
    change stream to it via ``merge_index_update`` (O(changes) MERGE,
    operators/vector_index.py), then answer top-5 queries FROM THE
    STORED index with ``search_index`` — change stream to
    query-from-storage, the loop the reference's streaming-first
    identity (README.md:7) exists to close.  Staged at r15
    (@register lands at the r16 open; the r14-established pattern —
    registering mid-round would displace the r15 window's
    outputs-changed slack entries).

    The change log is the ``vector_index_cdc_update`` protocol
    (updates negate %7, deletes tombstone %13, inserts add reversed
    vectors at +10,000,000 for %11); queries are the POST-change live
    vectors with vec_id % 100 == 0 — so a deleted key never queries,
    an updated key queries with its new payload, and an inserted key
    can rank as a neighbor.

    The ORACLE recomputes the search inline over the post-change
    corpus with the FROZEN (original-corpus) centroids and codebook —
    exactly the frozen-codebook rebuild that the incremental MERGE is
    test-pinned bit-identical to, so stored-search == oracle by the
    composition of two proven identities (incremental == rebuild;
    stored search == inline ADC, tests/test_vector_index.py).

    Scale: the index build is the one-time amortized cost
    (build_index docstring); the MERGE is O(changes); the search
    reads only the probed cells' code partitions — (nprobe/K of the
    table) x 8 bytes/vector at 100 TB.  The index lives in an
    ephemeral per-invocation directory here because catalog queries
    must be self-contained; a deployment keeps it at a durable path,
    returns the lazy ``search_index`` plan directly, and this
    function body IS the recipe.  The one collect is the RESULT SET
    itself (k x |queries| rows — the same rows the driver collects),
    moved inside only so the ephemeral index directory can be removed
    before returning; it is not an intermediate materialization.

    Degenerate corpora: a corpus with no trained centroid (empty, or
    all rows outside the valid-embedding domain) short-circuits to
    the empty result — the oracle's CROSS JOIN with an empty cent
    CTE yields the same zero rows, engine-identically.
    """
    import shutil
    import tempfile

    from wire_spark.operators.vector_index import (
        build_index, fold_vector_delta, merge_index_update, search_index)

    e = _valid_vectors(spark, sf_dir).select("vec_id", "v")
    out_schema = "qid long, nid long, adist double, rn int"
    if e.filter(F.col("vec_id") < 8).limit(1).count() == 0:
        return spark.createDataFrame(
            spark.sparkContext.emptyRDD(), out_schema)

    idx = tempfile.mkdtemp(prefix="wire_vecidx_q_")
    build_index(e.select("vec_id", F.col("v").alias("embedding")), idx)

    tok = lambda pfx: F.concat(  # noqa: E731 — local label maker
        F.lit(pfx), F.lpad(F.col("vec_id").cast("string"), 12, "0"))
    upd = e.filter(F.col("vec_id") % 7 == 0).select(
        tok("u").alias("resume_token"),
        F.lit("update").alias("operation_type"),
        F.col("vec_id").alias("document_id"),
        F.transform("v", lambda x: -x).alias("full_document"),
        F.lit(1).cast("long").alias("cluster_time"),
    )
    dels = e.filter(F.col("vec_id") % 13 == 0).select(
        tok("d").alias("resume_token"),
        F.lit("delete").alias("operation_type"),
        F.col("vec_id").alias("document_id"),
        F.lit(None).cast("array<double>").alias("full_document"),
        F.lit(2).cast("long").alias("cluster_time"),
    )
    ins = e.filter(F.col("vec_id") % 11 == 0).select(
        tok("i").alias("resume_token"),
        F.lit("insert").alias("operation_type"),
        (F.col("vec_id") + F.lit(10_000_000)).alias("document_id"),
        F.reverse("v").alias("full_document"),
        F.lit(1).cast("long").alias("cluster_time"),
    )
    merge_index_update(
        spark, idx, fold_vector_delta(upd.unionByName(dels).unionByName(ins)))

    live = (
        e.filter((F.col("vec_id") % 7 != 0) & (F.col("vec_id") % 13 != 0))
        .unionByName(
            e.filter((F.col("vec_id") % 7 == 0) & (F.col("vec_id") % 13 != 0))
            .select("vec_id", F.transform("v", lambda x: -x).alias("v")))
        .unionByName(
            e.filter(F.col("vec_id") % 11 == 0)
            .select((F.col("vec_id") + F.lit(10_000_000)).alias("vec_id"),
                    F.reverse("v").alias("v")))
    )
    q = live.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("embedding"))
    res = search_index(spark, idx, q, k=5, nprobe=2)
    # the driver's collect happens on the returned plan, which reads
    # the stored index; materialize it into the result (bounded:
    # k x |queries| rows — the RESULT SET itself) so the ephemeral
    # index directory can be removed before returning
    rows = res.collect()
    shutil.rmtree(idx, ignore_errors=True)
    # result-set-sized (k x |queries|): one partition, not 32
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), res.schema)
