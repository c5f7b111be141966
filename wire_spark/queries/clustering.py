"""Clustering: one Lloyd (k-means) refinement round with an exact
cross-engine oracle — the iterative-ML primitive (assign -> recompute
means -> re-assign) expressed as pure DataFrame ops.

Determinism design: the new centroid's per-dimension mean is computed
as sum(floor(v[d] * 1e6)) / (n * 1e6) — the numerator is an exact
integer sum (order-independent), the single division is one IEEE
double op — so both engines hold bit-identical centroids, and the
re-assignment (floor-truncated euclidean ranking, centroid-id
tiebreak) matches row-for-row. More rounds = the same block repeated;
each round is two shuffles (dimension-sum agg + re-assignment is
broadcast, so really ONE shuffle per round at scale).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from wire_spark.catalog import register
from wire_spark.queries._util import T, materialize, t6

_K = 8
_DIM = 64

#: CTE chain producing one-Lloyd-round refined centroids ``cent1``
#: (bit-identical across engines — integer-exact dimension means).
#: Shared with similarity.py's Lloyd-refined IVF index.
LLOYD_CENT1_CTE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0.0
             AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) < 1.0e12),
cent0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {_K}),
assign0 AS (
  SELECT vec_id, cid, v FROM (
    SELECT e.vec_id, cent0.cid, e.v,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY floor(list_distance(e.v, cent0.cv) * 1000000.0) / 1000000.0,
                      cent0.cid
           ) AS rn
    FROM e CROSS JOIN cent0
  ) WHERE rn = 1
),
dims AS (SELECT unnest(range(1, {_DIM} + 1)) AS d),
sums AS (
  SELECT cid, d,
         sum(CAST(floor(v[d] * 1000000.0) AS BIGINT)) AS s,
         count(*) AS n
  FROM assign0, dims
  GROUP BY cid, d
),
cent1 AS (
  SELECT cid, list(s * 1.0 / (n * 1000000.0) ORDER BY d) AS cv
  FROM sums GROUP BY cid
)"""

_LLOYD_ORACLE = LLOYD_CENT1_CTE + """,
assign1 AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, cent1.cid,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY floor(list_distance(e.v, cent1.cv) * 1000000.0) / 1000000.0,
                      cent1.cid
           ) AS rn
    FROM e CROSS JOIN cent1
  ) WHERE rn = 1
)
SELECT a.cid,
       count(*) AS n_vectors,
       floor(sqrt(list_dot_product(c.cv, c.cv)) * 1000000.0) / 1000000.0
         AS centroid_norm
FROM assign1 a JOIN cent1 c ON c.cid = a.cid
GROUP BY a.cid, c.cv
ORDER BY a.cid
"""


def _l2(a, b):
    return F.sqrt(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0), lambda acc, z: acc + z,
        )
    )


def _argmin_assign(e, cent, keep_v: bool):
    """Nearest-centroid assignment: rank-1 window over the broadcast
    candidate set.  Kept as a window DELIBERATELY (r15 optimization
    round): WindowGroupLimit already prunes to the per-key top row on
    the map side before the exchange, and the min(struct) aggregate
    alternative measured SLOWER (struct buffers fall out of codegen
    hash aggregation into ObjectHashAggregate)."""
    cols = ["vec_id", "cid", "v"] if keep_v else ["vec_id", "cid"]
    w_a = W.partitionBy("vec_id").orderBy("dist", "cid")
    return (
        e.crossJoin(F.broadcast(cent))
        .select("vec_id", "cid", "v", t6(_l2(F.col("v"), F.col("cv"))).alias("dist"))
        .withColumn("rn", F.row_number().over(w_a))
        .filter(F.col("rn") == 1)
        .select(*cols)
    )


def _lloyd_refine(e, cent):
    """One Lloyd refinement: assign every vector to its nearest
    centroid (floor-truncated euclidean, cid tiebreak — broadcast
    pass, no shuffle of the vector table) and return the new
    integer-exact mean centroids (one dimension-sum shuffle).
    Bit-identical to the matching oracle CTE block; chain calls for
    more rounds — the cost is the same block repeated."""
    assign = _argmin_assign(e, cent, keep_v=True)
    # per-dimension integer-exact means (1-based d to mirror DuckDB)
    dims = (
        assign.select("cid", F.posexplode("v").alias("d0", "val"))
        .select("cid", (F.col("d0") + 1).alias("d"), "val")
    )
    sums = dims.groupBy("cid", "d").agg(
        F.sum(F.floor(F.col("val") * F.lit(1000000.0)).cast("decimal(38,0)")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        sums.select(
            "cid",
            F.struct("d", (F.col("s") * F.lit(1.0) / (F.col("n") * F.lit(1000000.0))).alias("m")).alias("dm"),
        )
        .groupBy("cid")
        .agg(
            F.transform(F.array_sort(F.collect_list("dm")), lambda x: x["m"]).alias("cv")
        )
    )


def _vectors_and_seeds(spark, sf_dir):
    # valid-embedding domain gate (see similarity._valid_vectors):
    # zero/huge/non-finite vectors crash or saturate the distance math
    from wire_spark.queries.similarity import _valid_vectors

    e = _valid_vectors(spark, sf_dir).select("vec_id", "v")
    cent0 = e.filter(F.col("vec_id") < _K).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    return e, cent0


def lloyd_cent1(spark, sf_dir):
    """(cid, cv) refined centroids after one Lloyd round from the
    ``vec_id < _K`` seeds (bit-identical to ``LLOYD_CENT1_CTE``).
    Reused by similarity.py's Lloyd-refined IVF index."""
    e, cent0 = _vectors_and_seeds(spark, sf_dir)
    return _lloyd_refine(e, cent0)


@register("kmeans_lloyd_round", oracle=_LLOYD_ORACLE, bench=True,
          doc="one Lloyd k-means round (8 seed centroids -> integer-exact "
              "means -> re-assign), cluster sizes + centroid norms")
def kmeans_lloyd_round(spark, sf_dir):
    from wire_spark.queries.similarity import _valid_vectors

    e = _valid_vectors(spark, sf_dir).select("vec_id", "v")
    # cent1 is an 8-row relation feeding TWO consumers (the broadcast
    # assignment and the census join); its upstream is a full Lloyd
    # pass over the vector table — materialize once
    cent1 = materialize(lloyd_cent1(spark, sf_dir))
    assign1 = _argmin_assign(e, cent1, keep_v=False).select("vec_id", "cid")
    def dot(a):
        return F.aggregate(F.zip_with(a, a, lambda x, y: x * y), F.lit(0.0), lambda p, q: p + q)

    return (
        assign1.join(F.broadcast(cent1), "cid")
        .groupBy("cid", "cv")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .select("cid", "n_vectors", t6(F.sqrt(dot(F.col("cv")))).alias("centroid_norm"))
        .orderBy("cid")
    )


# --------------------------------------------------------------------
# two chained Lloyd rounds — convergence is the same block repeated
# --------------------------------------------------------------------

_LLOYD2_ORACLE = LLOYD_CENT1_CTE + f""",
assign1b AS (
  SELECT vec_id, cid, v FROM (
    SELECT e.vec_id, cent1.cid, e.v,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY floor(list_distance(e.v, cent1.cv) * 1000000.0) / 1000000.0,
                      cent1.cid
           ) AS rn
    FROM e CROSS JOIN cent1
  ) WHERE rn = 1
),
sums2 AS (
  SELECT cid, d,
         sum(CAST(floor(v[d] * 1000000.0) AS BIGINT)) AS s,
         count(*) AS n
  FROM assign1b, dims
  GROUP BY cid, d
),
cent2 AS (
  SELECT cid, list(s * 1.0 / (n * 1000000.0) ORDER BY d) AS cv
  FROM sums2 GROUP BY cid
),
assign2 AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, cent2.cid,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY floor(list_distance(e.v, cent2.cv) * 1000000.0) / 1000000.0,
                      cent2.cid
           ) AS rn
    FROM e CROSS JOIN cent2
  ) WHERE rn = 1
)
SELECT a.cid,
       count(*) AS n_vectors,
       floor(sqrt(list_dot_product(c.cv, c.cv)) * 1000000.0) / 1000000.0
         AS centroid_norm
FROM assign2 a JOIN cent2 c ON c.cid = a.cid
GROUP BY a.cid, c.cv
ORDER BY a.cid
"""


@register("kmeans_lloyd_two_rounds", oracle=_LLOYD2_ORACLE, bench=True,
          doc="two chained Lloyd rounds (the convergence loop made "
              "concrete): cluster sizes + centroid norms after round 2")
def kmeans_lloyd_two_rounds(spark, sf_dir):
    """Two chained Lloyd refinements — proves the 'more rounds = the
    same block repeated' claim with a real second round: cent0 (seed
    rows) -> cent1 -> cent2, then the final assignment census. Every
    round is one broadcast assignment pass over the vector table plus
    one dimension-sum shuffle; at 100 TB the loop runs until the
    assignment-change count (a one-row aggregate per round) hits
    zero, exactly like the connected-components fixpoint loop. All
    centroid arithmetic stays integer-exact so the two engines hold
    bit-identical state after ANY number of rounds."""
    e, cent0 = _vectors_and_seeds(spark, sf_dir)
    # cent1 feeds round 2's assignment; cent2 is 8 rows feeding TWO
    # consumers (broadcast assignment + census join) with a two-full-
    # Lloyd-pass upstream — materialize each round's centroids so no
    # refine pass executes twice
    cent1 = materialize(_lloyd_refine(e, cent0))
    cent2 = materialize(_lloyd_refine(e, cent1))
    assign2 = _argmin_assign(e, cent2, keep_v=False).select("vec_id", "cid")

    def dot(a):
        return F.aggregate(F.zip_with(a, a, lambda x, y: x * y), F.lit(0.0), lambda p, q: p + q)

    return (
        assign2.join(F.broadcast(cent2), "cid")
        .groupBy("cid", "cv")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .select("cid", "n_vectors", t6(F.sqrt(dot(F.col("cv")))).alias("centroid_norm"))
        .orderBy("cid")
    )
