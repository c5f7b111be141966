"""Preference analytics: pairwise-contest statistics and
Bradley-Terry strength fitting — the relational core of
RLHF-style preference-data curation.

Preference datasets are pairs (A beat B); before any reward model
trains on them, the pipeline needs exactly these two readouts: the
per-pair win rate with a confidence floor (is this comparison even
signal?) and a strength ranking that adjusts for WHO each item was
compared against (raw win rate is biased by schedule — an item that
only ever faced weak opponents looks stronger than it is; the
Bradley-Terry model is the standard fix, and its minorize-maximize
update is a pure join+groupBy per iteration, so it distributes).

Contests are derived deterministically from the TPC-H tables: within
each order, every pair of distinct part brands competes and the
brand with the larger line-revenue total wins (ties dropped).  The
same derivation feeds both queries, so the pair below is the exact
shape a preference pipeline runs on (prompt_id -> order, response
pair -> brand pair, human vote -> revenue comparison).

Reference behavioral anchor: none — the reference has no analytics
tier (SURVEY §2.6 declares the intent set); this extends the engine
along the LLM-pipeline axis like the dedup/experiment families.

Scale shape (both queries): lineitem joins part on partkey (the only
corpus-sized shuffle), aggregates to (order, brand) grain, and the
contest self-join keys on the ORDER key with per-order basket size
bounded by the brand count (25) — sum(basket^2), never corpus².
Everything after pair grain is 25-325 rows; per-brand relations
broadcast.  All arithmetic is integer fixed-point (DECIMAL(38,0) /
HUGEINT widening), so sums are order-free and the oracle
hash-matches bit-exactly at any parallelism.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from wire_spark.catalog import register
from wire_spark.queries._util import T, materialize

# Shared contest derivation: (order, brand) revenue in integer cents,
# then per-order brand-vs-brand contests with the higher revenue
# winning; equal-revenue pairs are dropped on both engines.
_CONTESTS_CTE = """
WITH ob AS (
  SELECT l.l_orderkey AS orderkey, p.p_brand AS brand,
         CAST(sum(CAST(floor(l.l_extendedprice * 100.0e0) AS BIGINT))
              AS BIGINT) AS rev
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1, 2
), contests AS (
  SELECT a.brand AS b1, b.brand AS b2,
         CASE WHEN a.rev > b.rev THEN 1 ELSE 0 END AS win1
  FROM ob a JOIN ob b
    ON a.orderkey = b.orderkey AND a.brand < b.brand AND a.rev <> b.rev
), pair AS (
  SELECT b1, b2, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(win1) AS BIGINT) AS w1
  FROM contests GROUP BY 1, 2
)
"""


def _pair_relation(spark, sf_dir):
    """(b1, b2, n, w1) — per brand pair: contests and wins for the
    lexicographically smaller brand.

    The (order, brand) revenue relation feeds both self-join
    branches.  An explicit ``repartition("l_orderkey")`` BELOW the
    aggregation keys the whole pipeline on the join key:
    hashpartitioning(orderkey) satisfies the (orderkey, brand)
    aggregation's clustering (subset rule), the contest self-join
    reads both branches from ONE ReusedExchange, and the join itself
    needs no further shuffle (guide §2.4).  This replaced the r15
    eager local-checkpoint form — measured interleaved A/B
    at sf0.1: ~1.62 s -> ~1.12 s steady-state, identical output — and
    removes a DATA-SIZED localCheckpoint (executor-pinned, with no
    reliable-checkpoint fallback).  At 100 TB the one reused exchange
    moves the joined lineitem once; the order×brand aggregate never
    shuffles again."""
    li = T(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_extendedprice")
    p = T(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = (
        li.join(p, li.l_partkey == p.p_partkey)
        .repartition("l_orderkey")
        .groupBy(
            F.col("l_orderkey").alias("orderkey"),
            F.col("p_brand").alias("brand"),
        )
        .agg(F.sum(F.expr(
            "CAST(floor(l_extendedprice * 100.0e0) AS BIGINT)"
        )).alias("rev"))
    )
    a, b = ob.alias("a"), ob.alias("b")
    return (
        a.join(b, (F.col("a.orderkey") == F.col("b.orderkey"))
               & (F.col("a.brand") < F.col("b.brand"))
               & (F.col("a.rev") != F.col("b.rev")))
        .groupBy(F.col("a.brand").alias("b1"), F.col("b.brand").alias("b2"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("a.rev") > F.col("b.rev"), 1)
                  .otherwise(0)).alias("w1"),
        )
    )


_WILSON_EXPR = (
    # z = 1.96 (z² = 3.8416 exactly); identical IEEE op tree in both
    # dialects, floored once at 1e-6
    "CAST(floor((p + 3.8416e0 / (2.0e0 * nd)"
    " - 1.96e0 * sqrt((p * (1.0e0 - p) + 3.8416e0 / (4.0e0 * nd)) / nd))"
    " / (1.0e0 + 3.8416e0 / nd) * 1000000.0e0) AS BIGINT)"
)

_WILSON_ORACLE = _CONTESTS_CTE + f"""
, d AS (
  SELECT b1, b2, n, w1,
         CAST(w1 AS DOUBLE) / CAST(n AS DOUBLE) AS p,
         CAST(n AS DOUBLE) AS nd
  FROM pair WHERE n >= 5
)
SELECT b1, b2, n AS n_contests, w1 AS wins_b1,
       CAST(w1 * 1000000 // n AS BIGINT) AS winrate_1e6,
       {_WILSON_EXPR} AS wilson_low_1e6
FROM d
ORDER BY wilson_low_1e6 DESC, b1, b2
LIMIT 30
"""


@register("preference_winrate_wilson", oracle=_WILSON_ORACLE, bench=True,
          doc="pairwise preference win rates with the Wilson lower "
              "confidence bound — which comparisons carry real signal "
              "before a reward model trains on them")
def preference_winrate_wilson(spark, sf_dir):
    """Per brand pair with >= 5 contests: contests, wins, the raw win
    rate, and the 95% Wilson score LOWER bound — the standard
    small-sample-safe ranking statistic (a 3/3 record scores below a
    70/100 one).  The bound is per-row closed-form double arithmetic
    on integer counters (the windowed_ab_ztest discipline): identical
    op tree both engines, floored once at 1e-6, so no summation-order
    noise can flip the hash.

    Scale shape: see the module docstring — one corpus-sized shuffle
    (lineitem x part), order-keyed contest self-join bounded by
    basket size, pair grain afterwards is <= C(25,2) rows.
    """
    pair = _pair_relation(spark, sf_dir)
    d = pair.filter(F.col("n") >= 5).select(
        "b1", "b2", "n", "w1",
        F.expr("CAST(w1 AS DOUBLE) / CAST(n AS DOUBLE)").alias("p"),
        F.expr("CAST(n AS DOUBLE)").alias("nd"),
    )
    return (
        d.select(
            "b1", "b2",
            F.col("n").alias("n_contests"),
            F.col("w1").alias("wins_b1"),
            F.expr("CAST(w1 * 1000000 div n AS BIGINT)")
            .alias("winrate_1e6"),
            F.expr(_WILSON_EXPR).alias("wilson_low_1e6"),
        )
        .orderBy(F.desc("wilson_low_1e6"), "b1", "b2")
        .limit(30)
    )


_BT_ORACLE = _CONTESTS_CTE + """
, edges AS (
  SELECT b1 AS i, b2 AS j, n, w1 AS w FROM pair
  UNION ALL
  SELECT b2 AS i, b1 AS j, n, n - w1 AS w FROM pair
), bs AS (
  SELECT i AS brand, CAST(sum(w) AS BIGINT) AS wins,
         CAST(sum(n) AS BIGINT) AS contests,
         CAST(CAST(2000000 AS HUGEINT) * sum(w) // sum(n) AS BIGINT)
           AS s1
  FROM edges GROUP BY 1
), den AS (
  SELECT e.i AS brand,
         CAST(sum(CAST(e.n AS HUGEINT) * 1000000000000
                  // greatest(si.s1 + sj.s1, 1)) AS HUGEINT) AS d2
  FROM edges e
  JOIN bs si ON e.i = si.brand
  JOIN bs sj ON e.j = sj.brand
  GROUP BY 1
)
SELECT b.brand AS brand, b.wins, b.contests,
       CAST(CAST(b.wins AS HUGEINT) * 1000000000000 // d.d2 AS BIGINT)
         AS bt_1e6
FROM bs b JOIN den d ON b.brand = d.brand
ORDER BY bt_1e6 DESC, b.brand
"""


@register("preference_bt_strength", oracle=_BT_ORACLE, bench=True,
          doc="Bradley-Terry strengths from pairwise contests — two "
              "exact integer minorize-maximize steps; schedule-"
              "adjusted ranking raw win rate cannot give")
def preference_bt_strength(spark, sf_dir):
    """Bradley-Terry strength per brand after TWO minorize-maximize
    steps from the uniform start — the update s_i = W_i / sum_j(n_ij
    / (s_i + s_j)) with all divisions as integer floors in 1e-6
    units, so both steps are exact integers (DECIMAL(38,0)/HUGEINT
    widening keeps the 1e12-scaled numerators inside the fixed-point
    budget at any SF) and summation order cannot matter.

    Step 1 from uniform strengths reduces to the doubled win rate
    (2e6 * W_i div N_i); step 2 is the first genuinely
    schedule-adjusted estimate — an item that beat strong opponents
    gains, one that farmed weak ones drops.  Further iterations
    refine but do not reorder typical data; convergence auditing
    belongs to the training loop, not the pipeline readout.

    Scale shape: the pair relation (module docstring) is <= C(25,2)
    rows at any SF, so both MM steps run on broadcast-sized
    relations; the only data-sized work is deriving the contests.
    """
    # pair is <= C(25,2) rows and feeds FIVE downstream references
    # (two union orientations, consumed by bs and den); materialize
    # once rather than re-running the contest self-join per branch
    pair = materialize(_pair_relation(spark, sf_dir))
    edges = pair.select(
        F.col("b1").alias("i"), F.col("b2").alias("j"), "n",
        F.col("w1").alias("w"),
    ).unionAll(pair.select(
        F.col("b2").alias("i"), F.col("b1").alias("j"), "n",
        (F.col("n") - F.col("w1")).alias("w"),
    ))
    bs = edges.groupBy(F.col("i").alias("brand")).agg(
        F.sum("w").alias("wins"),
        F.sum("n").alias("contests"),
        F.expr(
            "CAST(CAST(2000000 AS DECIMAL(38,0)) * sum(w) div sum(n)"
            " AS BIGINT)"
        ).alias("s1"),
    )
    den = (
        edges
        .join(F.broadcast(bs.select(F.col("brand").alias("i"),
                                    F.col("s1").alias("s1_i"))), "i")
        .join(F.broadcast(bs.select(F.col("brand").alias("j"),
                                    F.col("s1").alias("s1_j"))), "j")
        .groupBy(F.col("i").alias("brand"))
        .agg(F.expr(
            # greatest(d, 1) on BOTH sides (the recipe rule): any met
            # pair has a winner with W >= 1, but past ~2e6 contests a
            # brand's s1 can still floor to 0, and two such brands
            # meeting would otherwise divide by zero under Spark ANSI.
            # Floor division stays in DECIMAL as (a - a % b) / b —
            # Spark's `div` returns BIGINT, so `n * 1e12 div 1` would
            # ANSI-overflow past n ≈ 9.2e6 per pair, exactly the
            # s1-floors-to-0 regime the greatest() guard targets,
            # while the DuckDB oracle's HUGEINT `//` kept going.
            # a ≥ 0 and b ≥ 1, so the exact decimal
            # quotient equals the floor on both engines.
            "sum(CAST(("
            " (CAST(n AS DECIMAL(38,0)) * 1000000000000"
            "  - CAST(n AS DECIMAL(38,0)) * 1000000000000"
            "    % greatest(s1_i + s1_j, 1))"
            " / greatest(s1_i + s1_j, 1)"
            ") AS DECIMAL(38,0)))"
        ).alias("d2"))
    )
    return (
        bs.join(F.broadcast(den), "brand")
        .select(
            "brand", "wins", "contests",
            F.expr(
                "CAST(CAST(wins AS DECIMAL(38,0)) * 1000000000000 div d2"
                " AS BIGINT)"
            ).alias("bt_1e6"),
        )
        .orderBy(F.desc("bt_1e6"), "brand")
    )
