"""Governance catalog queries: l-diversity, t-closeness, and the
data-contract validation report — the release-gate family that sits
between the pipeline and anything leaving it.

Complements ``kanonymity_audit`` (features.py): k-anonymity bounds
RE-IDENTIFICATION risk (how small is my equivalence class), but a
class can be large and still leak — if everyone in it shares the
sensitive value, membership alone discloses it.  l-diversity counts
distinct sensitive values per class; t-closeness bounds how far a
class's sensitive DISTRIBUTION sits from the global one (a class can
be diverse yet skewed).  The contract report is the
``operators/contracts.py`` gate as a relational, driver-verifiable
query.

Reference behavioral anchor: the reference validates CONFIGS up front
(internal/utils/config.go) but ships no data-release gate; SURVEY §2.6
scopes declarative quality/governance checks to this engine.

Cross-engine exactness (PARITY.md rules):
- the sensitive bucket is ``floor(c_acctbal / 1000.0e0)`` — float
  division + floor are IEEE-identical in both engines, and the only
  boundary values (exact multiples of 1000) are exactly
  representable doubles, so bucket ids never straddle an ulp;
- every ratio is integer fixed-point (``x * 10000 div y`` vs
  ``x * 10000 // y`` on non-negative operands);
- t-closeness cumulative-mass comparisons run entirely on integer
  cross-products widened to DECIMAL(38,0)/HUGEINT — |cum_c * n -
  cum_g * n_c| is ~n² and wraps int64 past ~sf300.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from wire_spark.catalog import register
from wire_spark.queries._util import T, tracked_cache

# --------------------------------------------------------------------
# l-diversity audit
# --------------------------------------------------------------------

_LDIV_ORACLE = """
WITH cl AS (
  SELECT c_mktsegment, c_nationkey,
         CAST(count(*) AS BIGINT) AS k,
         CAST(count(DISTINCT CAST(floor(c_acctbal / 1000.0e0) AS BIGINT))
              AS BIGINT) AS l
  FROM customer
  GROUP BY c_mktsegment, c_nationkey
)
SELECT CASE WHEN l = 1 THEN 'l=1 homogeneous'
            WHEN l < 3 THEN 'l=2'
            WHEN l < 5 THEN 'l=3-4'
            ELSE 'l>=5' END AS l_band,
       CAST(count(*) AS BIGINT) AS n_classes,
       CAST(sum(k) AS BIGINT) AS n_rows,
       CAST(min(l) AS BIGINT) AS min_l
FROM cl
GROUP BY l_band
ORDER BY l_band
"""


@register("ldiversity_audit", oracle=_LDIV_ORACLE, bench=True,
          doc="l-diversity release audit: distinct sensitive-value "
              "count per QI equivalence class, banded — catches "
              "attribute disclosure that k-anonymity misses")
def ldiversity_audit(spark, sf_dir):
    """The attribute-disclosure gate: for each quasi-identifier class
    (segment, nation), how many DISTINCT sensitive values (account-
    balance band) does it contain?  A class that is k-large but
    l=1-homogeneous discloses the sensitive value to anyone who can
    place a person in the class — the classic k-anonymity blind spot
    l-diversity exists to close.  Bands follow the release playbook:
    l=1 blocks, l=2 is marginal, l>=5 is the common "well-represented"
    bar.

    Scale shape: one groupBy on the QI tuple computing count + a
    distinct-count over a BOUNDED bucket domain (~11 balance bands —
    Spark plans this as a two-phase expand/aggregate, both phases
    map-combinable on the QI key), then a 4-row band rollup.  One
    scan at any table size; no joins."""
    c = T(spark, sf_dir, "customer").select(
        "c_mktsegment", "c_nationkey",
        F.expr("CAST(floor(c_acctbal / 1000.0e0) AS BIGINT)").alias("sens"),
    )
    cl = c.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).alias("k"),
        F.countDistinct("sens").alias("l"),
    )
    return (
        cl.select(
            F.when(F.col("l") == 1, "l=1 homogeneous")
            .when(F.col("l") < 3, "l=2")
            .when(F.col("l") < 5, "l=3-4")
            .otherwise("l>=5")
            .alias("l_band"),
            "k", "l",
        )
        .groupBy("l_band")
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            F.sum("k").alias("n_rows"),
            F.min("l").alias("min_l"),
        )
        .orderBy("l_band")
    )


# --------------------------------------------------------------------
# t-closeness audit
# --------------------------------------------------------------------

# EMD for an ORDERED sensitive attribute (the standard t-closeness
# instantiation): sum over the B-1 internal prefixes of
# |P_class(<= b) - P_global(<= b)|, normalized by B-1.  Everything is
# integer until the final fixed-point division:
#   emd_1e4 = floor(10000 * sum_b |cum_cb*n - cum_b*n_c|
#                   / (n_c * n * (B-1)))
# The grid is classes x global buckets (a cross join of two BOUNDED
# relations), with per-class counts left-joined in as zeros — absent
# buckets still accumulate global mass, which is what makes the
# prefix comparison correct.
_TCLOSE_ORACLE = """
WITH c AS (
  SELECT c_mktsegment AS seg, c_nationkey AS nat,
         CAST(floor(c_acctbal / 1000.0e0) AS BIGINT) AS b
  FROM customer
), cb AS (
  SELECT seg, nat, b, CAST(count(*) AS BIGINT) AS n_cb
  FROM c GROUP BY seg, nat, b
), gb AS (
  SELECT b, CAST(count(*) AS BIGINT) AS n_b FROM c GROUP BY b
), cls AS (
  SELECT seg, nat, CAST(sum(n_cb) AS BIGINT) AS n_c FROM cb GROUP BY seg, nat
), tot AS (
  SELECT CAST(sum(n_b) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS n_buckets
  FROM gb
), grid AS (
  SELECT cls.seg, cls.nat, cls.n_c, gb.b, gb.n_b,
         COALESCE(cb.n_cb, 0) AS n_cb
  FROM cls CROSS JOIN gb
  LEFT JOIN cb ON cb.seg = cls.seg AND cb.nat = cls.nat AND cb.b = gb.b
), cum AS (
  SELECT seg, nat, n_c, b,
         CAST(sum(n_cb) OVER (PARTITION BY seg, nat ORDER BY b) AS HUGEINT)
           AS cum_c,
         CAST(sum(n_b)  OVER (PARTITION BY seg, nat ORDER BY b) AS HUGEINT)
           AS cum_g
  FROM grid
), emd AS (
  SELECT seg, nat,
         CAST(10000 * sum(CASE WHEN b < mx.mb
                    THEN abs(cum_c * tot.n - cum_g * n_c) ELSE 0 END)
              // (CAST(n_c AS HUGEINT) * tot.n
                  * greatest(tot.n_buckets - 1, 1))
              AS BIGINT) AS emd_1e4
  FROM cum, tot, (SELECT max(b) AS mb FROM gb) mx
  GROUP BY seg, nat, n_c, tot.n, tot.n_buckets, mx.mb
)
SELECT CASE WHEN emd_1e4 < 1000 THEN 't<0.10'
            WHEN emd_1e4 < 2000 THEN 't=0.10-0.19'
            WHEN emd_1e4 < 3000 THEN 't=0.20-0.29'
            ELSE 't>=0.30' END AS t_band,
       CAST(count(*) AS BIGINT) AS n_classes,
       CAST(max(emd_1e4) AS BIGINT) AS max_emd_1e4
FROM emd
GROUP BY t_band
ORDER BY t_band
"""


@register("tcloseness_audit", oracle=_TCLOSE_ORACLE, bench=True,
          doc="t-closeness release audit: per-QI-class earth-mover "
              "distance of the ordered sensitive distribution vs the "
              "global one, exact integer fixed-point, banded")
def tcloseness_audit(spark, sf_dir):
    """The distribution-skew gate: a QI class can pass k-anonymity
    AND l-diversity and still leak — if its sensitive-value
    distribution is far from the table's, placing someone in the
    class updates an attacker's posterior.  t-closeness bounds the
    earth-mover distance between each class's balance-band
    distribution and the global one; classes band into the standard
    t thresholds (t >= 0.3 usually blocks release).

    Scale shape: two map-combinable groupBys (class x bucket, and
    bucket), then a grid CROSS JOIN of two bounded relations
    (QI-domain x bucket-domain — never row-grain), prefix sums via a
    window partitioned by class over <= B rows each, and one
    class-grain aggregate.  The cumulative cross-products cum*n are
    ~n² (int64 wraps past ~sf300), so they accumulate in
    DECIMAL(38,0) here and HUGEINT in the oracle."""
    c = T(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("seg"), F.col("c_nationkey").alias("nat"),
        F.expr("CAST(floor(c_acctbal / 1000.0e0) AS BIGINT)").alias("b"),
    )
    # cached: cb is the class x bucket relation (bounded by the two
    # domains, never by row count) and every downstream branch — the
    # global histogram, class sizes, totals, grid — derives from it.
    # Without persistence Spark re-derives each branch from the
    # parquet scan (observed: 5 scans); with it the customer table is
    # read exactly once and everything after is grid-grain.
    cb = tracked_cache(
        c.groupBy("seg", "nat", "b")
        .agg(F.count(F.lit(1)).alias("n_cb"))
    )
    gb = cb.groupBy("b").agg(F.sum("n_cb").alias("n_b"))
    cls = cb.groupBy("seg", "nat").agg(F.sum("n_cb").alias("n_c"))
    tot = gb.agg(F.sum("n_b").alias("n"), F.count(F.lit(1)).alias("n_buckets"))
    mx = gb.agg(F.max("b").alias("mb"))
    grid = (
        cls.crossJoin(F.broadcast(gb))
        .join(cb, ["seg", "nat", "b"], "left")
        .withColumn("n_cb", F.coalesce(F.col("n_cb"), F.lit(0)))
    )
    w = W.partitionBy("seg", "nat").orderBy("b")
    cum = grid.select(
        "seg", "nat", "n_c", "b", "n_b",
        F.sum("n_cb").over(w).cast("decimal(38,0)").alias("cum_c"),
        F.sum("n_b").over(w).cast("decimal(38,0)").alias("cum_g"),
    )
    emd = (
        cum.crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(mx))
        .groupBy("seg", "nat", "n_c", "n", "n_buckets", "mb")
        .agg(
            F.sum(
                F.when(
                    F.col("b") < F.col("mb"),
                    F.abs(
                        F.col("cum_c") * F.col("n")
                        - F.col("cum_g") * F.col("n_c")
                    ),
                ).otherwise(F.lit(0).cast("decimal(38,0)"))
            ).alias("m")
        )
        .select(
            # greatest(.., 1) guards the degenerate one-bucket table:
            # the numerator is 0 there (no prefix strictly below the
            # max bucket), so EMD correctly reads 0 in BOTH engines —
            # without the guard Spark's non-ANSI div-by-zero yields
            # NULL (banding every class into the worst tier) while
            # DuckDB raises.
            F.expr(
                "CAST(10000 * m div (CAST(n_c AS DECIMAL(38,0)) * n "
                "* greatest(n_buckets - 1, 1)) AS BIGINT)"
            ).alias("emd_1e4")
        )
    )
    return (
        emd.select(
            F.when(F.col("emd_1e4") < 1000, "t<0.10")
            .when(F.col("emd_1e4") < 2000, "t=0.10-0.19")
            .when(F.col("emd_1e4") < 3000, "t=0.20-0.29")
            .otherwise("t>=0.30")
            .alias("t_band"),
            "emd_1e4",
        )
        .groupBy("t_band")
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            F.max("emd_1e4").alias("max_emd_1e4"),
        )
        .orderBy("t_band")
    )


# --------------------------------------------------------------------
# data-contract validation report
# --------------------------------------------------------------------

# The operators/contracts.py gate as a catalog query: a fixed
# contract over orders, every expectation computed in ONE aggregate
# (the same single-scan plan the operator builds), unpivoted to one
# row per rule with its threshold decision.
_CONTRACT_ORACLE = """
WITH agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN o_orderkey IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS r_key,
         CAST(sum(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1 ELSE 0 END)
              AS BIGINT) AS r_status,
         CAST(sum(CASE WHEN o_totalprice > 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS r_price,
         CAST(sum(CASE WHEN o_orderpriority LIKE '1-%' THEN 1 ELSE 0 END)
              AS BIGINT) AS r_urgent
  FROM orders
)
SELECT rule, n_pass, pass_rate_1e4, min_rate_1e4,
       pass_rate_1e4 >= min_rate_1e4 AS ok
FROM (
  SELECT 'key_not_null' AS rule, r_key AS n_pass,
         CAST(r_key * 10000 // n AS BIGINT) AS pass_rate_1e4,
         CAST(10000 AS BIGINT) AS min_rate_1e4 FROM agg
  UNION ALL
  SELECT 'status_domain', r_status, CAST(r_status * 10000 // n AS BIGINT),
         10000 FROM agg
  UNION ALL
  SELECT 'price_positive', r_price, CAST(r_price * 10000 // n AS BIGINT),
         10000 FROM agg
  UNION ALL
  SELECT 'urgent_share', r_urgent, CAST(r_urgent * 10000 // n AS BIGINT),
         500 FROM agg
)
ORDER BY rule
"""


@register("contract_validation_report", oracle=_CONTRACT_ORACLE, bench=True,
          doc="data-contract gate as a relational report: every "
              "expectation's pass count/rate from ONE aggregate, with "
              "per-rule threshold decisions")
def contract_validation_report(spark, sf_dir):
    """The publish gate, driver-verifiable: a fixed contract over
    orders (key non-null, status in domain, price positive — hard
    rules; urgent-priority share — a soft >= 5% expectation) computed
    exactly the way ``operators/contracts.validate`` plans it: ONE
    map-combinable aggregate over one scan, any table size, then an
    inline unpivot (stack) to one row per rule with its integer
    fixed-point pass rate and threshold verdict.  NULL predicate
    results count as failures (the conservative release-gate
    reading)."""
    o = T(spark, sf_dir, "orders")
    agg = o.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("o_orderkey").isNotNull(), 1).otherwise(0))
        .alias("r_key"),
        F.sum(F.when(F.col("o_orderstatus").isin("O", "F", "P"), 1)
              .otherwise(0)).alias("r_status"),
        F.sum(F.when(F.col("o_totalprice") > 0, 1).otherwise(0))
        .alias("r_price"),
        F.sum(F.when(F.col("o_orderpriority").startswith("1-"), 1)
              .otherwise(0)).alias("r_urgent"),
    )
    rules = agg.selectExpr(
        "n",
        "stack(4, "
        " 'key_not_null',  r_key,    CAST(10000 AS BIGINT),"
        " 'status_domain', r_status, CAST(10000 AS BIGINT),"
        " 'price_positive',r_price,  CAST(10000 AS BIGINT),"
        " 'urgent_share',  r_urgent, CAST(500 AS BIGINT)"
        ") AS (rule, n_pass, min_rate_1e4)",
    )
    return (
        rules.select(
            "rule",
            "n_pass",
            F.expr("CAST(n_pass * 10000 div n AS BIGINT)")
            .alias("pass_rate_1e4"),
            "min_rate_1e4",
        )
        .withColumn("ok", F.col("pass_rate_1e4") >= F.col("min_rate_1e4"))
        .orderBy("rule")
    )
