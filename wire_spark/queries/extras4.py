"""Fourth extras batch: RANGE window frames and null-semantics
coverage (the classic correctness traps).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from wire_spark.catalog import register
from wire_spark.queries._util import EVENTS_TIMED_CTE, T, events_timed, fmt_ts

# --------------------------------------------------------------------
# RANGE frame: per-user rolling 30-minute event-value sum
# --------------------------------------------------------------------

# RANGE frames include ALL peers in the bound, so ordering ties don't
# affect the result (unlike ROWS frames — see window_running_total's
# tiebreaker). Spark expresses interval ranges over a numeric column:
# order by epoch seconds with rangeBetween(-1800, 0); DuckDB uses the
# native RANGE ... INTERVAL form over the timestamp.  Timed tier: the
# frame ORDERs by event time, so rows without an in-domain timestamp
# are filtered (the _util.py tier rule — keeping NULL order keys would
# lean on both engines treating the NULL peer group alike, which holds
# today but is fragile to frame changes).
_RANGE_FRAME_ORACLE = EVENTS_TIMED_CTE + """
SELECT
  user_id, event_id,
  strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
  sum(CAST(floor(value * 10000.0) AS HUGEINT)) OVER (
    PARTITION BY user_id ORDER BY ts
    RANGE BETWEEN INTERVAL 30 MINUTE PRECEDING AND CURRENT ROW
  ) / 10000.0 AS rolling_30m,
  count(*) OVER (
    PARTITION BY user_id ORDER BY ts
    RANGE BETWEEN INTERVAL 30 MINUTE PRECEDING AND CURRENT ROW
  ) AS n_30m
FROM events
ORDER BY user_id, event_id
"""


@register("window_range_frame_30m", oracle=_RANGE_FRAME_ORACLE, bench=True,
          doc="RANGE interval frame: rolling 30-minute per-user sums")
def window_range_frame_30m(spark, sf_dir):
    e = events_timed(spark, sf_dir)
    # epoch micros keep full ts precision for the range bound
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-30 * 60 * 1_000_000, 0)
    )
    return (
        e.select(
            "user_id", "event_id",
            fmt_ts(F.col("ts"), with_micros=True).alias("ts_s"),
            (F.sum(F.floor(F.col("value") * F.lit(10000.0)).cast("decimal(38,0)")).over(w) / F.lit(10000.0))
            .alias("rolling_30m"),
            F.count(F.lit(1)).over(w).alias("n_30m"),
        )
        .orderBy("user_id", "event_id")
    )


# --------------------------------------------------------------------
# null semantics: COUNT variants, null-safe equality, COALESCE chains
# --------------------------------------------------------------------

# Left join produces NULLs for customers without urgent orders; the
# aggregate distinctions (count(*) vs count(col) vs count(distinct)),
# null-safe equality, and coalesce defaults are the contract.
_NULLS_ORACLE = """
WITH joined AS (
  SELECT c.c_custkey, c.c_mktsegment, o.o_orderkey, o.o_orderpriority
  FROM customer c
  LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority = '1-URGENT'
)
SELECT
  c_mktsegment,
  count(*)                                     AS n_rows,
  count(o_orderkey)                            AS n_urgent_orders,
  count(DISTINCT o_orderkey)                   AS n_distinct_orders,
  CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_rows,
  count(*) FILTER (o_orderpriority IS NOT DISTINCT FROM '1-URGENT') AS n_nullsafe_eq,
  min(coalesce(o_orderpriority, 'NONE'))       AS min_priority_or_none
FROM joined
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


@register("null_semantics_audit", oracle=_NULLS_ORACLE, bench=True,
          doc="COUNT variants / null-safe equality / COALESCE over outer-join NULLs")
def null_semantics_audit(spark, sf_dir):
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    joined = c.join(o, c.c_custkey == o.o_custkey, "left").select(
        "c_mktsegment", "o_orderkey", "o_orderpriority"
    )
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("o_orderkey").alias("n_urgent_orders"),
            F.countDistinct("o_orderkey").alias("n_distinct_orders"),
            F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)).alias("n_null_rows"),
            F.count(
                F.when(F.col("o_orderpriority").eqNullSafe("1-URGENT"), 1)
            ).alias("n_nullsafe_eq"),
            F.min(F.coalesce("o_orderpriority", F.lit("NONE"))).alias("min_priority_or_none"),
        )
        .orderBy("c_mktsegment")
    )
