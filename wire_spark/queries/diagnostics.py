"""Pipeline diagnostics: join-key skew audit.

Before running a 100 TB join or aggregation, the question is always
"how skewed is the key?" — one hot key serializes a reducer no matter
how many executors exist. This operator computes the key-frequency
profile a capacity plan needs: key count, hottest-key share, and the
concentration of the top keys. (The fix-side tools live in
operators/joins.py: salted_join, AQE skew-join; this is the
measure-side.)
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from wire_spark.catalog import register
from wire_spark.queries._util import EVENTS_SANITIZED_CTE, EVENTS_TIMED_CTE, T, events_sane, events_timed, materialize

_SKEW_ORACLE = """
WITH per_key AS (
  SELECT user_id, count(*) AS c FROM events GROUP BY user_id
), top10 AS (
  SELECT sum(c) AS t10 FROM (
    SELECT c FROM per_key ORDER BY c DESC, user_id LIMIT 10
  )
)
SELECT count(*) AS n_keys,
       CAST(sum(c) AS BIGINT) AS n_rows,
       max(c) AS max_count,
       floor(max(c) * 10000.0 / sum(c)) / 10000.0 AS max_share,
       floor(any_value(t10) * 10000.0 / sum(c)) / 10000.0 AS top10_share,
       CAST(floor(sum(c) * 1.0 / count(*)) AS BIGINT) AS avg_per_key
FROM per_key CROSS JOIN top10
"""


@register("skew_audit_events_user", oracle=_SKEW_ORACLE,
          doc="join-key skew audit on events.user_id: key count, hottest "
              "share, top-10 concentration")
def skew_audit_events_user(spark, sf_dir):
    """Key-skew profile for events.user_id (the funnel/session join
    key). Scale shape: one shuffle for the per-key counts (partial
    map-side agg — the shuffle carries keys, not rows), the top-10
    via TakeOrdered, then one-row aggregates; ratios are exact
    integer rationals floored at 4 dp. avg_per_key uses integer
    division (exact in both engines)."""
    per_key = (
        T(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top10 = (
        per_key.orderBy(F.desc("c"), F.asc("user_id")).limit(10)
        .agg(F.sum("c").alias("t10"))
    )
    f4 = lambda c: F.floor(c * F.lit(10000.0)) / F.lit(10000.0)  # noqa: E731
    return (
        per_key.agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("c").alias("n_rows"),
            F.max("c").alias("max_count"),
        )
        .crossJoin(F.broadcast(top10))
        .select(
            "n_keys", "n_rows", "max_count",
            f4(F.col("max_count") * F.lit(1.0) / F.col("n_rows")).alias("max_share"),
            f4(F.col("t10") * F.lit(1.0) / F.col("n_rows")).alias("top10_share"),
            F.floor(F.col("n_rows") * F.lit(1.0) / F.col("n_keys")).cast("long").alias("avg_per_key"),
        )
    )


# --------------------------------------------------------------------
# robust outlier audit: median / MAD per event type
# --------------------------------------------------------------------

_MAD_ORACLE = EVENTS_SANITIZED_CTE + """,
ranked AS (
  SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events WHERE value IS NOT NULL
), mpos AS (
  SELECT DISTINCT event_type, n,
         CAST(floor((n - 1) * 0.5::DOUBLE) AS BIGINT) + 1 AS lo_rn,
         CAST(ceil((n - 1) * 0.5::DOUBLE)  AS BIGINT) + 1 AS hi_rn,
         (n - 1) * 0.5::DOUBLE - floor((n - 1) * 0.5::DOUBLE) AS frac
  FROM ranked
), med AS (
  SELECT m.event_type, m.n,
         lo.value + (hi.value - lo.value) * m.frac AS med
  FROM mpos m
  JOIN ranked lo ON lo.event_type = m.event_type AND lo.rn = m.lo_rn
  JOIN ranked hi ON hi.event_type = m.event_type AND hi.rn = m.hi_rn
), dev AS (
  SELECT e.event_type, e.event_id, abs(e.value - med.med) AS d
  FROM events e JOIN med ON e.event_type = med.event_type
  WHERE e.value IS NOT NULL
), dranked AS (
  SELECT event_type, d,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY d, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM dev
), dpos AS (
  SELECT DISTINCT event_type, n,
         CAST(floor((n - 1) * 0.5::DOUBLE) AS BIGINT) + 1 AS lo_rn,
         CAST(ceil((n - 1) * 0.5::DOUBLE)  AS BIGINT) + 1 AS hi_rn,
         (n - 1) * 0.5::DOUBLE - floor((n - 1) * 0.5::DOUBLE) AS frac
  FROM dranked
), mad AS (
  SELECT p.event_type, lo.d + (hi.d - lo.d) * p.frac AS mad
  FROM dpos p
  JOIN dranked lo ON lo.event_type = p.event_type AND lo.rn = p.lo_rn
  JOIN dranked hi ON hi.event_type = p.event_type AND hi.rn = p.hi_rn
), outl AS (
  SELECT e.event_type, count(*) AS n_outliers
  FROM events e
  JOIN med ON e.event_type = med.event_type
  JOIN mad ON e.event_type = mad.event_type
  WHERE abs(e.value - med.med) > 3 * mad.mad
  GROUP BY e.event_type
)
SELECT med.event_type, med.n AS n_events,
       floor(med.med * 10000.0) / 10000.0 AS med,
       floor(mad.mad * 10000.0) / 10000.0 AS mad,
       COALESCE(outl.n_outliers, 0) AS n_outliers
FROM med
JOIN mad ON med.event_type = mad.event_type
LEFT JOIN outl ON med.event_type = outl.event_type
ORDER BY med.event_type
"""


@register("robust_outliers_mad", oracle=_MAD_ORACLE, bench=True,
          doc="robust per-type outlier audit: exact median, MAD, and "
              ">3-MAD outlier counts over event values")
def robust_outliers_mad(spark, sf_dir):
    """Median/MAD outlier detection per event type — the robust
    (contamination-proof) alternative to mean/stddev z-scores a data
    auditor runs before trusting a value column. Medians are the
    hand-rolled exact interpolation (same formulation as
    ``percentile_order_value`` — the engines' percentile_cont
    builtins differ in float path), so med and mad are bit-identical
    in both engines and the >3*MAD comparison can use FULL-precision
    values on both sides; output is floor-truncated for display only.

    Scale shape: two windowed rank passes partitioned by event_type
    (each one shuffle; the deviation pass re-keys the same column)
    plus one outlier-count scan with the |types|-row med/mad tables
    broadcast. No global windows, no driver loops — but NOTE the
    partition key is low-cardinality (|types| tasks do the sorting),
    so this exact form is for modest per-key volumes; at 100 TB run
    ``robust_outliers_mad_bucketed`` below — the drop-in sibling that
    computes the SAME output (same oracle) via histogram-navigated
    quantiles with no per-key sort — and reserve this form for the
    verification pass."""
    ev = events_sane(spark, sf_dir).select(
        "event_type", "event_id", "value"
    ).filter(F.col("value").isNotNull())

    def _exact_median(df, val_col, key="event_type", tie="event_id"):
        from pyspark.sql import Window as W

        w = W.partitionBy(key).orderBy(val_col, tie)
        ranked = df.select(
            key, val_col,
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(W.partitionBy(key)).alias("n"),
        )
        # Single pass over the ranked relation: every row carries its
        # key's n, so the two target ranks are computable IN the
        # filter and the lo/hi values pivot out of one conditional
        # aggregate.  The previous pos/lo/hi three-way self-join
        # consumed the ranked subtree three times (the r15 plan audit
        # counted 84 Exchanges / 62 parquet scans for this query —
        # every join re-derived the window sort from the scan).  The
        # interpolation expression and its operand order are
        # unchanged, so m is bit-identical (same oracle).
        h = (F.col("n") - 1) * F.lit(0.5)
        lo_rn, hi_rn = F.floor(h) + 1, F.ceil(h) + 1
        return (
            ranked.filter((F.col("rn") == lo_rn) | (F.col("rn") == hi_rn))
            .groupBy(key)
            .agg(
                F.min("n").alias("n"),
                F.min(F.when(F.col("rn") == lo_rn, F.col(val_col))).alias("v_lo"),
                F.min(F.when(F.col("rn") == hi_rn, F.col(val_col))).alias("v_hi"),
            )
            .select(
                key, "n",
                (F.col("v_lo")
                 + (F.col("v_hi") - F.col("v_lo")) * (h - F.floor(h))).alias("m"),
            )
        )

    # med/mm are |types|-row relations each feeding multiple
    # consumers whose upstream is a full windowed pass over events;
    # eager materialization (the preference_bt_strength convention)
    # stops Spark from re-executing that pass per consumer (med: the
    # deviation join, the mm join; mm: the outlier scan, the output).
    med = materialize(_exact_median(ev, "value").select(
        "event_type", F.col("n").alias("n_events"), F.col("m").alias("med")
    ))
    dev = ev.join(F.broadcast(med.select("event_type", "med")), "event_type").select(
        "event_type", "event_id",
        F.abs(F.col("value") - F.col("med")).alias("d"),
    )
    mad = _exact_median(dev, "d").select(
        "event_type", F.col("m").alias("mad")
    )
    mm = materialize(med.join(mad, "event_type"))
    outl = (
        ev.join(F.broadcast(mm.select("event_type", "med", "mad")), "event_type")
        .filter(F.abs(F.col("value") - F.col("med")) > F.lit(3) * F.col("mad"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_outliers"))
    )
    return (
        mm.join(outl, "event_type", "left")
        .select(
            "event_type", "n_events",
            (F.floor(F.col("med") * F.lit(10000.0)) / F.lit(10000.0)).alias("med"),
            (F.floor(F.col("mad") * F.lit(10000.0)) / F.lit(10000.0)).alias("mad"),
            F.coalesce(F.col("n_outliers"), F.lit(0)).alias("n_outliers"),
        )
        .orderBy("event_type")
    )


@register("robust_outliers_mad_bucketed", oracle=_MAD_ORACLE,
          doc="same median/MAD outlier audit, computed via two-pass "
              "histogram navigation — no per-key sort, scale-safe")
def robust_outliers_mad_bucketed(spark, sf_dir):
    """Bit-identical output to ``robust_outliers_mad`` (same oracle)
    but BOTH medians come from ``bucketed_quantiles`` (sketches.py):
    histogram-navigated exact quantiles that sort only the one
    bucket holding each target rank. This is the form that survives
    a terabyte-per-key distribution — the sort-based sibling keeps
    the pedagogically-simple plan and doubles as the verification
    pass, exactly like exact-vs-LSH in the dedup family.

    Shape: pass structure is 2x (histogram shuffle + located-bucket
    rank) + the broadcast outlier count scan; every window is keyed
    (type, bucket) with only selected-bucket rows surviving."""
    from wire_spark.queries.sketches import bucketed_quantiles

    ev = events_sane(spark, sf_dir).select(
        "event_type", "event_id", "value"
    ).filter(F.col("value").isNotNull())
    # med/mm are |types|-row relations each feeding multiple
    # consumers whose upstream includes the data-sized in-bucket rank
    # pass (only the cumulative histogram is cached inside
    # bucketed_quantiles) — materialize once per tier, the same
    # discipline as the sort-based sibling
    med = materialize(
        bucketed_quantiles(ev, (0.5,))
        .select("event_type", F.col("n").alias("n_events"),
                F.col("v").alias("med"))
    )
    dev = ev.join(F.broadcast(med.select("event_type", "med")), "event_type").select(
        "event_type", "event_id",
        F.abs(F.col("value") - F.col("med")).alias("value"),
    )
    mad = (
        bucketed_quantiles(dev, (0.5,))
        .select("event_type", F.col("v").alias("mad"))
    )
    mm = materialize(med.join(mad, "event_type"))
    outl = (
        ev.join(F.broadcast(mm.select("event_type", "med", "mad")), "event_type")
        .filter(F.abs(F.col("value") - F.col("med")) > F.lit(3) * F.col("mad"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_outliers"))
    )
    return (
        mm.join(outl, "event_type", "left")
        .select(
            "event_type", "n_events",
            (F.floor(F.col("med") * F.lit(10000.0)) / F.lit(10000.0)).alias("med"),
            (F.floor(F.col("mad") * F.lit(10000.0)) / F.lit(10000.0)).alias("mad"),
            F.coalesce(F.col("n_outliers"), F.lit(0)).alias("n_outliers"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------
# per-column data-quality profile (schema audit before ingestion)
# --------------------------------------------------------------------

_PROFILE_ORACLE = """
SELECT 'doc_id' AS col_name, count(*) AS n_rows,
       CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       count(DISTINCT doc_id) AS n_distinct,
       CAST(min(doc_id) AS VARCHAR) AS min_v, CAST(max(doc_id) AS VARCHAR) AS max_v
FROM documents
UNION ALL
SELECT 'lang', count(*),
       CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       count(DISTINCT lang), min(lang), max(lang)
FROM documents
UNION ALL
SELECT 'n_chars', count(*),
       CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       count(DISTINCT n_chars),
       CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR)
FROM documents
UNION ALL
SELECT 'source', count(*),
       CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       count(DISTINCT source), min(source), max(source)
FROM documents
ORDER BY col_name
"""


@register("profile_documents_columns", oracle=_PROFILE_ORACLE, bench=True,
          doc="per-column data-quality profile of the documents table: "
              "row/null/distinct counts and min/max per column")
def profile_documents_columns(spark, sf_dir):
    """The pre-ingestion schema audit every pipeline runs on a new
    drop: per-column null counts, exact distinct cardinality, and
    min/max rendered as strings (type-stable output schema no matter
    the column type). The long text column is profiled indirectly via
    ``n_chars``; min/max are cast to VARCHAR identically in both
    engines.

    Scale shape: one pruned scan branch per column — column pruning
    means each branch reads ONLY its column (asserted in
    tests/test_plans.py), so total I/O equals one full-width scan and
    the branches run concurrently. Each branch partial-aggregates
    map-side; the exact ``countDistinct`` shuffles that column's
    values once. At 100 TB swap exact distincts for
    approx_count_distinct if ~2% error is acceptable; the exact form
    is the audit default.
    """
    d = T(spark, sf_dir, "documents")

    def branch(c):
        return d.groupBy().agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias("n_null"),
            F.countDistinct(c).alias("n_distinct"),
            F.min(c).cast("string").alias("min_v"),
            F.max(c).cast("string").alias("max_v"),
        ).select(F.lit(c).alias("col_name"), "n_rows", "n_null", "n_distinct",
                 "min_v", "max_v")

    out = branch("doc_id")
    for c in ("lang", "n_chars", "source"):
        out = out.unionAll(branch(c))
    return out.orderBy("col_name")


# --------------------------------------------------------------------
# distribution drift: first half vs second half of the event window
# --------------------------------------------------------------------

# The feed-health check behind every "did the upstream change?" page:
# split the time range at its midpoint, compare each event type's
# share of traffic across halves in exact basis points. The midpoint
# and all shares are integers, so the audit is bit-reproducible.
_DRIFT_ORACLE = EVENTS_TIMED_CTE + """,
b AS (
  SELECT event_type, epoch_us(ts) AS eu FROM events
), mm AS (
  SELECT (min(eu) + max(eu)) // 2 AS mid FROM b
), halves AS (
  SELECT event_type,
         CASE WHEN eu < mid THEN 0 ELSE 1 END AS half
  FROM b, mm
), counts AS (
  SELECT event_type,
         CAST(count(CASE WHEN half = 0 THEN 1 END) AS BIGINT) AS n_first,
         CAST(count(CASE WHEN half = 1 THEN 1 END) AS BIGINT) AS n_second
  FROM halves GROUP BY event_type
), tot AS (
  SELECT CAST(sum(n_first) AS BIGINT) AS t1,
         CAST(sum(n_second) AS BIGINT) AS t2 FROM counts
)
SELECT c.event_type, c.n_first, c.n_second,
       (c.n_first * 10000) // t.t1  AS share_first_bp,
       (c.n_second * 10000) // t.t2 AS share_second_bp,
       abs((c.n_first * 10000) // t.t1 - (c.n_second * 10000) // t.t2)
         AS drift_bp
FROM counts c, tot t
ORDER BY c.event_type
"""


@register("events_drift_audit", oracle=_DRIFT_ORACLE, bench=True,
          doc="distribution drift: event-type traffic shares in the "
              "first vs second half of the window, in basis points")
def events_drift_audit(spark, sf_dir):
    """Per-type traffic-share drift between the two halves of the
    event window — the population-stability screen run before
    trusting a model or mix trained on "yesterday's" distribution.
    A type whose share moved more than a few hundred basis points is
    flagged for investigation upstream.

    Scale shape: ONE pass over events computes both halves' counts
    (conditional aggregation on the broadcast midpoint — no
    self-join, no second scan); totals are a 5-row aggregate joined
    back by broadcast. Shares are exact integer basis points
    ((n * 10000) div total), so the oracle hash-matches.
    """
    e = events_timed(spark, sf_dir).select(
        "event_type", F.expr("unix_micros(ts)").alias("eu"))
    mm = e.agg(F.expr("(min(eu) + max(eu)) div 2").alias("mid"))
    counts = (
        e.crossJoin(F.broadcast(mm))
        .groupBy("event_type")
        .agg(
            F.count(F.when(F.col("eu") < F.col("mid"), 1)).alias("n_first"),
            F.count(F.when(F.col("eu") >= F.col("mid"), 1)).alias("n_second"),
        )
    )
    tot = counts.agg(F.sum("n_first").alias("t1"),
                     F.sum("n_second").alias("t2"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "event_type", "n_first", "n_second",
            F.expr("(n_first * 10000) div nullif(t1, 0)")
            .alias("share_first_bp"),
            F.expr("(n_second * 10000) div nullif(t2, 0)")
            .alias("share_second_bp"),
            F.expr("abs((n_first * 10000) div nullif(t1, 0) - "
                   "(n_second * 10000) div nullif(t2, 0))")
            .alias("drift_bp"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------
# referential-integrity audit across the star schema's FK edges
# --------------------------------------------------------------------

_RI_ORACLE = """
WITH li AS (
  SELECT CAST(count(*) AS BIGINT) AS n_child,
         CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_keys,
         CAST(count(CASE WHEN o.o_orderkey IS NULL THEN 1 END) AS BIGINT)
           AS n_orphan
  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
), oc AS (
  SELECT CAST(count(*) AS BIGINT) AS n_child,
         CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_keys,
         CAST(count(CASE WHEN c.c_custkey IS NULL THEN 1 END) AS BIGINT)
           AS n_orphan
  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
), cn AS (
  SELECT CAST(count(*) AS BIGINT) AS n_child,
         CAST(count(DISTINCT c_nationkey) AS BIGINT) AS n_keys,
         CAST(count(CASE WHEN n.n_nationkey IS NULL THEN 1 END) AS BIGINT)
           AS n_orphan
  FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
)
SELECT * FROM (
  SELECT 'lineitem->orders' AS edge, n_child, n_keys, n_orphan,
         ((n_child - n_orphan) * 10000) // greatest(n_child, 1) AS coverage_bp FROM li
  UNION ALL
  SELECT 'orders->customer', n_child, n_keys, n_orphan,
         ((n_child - n_orphan) * 10000) // greatest(n_child, 1) FROM oc
  UNION ALL
  SELECT 'customer->nation', n_child, n_keys, n_orphan,
         ((n_child - n_orphan) * 10000) // greatest(n_child, 1) FROM cn
) ORDER BY edge
"""


@register("referential_integrity_audit", oracle=_RI_ORACLE, bench=True,
          doc="FK health across the star schema: child rows, distinct "
              "keys, orphans, and coverage per edge")
def referential_integrity_audit(spark, sf_dir):
    """Orphan detection over the three FK edges of the star schema
    (lineitem->orders, orders->customer, customer->nation): the first
    query run against any newly landed extract, because every
    downstream inner join silently DROPS orphaned child rows —
    coverage below 10000 bp here explains row-count mysteries
    everywhere else.

    Scale shape: each edge is one left join probed against its
    parent (dimension parents broadcast; the lineitem->orders edge
    shuffles on the join key like any fact join) folded into a 1-row
    conditional aggregate; the three rows union. At 100 TB the same
    audit runs per-partition-batch on arrival, not corpus-wide.
    """
    def edge(child, ckey, parent, pkey, label):
        j = child.join(F.broadcast(parent) if label != "lineitem->orders"
                       else parent,
                       child[ckey] == parent[pkey], "left")
        return j.agg(
            F.lit(label).alias("edge"),
            F.count(F.lit(1)).alias("n_child"),
            F.countDistinct(child[ckey]).alias("n_keys"),
            F.count(F.when(parent[pkey].isNull(), 1)).alias("n_orphan"),
        ).select(
            "edge", "n_child", "n_keys", "n_orphan",
            F.expr("((n_child - n_orphan) * 10000) div greatest(n_child, 1)")
            .alias("coverage_bp"),
        )

    li = T(spark, sf_dir, "lineitem").select("l_orderkey")
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = T(spark, sf_dir, "nation").select("n_nationkey")
    return (
        edge(li, "l_orderkey", o.select("o_orderkey"), "o_orderkey",
             "lineitem->orders")
        .unionByName(edge(o, "o_custkey", c.select("c_custkey"), "c_custkey",
                          "orders->customer"))
        .unionByName(edge(c, "c_nationkey", n, "n_nationkey",
                          "customer->nation"))
        .orderBy("edge")
    )


# --------------------------------------------------------------------
# CUSUM changepoint detection over hourly event-rate series
# --------------------------------------------------------------------

# The integer trick: the CUSUM deviation path against the uniform-rate
# null is prefix_k - k*S/n; multiplied through by n it becomes
# n*prefix_k - k*S — exact BIGINTs, so the argmax (the changepoint
# estimate) is bit-reproducible with no float anywhere.
_CUSUM_ORACLE = EVENTS_TIMED_CTE + """,
hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hr,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
), pathed AS (
  SELECT event_type, hr, c,
         CAST(sum(c) OVER (PARTITION BY event_type ORDER BY hr
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pk,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY hr)
              AS BIGINT) AS k,
         CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS s,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM hourly
), stat AS (
  SELECT event_type, hr, n, s,
         n * pk - k * s AS dev,
         abs(n * pk - k * s) AS adev
  FROM pathed
), ranked AS (
  SELECT event_type, hr, n, s, dev, adev,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY adev DESC, hr) AS rn
  FROM stat
)
SELECT event_type,
       strftime(hr, '%Y-%m-%d %H:%M:%S') AS changepoint_hour,
       n AS n_hours, s AS total_events,
       dev AS cusum_dev, adev AS cusum_abs
FROM ranked WHERE rn = 1
ORDER BY event_type
"""


@register("events_changepoint_cusum", oracle=_CUSUM_ORACLE, bench=True,
          doc="CUSUM changepoint per event type: the hour where the "
              "cumulative deviation from a uniform rate peaks, "
              "integer-exact")
def events_changepoint_cusum(spark, sf_dir):
    """Where did the rate change? For each event type, the CUSUM
    statistic locates the hour at which the cumulative count path
    deviates most from the uniform-rate null — the standard
    changepoint estimator for "when did this feed's behavior shift",
    complementing z-score anomalies (events_hourly_anomaly flags
    single outlier hours; CUSUM finds sustained level shifts).

    Cross-engine exactness: the deviation path is scaled through by
    n (n*prefix - k*total), keeping every statistic a BIGINT — the
    argmax needs no float and the tiebreak (earliest hour) is total.
    Scale shape: one shuffle to hourly counts (map-combinable), then
    windows partitioned BY TYPE over the hour series — per-key data
    is bounded by the calendar (hours), not the event volume, so the
    window never sees raw rows. Peak selection is a rank-1 filter
    (WindowGroupLimit).
    """
    e = events_timed(spark, sf_dir)
    hourly = (
        e.groupBy("event_type", F.date_trunc("hour", F.col("ts")).alias("hr"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wp = W.partitionBy("event_type")
    wo = wp.orderBy("hr")
    pathed = hourly.select(
        "event_type", "hr", "c",
        F.sum("c").over(wo.rowsBetween(W.unboundedPreceding, 0)).alias("pk"),
        F.row_number().over(wo).cast("long").alias("k"),
        F.sum("c").over(wp).alias("s"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    stat = pathed.select(
        "event_type", "hr", "n", "s",
        (F.col("n") * F.col("pk") - F.col("k") * F.col("s")).alias("dev"),
        F.abs(F.col("n") * F.col("pk") - F.col("k") * F.col("s")).alias("adev"),
    )
    ranked = stat.withColumn(
        "rn", F.row_number().over(wp.orderBy(F.desc("adev"), F.asc("hr"))))
    return (
        ranked.filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.date_format("hr", "yyyy-MM-dd HH:mm:ss")
            .alias("changepoint_hour"),
            F.col("n").alias("n_hours"),
            F.col("s").alias("total_events"),
            F.col("dev").alias("cusum_dev"),
            F.col("adev").alias("cusum_abs"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------
# burstiness: Fano factor of hourly counts per event type
# --------------------------------------------------------------------

_FANO_ORACLE = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hr,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
), s AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(c) AS BIGINT) AS sx,
         CAST(sum(c * c) AS BIGINT) AS sx2
  FROM hourly GROUP BY event_type
)
SELECT event_type, n AS n_hours, sx AS total_events,
       ((n * sx2 - sx * sx) * 10000) // (n * sx) AS fano_1e4
FROM s ORDER BY event_type
"""


@register("events_fano_burstiness", oracle=_FANO_ORACLE, bench=True,
          doc="Fano factor (variance/mean of hourly counts) per event "
              "type: burstiness vs Poisson, exact integer fixed point")
def events_fano_burstiness(spark, sf_dir):
    """Is the feed Poisson-ish or bursty? The Fano factor
    (variance-to-mean ratio of hourly counts) reads ~1e4 fixed-point
    1.0 for a Poisson process, far above it for bursty/clustered
    arrivals, below for metronomic ones — the one-number dispersion
    gauge behind capacity planning and bot detection.

    Exactness: var/mean collapses to (n*Sx2 - Sx^2) / (n*Sx) over
    integer sufficient statistics — single integer division at 1e4
    scale, no float anywhere. Scale shape: the same one-shuffle
    sufficient-statistics pattern as events_linear_trend; the hourly
    pre-aggregation is map-combinable and the per-type rollup is
    group-count sized.
    """
    e = T(spark, sf_dir, "events")
    hourly = (
        e.groupBy("event_type", F.date_trunc("hour", F.col("ts")).alias("hr"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    s = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("sx"),
        F.sum(F.col("c") * F.col("c")).alias("sx2"),
    )
    return s.select(
        "event_type",
        F.col("n").alias("n_hours"),
        F.col("sx").alias("total_events"),
        F.expr("((n * sx2 - sx * sx) * 10000) div (n * sx)").alias("fano_1e4"),
    ).orderBy("event_type")


# --------------------------------------------------------------------
# lead-lag cross-correlation: does click lead purchase?
# --------------------------------------------------------------------

# Integer-exact lagged covariance: for hourly series x (click) and y
# (purchase), the lag-l covariance NUMERATOR n*sum(x_t * y_{t+l}) -
# sum(x)*sum(y) over the overlapping window is a pure BIGINT; the
# argmax over lags is the lead-lag estimate. Correlation NORMALIZERS
# (sqrt variances) are lag-invariant up to edge effects, so ranking
# by the covariance numerator ranks by correlation for series of this
# length — same transcendental-free trick as collocation lift.
_XCORR_ORACLE = """
WITH hours AS (
  SELECT date_trunc('hour', ts) AS hr FROM events GROUP BY 1
), cl AS (
  SELECT date_trunc('hour', ts) AS hr, CAST(count(*) AS BIGINT) AS c
  FROM events WHERE event_type = 'click' GROUP BY 1
), pu AS (
  SELECT date_trunc('hour', ts) AS hr, CAST(count(*) AS BIGINT) AS c
  FROM events WHERE event_type = 'purchase' GROUP BY 1
), grid AS (
  SELECT h.hr, coalesce(cl.c, 0) AS x, coalesce(pu.c, 0) AS y,
         epoch_us(h.hr) // 3600000000 AS hi
  FROM hours h LEFT JOIN cl ON h.hr = cl.hr LEFT JOIN pu ON h.hr = pu.hr
), lags AS (SELECT unnest(range(-3, 4)) AS lag),
paired AS (
  SELECT l.lag, a.x, b.y
  FROM lags l
  JOIN grid a ON true
  JOIN grid b ON b.hi = a.hi + l.lag
), stats AS (
  SELECT lag, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM paired GROUP BY lag
), scored AS (
  SELECT lag, n, n * sxy - sx * sy AS cov_num,
         row_number() OVER (ORDER BY n * sxy - sx * sy DESC, lag) AS rn
  FROM stats
)
SELECT lag AS best_lag_hours, n AS n_pairs,
       CAST(cov_num AS BIGINT) AS cov_num
FROM scored WHERE rn = 1
"""


@register("events_leadlag_xcorr", oracle=_XCORR_ORACLE, bench=True,
          doc="lead-lag estimation: the hour offset at which the "
              "click series best co-varies with the purchase series, "
              "integer-exact lagged covariance")
def events_leadlag_xcorr(spark, sf_dir):
    """Does click activity LEAD purchase activity, and by how many
    hours? The lagged cross-covariance over the hourly series peaks
    at the lead-lag offset — the signal behind attribution windows
    and pipeline-latency monitoring (a feed whose best lag drifts
    from 0 to 2 hours has developed a delay).

    Scale shape: the series grid is hours (calendar-bounded, never
    row-bounded); the 7 lags come from a broadcast relation joined
    on shifted hour index — each lag's sufficient statistics are one
    map-combinable aggregation over the grid. All statistics are
    BIGINTs (the covariance numerator trick), so the argmax lag is
    bit-reproducible with a total (score, lag) tiebreak.
    """
    e = T(spark, sf_dir, "events")
    hourly = materialize(  # probe + build sides share it
        e.groupBy(F.date_trunc("hour", F.col("ts")).alias("hr"))
        .agg(
            F.count(F.when(F.col("event_type") == "click", 1)).alias("x"),
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias("y"),
        )
        .withColumn("hi", F.expr("unix_micros(hr) div 3600000000"))
    )
    lags = spark.range(-3, 4).select(F.col("id").cast("long").alias("lag"))
    a = hourly.select("hi", "x").crossJoin(F.broadcast(lags)).select(
        "lag", (F.col("hi") + F.col("lag")).alias("hj"), "x")
    b = hourly.select(F.col("hi").alias("hj"), "y")
    paired = a.join(b, "hj")
    stats = paired.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    scored = stats.select(
        "lag", "n",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .alias("cov_num"),
    ).withColumn(
        "rn",
        F.row_number().over(W.orderBy(F.desc("cov_num"), F.asc("lag"))),
    )
    return (
        scored.filter(F.col("rn") == 1)
        .select(F.col("lag").alias("best_lag_hours"),
                F.col("n").alias("n_pairs"), "cov_num")
    )


# --------------------------------------------------------------------
# p-chart: supplier return rates under binomial control limits
# --------------------------------------------------------------------

# Statistical process control without a single float: the k-sigma
# binomial test |p_i - pbar| > k*sqrt(pbar*(1-pbar)/n_i) squares and
# cross-multiplies into (r_i*N - R*n_i)^2 > k^2 * R*(N-R) * n_i —
# exact integers end-to-end (the sqrt disappears), so the control
# flags are bit-reproducible. The squared terms outgrow int64 once
# r_i*N reaches ~3e9 (~sf1), so both sides widen to 128-bit-class
# exact integers first — DECIMAL(19,0)->DECIMAL(38,0) products in
# Spark, HUGEINT in DuckDB; identical integer comparisons, headroom
# to ~1e38 (past sf1e5 ~ 100 TB).
_PCHART_ORACLE = """
WITH s AS (
  SELECT l_suppkey AS suppkey,
         CAST(count(*) AS BIGINT) AS n_items,
         CAST(count(CASE WHEN l_returnflag = 'R' THEN 1 END) AS BIGINT)
           AS n_returns
  FROM lineitem GROUP BY l_suppkey
), tot AS (
  SELECT CAST(sum(n_items) AS BIGINT) AS nn,
         CAST(sum(n_returns) AS BIGINT) AS rr
  FROM s
)
SELECT s.suppkey, s.n_items, s.n_returns,
       (s.n_returns * 10000) // s.n_items AS rate_bp,
       CASE WHEN CAST(s.n_returns * tot.nn - tot.rr * s.n_items AS HUGEINT)
                 * CAST(s.n_returns * tot.nn - tot.rr * s.n_items AS HUGEINT)
                 > 4 * CAST(tot.rr AS HUGEINT) * (tot.nn - tot.rr) * s.n_items
            THEN 1 ELSE 0 END AS oc2,
       CASE WHEN CAST(s.n_returns * tot.nn - tot.rr * s.n_items AS HUGEINT)
                 * CAST(s.n_returns * tot.nn - tot.rr * s.n_items AS HUGEINT)
                 > 9 * CAST(tot.rr AS HUGEINT) * (tot.nn - tot.rr) * s.n_items
            THEN 1 ELSE 0 END AS oc3
FROM s, tot
ORDER BY s.suppkey
"""


@register("supplier_return_pchart", oracle=_PCHART_ORACLE, bench=True,
          doc="p-chart: per-supplier return rates against 2- and "
              "3-sigma binomial control limits, float-free")
def supplier_return_pchart(spark, sf_dir):
    """Which suppliers' return rates are OUTSIDE what binomial chance
    around the corpus rate explains? The classic p-chart from
    statistical process control, with the k-sigma limit evaluated as
    a squared, cross-multiplied integer inequality — small suppliers
    automatically get wider limits (the n_i in the bound), which is
    exactly the correction naive rate-ranking lacks.

    Scale shape: one map-combinable groupBy to per-supplier counts,
    one 1-row broadcast of corpus totals, and the control test is a
    scalar integer predicate per supplier row. The deviation itself
    fits BIGINT far past 100 TB (r_i per supplier is SF-invariant),
    but its SQUARE does not (~sf1), so the comparison widens to
    DECIMAL(19,0) operands — Spark's scale-0 decimal products are
    exact 128-bit-class integers, mirrored by HUGEINT in the oracle.
    """
    li = T(spark, sf_dir, "lineitem").select("l_suppkey", "l_returnflag")
    # eagerly materialized: both the corpus-total aggregate and the
    # scoring branch consume this supplier-grain relation — without
    # the checkpoint each branch would rescan lineitem
    s = materialize(li.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.count(F.when(F.col("l_returnflag") == "R", 1)).alias("n_returns"),
    ))
    tot = s.agg(F.sum("n_items").alias("nn"), F.sum("n_returns").alias("rr"))
    dev = "CAST(n_returns * nn - rr * n_items AS DECIMAL(19,0))"
    var = ("CAST(rr AS DECIMAL(19,0)) * CAST(nn - rr AS DECIMAL(19,0)) "
           "* CAST(n_items AS DECIMAL(19,0))")
    return (
        s.crossJoin(F.broadcast(tot))
        .select(
            "suppkey", "n_items", "n_returns",
            F.expr("(n_returns * 10000) div n_items").alias("rate_bp"),
            F.expr(f"CASE WHEN {dev} * {dev} > 4 * {var} "
                   "THEN 1 ELSE 0 END").alias("oc2"),
            F.expr(f"CASE WHEN {dev} * {dev} > 9 * {var} "
                   "THEN 1 ELSE 0 END").alias("oc3"),
        )
        .orderBy("suppkey")
    )
