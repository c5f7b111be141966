"""Experimentation-platform completion (round 9, wave 4).

stats.py gave the engine the per-metric primitives (z/t/U/KS/chi2,
SRM, CUPED, permutation).  This module adds the DECISION layer an
experimentation platform wraps around them: one-way ANOVA across all
arms of a multi-variant test, multiple-testing control
(Benjamini-Hochberg over clustering-correct permutation p-values),
power/MDE sizing, group-sequential monitoring boundaries, quantile
treatment effects, and difference-in-differences — the standard
readout battery for a large-scale A/B platform.

Reference anchor: tarungka/wire declares aggregation/analytics intent
only (ROADMAP.md:96-107); this family is training-data-pipeline /
experimentation extension work the brief asks for beyond the
reference surface.

Cross-engine exactness (PARITY.md rules):

- All counters and fixed-point sums are integers; wide products run
  in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB).  **Spark's ``div`` on
  DECIMAL operands returns LONG and silently wraps past int64**
  (measured: ``1e29 div 7`` wraps) — so every integer quotient in
  this module is arranged to fit int64 at >=1e13-row scale, by
  dividing out the fixed-point scale inside the div (ANOVA) or by
  dividing ratios that are bounded by construction (p-values, BH).
- Float statistics are one identical IEEE op tree over
  integer-derived doubles on both engines, floor-truncated into
  fixed-point BIGINT (1e4 for z/F-scores, 1e6 for small magnitudes).
- Normal critical values are spelled as the same literal sum on both
  sides: z_{.975} = 1.959964, z_{.80} = 0.841621.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from wire_spark.catalog import register
from wire_spark.queries._util import EVENTS_MOMENT_CTE, EVENTS_SANITIZED_CTE, EVENTS_TIMED_CTE, T, events_moment, events_sane, events_timed, materialize, md5_long
from wire_spark.queries.features import _hist_prefix

# --------------------------------------------------------------------
# one-way ANOVA F across event types
# --------------------------------------------------------------------

_ANOVA_ORACLE = EVENTS_MOMENT_CTE + """,
e AS (
  SELECT event_type, CAST(floor(value * 10000.0e0) AS BIGINT) AS v4
  FROM events
), g AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_g,
         CAST(sum(v4) AS HUGEINT) AS s_g,
         CAST(sum(CAST(v4 AS HUGEINT) * v4) AS HUGEINT) AS ss_g
  FROM e GROUP BY event_type
), t AS (
  SELECT CAST(count(*) AS BIGINT) AS k_groups,
         CAST(sum(n_g) AS BIGINT) AS n_total,
         CAST(sum((s_g * s_g) // (CAST(n_g AS HUGEINT) * 100000000))
              AS BIGINT) AS a_sum,
         CAST((CAST(sum(s_g) AS HUGEINT) * CAST(sum(s_g) AS HUGEINT))
              // (CAST(sum(n_g) AS HUGEINT) * 100000000) AS BIGINT) AS t_sum,
         CAST(sum(ss_g) // 100000000 AS BIGINT) AS ssq
  FROM g
), s AS (
  SELECT k_groups, n_total,
         greatest(a_sum - t_sum, 0) AS ssb,
         greatest(ssq - a_sum, 0) AS ssw
  FROM t
)
SELECT k_groups, n_total,
       CAST(ssb AS BIGINT) AS ssb_units, CAST(ssw AS BIGINT) AS ssw_units,
       CAST(CASE WHEN ssw > 0 AND n_total > k_groups AND k_groups > 1 THEN
         floor((CAST(ssb AS DOUBLE) / CAST(k_groups - 1 AS DOUBLE))
               / (CAST(ssw AS DOUBLE) / CAST(n_total - k_groups AS DOUBLE))
               * 10000.0e0)
       ELSE 0 END AS BIGINT) AS f_1e4
FROM s
"""


@register("events_anova_f", oracle=_ANOVA_ORACLE, bench=True,
          doc="one-way ANOVA F across event-type groups on the value "
              "column — the multi-variant generalization of the "
              "two-arm t, exact integer sums of squares in whole-value "
              "units, one scan")
def events_anova_f(spark, sf_dir):
    """One-way ANOVA: F = (SSB/(k-1)) / (SSW/(N-k)) over the
    event-type groups, from per-group integer moments.

    Exactness + the int64 quotient budget: values carry 4dp fixed
    point (v4), so raw squares live at 1e8x the whole-unit scale.
    Every between/within sum of squares is therefore floored into
    WHOLE-VALUE-squared units by dividing the 1e8 scale inside the
    128-bit integer division — ``(s_g*s_g) div (n_g * 1e8)`` — which
    keeps each quotient ~ mean^2 * N ~ 2.5e3 * N: inside int64 up to
    ~4e15 rows, while the DECIMAL(38,0)/HUGEINT dividends stay exact
    to ~4e12 rows.  (Spark's decimal ``div`` returns a LONG and wraps
    silently past int64 — the quotient, not just the output, must fit;
    see module docstring.)  Each floor loses <1 whole-unit^2
    deterministically on both engines, so SSB/SSW agree exactly; the
    F ratio is then one identical IEEE tree over int64-exact operands,
    floored to 1e-4.

    Scale shape: one scan -> k-group aggregate with map-side partial
    combine -> 1-row total.  The shuffle carries k rows per
    partition; nothing is data-sized after the scan.
    """
    e = events_moment(spark, sf_dir).select(
        "event_type",
        F.expr("CAST(floor(value * 10000.0e0) AS BIGINT)").alias("v4"),
    )
    g = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_g"),
        F.expr("sum(CAST(v4 AS DECIMAL(38,0)))").alias("s_g"),
        F.expr("sum(CAST(v4 AS DECIMAL(19,0)) * v4)").alias("ss_g"),
    )
    # Floor division stays in DECIMAL as (a - a % b) / b (the
    # preference_bt idiom): Spark's `div` returns LONG and WRAPS
    # SILENTLY past int64 even on DECIMAL operands, so the old
    # `(s_g*s_g) div (n_g*1e8)` was a latent silent-wrong for any
    # group whose mean^2 * n outgrows int64 (r12 maxmass sweep).
    # a >= 0 here (squares / sums of squares) and b >= 1e8, so the
    # exact decimal quotient equals the trunc/floor on both engines;
    # the final CAST AS BIGINT errors LOUDLY if the quotient itself
    # no longer fits, matching the oracle's HUGEINT->BIGINT cast.
    _B = "(CAST(n_g AS DECIMAL(19,0)) * 100000000)"
    g2 = g.select(
        "n_g", "s_g", "ss_g",
        F.expr(
            f"CAST((s_g * s_g - (s_g * s_g) % {_B}) / {_B}"
            " AS DECIMAL(38,0))"
        ).alias("a_g"),
    )
    t0 = g2.agg(
        F.count(F.lit(1)).alias("k_groups"),
        F.sum("n_g").alias("n_total"),
        F.expr("CAST(sum(a_g) AS BIGINT)").alias("a_sum"),
        F.sum("s_g").alias("s_all"),
        F.sum("ss_g").alias("ss_all"),
    )
    _BT = "(CAST(n_total AS DECIMAL(19,0)) * 100000000)"
    t = t0.select(
        "k_groups", "n_total", "a_sum",
        F.expr(
            f"CAST((s_all * s_all - (s_all * s_all) % {_BT}) / {_BT}"
            " AS BIGINT)"
        ).alias("t_sum"),
        F.expr(
            "CAST((ss_all - ss_all % 100000000) / 100000000 AS BIGINT)"
        ).alias("ssq"),
    )
    # clamp at 0: the per-group floors in a_sum can undershoot the
    # true (non-negative) sums of squares by up to k units, so a
    # degenerate corpus (identical group means / zero within-group
    # variance) could otherwise report SSB or SSW = -1 and a
    # negative F — clamped identically in the oracle and test replay
    s = t.select(
        "k_groups", "n_total",
        F.greatest(F.col("a_sum") - F.col("t_sum"), F.lit(0)).alias("ssb"),
        F.greatest(F.col("ssq") - F.col("a_sum"), F.lit(0)).alias("ssw"),
    )
    return s.select(
        "k_groups", "n_total",
        F.col("ssb").cast("long").alias("ssb_units"),
        F.col("ssw").cast("long").alias("ssw_units"),
        F.expr(
            "CAST(CASE WHEN ssw > 0 AND n_total > k_groups AND k_groups > 1"
            " THEN floor((CAST(ssb AS DOUBLE) / CAST(k_groups - 1 AS DOUBLE))"
            " / (CAST(ssw AS DOUBLE) / CAST(n_total - k_groups AS DOUBLE))"
            " * 10000.0e0) ELSE 0 END AS BIGINT)"
        ).alias("f_1e4"),
    )


# --------------------------------------------------------------------
# Benjamini-Hochberg FDR over per-metric permutation p-values
# --------------------------------------------------------------------

_FDR_B = 32

_FDR_ORACLE = f"""
WITH pu AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY user_id, event_type
), users AS (
  SELECT DISTINCT user_id FROM events
), ub AS (
  SELECT b,
         CASE WHEN b = 0 THEN
           CAST(CONCAT('0x', SUBSTRING(md5(CAST(user_id AS VARCHAR)), 1, 15))
                AS BIGINT) % 2 = 1
         ELSE
           CAST(CONCAT('0x', SUBSTRING(md5(CONCAT(CAST(user_id AS VARCHAR),
                '#', CAST(b AS VARCHAR))), 1, 15)) AS BIGINT) % 2 = 1
         END AS treat
  FROM users CROSS JOIN (SELECT unnest(range(0, {_FDR_B} + 1)) AS b) t
), sz AS (
  SELECT b, CAST(count(*) FILTER (WHERE NOT treat) AS BIGINT) AS n1,
         CAST(count(*) FILTER (WHERE treat) AS BIGINT) AS n2
  FROM ub GROUP BY b
), mb AS (
  SELECT pu.event_type, t.b, pu.cnt,
         CASE WHEN t.b = 0 THEN
           CAST(CONCAT('0x', SUBSTRING(md5(CAST(pu.user_id AS VARCHAR)), 1, 15))
                AS BIGINT) % 2 = 1
         ELSE
           CAST(CONCAT('0x', SUBSTRING(md5(CONCAT(CAST(pu.user_id AS VARCHAR),
                '#', CAST(t.b AS VARCHAR))), 1, 15)) AS BIGINT) % 2 = 1
         END AS treat
  FROM pu CROSS JOIN (SELECT unnest(range(0, {_FDR_B} + 1)) AS b) t
), ss AS (
  SELECT event_type, b,
         CAST(COALESCE(sum(cnt) FILTER (WHERE NOT treat), 0) AS BIGINT) AS s1,
         CAST(COALESCE(sum(cnt) FILTER (WHERE treat), 0) AS BIGINT) AS s2
  FROM mb GROUP BY event_type, b
), st AS (
  SELECT ss.event_type, ss.b,
         CASE WHEN sz.n1 > 0 AND sz.n2 > 0 THEN
           abs(CAST(ss.s1 AS DOUBLE) / CAST(sz.n1 AS DOUBLE)
               - CAST(ss.s2 AS DOUBLE) / CAST(sz.n2 AS DOUBLE))
         ELSE 0.0e0 END AS stat
  FROM ss JOIN sz ON ss.b = sz.b
), p AS (
  SELECT st.event_type,
         CAST((1 + count(*) FILTER (WHERE st.b > 0 AND st.stat >= o.stat))
              * 10000 // ({_FDR_B} + 1) AS BIGINT) AS p_1e4,
         CAST(floor(o.stat * 1000000.0e0) AS BIGINT) AS stat_obs_1e6
  FROM st JOIN (SELECT event_type, stat FROM st WHERE b = 0) o
    ON st.event_type = o.event_type
  GROUP BY st.event_type, o.stat
), r AS (
  SELECT event_type, p_1e4, stat_obs_1e6,
         CAST(row_number() OVER (ORDER BY p_1e4, event_type) AS BIGINT)
           AS bh_rank,
         CAST(count(*) OVER () AS BIGINT) AS m
  FROM p
), k AS (
  SELECT r.*,
         COALESCE(max(CASE WHEN p_1e4 * m <= bh_rank * 500
                      THEN bh_rank END) OVER (), 0) AS kstar
  FROM r
)
SELECT event_type, p_1e4, stat_obs_1e6, bh_rank,
       CAST(CASE WHEN bh_rank <= kstar THEN 1 ELSE 0 END AS BIGINT) AS reject
FROM k ORDER BY bh_rank
"""


@register("events_fdr_bh", oracle=_FDR_ORACLE, bench=True,
          doc="Benjamini-Hochberg step-up over per-event-type "
              "permutation p-values — multiple-testing control for a "
              "metric battery, pure integer BH arithmetic on exact "
              "integer p-values")
def events_fdr_bh(spark, sf_dir):
    """Run one user-level permutation test per metric (metric m =
    mean events of type m per user, arms as in events_ab_ztest), then
    Benjamini-Hochberg at FDR 5% across the metric battery — the
    answer to "we ship on any of five metrics, which wins survive
    multiplicity?".

    Exactness: p-values come from the events_permutation_test
    machinery (B=32 hash-seeded user re-assignments; integer
    p_1e4 = (1+extreme)*1e4 // 33), so BH is PURE integer
    arithmetic: reject rank i iff some j >= i has
    p_(j)*m <= j*500 (alpha=.05 in 1e4 units), i.e. rank <= k* where
    k* is the largest flagged rank.  Ties rank deterministically by
    (p, metric name) on both engines.

    Scale shape: one scan -> user x metric groupBy (cached — the
    user list derives from it too, so this is the only data-sized
    shuffle and the only scan) -> explode x(B+1) on the USER-grain
    relations -> (metrics x 33) counter rows via map-side combine.
    The BH windows run over the METRIC-grain relation (k rows,
    k = #event types) — bounded by the metric battery, never by the
    corpus.
    """
    from wire_spark.queries._util import tracked_cache

    ev = T(spark, sf_dir, "events").select("user_id", "event_type")
    # cached: both the metric explode and the user list hang off this
    # relation — deriving `users` from the raw events would pay a
    # second parquet scan plus a second event-grain shuffle
    pu = tracked_cache(ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("cnt")))
    users = pu.select("user_id").distinct()

    def _treat():
        return F.when(
            F.col("b") == 0,
            md5_long(F.col("user_id").cast("string")) % 2 == 1,
        ).otherwise(
            md5_long(F.concat(F.col("user_id").cast("string"),
                              F.lit("#"), F.col("b").cast("string"))) % 2 == 1
        )

    ub = users.select(
        "user_id", F.explode(F.sequence(F.lit(0), F.lit(_FDR_B))).alias("b")
    ).select("b", _treat().alias("treat"))
    sizes = ub.groupBy("b").agg(
        F.count(F.when(~F.col("treat"), 1)).alias("n1"),
        F.count(F.when(F.col("treat"), 1)).alias("n2"),
    )
    mb = pu.select(
        "user_id", "event_type", "cnt",
        F.explode(F.sequence(F.lit(0), F.lit(_FDR_B))).alias("b"),
    ).select("event_type", "b", "cnt", _treat().alias("treat"))
    ss = mb.groupBy("event_type", "b").agg(
        F.coalesce(F.sum(F.when(~F.col("treat"), F.col("cnt"))), F.lit(0))
        .alias("s1"),
        F.coalesce(F.sum(F.when(F.col("treat"), F.col("cnt"))), F.lit(0))
        .alias("s2"),
    )
    # st is metric-grain (|types| x 33 rows) but feeds TWO consumers
    # (the b=0 observed slice and the permutation-count join); without
    # materialization the data-sized explode/aggregate pipeline above
    # executes once per consumer.  Cached (not checkpointed) so the
    # single-parquet-scan lineage stays visible in the executed plan.
    st = tracked_cache(ss.join(F.broadcast(sizes), "b").select(
        "event_type", "b",
        F.expr(
            "CASE WHEN n1 > 0 AND n2 > 0 THEN"
            " abs(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
            " - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))"
            " ELSE 0.0e0 END"
        ).alias("stat"),
    ))
    obs = st.filter(F.col("b") == 0).select(
        "event_type", F.col("stat").alias("stat_obs"))
    p = (
        st.join(F.broadcast(obs), "event_type")
        .groupBy("event_type", "stat_obs")
        .agg(F.count(F.when((F.col("b") > 0)
                            & (F.col("stat") >= F.col("stat_obs")), 1))
             .alias("n_extreme"))
        .select(
            "event_type",
            F.expr(f"CAST((1 + n_extreme) * 10000 div ({_FDR_B} + 1)"
                   " AS BIGINT)").alias("p_1e4"),
            F.expr("CAST(floor(stat_obs * 1000000.0e0) AS BIGINT)")
            .alias("stat_obs_1e6"),
        )
    )
    w = W.orderBy("p_1e4", "event_type")
    w_all = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    r = p.select(
        "event_type", "p_1e4", "stat_obs_1e6",
        F.row_number().over(w).cast("long").alias("bh_rank"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("m"),
    )
    k = r.withColumn(
        "kstar",
        F.coalesce(
            F.max(F.when(F.col("p_1e4") * F.col("m")
                         <= F.col("bh_rank") * 500, F.col("bh_rank")))
            .over(w_all),
            F.lit(0),
        ),
    )
    return k.select(
        "event_type", "p_1e4", "stat_obs_1e6", "bh_rank",
        F.when(F.col("bh_rank") <= F.col("kstar"), 1).otherwise(0)
        .cast("long").alias("reject"),
    ).orderBy("bh_rank")


# --------------------------------------------------------------------
# power / minimal-detectable-effect sizing
# --------------------------------------------------------------------

_POWER_ORACLE = """
WITH e AS (
  SELECT CAST(CONCAT('0x', SUBSTRING(md5(CAST(user_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 2 = 1 AS treat,
         event_type = 'purchase' AS conv
  FROM events
), s AS (
  SELECT CAST(count(*) FILTER (WHERE NOT treat) AS BIGINT) AS n_control,
         CAST(count(*) FILTER (WHERE treat) AS BIGINT) AS n_treatment,
         CAST(count(*) FILTER (WHERE NOT treat AND conv) AS BIGINT) AS c1,
         CAST(count(*) FILTER (WHERE treat AND conv) AS BIGINT) AS c2
  FROM e
), p AS (
  SELECT n_control, n_treatment, c1, c2,
         CAST(c1 AS DOUBLE) / CAST(greatest(n_control, 1) AS DOUBLE) AS p1,
         CAST(c2 AS DOUBLE) / CAST(greatest(n_treatment, 1) AS DOUBLE) AS p2
  FROM s
), d AS (
  SELECT n_control, n_treatment, p1, p2,
         (1.959964e0 + 0.841621e0)
           * sqrt(p1 * (1.0e0 - p1) / CAST(greatest(n_control, 1) AS DOUBLE)
                  + p2 * (1.0e0 - p2) / CAST(greatest(n_treatment, 1) AS DOUBLE)) AS mde,
         CASE WHEN p1 <> p2 THEN
           ceil((1.959964e0 + 0.841621e0) * (1.959964e0 + 0.841621e0)
                * (p1 * (1.0e0 - p1) + p2 * (1.0e0 - p2))
                / ((p1 - p2) * (p1 - p2)))
         ELSE -1.0e0 END AS nreq
  FROM p
)
SELECT n_control, n_treatment,
       floor(p1 * 10000.0e0) / 10000.0e0 AS rate_control,
       floor(p2 * 10000.0e0) / 10000.0e0 AS rate_treatment,
       CAST(floor(mde * 1000000.0e0) AS BIGINT) AS mde_1e6,
       CAST(CASE WHEN nreq >= 0.0e0 AND nreq <= 1.0e15 THEN nreq
            ELSE -1.0e0 END AS BIGINT) AS n_required_per_arm,
       CAST(CASE WHEN nreq >= 0.0e0 AND nreq <= 1.0e15
                 AND least(n_control, n_treatment) >= nreq
            THEN 1 ELSE 0 END AS BIGINT) AS powered
FROM d
"""


@register("events_ab_power_mde", oracle=_POWER_ORACLE,
          doc="post-hoc power sizing for the A/B readout: minimal "
              "detectable effect at the current sample and required "
              "n per arm for the observed effect at 80% power / 5% "
              "alpha — one scan, closed form")
def events_ab_power_mde(spark, sf_dir):
    """Power analysis around the events_ab_ztest readout: with the
    observed per-arm sizes and conversion rates,

    - MDE = (z_.975 + z_.80) * sqrt(p1(1-p1)/n1 + p2(1-p2)/n2) — the
      smallest absolute rate difference this experiment could have
      detected at 80% power;
    - n_required_per_arm = ceil((z_.975+z_.80)^2 (p1(1-p1)+p2(1-p2))
      / (p1-p2)^2) — how many samples per arm the OBSERVED effect
      would need; -1 when the effect is exactly zero or the
      requirement exceeds 1e15 (undetectable in practice — also the
      guard that keeps the ANSI double->BIGINT cast in range);
    - powered = 1 iff min(n1, n2) already meets the requirement.

    Exactness: four integer counters -> one identical IEEE tree
    (the critical values are the same literal sum 1.959964e0 +
    0.841621e0 on both engines) -> floor/ceil into fixed point.
    ceil's output is an integral-valued double, so DuckDB's
    round-to-nearest cast and Spark's truncating cast agree.

    Scale shape: identical to events_ab_ztest — one scan, map-side
    partials into a single 4-counter row.
    """
    e = T(spark, sf_dir, "events").select(
        (md5_long(F.col("user_id").cast("string")) % 2 == 1).alias("treat"),
        (F.col("event_type") == "purchase").alias("conv"),
    )
    s = e.agg(
        F.count(F.when(~F.col("treat"), 1)).alias("n_control"),
        F.count(F.when(F.col("treat"), 1)).alias("n_treatment"),
        F.count(F.when(~F.col("treat") & F.col("conv"), 1)).alias("c1"),
        F.count(F.when(F.col("treat") & F.col("conv"), 1)).alias("c2"),
    )
    p = s.select(
        "n_control", "n_treatment",
        F.expr("CAST(c1 AS DOUBLE)"
               " / CAST(greatest(n_control, 1) AS DOUBLE)").alias("p1"),
        F.expr("CAST(c2 AS DOUBLE)"
               " / CAST(greatest(n_treatment, 1) AS DOUBLE)").alias("p2"),
    )
    d = p.select(
        "n_control", "n_treatment", "p1", "p2",
        F.expr(
            "(1.959964e0 + 0.841621e0)"
            " * sqrt(p1 * (1.0e0 - p1) / CAST(greatest(n_control, 1) AS DOUBLE)"
            " + p2 * (1.0e0 - p2) / CAST(greatest(n_treatment, 1) AS DOUBLE))"
        ).alias("mde"),
        F.expr(
            "CASE WHEN p1 <> p2 THEN"
            " ceil((1.959964e0 + 0.841621e0) * (1.959964e0 + 0.841621e0)"
            " * (p1 * (1.0e0 - p1) + p2 * (1.0e0 - p2))"
            " / ((p1 - p2) * (p1 - p2)))"
            " ELSE -1.0e0 END"
        ).alias("nreq"),
    )
    return d.select(
        "n_control", "n_treatment",
        F.expr("floor(p1 * 10000.0e0) / 10000.0e0").alias("rate_control"),
        F.expr("floor(p2 * 10000.0e0) / 10000.0e0").alias("rate_treatment"),
        F.expr("CAST(floor(mde * 1000000.0e0) AS BIGINT)").alias("mde_1e6"),
        F.expr(
            "CAST(CASE WHEN nreq >= 0.0e0 AND nreq <= 1.0e15 THEN nreq"
            " ELSE -1.0e0 END AS BIGINT)"
        ).alias("n_required_per_arm"),
        F.expr(
            "CAST(CASE WHEN nreq >= 0.0e0 AND nreq <= 1.0e15"
            " AND least(n_control, n_treatment) >= nreq"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("powered"),
    )


# --------------------------------------------------------------------
# group-sequential monitoring: daily looks with an OBF-shaped boundary
# --------------------------------------------------------------------

_GSEQ_ORACLE = EVENTS_TIMED_CTE + """,
e AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day,
         CAST(CONCAT('0x', SUBSTRING(md5(CAST(user_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 2 = 1 AS treat,
         event_type = 'purchase' AS conv
  FROM events
), d AS (
  SELECT day,
         CAST(count(*) FILTER (WHERE NOT treat) AS BIGINT) AS nc,
         CAST(count(*) FILTER (WHERE treat) AS BIGINT) AS nt,
         CAST(count(*) FILTER (WHERE NOT treat AND conv) AS BIGINT) AS cc,
         CAST(count(*) FILTER (WHERE treat AND conv) AS BIGINT) AS ct
  FROM e GROUP BY day
), c AS (
  SELECT day,
         CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS look,
         CAST(count(*) OVER () AS BIGINT) AS k_looks,
         CAST(sum(nc) OVER (ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS nc_cum,
         CAST(sum(nt) OVER (ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS nt_cum,
         CAST(sum(cc) OVER (ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cc_cum,
         CAST(sum(ct) OVER (ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS ct_cum
  FROM d
), z AS (
  SELECT c.*,
         CASE WHEN nc_cum > 0 AND nt_cum > 0
                   AND cc_cum + ct_cum > 0
                   AND cc_cum + ct_cum < nc_cum + nt_cum THEN
           (CAST(cc_cum AS DOUBLE) / CAST(nc_cum AS DOUBLE)
            - CAST(ct_cum AS DOUBLE) / CAST(nt_cum AS DOUBLE))
           / sqrt((CAST(cc_cum + ct_cum AS DOUBLE)
                   / CAST(nc_cum + nt_cum AS DOUBLE))
                  * (1.0e0 - CAST(cc_cum + ct_cum AS DOUBLE)
                     / CAST(nc_cum + nt_cum AS DOUBLE))
                  * (1.0e0 / CAST(nc_cum AS DOUBLE)
                     + 1.0e0 / CAST(nt_cum AS DOUBLE)))
         ELSE 0.0e0 END AS zv,
         1.959964e0 * sqrt(CAST(k_looks AS DOUBLE) / CAST(look AS DOUBLE))
           AS bound
  FROM c
)
SELECT day, look, nc_cum, nt_cum, cc_cum, ct_cum,
       CAST(floor(zv * 10000.0e0) AS BIGINT) AS z_1e4,
       CAST(floor(bound * 10000.0e0) AS BIGINT) AS bound_1e4,
       CAST(CASE WHEN abs(zv) > bound THEN 1 ELSE 0 END AS BIGINT) AS crossed
FROM z ORDER BY look
"""


@register("events_group_sequential", oracle=_GSEQ_ORACLE, bench=True,
          doc="daily group-sequential looks: cumulative two-proportion "
              "z per day against an O'Brien-Fleming-shaped boundary "
              "z_crit*sqrt(K/i) — the peeking-safe monitoring schedule "
              "for a running experiment")
def events_group_sequential(spark, sf_dir):
    """Group-sequential monitoring: one look per day, the cumulative
    pooled two-proportion z at each look, and the O'Brien-Fleming-
    SHAPED boundary b_i = z_{.975} * sqrt(K/i) (conservative early,
    nominal at the final look) — the schedule under which peeking
    daily does not inflate the false-positive rate the way repeated
    fixed-horizon z tests do.  ``crossed`` marks looks where |z|
    exceeds the boundary.

    (The exact OBF constant for K looks has no closed form; the
    sqrt(K/i) shape with the fixed-horizon critical value is the
    standard teaching approximation and is what this query pins —
    the STATISTIC is exact, the boundary is the documented shape.)

    Exactness: per-day integer counters; cumulative sums are exact
    longs; z and boundary are one IEEE tree each over integer-derived
    doubles, floored to 1e-4; degenerate prefixes (an arm or pooled
    rate still empty/full) gate to z=0 identically on both sides.

    Scale shape: one scan -> day-grain aggregate (map-side combine;
    the shuffle carries days x 4 counters).  The cumulative window
    runs over the DAY-grain relation — bounded by the calendar
    (365 rows/year at any corpus size), which is why the plain
    ordered window is safe here where value-grain histograms need
    ``_hist_prefix``.
    """
    e = events_timed(spark, sf_dir).select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        (md5_long(F.col("user_id").cast("string")) % 2 == 1).alias("treat"),
        (F.col("event_type") == "purchase").alias("conv"),
    )
    d = e.groupBy("day").agg(
        F.count(F.when(~F.col("treat"), 1)).alias("nc"),
        F.count(F.when(F.col("treat"), 1)).alias("nt"),
        F.count(F.when(~F.col("treat") & F.col("conv"), 1)).alias("cc"),
        F.count(F.when(F.col("treat") & F.col("conv"), 1)).alias("ct"),
    )
    w = W.orderBy("day")
    w_cum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    w_all = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    c = d.select(
        "day",
        F.row_number().over(w).cast("long").alias("look"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("k_looks"),
        F.sum("nc").over(w_cum).alias("nc_cum"),
        F.sum("nt").over(w_cum).alias("nt_cum"),
        F.sum("cc").over(w_cum).alias("cc_cum"),
        F.sum("ct").over(w_cum).alias("ct_cum"),
    )
    z = c.select(
        "*",
        F.expr(
            "CASE WHEN nc_cum > 0 AND nt_cum > 0"
            " AND cc_cum + ct_cum > 0"
            " AND cc_cum + ct_cum < nc_cum + nt_cum THEN"
            " (CAST(cc_cum AS DOUBLE) / CAST(nc_cum AS DOUBLE)"
            " - CAST(ct_cum AS DOUBLE) / CAST(nt_cum AS DOUBLE))"
            " / sqrt((CAST(cc_cum + ct_cum AS DOUBLE)"
            " / CAST(nc_cum + nt_cum AS DOUBLE))"
            " * (1.0e0 - CAST(cc_cum + ct_cum AS DOUBLE)"
            " / CAST(nc_cum + nt_cum AS DOUBLE))"
            " * (1.0e0 / CAST(nc_cum AS DOUBLE)"
            " + 1.0e0 / CAST(nt_cum AS DOUBLE)))"
            " ELSE 0.0e0 END"
        ).alias("zv"),
        F.expr(
            "1.959964e0 * sqrt(CAST(k_looks AS DOUBLE) / CAST(look AS DOUBLE))"
        ).alias("bound"),
    )
    return z.select(
        "day", "look", "nc_cum", "nt_cum", "cc_cum", "ct_cum",
        F.expr("CAST(floor(zv * 10000.0e0) AS BIGINT)").alias("z_1e4"),
        F.expr("CAST(floor(bound * 10000.0e0) AS BIGINT)").alias("bound_1e4"),
        F.expr("CAST(CASE WHEN abs(zv) > bound THEN 1 ELSE 0 END AS BIGINT)")
        .alias("crossed"),
    ).orderBy("look")


# --------------------------------------------------------------------
# quantile treatment effects: per-arm deciles of per-user spend
# --------------------------------------------------------------------

_QTE_ORACLE = EVENTS_SANITIZED_CTE + """,
pu AS (
  SELECT user_id,
         CAST(sum(CAST(floor(value * 10000.0e0) AS BIGINT)) AS BIGINT) AS v
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
), a AS (
  SELECT CAST(CONCAT('0x', SUBSTRING(md5(CAST(user_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 2 = 1 AS treat, v
  FROM pu
), h AS (
  SELECT treat, v, CAST(count(*) AS BIGINT) AS c FROM a GROUP BY treat, v
), p AS (
  SELECT treat, v,
         CAST(sum(c) OVER (PARTITION BY treat ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum
  FROM h
), n AS (
  SELECT treat, max(cum) AS n_u FROM p GROUP BY treat
), d AS (
  SELECT n.treat, t.q, (t.q * n.n_u + 9) // 10 AS thr
  FROM n CROSS JOIN (SELECT unnest(range(1, 10)) AS q) t
), sel AS (
  SELECT d.q, d.treat, min(p.v) AS vv
  FROM p JOIN d ON p.treat = d.treat AND p.cum >= d.thr
  GROUP BY d.q, d.treat
)
SELECT CAST(q AS BIGINT) AS decile,
       CAST(min(CASE WHEN NOT treat THEN vv END) AS BIGINT) AS v_control,
       CAST(min(CASE WHEN treat THEN vv END) AS BIGINT) AS v_treatment,
       CAST(min(CASE WHEN treat THEN vv END)
            - min(CASE WHEN NOT treat THEN vv END) AS BIGINT) AS qte_v4
FROM sel GROUP BY q ORDER BY decile
"""


@register("events_quantile_treatment_effect", oracle=_QTE_ORACLE, bench=True,
          doc="quantile treatment effects: exact per-arm deciles of "
              "per-user purchase spend and their treatment-minus-"
              "control gaps — distributional lift the mean hides, "
              "histogram-navigated, no per-arm sort")
def events_quantile_treatment_effect(spark, sf_dir):
    """QTE: for each decile q, the exact type-1 quantile of per-user
    purchase spend (4dp fixed point) in each arm, and the gap
    q_treatment - q_control.  A treatment that moves only the tail
    shows did-nothing means but a loud QTE profile — the standard
    heterogeneity readout.

    Exactness: everything is integers.  The quantile is "smallest
    value whose inclusive cumulative count reaches ceil(q*n/10)",
    with the threshold computed as (q*n + 9) div 10 (non-negative, so
    Spark's truncating div and DuckDB's flooring // agree), on exact
    per-arm cumulative counts.

    Scale shape: user-grain groupBy (the one data-sized shuffle) ->
    per-(arm, value) histogram -> ``_hist_prefix`` two-pass
    cumulative counts partitioned by arm (no single-partition window
    over the value domain) -> arm sizes from the prefix MAXIMA (the
    NOTES discipline: never re-aggregate the histogram) -> the
    9-decile probe relation broadcasts back.
    """
    pu = (
        events_sane(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.expr("CAST(sum(CAST(floor(value * 10000.0e0) AS BIGINT))"
                    " AS BIGINT)").alias("v"))
    )
    a = pu.select(
        (md5_long(F.col("user_id").cast("string")) % 2 == 1).alias("treat"),
        "v",
    )
    h = a.groupBy("treat", "v").agg(F.count(F.lit(1)).alias("c"))
    p = _hist_prefix(h, "v", {"cum": "c"}, parts=("treat",))
    n = p.groupBy("treat").agg(F.max("cum").alias("n_u"))
    d = n.select(
        "treat",
        F.explode(F.expr("sequence(1, 9)")).alias("q"),
        "n_u",
    ).select(
        "treat", F.col("q").cast("long").alias("q"),
        F.expr("(q * n_u + 9) div 10").alias("thr"),
    )
    sel = (
        p.join(F.broadcast(d), "treat")
        .filter(F.col("cum") >= F.col("thr"))
        .groupBy("q", "treat")
        .agg(F.min("v").alias("vv"))
    )
    return (
        sel.groupBy(F.col("q").alias("decile"))
        .agg(
            F.min(F.when(~F.col("treat"), F.col("vv"))).alias("v_control"),
            F.min(F.when(F.col("treat"), F.col("vv"))).alias("v_treatment"),
        )
        .select(
            "decile", "v_control", "v_treatment",
            (F.col("v_treatment") - F.col("v_control")).cast("long")
            .alias("qte_v4"),
        )
        .orderBy("decile")
    )


# --------------------------------------------------------------------
# difference-in-differences around a mid-experiment boundary
# --------------------------------------------------------------------

_DID_ORACLE = EVENTS_SANITIZED_CTE + """,
e AS (
  SELECT CAST(CONCAT('0x', SUBSTRING(md5(CAST(user_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 2 = 1 AS treat,
         ts >= TIMESTAMP '2024-01-16 00:00:00' AS post,
         CAST(floor(value * 10000.0e0) AS BIGINT) AS v4
  FROM events WHERE event_type = 'purchase'
), s AS (
  SELECT
    CAST(count(*) FILTER (WHERE NOT treat AND NOT post) AS BIGINT) AS n_c_pre,
    CAST(count(*) FILTER (WHERE NOT treat AND post) AS BIGINT) AS n_c_post,
    CAST(count(*) FILTER (WHERE treat AND NOT post) AS BIGINT) AS n_t_pre,
    CAST(count(*) FILTER (WHERE treat AND post) AS BIGINT) AS n_t_post,
    CAST(COALESCE(sum(v4) FILTER (WHERE NOT treat AND NOT post), 0)
         AS BIGINT) AS s_c_pre,
    CAST(COALESCE(sum(v4) FILTER (WHERE NOT treat AND post), 0)
         AS BIGINT) AS s_c_post,
    CAST(COALESCE(sum(v4) FILTER (WHERE treat AND NOT post), 0)
         AS BIGINT) AS s_t_pre,
    CAST(COALESCE(sum(v4) FILTER (WHERE treat AND post), 0)
         AS BIGINT) AS s_t_post
  FROM e
)
SELECT n_c_pre, n_c_post, n_t_pre, n_t_post,
       CAST(s_c_pre // greatest(n_c_pre, 1) AS BIGINT) AS mean_c_pre_v4,
       CAST(s_c_post // greatest(n_c_post, 1) AS BIGINT) AS mean_c_post_v4,
       CAST(s_t_pre // greatest(n_t_pre, 1) AS BIGINT) AS mean_t_pre_v4,
       CAST(s_t_post // greatest(n_t_post, 1) AS BIGINT) AS mean_t_post_v4,
       CAST(CASE WHEN n_c_pre > 0 AND n_c_post > 0
                 AND n_t_pre > 0 AND n_t_post > 0 THEN
         floor((CAST(s_t_post AS DOUBLE) / CAST(n_t_post AS DOUBLE)
                - CAST(s_t_pre AS DOUBLE) / CAST(n_t_pre AS DOUBLE))
               - (CAST(s_c_post AS DOUBLE) / CAST(n_c_post AS DOUBLE)
                  - CAST(s_c_pre AS DOUBLE) / CAST(n_c_pre AS DOUBLE)))
       ELSE 0 END AS BIGINT) AS did_v4,
       CAST(CASE WHEN n_c_pre > 0 AND n_c_post > 0
                 AND n_t_pre > 0 AND n_t_post > 0
            THEN 0 ELSE 1 END AS BIGINT) AS degenerate
FROM s
"""


@register("events_did_lift", oracle=_DID_ORACLE,
          doc="difference-in-differences on mean purchase value "
              "around a mid-experiment boundary — the quasi-"
              "experimental lift estimate that nets out shared time "
              "trends, one scan into eight counters")
def events_did_lift(spark, sf_dir):
    """DiD: split purchases at the fixed 2024-01-16 boundary (the
    CUPED-style frozen boundary, so a row's period never moves), and
    estimate lift as (treat_post - treat_pre) - (control_post -
    control_pre) on mean purchase value — the control arm's pre/post
    drift nets out any platform-wide trend that a naive post-only
    comparison would book as treatment effect.

    Exactness: eight integer counters in ONE aggregate; the four
    means are exact integer divisions (operands non-negative, so
    truncating div == flooring //, with greatest(n,1) guarding the
    empty cell on both engines — the tcloseness rule); the DiD
    itself needs the fractional parts, so it is the identical
    four-division IEEE tree floored to integer v4 units, gated to 0
    with degenerate=1 when any cell is empty.

    Scale shape: one scan, map-side partials into a single 8-counter
    row — the cheapest possible plan for the statistic.
    """
    e = events_sane(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    ).select(
        (md5_long(F.col("user_id").cast("string")) % 2 == 1).alias("treat"),
        (F.col("ts") >= F.lit("2024-01-16 00:00:00").cast("timestamp"))
        .alias("post"),
        F.expr("CAST(floor(value * 10000.0e0) AS BIGINT)").alias("v4"),
    )
    s = e.agg(
        F.count(F.when(~F.col("treat") & ~F.col("post"), 1)).alias("n_c_pre"),
        F.count(F.when(~F.col("treat") & F.col("post"), 1)).alias("n_c_post"),
        F.count(F.when(F.col("treat") & ~F.col("post"), 1)).alias("n_t_pre"),
        F.count(F.when(F.col("treat") & F.col("post"), 1)).alias("n_t_post"),
        F.coalesce(F.sum(F.when(~F.col("treat") & ~F.col("post"),
                                F.col("v4"))), F.lit(0)).alias("s_c_pre"),
        F.coalesce(F.sum(F.when(~F.col("treat") & F.col("post"),
                                F.col("v4"))), F.lit(0)).alias("s_c_post"),
        F.coalesce(F.sum(F.when(F.col("treat") & ~F.col("post"),
                                F.col("v4"))), F.lit(0)).alias("s_t_pre"),
        F.coalesce(F.sum(F.when(F.col("treat") & F.col("post"),
                                F.col("v4"))), F.lit(0)).alias("s_t_post"),
    )
    return s.select(
        "n_c_pre", "n_c_post", "n_t_pre", "n_t_post",
        F.expr("CAST(s_c_pre div greatest(n_c_pre, 1) AS BIGINT)")
        .alias("mean_c_pre_v4"),
        F.expr("CAST(s_c_post div greatest(n_c_post, 1) AS BIGINT)")
        .alias("mean_c_post_v4"),
        F.expr("CAST(s_t_pre div greatest(n_t_pre, 1) AS BIGINT)")
        .alias("mean_t_pre_v4"),
        F.expr("CAST(s_t_post div greatest(n_t_post, 1) AS BIGINT)")
        .alias("mean_t_post_v4"),
        F.expr(
            "CAST(CASE WHEN n_c_pre > 0 AND n_c_post > 0"
            " AND n_t_pre > 0 AND n_t_post > 0 THEN"
            " floor((CAST(s_t_post AS DOUBLE) / CAST(n_t_post AS DOUBLE)"
            " - CAST(s_t_pre AS DOUBLE) / CAST(n_t_pre AS DOUBLE))"
            " - (CAST(s_c_post AS DOUBLE) / CAST(n_c_post AS DOUBLE)"
            " - CAST(s_c_pre AS DOUBLE) / CAST(n_c_pre AS DOUBLE)))"
            " ELSE 0 END AS BIGINT)"
        ).alias("did_v4"),
        F.expr(
            "CAST(CASE WHEN n_c_pre > 0 AND n_c_post > 0"
            " AND n_t_pre > 0 AND n_t_post > 0"
            " THEN 0 ELSE 1 END AS BIGINT)"
        ).alias("degenerate"),
    )


# --------------------------------------------------------------------
# inverse-propensity-weighted ATE via within-stratum propensities
# --------------------------------------------------------------------

# Powers-of-two activity cutpoints shared by the batch IPW query (both
# dialects) and the streaming sibling (streaming/ab_stream.py imports
# them) — one source of truth for the stratum domain (duplicated
# expression text drifts).
IPW_BAND_CUTPOINTS: tuple[int, ...] = (2, 4, 8, 16, 32, 64, 128, 256)

#: dialect-neutral stratum CASE over a user's event count n_u
IPW_BAND_CASE = "CASE " + " ".join(
    f"WHEN n_u < {hi} THEN 'b{i}'"
    for i, hi in enumerate(IPW_BAND_CUTPOINTS)
) + f" ELSE 'b{len(IPW_BAND_CUTPOINTS)}' END"

_IPW_ORACLE = EVENTS_SANITIZED_CTE + f""",
u AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_u,
         CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS clicks_u,
         CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS views_u,
         CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS y_u
  FROM events WHERE user_id IS NOT NULL
  GROUP BY user_id
), su AS (
  SELECT {IPW_BAND_CASE} AS stratum,
         clicks_u > views_u AS treated, y_u
  FROM u
), s AS (
  SELECT stratum,
         CAST(count(*) AS BIGINT) AS n_users,
         CAST(count(*) FILTER (treated) AS BIGINT) AS n_treated,
         CAST(coalesce(sum(y_u) FILTER (treated), 0) AS BIGINT) AS sy1,
         CAST(coalesce(sum(y_u) FILTER (NOT treated), 0) AS BIGINT) AS sy0
  FROM su GROUP BY stratum
), sd AS (
  SELECT stratum, n_users, n_treated,
         CAST(CAST(n_treated AS HUGEINT) * 1000000 // n_users AS BIGINT)
           AS propensity_1e6,
         CAST(CAST(sy1 AS HUGEINT) * 1000000
              // nullif(n_treated, 0) AS BIGINT) AS y_treated_1e6,
         CAST(CAST(sy0 AS HUGEINT) * 1000000
              // nullif(n_users - n_treated, 0) AS BIGINT) AS y_control_1e6
  FROM s
)
SELECT stratum, n_users, n_treated, propensity_1e6,
       y_treated_1e6, y_control_1e6,
       CAST(y_treated_1e6 - y_control_1e6 AS BIGINT) AS ate_1e6
FROM sd
UNION ALL
SELECT 'ALL_NAIVE', CAST(sum(n_users) AS BIGINT),
       CAST(sum(n_treated) AS BIGINT),
       CAST(CAST(sum(n_treated) AS HUGEINT) * 1000000
            // nullif(sum(n_users), 0) AS BIGINT),
       CAST(CAST(sum(sy1) AS HUGEINT) * 1000000
            // nullif(sum(n_treated), 0) AS BIGINT),
       CAST(CAST(sum(sy0) AS HUGEINT) * 1000000
            // nullif(sum(n_users) - sum(n_treated), 0) AS BIGINT),
       CAST(CAST(sum(sy1) AS HUGEINT) * 1000000
            // nullif(sum(n_treated), 0)
            - CAST(sum(sy0) AS HUGEINT) * 1000000
              // nullif(sum(n_users) - sum(n_treated), 0) AS BIGINT)
FROM s GROUP BY 1
UNION ALL
SELECT 'ALL_IPW', CAST(sum(n_users) AS BIGINT),
       CAST(sum(n_treated) AS BIGINT),
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       CAST(sum(CAST(n_users AS HUGEINT)
                * (y_treated_1e6 - y_control_1e6))
            // nullif(sum(CAST(n_users AS HUGEINT)), 0) AS BIGINT)
FROM sd
WHERE n_treated >= 1 AND n_treated < n_users
GROUP BY 1
ORDER BY stratum
"""


@register("experiment_ipw_ate", oracle=_IPW_ORACLE, bench=True,
          doc="inverse-propensity-weighted ATE: within-stratum "
              "propensities over activity bands, per-stratum effects, "
              "positivity trimming, and the IPW estimate next to the "
              "confounded naive difference")
def experiment_ipw_ate(spark, sf_dir):
    """Observational causal readout: the average treatment effect of
    a behavioral "treatment" (user clicks more than they view) on a
    count outcome (purchases per user), estimated three ways in one
    result — per-stratum effects, the unadjusted (naive) difference,
    and the propensity-adjusted estimate.  Strata are deterministic
    activity bands (powers-of-two on the user's event count), the
    propensity inside a stratum is the treated share, and with
    discrete strata the Horvitz-Thompson IPW estimator reduces
    EXACTLY to direct standardization: ATE = sum_s N_s * d_s / N over
    strata that satisfy positivity (both arms present); strata with
    e_s in {0, 1} are trimmed, and the ALL_IPW row reports the
    estimator over the trimmed population next to ALL_NAIVE over
    everyone — the gap IS the confounding correction.

    Exactness: every input is an integer count; per-stratum means are
    1e-6 fixed-point integer floors (dividends non-negative, so floor
    = truncate on both engines), the per-stratum effect d_s is an
    int64 difference, and the IPW sum runs in DECIMAL(38,0)/HUGEINT
    with ONE final quotient truncated toward zero identically by
    Spark's ``div`` and DuckDB's integer ``//``.  Quotient budget
    (module rule): means are <= 1e6 * purchases-per-user and the ATE
    is bounded by max |d_s| — inside int64 until a single user holds
    > 9.2e12 purchase events.  Arm-empty and no-positivity
    degenerates NULL-band via nullif on both engines; the all-NULL
    no-groupBy sentinel is avoided by grouping the summary rows on a
    constant (the quality_gini_stump lesson).

    Scale shape: one events scan -> user-grain partial-aggregated
    shuffle (the only data-sized exchange) -> <= 9-row stratum
    relation; both summary rows aggregate the stratum relation, never
    the scan.  At 100 TB: user cardinality bounds the shuffle; no
    window functions, no joins, no second scan.

    Reference anchor: none — LLM-brief extension (experimentation /
    decision layer, like events_cate_by_segment and events_did).
    """
    u = (
        events_sane(spark, sf_dir)
        .filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_u"),
            F.count(F.when(F.col("event_type") == "click", 1)).alias("clicks_u"),
            F.count(F.when(F.col("event_type") == "view", 1)).alias("views_u"),
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias("y_u"),
        )
    )
    su = u.select(
        F.expr(IPW_BAND_CASE).alias("stratum"),
        (F.col("clicks_u") > F.col("views_u")).alias("treated"),
        "y_u",
    )
    s = su.groupBy("stratum").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count(F.when(F.col("treated"), 1)).alias("n_treated"),
        F.coalesce(F.sum(F.when(F.col("treated"), F.col("y_u"))), F.lit(0))
        .alias("sy1"),
        F.coalesce(F.sum(F.when(~F.col("treated"), F.col("y_u"))), F.lit(0))
        .alias("sy0"),
    )
    # the stratum relation is <= 9 rows and feeds three branches;
    # materialize it once, the basket_brand_pairs idiom
    s = materialize(s)
    sd = s.select(
        "stratum", "n_users", "n_treated",
        F.expr(
            "CAST(CAST(n_treated AS DECIMAL(38,0)) * 1000000"
            " div n_users AS BIGINT)"
        ).alias("propensity_1e6"),
        F.expr(
            "CAST(CAST(sy1 AS DECIMAL(38,0)) * 1000000"
            " div nullif(n_treated, 0) AS BIGINT)"
        ).alias("y_treated_1e6"),
        F.expr(
            "CAST(CAST(sy0 AS DECIMAL(38,0)) * 1000000"
            " div nullif(n_users - n_treated, 0) AS BIGINT)"
        ).alias("y_control_1e6"),
    )
    per_stratum = sd.select(
        "stratum", "n_users", "n_treated", "propensity_1e6",
        "y_treated_1e6", "y_control_1e6",
        F.expr("CAST(y_treated_1e6 - y_control_1e6 AS BIGINT)")
        .alias("ate_1e6"),
    )
    naive = (
        s.groupBy(F.lit(1).alias("_g"))
        .agg(
            F.sum("n_users").alias("nu"),
            F.sum("n_treated").alias("nt"),
            F.sum("sy1").alias("t1"),
            F.sum("sy0").alias("t0"),
        )
        .select(
            F.lit("ALL_NAIVE").alias("stratum"),
            F.col("nu").alias("n_users"),
            F.col("nt").alias("n_treated"),
            F.expr(
                "CAST(CAST(nt AS DECIMAL(38,0)) * 1000000"
                " div nullif(nu, 0) AS BIGINT)"
            ).alias("propensity_1e6"),
            F.expr(
                "CAST(CAST(t1 AS DECIMAL(38,0)) * 1000000"
                " div nullif(nt, 0) AS BIGINT)"
            ).alias("y_treated_1e6"),
            F.expr(
                "CAST(CAST(t0 AS DECIMAL(38,0)) * 1000000"
                " div nullif(nu - nt, 0) AS BIGINT)"
            ).alias("y_control_1e6"),
            F.expr(
                "CAST(CAST(t1 AS DECIMAL(38,0)) * 1000000 div nullif(nt, 0)"
                " - CAST(t0 AS DECIMAL(38,0)) * 1000000"
                "   div nullif(nu - nt, 0) AS BIGINT)"
            ).alias("ate_1e6"),
        )
    )
    ipw = (
        sd.filter((F.col("n_treated") >= 1)
                  & (F.col("n_treated") < F.col("n_users")))
        .groupBy(F.lit(1).alias("_g"))
        .agg(
            F.sum("n_users").alias("nu"),
            F.sum("n_treated").alias("nt"),
            F.expr(
                "sum(CAST(n_users AS DECIMAL(38,0))"
                " * (y_treated_1e6 - y_control_1e6))"
            ).alias("num"),
        )
        .select(
            F.lit("ALL_IPW").alias("stratum"),
            F.col("nu").alias("n_users"),
            F.col("nt").alias("n_treated"),
            F.lit(None).cast("long").alias("propensity_1e6"),
            F.lit(None).cast("long").alias("y_treated_1e6"),
            F.lit(None).cast("long").alias("y_control_1e6"),
            F.expr(
                "CAST(num div nullif(CAST(nu AS DECIMAL(38,0)), 0)"
                " AS BIGINT)"
            ).alias("ate_1e6"),
        )
    )
    return per_stratum.unionAll(naive).unionAll(ipw).orderBy("stratum")
