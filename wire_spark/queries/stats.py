"""Hypothesis-testing / experimentation family (round 9, wave 3).

The engine had drift monitors, bootstrap CIs and calibration audits but
no classical inference surface — the tests an experimentation platform
runs on every metric before a ship decision.  This module adds the four
canonical ones (two-proportion z, Welch's t, Mann-Whitney U,
chi-squared independence), a differentially-private release of grouped
counts, and a naive-Bayes holdout confusion matrix (the textbook
generative classifier the quality_logreg/gini_stump discriminative
loop lacked).

Reference anchor: tarungka/wire declares aggregation/analytics intent
only (ROADMAP.md:96-107; internal/pipeline/pipeline.go:93-159 executes
generic transforms) — this family is the training-data-pipeline
extension the brief asks for beyond the reference surface.

Cross-engine exactness follows the PARITY.md rules:

- Integer counts cross engines raw; every float statistic is built
  from the SAME IEEE op sequence on integer-derived doubles in both
  engines (cast-to-double of identical integers is deterministic,
  each +,*,/,sqrt,ln is a single correctly-rounded IEEE op), then
  floor-truncated into fixed-point BIGINT (1e4 for z/t scores after
  the NOTES ln()-at-4dp rule, 1e6 for chi-squared addends that are
  summed afterwards — per-addend floors make the sum order-free).
- Products that outgrow int64 by ~sf3000 (rank sums, chi-squared
  cell numerators) widen to DECIMAL(38,0) in Spark mirrored by
  HUGEINT in DuckDB (the model_auc_rank / supplier_return_pchart
  discipline), and every output column is cast to BIGINT or DOUBLE.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from wire_spark.catalog import register
from wire_spark.functions.text import ascii_lower
from wire_spark.queries._util import (
    EVENTS_MOMENT_CTE,
    EVENTS_SANITIZED_CTE,
    T,
    events_moment,
    events_sane,
    local_df,
    materialize,
    md5_long,
)
from wire_spark.queries.features import _hist_prefix

# --------------------------------------------------------------------
# two-proportion z-test: deterministic A/B arms over events
# --------------------------------------------------------------------

_AB_ORACLE = """
WITH e AS (
  SELECT CAST(CONCAT('0x', SUBSTRING(md5(CAST(user_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 2 = 1 AS treat,
         event_type = 'purchase' AS conv
  FROM events
), s AS (
  SELECT CAST(count(*) FILTER (WHERE NOT treat) AS BIGINT) AS n_control,
         CAST(count(*) FILTER (WHERE treat) AS BIGINT) AS n_treatment,
         CAST(count(*) FILTER (WHERE NOT treat AND conv) AS BIGINT)
           AS conv_control,
         CAST(count(*) FILTER (WHERE treat AND conv) AS BIGINT)
           AS conv_treatment
  FROM e
), p AS (
  SELECT *,
         CAST(conv_control AS DOUBLE) / CAST(greatest(n_control, 1) AS DOUBLE) AS p1,
         CAST(conv_treatment AS DOUBLE) / CAST(greatest(n_treatment, 1) AS DOUBLE) AS p2,
         CAST(conv_control + conv_treatment AS DOUBLE)
           / CAST(greatest(n_control + n_treatment, 1) AS DOUBLE) AS pp
  FROM s
)
SELECT n_control, n_treatment, conv_control, conv_treatment,
       floor(p1 * 10000.0e0) / 10000.0e0 AS rate_control,
       floor(p2 * 10000.0e0) / 10000.0e0 AS rate_treatment,
       CAST(CASE WHEN pp > 0.0e0 AND pp < 1.0e0 THEN
         floor((p1 - p2) / sqrt(pp * (1.0e0 - pp)
               * (1.0e0 / CAST(greatest(n_control, 1) AS DOUBLE)
                  + 1.0e0 / CAST(greatest(n_treatment, 1) AS DOUBLE))) * 10000.0e0)
       ELSE 0 END AS BIGINT) AS z_1e4
FROM p
"""


@register("events_ab_ztest", oracle=_AB_ORACLE,
          doc="two-proportion z-test between deterministic hash-"
              "assigned A/B arms on the purchase-conversion rate — "
              "the ship/no-ship primitive of an experimentation "
              "platform, one scan, fixed-point z")
def events_ab_ztest(spark, sf_dir):
    """Deterministic A/B readout: arm = md5(user_id) parity (a row's
    arm never changes as the corpus grows — the split_group_aware
    stability property), success = the event is a purchase, then the
    pooled two-proportion z in closed form.

    Exactness: the four counts are integers; p1/p2/pooled-p are the
    identical cast-divide in both engines, the z expression is the
    same IEEE op tree, and the result is floor-truncated to 1e-4
    (NOTES ln/sqrt 4dp rule).  Degenerate pools (every event converts
    or none do) would divide by zero — ANSI mode errors, non-ANSI
    NULL-bands — so both sides gate on 0 < pp < 1 and report z = 0,
    agreeing exactly on degenerate input.

    Scale shape: one scan, map-side partial aggregation into a single
    global row — no shuffle wider than the 4-counter partials; the
    per-user md5 is JVM codegen.  At 100 TB this is the cheapest
    query in the family.
    """
    e = T(spark, sf_dir, "events").select(
        (md5_long(F.col("user_id").cast("string")) % 2 == 1).alias("treat"),
        (F.col("event_type") == "purchase").alias("conv"),
    )
    s = e.agg(
        F.count(F.when(~F.col("treat"), 1)).alias("n_control"),
        F.count(F.when(F.col("treat"), 1)).alias("n_treatment"),
        F.count(F.when(~F.col("treat") & F.col("conv"), 1)).alias("conv_control"),
        F.count(F.when(F.col("treat") & F.col("conv"), 1)).alias("conv_treatment"),
    )
    p = s.select(
        "*",
        F.expr("CAST(conv_control AS DOUBLE)"
               " / CAST(greatest(n_control, 1) AS DOUBLE)").alias("p1"),
        F.expr("CAST(conv_treatment AS DOUBLE)"
               " / CAST(greatest(n_treatment, 1) AS DOUBLE)").alias("p2"),
        F.expr("CAST(conv_control + conv_treatment AS DOUBLE)"
               " / CAST(greatest(n_control + n_treatment, 1) AS DOUBLE)")
        .alias("pp"),
    )
    return p.select(
        "n_control", "n_treatment", "conv_control", "conv_treatment",
        F.expr("floor(p1 * 10000.0e0) / 10000.0e0").alias("rate_control"),
        F.expr("floor(p2 * 10000.0e0) / 10000.0e0").alias("rate_treatment"),
        F.expr(
            "CAST(CASE WHEN pp > 0.0e0 AND pp < 1.0e0 THEN "
            "floor((p1 - p2) / sqrt(pp * (1.0e0 - pp) "
            "* (1.0e0 / CAST(greatest(n_control, 1) AS DOUBLE) "
            "+ 1.0e0 / CAST(greatest(n_treatment, 1) AS DOUBLE))) * 10000.0e0) "
            "ELSE 0 END AS BIGINT)"
        ).alias("z_1e4"),
    )


# --------------------------------------------------------------------
# Welch's t-test: unequal-variance mean comparison from integer moments
# --------------------------------------------------------------------

_WELCH_ORACLE = EVENTS_MOMENT_CTE + """,
e AS (
  SELECT event_type = 'click' AS g1, value AS v FROM events
  WHERE event_type IN ('click', 'view') AND value IS NOT NULL
), m AS (
  SELECT CAST(count(*) FILTER (WHERE g1) AS BIGINT) AS n1,
         CAST(count(*) FILTER (WHERE NOT g1) AS BIGINT) AS n2,
         CAST(sum(CAST(floor(v * 10000.0e0) AS HUGEINT))
              FILTER (WHERE g1) AS HUGEINT) AS s1,
         CAST(sum(CAST(floor(v * 10000.0e0) AS HUGEINT))
              FILTER (WHERE NOT g1) AS HUGEINT) AS s2,
         CAST(sum(CAST(floor(v * v * 100.0e0) AS HUGEINT))
              FILTER (WHERE g1) AS HUGEINT) AS q1,
         CAST(sum(CAST(floor(v * v * 100.0e0) AS HUGEINT))
              FILTER (WHERE NOT g1) AS HUGEINT) AS q2
  FROM e
), d AS (
  SELECT n1, n2,
         CAST(s1 AS DOUBLE) / 10000.0e0 / CAST(n1 AS DOUBLE) AS m1,
         CAST(s2 AS DOUBLE) / 10000.0e0 / CAST(n2 AS DOUBLE) AS m2,
         CAST(q1 AS DOUBLE) / 100.0e0 / CAST(n1 AS DOUBLE) AS x1,
         CAST(q2 AS DOUBLE) / 100.0e0 / CAST(n2 AS DOUBLE) AS x2
  FROM m
), v AS (
  SELECT n1, n2, m1, m2,
         (x1 - m1 * m1) * CAST(n1 AS DOUBLE) / (CAST(n1 AS DOUBLE) - 1.0e0)
           AS v1,
         (x2 - m2 * m2) * CAST(n2 AS DOUBLE) / (CAST(n2 AS DOUBLE) - 1.0e0)
           AS v2
  FROM d
)
SELECT n1 AS n_click, n2 AS n_view,
       floor(m1 * 10000.0e0) / 10000.0e0 AS mean_click,
       floor(m2 * 10000.0e0) / 10000.0e0 AS mean_view,
       CAST(CASE WHEN v1 / CAST(n1 AS DOUBLE) + v2 / CAST(n2 AS DOUBLE)
                      > 0.0e0 THEN
         floor((m1 - m2) / sqrt(v1 / CAST(n1 AS DOUBLE)
               + v2 / CAST(n2 AS DOUBLE)) * 10000.0e0)
       ELSE 0 END AS BIGINT) AS t_1e4
FROM v
"""


@register("events_welch_ttest", oracle=_WELCH_ORACLE,
          doc="Welch's unequal-variance t on event value between "
              "click and view — means/variances from order-free "
              "integer moment sums, one scan")
def events_welch_ttest(spark, sf_dir):
    """Welch's t between the 'click' and 'view' value distributions,
    with both group moments taken in ONE scan as order-independent
    integer sums: each row contributes floor(v*1e4) (first moment,
    1e-4 resolution) and floor(v*v*1e2) (second moment) — identical
    integers in both engines, summed exactly in any order.  Mean,
    sample variance ((E[x^2] - m^2) * n/(n-1) on the truncated
    moments) and the t statistic then replay the same IEEE op tree on
    both sides, floored to 1e-4.

    The second-moment summand is ~2.4e9 per row (value <= 490), so
    the sum outgrows int64 around sf3000 — it accumulates in
    DECIMAL(38,0)/HUGEINT per the model_auc_rank discipline, and the
    first moments are widened the same way (r12 maxmass).

    Moment-tier domain (r12 maxmass sweep): Spark's floor(DOUBLE)
    returns LONG and SATURATES SILENTLY at int64 max, so a value
    admitted by the 1e12 SANITIZE budget poisons floor(v*v*100)
    without any error while DuckDB's DOUBLE floor keeps the true
    value (observed: the t gate flipped to 0 on Spark only).  Input
    therefore comes from events_moment / EVENTS_MOMENT_CTE, which
    NULL-bands |v| > 1e8 on both engines (v*v*100 <= 1e18 stays
    per-row exact); real data carries |v| <= ~500, verified
    bit-identical.

    Scale shape: single scan, map-side combine into one row; no
    shuffle beyond the six-counter partials.  A zero pooled standard
    error (both groups constant) reports t = 0 on both sides rather
    than dividing by zero.
    """
    e = events_moment(spark, sf_dir).filter(
        F.col("event_type").isin("click", "view") & F.col("value").isNotNull()
    ).select((F.col("event_type") == "click").alias("g1"), F.col("value").alias("v"))
    m = e.agg(
        F.count(F.when(F.col("g1"), 1)).alias("n1"),
        F.count(F.when(~F.col("g1"), 1)).alias("n2"),
        F.sum(F.when(F.col("g1"),
                     F.expr("CAST(floor(v * 10000.0e0) AS DECIMAL(38,0))"))).alias("s1"),
        F.sum(F.when(~F.col("g1"),
                     F.expr("CAST(floor(v * 10000.0e0) AS DECIMAL(38,0))"))).alias("s2"),
        F.sum(F.when(F.col("g1"),
                     F.expr("CAST(floor(v * v * 100.0e0) AS DECIMAL(38,0))")))
        .alias("q1"),
        F.sum(F.when(~F.col("g1"),
                     F.expr("CAST(floor(v * v * 100.0e0) AS DECIMAL(38,0))")))
        .alias("q2"),
    )
    d = m.select(
        "n1", "n2",
        F.expr("CAST(s1 AS DOUBLE) / 10000.0e0 / CAST(n1 AS DOUBLE)").alias("m1"),
        F.expr("CAST(s2 AS DOUBLE) / 10000.0e0 / CAST(n2 AS DOUBLE)").alias("m2"),
        F.expr("CAST(q1 AS DOUBLE) / 100.0e0 / CAST(n1 AS DOUBLE)").alias("x1"),
        F.expr("CAST(q2 AS DOUBLE) / 100.0e0 / CAST(n2 AS DOUBLE)").alias("x2"),
    )
    v = d.select(
        "n1", "n2", "m1", "m2",
        F.expr("(x1 - m1 * m1) * CAST(n1 AS DOUBLE)"
               " / (CAST(n1 AS DOUBLE) - 1.0e0)").alias("v1"),
        F.expr("(x2 - m2 * m2) * CAST(n2 AS DOUBLE)"
               " / (CAST(n2 AS DOUBLE) - 1.0e0)").alias("v2"),
    )
    return v.select(
        F.col("n1").alias("n_click"), F.col("n2").alias("n_view"),
        F.expr("floor(m1 * 10000.0e0) / 10000.0e0").alias("mean_click"),
        F.expr("floor(m2 * 10000.0e0) / 10000.0e0").alias("mean_view"),
        F.expr(
            "CAST(CASE WHEN v1 / CAST(n1 AS DOUBLE) + v2 / CAST(n2 AS DOUBLE)"
            " > 0.0e0 THEN "
            "floor((m1 - m2) / sqrt(v1 / CAST(n1 AS DOUBLE)"
            " + v2 / CAST(n2 AS DOUBLE)) * 10000.0e0) ELSE 0 END AS BIGINT)"
        ).alias("t_1e4"),
    )


# --------------------------------------------------------------------
# Mann-Whitney U: rank test on a continuous column, distributed ranks
# --------------------------------------------------------------------

_MWU_ORACLE = """
WITH f AS (
  SELECT o_totalprice AS v, o_orderpriority = '1-URGENT' AS g1
  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
), h AS (
  SELECT v, CAST(count(*) FILTER (WHERE g1) AS BIGINT) AS c1,
         CAST(count(*) AS BIGINT) AS call
  FROM f GROUP BY v
), p AS (
  SELECT v, c1, call,
         CAST(COALESCE(sum(call) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS below
  FROM h
), s AS (
  SELECT CAST(sum(CAST(c1 AS HUGEINT) * (2 * below + call + 1))
              AS HUGEINT) AS r1x2,
         CAST(sum(c1) AS BIGINT) AS n1,
         CAST(sum(call) AS BIGINT) AS nall
  FROM p
), u AS (
  SELECT n1, nall - n1 AS n2, nall,
         r1x2 - CAST(n1 AS HUGEINT) * (n1 + 1) AS ux2
  FROM s
)
SELECT n1 AS n_urgent, n2 AS n_low, CAST(ux2 AS BIGINT) AS u_x2,
       floor(CAST(ux2 AS DOUBLE)
             / (2.0e0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
             * 10000.0e0) / 10000.0e0 AS prob_superiority,
       CAST(floor((CAST(ux2 AS DOUBLE)
                   - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
            / (2.0e0 * sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
               * (CAST(nall AS DOUBLE) + 1.0e0) / 12.0e0))
            * 10000.0e0) AS BIGINT) AS z_1e4
FROM u
"""


@register("orders_mannwhitney_u", oracle=_MWU_ORACLE, bench=True,
          doc="Mann-Whitney U between URGENT and LOW order prices — "
              "tie-midrank-exact rank sums from a value-grain "
              "histogram with distributed two-pass prefix counts, "
              "no row-grain sort")
def orders_mannwhitney_u(spark, sf_dir):
    """Two-sample rank test (does URGENT price stochastically
    dominate LOW?) without ever sorting rows: ranks come from the
    VALUE-grain histogram.  For each distinct price, the doubled tie
    midrank is ``2*below + count_at_value + 1`` (doubling keeps
    half-integer midranks in BIGINT), the group-1 rank sum is
    ``sum(c1 * midrank2)``, and ``U1 = R1 - n1(n1+1)/2`` follows in
    x2 units.  ``prob_superiority`` is U/(n1*n2) — the same
    Mann-Whitney/AUC identity model_auc_rank exploits at score grain,
    here as a hypothesis test with the normal-approximation z (plain
    sigma, no tie correction: prices are near-unique; the doubled-U
    arithmetic stays exact regardless).

    Exactness: every rank quantity is an integer (rank sums widen to
    DECIMAL(38,0)/HUGEINT — R1 can reach ~2*n1*N, past int64 by
    ~sf3000); the z/effect-size doubles replay one IEEE op tree and
    floor at 1e-4.

    Scale shape: histogram groupBy(value) bounds everything at
    distinct-value grain; the strictly-below cumulative count runs
    through ``_hist_prefix``'s two-pass bucketed form, so no task
    ever holds the whole histogram (the quality_gini_stump guard) —
    the plan has no row-grain sort, window or collect.
    """
    f = T(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    ).select(
        F.col("o_totalprice").alias("v"),
        (F.col("o_orderpriority") == "1-URGENT").alias("g1"),
    )
    h = f.groupBy("v").agg(
        F.count(F.when(F.col("g1"), 1)).alias("c1"),
        F.count(F.lit(1)).alias("call"),
    )
    p = _hist_prefix(h, "v", {"below": "call"}, inclusive=False)
    s = p.agg(
        F.sum(F.expr("CAST(c1 AS DECIMAL(38,0)) * (2 * below + call + 1)"))
        .alias("r1x2"),
        F.sum("c1").alias("n1"),
        F.sum("call").alias("nall"),
    )
    u = s.select(
        "n1", F.expr("nall - n1").alias("n2"), F.col("nall"),
        F.expr("r1x2 - CAST(n1 AS DECIMAL(38,0)) * (n1 + 1)").alias("ux2"),
    )
    return u.select(
        F.col("n1").alias("n_urgent"), F.col("n2").alias("n_low"),
        F.expr("CAST(ux2 AS BIGINT)").alias("u_x2"),
        F.expr("floor(CAST(ux2 AS DOUBLE)"
               " / (2.0e0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))"
               " * 10000.0e0) / 10000.0e0").alias("prob_superiority"),
        F.expr(
            "CAST(floor((CAST(ux2 AS DOUBLE)"
            " - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))"
            " / (2.0e0 * sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
            " * (CAST(nall AS DOUBLE) + 1.0e0) / 12.0e0))"
            " * 10000.0e0) AS BIGINT)"
        ).alias("z_1e4"),
    )


# --------------------------------------------------------------------
# chi-squared independence: event_type x user-cohort contingency
# --------------------------------------------------------------------

_CHI2_ORACLE = """
WITH e AS (
  SELECT event_type,
         CAST(CONCAT('0x', SUBSTRING(md5(CAST(user_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 4 AS cohort
  FROM events
), cells AS (
  SELECT event_type, cohort, CAST(count(*) AS BIGINT) AS o
  FROM e GROUP BY 1, 2
), rt AS (
  SELECT event_type, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY 1
), ct AS (
  SELECT cohort, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1
), nn AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
a AS (
  SELECT CAST(floor(
           CAST((CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c)
                * (CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c)
                AS DOUBLE)
           / CAST(CAST(r AS HUGEINT) * c * n AS DOUBLE)
           * 1000000.0e0) AS BIGINT) AS add6
  FROM cells JOIN rt USING (event_type) JOIN ct USING (cohort)
  CROSS JOIN nn
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM cells) AS n_cells,
       (SELECT CAST((count(DISTINCT event_type) - 1)
                    * (count(DISTINCT cohort) - 1) AS BIGINT) FROM e) AS dof,
       CAST(sum(add6) AS BIGINT) AS chi2_1e6
FROM a
"""


@register("events_chi2_independence", oracle=_CHI2_ORACLE,
          doc="chi-squared independence of event_type vs hash-cohort "
              "on the contingency table — per-cell fixed-point "
              "addends, 128-bit-exact numerators")
def events_chi2_independence(spark, sf_dir):
    """Pearson chi-squared of event_type x user cohort (cohort =
    md5(user_id) % 4 — for a sound hash split the expected answer is
    'independent', making this the A/A sanity check an
    experimentation platform runs before trusting its assignment).

    Each cell's addend (O-E)^2/E is computed as
    ``(o*N - r*c)^2 / (r*c*N)`` so numerator and denominator stay
    integers: o*N reaches ~4.5e18 by sf3000 and its square ~2e37, so
    the products run in DECIMAL(38,0)/HUGEINT (128-bit class) before
    one deterministic cast to DOUBLE, a single division, and a 1e6
    fixed-point floor; the addend sum is then order-free.

    Scale shape: contingency cells are bounded (types x cohorts = 20
    rows) — one scan with map-side combine, margins derived from the
    CELL relation (never a second scan), broadcast margin joins.
    """
    e = T(spark, sf_dir, "events").select(
        "event_type",
        (md5_long(F.col("user_id").cast("string")) % 4).alias("cohort"),
    )
    cells = e.groupBy("event_type", "cohort").agg(
        F.count(F.lit(1)).alias("o")
    )
    from wire_spark.queries._util import tracked_cache

    cells = tracked_cache(cells)
    rt = cells.groupBy("event_type").agg(F.sum("o").alias("r"))
    ct = cells.groupBy("cohort").agg(F.sum("o").alias("c"))
    nn = cells.agg(F.sum("o").alias("n"))
    dims = cells.agg(
        F.count(F.lit(1)).alias("n_cells"),
        ((F.countDistinct("event_type") - 1)
         * (F.countDistinct("cohort") - 1)).alias("dof"),
    )
    a = (
        cells.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "cohort")
        .crossJoin(F.broadcast(nn))
        .select(
            F.expr(
                "CAST(floor("
                "CAST((CAST(o AS DECIMAL(38,0)) * n - CAST(r AS DECIMAL(38,0)) * c)"
                " * (CAST(o AS DECIMAL(38,0)) * n - CAST(r AS DECIMAL(38,0)) * c)"
                " AS DOUBLE)"
                " / CAST(CAST(r AS DECIMAL(38,0)) * c * n AS DOUBLE)"
                " * 1000000.0e0) AS BIGINT)"
            ).alias("add6")
        )
    )
    chi = a.agg(F.sum("add6").alias("chi2_1e6"))
    return dims.crossJoin(F.broadcast(chi)).select(
        "n_cells", F.col("dof").cast("long").alias("dof"),
        F.col("chi2_1e6").cast("long").alias("chi2_1e6"),
    )


# --------------------------------------------------------------------
# differentially-private count release (deterministic Laplace)
# --------------------------------------------------------------------

_DP_ORACLE = """
WITH c AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1
), u AS (
  SELECT event_type, n,
         CAST(CONCAT('0x', SUBSTRING(md5(CONCAT(event_type, '|dp-r9')), 1, 15))
              AS BIGINT) % 1000000 AS m
  FROM c
), l AS (
  SELECT event_type, n,
         ABS(2 * m + 1 - 1000000) AS d,
         CASE WHEN 2 * m + 1 >= 1000000 THEN 1 ELSE -1 END AS sg
  FROM u
)
SELECT event_type,
       CAST(n * 10000 + CAST(floor(CAST(-sg AS DOUBLE) * 2.0e0
            * ln(1.0e0 - CAST(d AS DOUBLE) / 1000000.0e0)
            * 10000.0e0) AS BIGINT) AS BIGINT) AS noisy_1e4,
       CAST(50 AS BIGINT) AS eps_1e2
FROM l
ORDER BY event_type
"""


@register("governance_dp_counts", oracle=_DP_ORACLE,
          doc="epsilon-differentially-private release of per-type "
              "event counts via inverse-CDF Laplace noise from a "
              "keyed hash — deterministic, so oracle-checkable")
def governance_dp_counts(spark, sf_dir):
    """DP count release (Laplace mechanism, eps = 0.5, L1 sensitivity
    1 for add/remove-one-event neighbors): noise = -b*sign(u-1/2)*
    ln(1-2|u-1/2|) with b = 1/eps = 2, where u comes from a keyed
    md5 instead of an RNG.  A deterministic noise seed is what makes
    the release AUDITABLE (the oracle replays it bit-for-bit) and is
    standard practice when a DP release must be reproducible across
    reruns — the privacy argument then rests on the key's secrecy,
    which this demo trades away for testability (docstring contract,
    same spirit as the stubbed multimodal codec).

    Exactness: u is the exact rational (2m+1)/2e6 from a 60-bit md5
    (the half-offset keeps u strictly inside (0,1), so the ln
    argument is >= 1e-6 — never a log-of-zero); engines share the
    integer m, the IEEE divide/ln/multiply tree, and a 1e-4 floor
    folded into integer units of the count.

    Scale shape: groupBy(event_type) with map-side combine; noise is
    per-GROUP arithmetic on the tiny aggregate relation.  The true
    count never appears in the output — only the noised fixed-point
    value and the epsilon it was released under.
    """
    c = T(spark, sf_dir, "events").groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    u = c.select(
        "event_type", "n",
        (md5_long(F.concat(F.col("event_type"), F.lit("|dp-r9"))) % 1000000)
        .alias("m"),
    )
    l = u.select(
        "event_type", "n",
        F.abs(2 * F.col("m") + 1 - 1000000).alias("d"),
        F.when(2 * F.col("m") + 1 >= 1000000, 1).otherwise(-1).alias("sg"),
    )
    return l.select(
        "event_type",
        F.expr(
            "CAST(n * 10000 + CAST(floor(CAST(-sg AS DOUBLE) * 2.0e0"
            " * ln(1.0e0 - CAST(d AS DOUBLE) / 1000000.0e0)"
            " * 10000.0e0) AS BIGINT) AS BIGINT)"
        ).alias("noisy_1e4"),
        F.lit(50).cast("long").alias("eps_1e2"),
    ).orderBy("event_type")


# --------------------------------------------------------------------
# naive Bayes: holdout confusion matrix of the generative classifier
# --------------------------------------------------------------------

_NB_ORACLE = """
WITH d AS (
  SELECT doc_id, lang, text,
         CAST(CONCAT('0x', SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 100 < 80 AS is_train
  FROM documents
), tok AS (
  SELECT doc_id, lang, is_train,
         unnest(string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ')) AS t
  FROM d
), tok2 AS (SELECT * FROM tok WHERE t != ''),
tc AS (
  SELECT lang, t, CAST(count(*) AS BIGINT) AS c
  FROM tok2 WHERE is_train GROUP BY 1, 2
), tot AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS tl
  FROM tok2 WHERE is_train GROUP BY 1
), voc AS (SELECT DISTINCT t FROM tok2 WHERE is_train),
vs AS (SELECT CAST(count(*) AS BIGINT) AS v FROM voc),
tr AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM d WHERE is_train),
prior AS (
  SELECT lang,
         CAST(floor(ln(CAST(count(*) AS DOUBLE) / CAST(tr.nd AS DOUBLE))
              * 10000.0e0) AS BIGINT) AS pr4
  FROM d CROSS JOIN tr WHERE is_train GROUP BY lang, tr.nd
),
grid AS (
  SELECT voc.t, tot.lang,
         CAST(floor(ln(CAST(COALESCE(tc.c, 0) + 1 AS DOUBLE)
              / CAST(tot.tl + vs.v AS DOUBLE)) * 10000.0e0) AS BIGINT) AS lp4
  FROM voc CROSS JOIN tot CROSS JOIN vs
  LEFT JOIN tc ON tc.t = voc.t AND tc.lang = tot.lang
),
toksum AS (
  SELECT tok2.doc_id, grid.lang AS lang_hyp,
         CAST(sum(grid.lp4) AS BIGINT) AS s4
  FROM tok2 JOIN grid ON tok2.t = grid.t
  WHERE NOT tok2.is_train
  GROUP BY 1, 2
),
cand AS (
  SELECT e.doc_id, e.lang AS lang_true, p.lang AS lang_hyp,
         p.pr4 + COALESCE(ts.s4, 0) AS total4
  FROM d e CROSS JOIN prior p
  LEFT JOIN toksum ts ON ts.doc_id = e.doc_id AND ts.lang_hyp = p.lang
  WHERE NOT e.is_train
),
pred AS (
  SELECT lang_true, lang_hyp,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY total4 DESC, lang_hyp ASC) AS rn
  FROM cand
)
SELECT lang_true, lang_hyp AS lang_pred, CAST(count(*) AS BIGINT) AS n_docs
FROM pred WHERE rn = 1
GROUP BY 1, 2 ORDER BY 1, 2
"""


@register("quality_naive_bayes_confusion", oracle=_NB_ORACLE, bench=True,
          doc="multinomial naive-Bayes lang classifier trained on the "
              "80% hash split, holdout confusion matrix — integer "
              "fixed-point log-probabilities, deterministic argmax")
def quality_naive_bayes_confusion(spark, sf_dir):
    """The generative counterpart to the quality_logreg/gini_stump
    discriminative loop: train multinomial naive Bayes (Laplace +1)
    on the stable 80% md5(doc_id) split, classify the 20% holdout,
    and emit the lang x predicted-lang confusion matrix.

    Exactness: a per-(token, class) log-likelihood
    ``floor(ln((c+1)/(tot_class+V)) * 1e4)`` is the identical BIGINT
    in both engines (same integer ratio, one IEEE divide + ln, 4dp
    floor per the NOTES ln rule); per-document scores are integer
    SUMS of those — order-free — plus the same fixed-point prior, and
    the argmax breaks ties by lang ascending, so predictions can
    never flip on summation order.  Holdout documents whose every
    token is out-of-vocabulary fall back to the prior alone (the
    LEFT join + coalesce path).

    Scale shape: the model is (vocab x 5 classes) — token-grain,
    sublinear by Heaps' law; AQE broadcasts it into the scoring join
    while it fits and degrades to a token-keyed shuffle beyond.
    Scoring is explode -> join -> groupBy(doc, class); the argmax
    window partitions BY DOCUMENT (5 rows per partition), so no task
    ever sees more than one document's candidates.
    """
    d = T(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text",
        (md5_long(F.col("doc_id").cast("string")) % 100 < 80).alias("is_train"),
    )
    tok2 = d.select(
        "doc_id", "lang", "is_train",
        F.explode(F.split(ascii_lower(F.col("text")), " ")).alias("t"),
    ).filter(F.col("t") != "")
    train_tok = tok2.filter(F.col("is_train"))
    tc = train_tok.groupBy("lang", "t").agg(F.count(F.lit(1)).alias("c"))
    tot = train_tok.groupBy("lang").agg(F.count(F.lit(1)).alias("tl"))
    voc = train_tok.select("t").distinct()
    vs = voc.agg(F.count(F.lit(1)).alias("v"))
    tr = d.filter(F.col("is_train")).agg(F.count(F.lit(1)).alias("nd"))
    prior = (
        d.filter(F.col("is_train"))
        .groupBy("lang").agg(F.count(F.lit(1)).alias("dl"))
        .crossJoin(F.broadcast(tr))
        .select(
            "lang",
            F.expr("CAST(floor(ln(CAST(dl AS DOUBLE) / CAST(nd AS DOUBLE))"
                   " * 10000.0e0) AS BIGINT)").alias("pr4"),
        )
    )
    grid = (
        voc.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(vs))
        .join(tc, ["t", "lang"], "left")
        .select(
            "t", "lang",
            F.expr("CAST(floor(ln(CAST(COALESCE(c, 0) + 1 AS DOUBLE)"
                   " / CAST(tl + v AS DOUBLE)) * 10000.0e0) AS BIGINT)")
            .alias("lp4"),
        )
    )
    toksum = (
        tok2.filter(~F.col("is_train"))
        .join(grid.withColumnRenamed("lang", "lang_hyp"), "t")
        .groupBy("doc_id", "lang_hyp")
        .agg(F.sum("lp4").alias("s4"))
    )
    cand = (
        d.filter(~F.col("is_train"))
        .select("doc_id", F.col("lang").alias("lang_true"))
        .crossJoin(F.broadcast(prior.withColumnRenamed("lang", "lang_hyp")))
        .join(toksum, ["doc_id", "lang_hyp"], "left")
        .select(
            "doc_id", "lang_true", "lang_hyp",
            (F.col("pr4") + F.coalesce(F.col("s4"), F.lit(0))).alias("total4"),
        )
    )
    from pyspark.sql import Window as W

    pred = cand.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("doc_id")
            .orderBy(F.col("total4").desc(), F.col("lang_hyp").asc())
        ),
    ).filter(F.col("rn") == 1)
    return (
        pred.groupBy("lang_true", F.col("lang_hyp").alias("lang_pred"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang_true", "lang_pred")
    )


# --------------------------------------------------------------------
# sample-ratio mismatch: the pre-test every A/B readout must pass
# --------------------------------------------------------------------

_SRM_ORACLE = """
WITH u AS (
  SELECT DISTINCT user_id,
         CAST(CONCAT('0x', SUBSTRING(md5(CAST(user_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 2 = 1 AS treat
  FROM events
), s AS (
  SELECT CAST(count(*) FILTER (WHERE NOT treat) AS BIGINT) AS nu_control,
         CAST(count(*) FILTER (WHERE treat) AS BIGINT) AS nu_treatment
  FROM u
)
SELECT nu_control, nu_treatment,
       CAST(CAST((nu_control - nu_treatment) AS HUGEINT)
            * (nu_control - nu_treatment) * 1000000
            // greatest(nu_control + nu_treatment, 1) AS BIGINT) AS srm_chi2_1e6,
       CAST(CASE WHEN CAST((nu_control - nu_treatment) AS HUGEINT)
                      * (nu_control - nu_treatment) * 1000000
                      // greatest(nu_control + nu_treatment, 1) > 3841459
            THEN 1 ELSE 0 END AS BIGINT) AS srm_flag
FROM s
"""


@register("events_srm_check", oracle=_SRM_ORACLE,
          doc="sample-ratio-mismatch chi-squared on the per-USER arm "
              "split vs the designed 50/50 — the assignment-integrity "
              "pre-test that invalidates an A/B readout when it fires")
def events_srm_check(spark, sf_dir):
    """SRM test at the randomization-unit grain: count DISTINCT users
    per md5-parity arm (the same arms as events_ab_ztest) and compare
    to the designed 50/50 with the one-dof chi-squared
    ``(n1-n2)^2/(n1+n2)``.  An experimentation platform runs this
    before every readout: a mismatch means assignment or logging is
    broken and every downstream p-value is garbage.

    Exactness: pure integer arithmetic end-to-end — the chi-squared
    is a 128-bit product floored into 1e-6 units by integer division
    (DECIMAL(38,0)/HUGEINT: (n1-n2)^2 * 1e6 outgrows int64 by
    ~sf100), and the 5% verdict compares against the integer critical
    value 3.841459.

    Scale shape: groupBy(user_id) distinct then a two-counter global
    aggregate — one user-keyed shuffle, map-side partial distinct.
    """
    u = (
        T(spark, sf_dir, "events")
        .select(
            "user_id",
            (md5_long(F.col("user_id").cast("string")) % 2 == 1).alias("treat"),
        )
        .distinct()
    )
    s = u.agg(
        F.count(F.when(~F.col("treat"), 1)).alias("nu_control"),
        F.count(F.when(F.col("treat"), 1)).alias("nu_treatment"),
    )
    return s.select(
        "nu_control", "nu_treatment",
        F.expr(
            "CAST(CAST((nu_control - nu_treatment) AS DECIMAL(38,0))"
            " * (nu_control - nu_treatment) * 1000000"
            " div greatest(nu_control + nu_treatment, 1) AS BIGINT)"
        ).alias("srm_chi2_1e6"),
        F.expr(
            "CAST(CASE WHEN CAST((nu_control - nu_treatment) AS DECIMAL(38,0))"
            " * (nu_control - nu_treatment) * 1000000"
            " div greatest(nu_control + nu_treatment, 1) > 3841459"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("srm_flag"),
    )


# --------------------------------------------------------------------
# Kolmogorov-Smirnov two-sample: ECDF distance from the histogram
# --------------------------------------------------------------------

_KS_ORACLE = """
WITH f AS (
  SELECT o_totalprice AS v, o_orderpriority = '1-URGENT' AS g1
  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
), h AS (
  SELECT v, CAST(count(*) FILTER (WHERE g1) AS BIGINT) AS c1,
         CAST(count(*) FILTER (WHERE NOT g1) AS BIGINT) AS c2
  FROM f GROUP BY v
), p AS (
  SELECT v,
         CAST(sum(c1) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum1,
         CAST(sum(c2) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum2
  FROM h
), nn AS (
  SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2
  FROM h
), d AS (
  SELECT max(abs(CAST(cum1 AS HUGEINT) * nn.n2
                 - CAST(cum2 AS HUGEINT) * nn.n1)) AS dnum,
         nn.n1, nn.n2
  FROM p, nn GROUP BY nn.n1, nn.n2
)
SELECT n1 AS n_urgent, n2 AS n_low,
       CAST(dnum AS BIGINT) AS d_num,
       CAST(dnum * 1000000 // (CAST(n1 AS HUGEINT) * n2) AS BIGINT)
         AS d_1e6,
       CAST(CASE WHEN CAST(dnum AS DOUBLE)
                      / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
                 > 1.358e0 * sqrt((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                                  / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)))
            THEN 1 ELSE 0 END AS BIGINT) AS ks_reject_05
FROM d
"""


@register("orders_ks_test", oracle=_KS_ORACLE, bench=True,
          doc="two-sample Kolmogorov-Smirnov D between URGENT and LOW "
              "order prices — exact integer ECDF distance from the "
              "value-grain histogram, distributed prefix sums")
def orders_ks_test(spark, sf_dir):
    """KS distance D = max_v |F1(v) - F2(v)| computed EXACTLY in
    integers: per distinct value, the inclusive cumulative counts
    cum1/cum2 give |F1 - F2| = |cum1*n2 - cum2*n1| / (n1*n2), so the
    max runs over 128-bit integer cross-products (no float ever
    decides the argmax) and only the final ratio and the 5%
    large-sample verdict (c(alpha)=1.358 at alpha=.05) touch doubles
    — the same IEEE tree both engines, integer-floored output.

    Complements orders_mannwhitney_u on the same two groups: U sees
    location shifts, D sees ANY distributional difference (shape,
    spread, tails) — together the standard nonparametric pair.

    Scale shape: value-grain histogram, cumulative counts through
    ``_hist_prefix``'s two-pass bucketed form (both group counters in
    one pass), then a single max-aggregate.  No row-grain sort or
    global window; the 128-bit products run on histogram-grain rows.
    """
    f = T(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    ).select(
        F.col("o_totalprice").alias("v"),
        (F.col("o_orderpriority") == "1-URGENT").alias("g1"),
    )
    from wire_spark.queries._util import tracked_cache

    # cached: the prefix passes AND the group-total branch all hang
    # off the histogram — without the cache the `nn` branch re-derives
    # the orders scan (a silent second FileScan), and hanging nn off
    # the prefix relation instead would re-run the two-pass window
    # machinery (~4 extra stages) for two numbers the cached
    # histogram aggregates in one
    h = tracked_cache(f.groupBy("v").agg(
        F.count(F.when(F.col("g1"), 1)).alias("c1"),
        F.count(F.when(~F.col("g1"), 1)).alias("c2"),
    ))
    p = _hist_prefix(h, "v", {"cum1": "c1", "cum2": "c2"}, inclusive=True)
    nn = h.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    d = p.crossJoin(F.broadcast(nn)).agg(
        F.max(F.expr("abs(CAST(cum1 AS DECIMAL(38,0)) * n2"
                     " - CAST(cum2 AS DECIMAL(38,0)) * n1)")).alias("dnum"),
        F.first("n1").alias("n1"), F.first("n2").alias("n2"),
        # the no-groupBy agg over an EMPTY relation emits one all-NULL
        # sentinel row where the oracle's GROUP BY emits zero rows —
        # drop it (the quality_gini_stump lesson)
    ).filter(F.col("dnum").isNotNull())
    return d.select(
        F.col("n1").alias("n_urgent"), F.col("n2").alias("n_low"),
        F.expr("CAST(dnum AS BIGINT)").alias("d_num"),
        F.expr("CAST(dnum * 1000000 div (CAST(n1 AS DECIMAL(38,0)) * n2)"
               " AS BIGINT)").alias("d_1e6"),
        F.expr(
            "CAST(CASE WHEN CAST(dnum AS DOUBLE)"
            " / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))"
            " > 1.358e0 * sqrt((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))"
            " / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)))"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("ks_reject_05"),
    )


# --------------------------------------------------------------------
# CUPED: variance-reduced A/B readout with a pre-period covariate
# --------------------------------------------------------------------

_CUPED_ORACLE = EVENTS_SANITIZED_CTE + """,
pu AS (
  SELECT user_id,
         CAST(CONCAT('0x', SUBSTRING(md5(CAST(user_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 2 = 1 AS treat,
         CAST(count(*) FILTER (WHERE event_type = 'view'
              AND ts < TIMESTAMP '2024-01-08 00:00:00') AS BIGINT) AS x,
         CAST(COALESCE(sum(CAST(floor(value * 10000.0e0) AS BIGINT))
              FILTER (WHERE event_type = 'purchase'
              AND ts >= TIMESTAMP '2024-01-08 00:00:00'), 0) AS BIGINT) AS y4
  FROM events GROUP BY user_id
), m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y4) AS BIGINT) AS sy,
         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         CAST(sum(CAST(x AS HUGEINT) * y4) AS HUGEINT) AS sxy,
         CAST(sum(CAST(y4 AS HUGEINT) * y4) AS HUGEINT) AS syy,
         CAST(count(*) FILTER (WHERE NOT treat) AS BIGINT) AS n1,
         CAST(count(*) FILTER (WHERE treat) AS BIGINT) AS n2,
         CAST(sum(x) FILTER (WHERE NOT treat) AS BIGINT) AS sx1,
         CAST(sum(x) FILTER (WHERE treat) AS BIGINT) AS sx2,
         CAST(sum(y4) FILTER (WHERE NOT treat) AS BIGINT) AS sy1,
         CAST(sum(y4) FILTER (WHERE treat) AS BIGINT) AS sy2
  FROM pu
), t AS (
  SELECT n, n1, n2, sx1, sx2, sy1, sy2,
         CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS covn,
         CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS varxn,
         CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS varyn
  FROM m
), th AS (
  SELECT n, n1, n2, sx1, sx2, sy1, sy2, varxn, varyn, covn,
         CASE WHEN varxn > 0.0e0 THEN covn / varxn ELSE 0.0e0 END AS theta4
  FROM t
)
SELECT n AS n_users, n1 AS n_control, n2 AS n_treatment,
       CAST(floor(theta4) AS BIGINT) AS theta_1e4,
       CAST(floor(CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE)
            - CAST(sy2 AS DOUBLE) / CAST(n2 AS DOUBLE)) AS BIGINT)
         AS diff_raw_1e4,
       CAST(floor(CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE)
            - CAST(sy2 AS DOUBLE) / CAST(n2 AS DOUBLE)
            - theta4 * (CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                        - CAST(sx2 AS DOUBLE) / CAST(n2 AS DOUBLE)))
            AS BIGINT) AS diff_cuped_1e4,
       CAST(CASE WHEN varxn > 0.0e0 AND varyn > 0.0e0 THEN
         floor(covn * covn / (varxn * varyn) * 10000.0e0)
       ELSE 0 END AS BIGINT) AS var_reduction_1e4
FROM th
"""


@register("events_ab_cuped", oracle=_CUPED_ORACLE,
          doc="CUPED variance-reduced A/B effect: pre-period view "
              "count as covariate, experiment-period purchase value "
              "as metric — theta from pooled integer moments, "
              "adjusted lift plus the rho^2 variance reduction")
def events_ab_cuped(spark, sf_dir):
    """CUPED (Controlled-experiment Using Pre-Experiment Data, Deng
    et al. 2013 — the industry-standard sensitivity booster): per
    user, covariate x = week-1 view count (pre-period, fixed boundary
    2024-01-08 so a user's covariate never moves), metric y =
    post-boundary purchase value; theta = cov(x,y)/var(x) pooled,
    reported effect = raw mean lift minus theta times the covariate
    imbalance, and var_reduction = rho^2 (the fraction of metric
    variance CUPED removes).

    Exactness: per-user x is an integer and y accumulates per-row
    1e-4 floors, so all five pooled moments are exact integer sums
    (the x*y4 and y4^2 products outgrow int64 by ~sf100 — they
    accumulate in DECIMAL(38,0)/HUGEINT); theta conveniently lands
    in 1e-4 fixed point because y4 carries the scale.  Every double
    expression replays one IEEE op tree; zero covariate variance
    degrades to theta = 0 (plain diff) identically in both engines.

    Scale shape: ONE scan -> user-grain groupBy (the only shuffle)
    -> twelve-counter global aggregate.  The same conditional-
    aggregation trick as events_ab_ztest keeps arm splits out of a
    second pass.
    """
    pu = (
        events_sane(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            F.count(F.when(
                (F.col("event_type") == "view")
                & (F.col("ts") < F.lit("2024-01-08 00:00:00").cast("timestamp")),
                1)).alias("x"),
            F.coalesce(
                F.sum(F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") >= F.lit("2024-01-08 00:00:00").cast("timestamp")),
                    F.expr("CAST(floor(value * 10000.0e0) AS BIGINT)"))),
                F.lit(0)).alias("y4"),
        )
        .select(
            "x", "y4",
            (md5_long(F.col("user_id").cast("string")) % 2 == 1).alias("treat"),
        )
    )
    m = pu.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y4").alias("sy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("sxx"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * y4")).alias("sxy"),
        F.sum(F.expr("CAST(y4 AS DECIMAL(38,0)) * y4")).alias("syy"),
        F.count(F.when(~F.col("treat"), 1)).alias("n1"),
        F.count(F.when(F.col("treat"), 1)).alias("n2"),
        F.sum(F.when(~F.col("treat"), F.col("x"))).alias("sx1"),
        F.sum(F.when(F.col("treat"), F.col("x"))).alias("sx2"),
        F.sum(F.when(~F.col("treat"), F.col("y4"))).alias("sy1"),
        F.sum(F.when(F.col("treat"), F.col("y4"))).alias("sy2"),
    )
    t = m.select(
        "n", "n1", "n2", "sx1", "sx2", "sy1", "sy2",
        F.expr("CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
               " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)").alias("covn"),
        F.expr("CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
               " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)").alias("varxn"),
        F.expr("CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
               " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)").alias("varyn"),
    )
    th = t.select(
        "*",
        F.expr("CASE WHEN varxn > 0.0e0 THEN covn / varxn"
               " ELSE 0.0e0 END").alias("theta4"),
    )
    return th.select(
        F.col("n").alias("n_users"),
        F.col("n1").alias("n_control"),
        F.col("n2").alias("n_treatment"),
        F.expr("CAST(floor(theta4) AS BIGINT)").alias("theta_1e4"),
        F.expr("CAST(floor(CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
               " - CAST(sy2 AS DOUBLE) / CAST(n2 AS DOUBLE)) AS BIGINT)")
        .alias("diff_raw_1e4"),
        F.expr(
            "CAST(floor(CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
            " - CAST(sy2 AS DOUBLE) / CAST(n2 AS DOUBLE)"
            " - theta4 * (CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
            " - CAST(sx2 AS DOUBLE) / CAST(n2 AS DOUBLE))) AS BIGINT)"
        ).alias("diff_cuped_1e4"),
        F.expr(
            "CAST(CASE WHEN varxn > 0.0e0 AND varyn > 0.0e0 THEN"
            " floor(covn * covn / (varxn * varyn) * 10000.0e0)"
            " ELSE 0 END AS BIGINT)"
        ).alias("var_reduction_1e4"),
    )


# --------------------------------------------------------------------
# permutation test: clustering-correct inference via hash re-assignment
# --------------------------------------------------------------------

_PERM_B = 32

_PERM_ORACLE = f"""
WITH pu AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_ev,
         CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
           AS n_conv
  FROM events GROUP BY user_id
), arms AS (
  SELECT t.b,
         CASE WHEN t.b = 0 THEN
           CAST(CONCAT('0x', SUBSTRING(md5(CAST(user_id AS VARCHAR)),
                1, 15)) AS BIGINT) % 2 = 1
         ELSE
           CAST(CONCAT('0x', SUBSTRING(md5(CONCAT(CAST(user_id AS VARCHAR),
                '#', CAST(t.b AS VARCHAR))), 1, 15)) AS BIGINT) % 2 = 1
         END AS treat,
         n_ev, n_conv
  FROM pu CROSS JOIN (SELECT unnest(range(0, {_PERM_B} + 1)) AS b) t
), s AS (
  SELECT b,
         CAST(sum(n_ev) FILTER (WHERE NOT treat) AS BIGINT) AS e1,
         CAST(sum(n_ev) FILTER (WHERE treat) AS BIGINT) AS e2,
         CAST(sum(n_conv) FILTER (WHERE NOT treat) AS BIGINT) AS c1,
         CAST(sum(n_conv) FILTER (WHERE treat) AS BIGINT) AS c2
  FROM arms GROUP BY b
), st AS (
  SELECT b,
         CASE WHEN e1 > 0 AND e2 > 0 THEN
           abs(CAST(c1 AS DOUBLE) / CAST(e1 AS DOUBLE)
               - CAST(c2 AS DOUBLE) / CAST(e2 AS DOUBLE))
         ELSE 0.0e0 END AS stat
  FROM s
), obs AS (SELECT stat AS stat_obs FROM st WHERE b = 0)
SELECT CAST({_PERM_B} AS BIGINT) AS n_perms,
       CAST(count(*) FILTER (WHERE st.b > 0 AND st.stat >= obs.stat_obs)
            AS BIGINT) AS n_extreme,
       CAST((1 + count(*) FILTER (WHERE st.b > 0
            AND st.stat >= obs.stat_obs)) * 10000
            // ({_PERM_B} + 1) AS BIGINT) AS p_1e4,
       CAST(floor(obs.stat_obs * 1000000.0e0) AS BIGINT) AS stat_obs_1e6
FROM st CROSS JOIN obs
GROUP BY obs.stat_obs
"""


@register("events_permutation_test", oracle=_PERM_ORACLE, bench=True,
          doc="user-level permutation test of the conversion-rate "
              "gap — 32 hash-seeded re-assignments, clustering-"
              "correct p-value the naive event-grain z overstates")
def events_permutation_test(spark, sf_dir):
    """Permutation inference for the events_ab_ztest readout, done at
    the grain that makes it CORRECT under clustering: each
    pseudo-permutation b re-assigns whole USERS via md5(user#b)
    parity (b=0 is the observed md5(user) assignment), recomputes the
    event-grain conversion-rate gap, and the p-value is
    (1 + #{|stat_b| >= |stat_obs|}) / (B+1).  Because users — not
    events — are re-labeled, the null distribution preserves
    within-user correlation, which the naive z (independence across
    events) ignores; the spread between this p and the z's implied p
    measures the design effect of clustering.

    Exactness: the B+1 contingencies are integer sums regrouped from
    the per-user relation; each |rate gap| is one identical IEEE
    tree, the >=-comparison runs on identical doubles, and outputs
    floor into fixed point (empty pseudo-arms score 0 — never
    extreme — identically on both sides).

    Scale shape: one scan -> user-grain groupBy (the only data-sized
    shuffle) -> explode x(B+1) on the USER-grain relation (33x users,
    not 33x events) -> 4(B+1) counters via map-side combine.  B is a
    constant, so the whole null distribution costs one extra
    user-grain pass regardless of corpus size.
    """
    pu = T(spark, sf_dir, "events").groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_ev"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("n_conv"),
    )
    arms = pu.select(
        "n_ev", "n_conv",
        F.explode(F.sequence(F.lit(0), F.lit(_PERM_B))).alias("b"),
        F.col("user_id"),
    ).select(
        "b", "n_ev", "n_conv",
        F.when(
            F.col("b") == 0,
            md5_long(F.col("user_id").cast("string")) % 2 == 1,
        ).otherwise(
            md5_long(F.concat(F.col("user_id").cast("string"),
                              F.lit("#"), F.col("b").cast("string"))) % 2 == 1
        ).alias("treat"),
    )
    s = arms.groupBy("b").agg(
        F.sum(F.when(~F.col("treat"), F.col("n_ev"))).alias("e1"),
        F.sum(F.when(F.col("treat"), F.col("n_ev"))).alias("e2"),
        F.sum(F.when(~F.col("treat"), F.col("n_conv"))).alias("c1"),
        F.sum(F.when(F.col("treat"), F.col("n_conv"))).alias("c2"),
    )
    # st is B+1 = 33 rows but feeds TWO consumers (the b=0 observed
    # slice and the permutation count); materialized once so the
    # user-grain explode/aggregate pipeline does not execute twice
    st = materialize(s.select(
        "b",
        F.expr(
            "CASE WHEN e1 > 0 AND e2 > 0 THEN"
            " abs(CAST(c1 AS DOUBLE) / CAST(e1 AS DOUBLE)"
            " - CAST(c2 AS DOUBLE) / CAST(e2 AS DOUBLE))"
            " ELSE 0.0e0 END"
        ).alias("stat"),
    ))
    obs = st.filter(F.col("b") == 0).select(F.col("stat").alias("stat_obs"))
    return (
        st.crossJoin(F.broadcast(obs))
        .groupBy("stat_obs")
        .agg(
            F.lit(_PERM_B).cast("long").alias("n_perms"),
            F.count(F.when((F.col("b") > 0)
                           & (F.col("stat") >= F.col("stat_obs")), 1))
            .alias("n_extreme"),
        )
        .select(
            "n_perms", "n_extreme",
            F.expr(f"CAST((1 + n_extreme) * 10000 div ({_PERM_B} + 1)"
                   " AS BIGINT)").alias("p_1e4"),
            F.expr("CAST(floor(stat_obs * 1000000.0e0) AS BIGINT)")
            .alias("stat_obs_1e6"),
        )
    )


# --------------------------------------------------------------------
# sequential SRM: daily cumulative assignment-integrity looks
# --------------------------------------------------------------------

_SRM_SEQ_ORACLE = """
WITH fs AS (
  SELECT user_id, min(strftime(ts, '%Y-%m-%d')) AS d0,
         CAST(CONCAT('0x', SUBSTRING(md5(CAST(user_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 2 = 1 AS treat
  FROM events GROUP BY user_id
), d AS (
  SELECT d0 AS day,
         CAST(count(*) FILTER (WHERE NOT treat) AS BIGINT) AS nc,
         CAST(count(*) FILTER (WHERE treat) AS BIGINT) AS nt
  FROM fs GROUP BY d0
), c AS (
  SELECT day,
         CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS look,
         CAST(count(*) OVER () AS BIGINT) AS k_looks,
         CAST(sum(nc) OVER (ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS nu_control_cum,
         CAST(sum(nt) OVER (ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS nu_treatment_cum
  FROM d
)
SELECT day, look, nu_control_cum, nu_treatment_cum,
       CAST(CAST((nu_control_cum - nu_treatment_cum) AS HUGEINT)
            * (nu_control_cum - nu_treatment_cum) * 1000000
            // (nu_control_cum + nu_treatment_cum) AS BIGINT)
         AS srm_chi2_1e6,
       CAST(3841459 * k_looks // look AS BIGINT) AS bound_1e6,
       CAST(CASE WHEN CAST((nu_control_cum - nu_treatment_cum) AS HUGEINT)
                      * (nu_control_cum - nu_treatment_cum) * 1000000
                      // (nu_control_cum + nu_treatment_cum)
                 > 3841459 * k_looks // look
            THEN 1 ELSE 0 END AS BIGINT) AS flag
FROM c ORDER BY look
"""


@register("events_srm_sequential", oracle=_SRM_SEQ_ORACLE, bench=True,
          doc="daily sequential SRM looks: cumulative per-arm distinct "
              "user counts and chi-squared against an OBF-shaped "
              "inflated critical value — 100% integer arithmetic, "
              "localizes WHEN assignment broke")
def events_srm_sequential(spark, sf_dir):
    """Sequential sibling of ``events_srm_check``: one look per day,
    the chi-squared on CUMULATIVE per-arm distinct-user counts, and
    the O'Brien-Fleming-shaped critical value 3.841459 * K/i (the z
    boundary z_.975*sqrt(K/i) squared — conservative early, nominal
    at the final look).  The batch SRM says WHETHER assignment is
    broken; the daily flag column says WHEN it broke, without the
    peeking inflation of re-running the fixed-horizon test each day.

    A user enters the cumulative counts on their FIRST-SEEN day
    (min event date), so each user is counted once and the counts
    are true distincts; looks fall on days when at least one new
    user appeared.

    Exactness: 100% integer arithmetic — no doubles anywhere: the
    chi-squared is the 128-bit product floored into 1e-6 units
    (DECIMAL(38,0)/HUGEINT), and the boundary is the integer
    division 3841459*K div i (operands non-negative, so Spark's
    truncating div and DuckDB's flooring // agree).

    Scale shape: one scan -> user-grain groupBy (the one data-sized
    shuffle; min-date and the md5 arm are map-side partial) ->
    day-grain counters; the cumulative window runs over the
    calendar-bounded day relation (the events_group_sequential
    exception).
    """
    fs = T(spark, sf_dir, "events").groupBy("user_id").agg(
        F.min(F.date_format("ts", "yyyy-MM-dd")).alias("d0"))
    d = fs.select(
        F.col("d0").alias("day"),
        (md5_long(F.col("user_id").cast("string")) % 2 == 1).alias("treat"),
    ).groupBy("day").agg(
        F.count(F.when(~F.col("treat"), 1)).alias("nc"),
        F.count(F.when(F.col("treat"), 1)).alias("nt"),
    )
    from pyspark.sql import Window as W
    w = W.orderBy("day")
    w_cum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    w_all = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    c = d.select(
        "day",
        F.row_number().over(w).cast("long").alias("look"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("k_looks"),
        F.sum("nc").over(w_cum).alias("nu_control_cum"),
        F.sum("nt").over(w_cum).alias("nu_treatment_cum"),
    )
    return c.select(
        "day", "look", "nu_control_cum", "nu_treatment_cum",
        F.expr(
            "CAST(CAST((nu_control_cum - nu_treatment_cum) AS DECIMAL(38,0))"
            " * (nu_control_cum - nu_treatment_cum) * 1000000"
            " div (nu_control_cum + nu_treatment_cum) AS BIGINT)"
        ).alias("srm_chi2_1e6"),
        F.expr("CAST(3841459 * k_looks div look AS BIGINT)").alias("bound_1e6"),
        F.expr(
            "CAST(CASE WHEN CAST((nu_control_cum - nu_treatment_cum)"
            " AS DECIMAL(38,0))"
            " * (nu_control_cum - nu_treatment_cum) * 1000000"
            " div (nu_control_cum + nu_treatment_cum)"
            " > 3841459 * k_looks div look"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("flag"),
    ).orderBy("look")


# --------------------------------------------------------------------
# Benford first-digit audit: forensic data-quality check on amounts
# --------------------------------------------------------------------

# round(log10(1 + 1/d) * 1e6) for d = 1..9; the rounded integers sum
# to exactly 1,000,000, so expected counts partition n with no
# remainder drift.
_BENFORD_P_1E6 = (
    (1, 301030), (2, 176091), (3, 124939), (4, 96910), (5, 79181),
    (6, 66947), (7, 57992), (8, 51153), (9, 45757),
)

_BENFORD_ORACLE = """
WITH digits(digit, p_1e6) AS (
  VALUES (1, 301030), (2, 176091), (3, 124939), (4, 96910),
         (5, 79181), (6, 66947), (7, 57992), (8, 51153), (9, 45757)
), obs AS (
  SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT)
                             AS VARCHAR), 1, 1) AS BIGINT) AS digit,
         CAST(count(*) AS BIGINT) AS n_obs
  FROM orders GROUP BY 1
), j AS (
  SELECT d.digit, coalesce(o.n_obs, 0) AS n_obs, CAST(d.p_1e6 AS BIGINT) AS p_1e6,
         CAST(sum(coalesce(o.n_obs, 0)) OVER () AS BIGINT) AS n_total
  FROM digits d LEFT JOIN obs o ON o.digit = d.digit
)
SELECT CAST(digit AS BIGINT) AS digit, n_obs,
       n_total * p_1e6 AS expected_1e6,
       CAST(CAST((n_obs * 1000000 - n_total * p_1e6) AS HUGEINT)
            * (n_obs * 1000000 - n_total * p_1e6)
            // greatest(n_total * p_1e6, 1) AS BIGINT) AS chi2_contrib_1e6
FROM j ORDER BY digit
"""


@register("orders_benford_audit", oracle=_BENFORD_ORACLE, bench=True,
          doc="Benford first-digit forensic audit of order totals: "
              "observed vs log10(1+1/d) expected counts and integer "
              "chi-squared contributions in 1e-6 units")
def orders_benford_audit(spark, sf_dir):
    """First-digit (Benford's-law) audit of ``o_totalprice`` — the
    classic forensic screen for fabricated or truncated monetary
    data.  Emits, per leading digit 1-9: the observed count, the
    Benford-expected count in 1e-6 units (``n * round(log10(1+1/d)
    * 1e6)`` — the nine rounded constants sum to exactly 10^6, so
    the expectations partition n), and the chi-squared contribution
    ``(O - E)^2 / E`` floored into 1e-6 count units.

    Leading-digit extraction is exact cross-engine: ``floor`` of the
    DOUBLE price is an integral double (no rounding), the BIGINT
    cast is exact, and the first character of its decimal rendering
    is the digit — no float log10 anywhere.  The squared deviation
    runs in DECIMAL(38,0)/HUGEINT (at 100 TB, n*1e6 ~ 1e16 and its
    square overflows int64); the divisor is guarded with
    ``greatest(..., 1)`` so a degenerate empty table agrees across
    engines instead of NULL-vs-error divergence.

    Scale shape: one scan -> 9-group partial-aggregated count (the
    only data-sized step); the aggregated 9-row observed relation is
    broadcast into the constant digit table (right side of the left
    join — the side Spark can build), and the total-n window runs
    over 9 rows.
    Reference anchor: extends the analytics surface past
    tarungka/wire's declared aggregation intent (ROADMAP.md:96-107).
    """
    digits = local_df(spark, list(_BENFORD_P_1E6), "digit long, p_1e6 long")
    obs = (
        T(spark, sf_dir, "orders")
        .select(
            F.substring(
                F.floor("o_totalprice").cast("long").cast("string"), 1, 1
            ).cast("long").alias("digit"))
        .groupBy("digit").agg(F.count(F.lit(1)).alias("n_obs"))
    )
    from pyspark.sql import Window as W
    w_all = W.partitionBy().rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing)
    j = (
        digits.join(F.broadcast(obs), "digit", "left")
        .select(
            "digit", "p_1e6",
            F.coalesce("n_obs", F.lit(0)).alias("n_obs"))
        .withColumn("n_total", F.sum("n_obs").over(w_all))
    )
    return j.select(
        "digit", "n_obs",
        (F.col("n_total") * F.col("p_1e6")).alias("expected_1e6"),
        F.expr(
            "CAST(CAST((n_obs * 1000000 - n_total * p_1e6) AS DECIMAL(38,0))"
            " * (n_obs * 1000000 - n_total * p_1e6)"
            " div greatest(n_total * p_1e6, 1) AS BIGINT)"
        ).alias("chi2_contrib_1e6"),
    ).orderBy("digit")
