"""Time-series diagnostics + treatment heterogeneity (round 9, wave 5).

The events family has anomaly scoring (hourly z, CUSUM, Fano,
lead-lag), trends (OLS), and calendars (growth, resample) — but no
autocorrelation structure, no forecasting loop, and no heterogeneous
treatment readout.  This module adds the three:

- ``events_acf_daily``: the autocorrelation function of the daily
  activity series at lags 1..7 — the first thing a forecaster looks
  at, and the independence diagnostic the hourly-z anomaly detector
  implicitly assumes away.
- ``events_ses_forecast``: a one-step-ahead simple-exponential-
  smoothing backtest with alpha = 1/2 — EXACT, because dyadic weights
  unroll into integer bit-shifts (no libm pow in the statistic).
- ``events_cate_by_segment``: conditional average treatment effects
  by pre-period activity segment — the heterogeneity table that says
  WHO the treatment moved, the per-segment sibling of
  events_quantile_treatment_effect's distributional view.

Reference anchor: tarungka/wire declares aggregation/analytics intent
only (ROADMAP.md:96-107); these extend the analytics surface the
brief asks for beyond the reference.

Cross-engine exactness (PARITY.md rules): counts are integers; wide
products run in DECIMAL(38,0)/HUGEINT; ratios are one identical IEEE
tree floored into fixed point; the SES forecast never touches a
float at all (dyadic weights as shiftleft, one exact integer div).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from wire_spark.catalog import register
from wire_spark.queries._util import EVENTS_TIMED_CTE, T, events_timed, md5_long

# --------------------------------------------------------------------
# autocorrelation function of the daily activity series
# --------------------------------------------------------------------

_ACF_ORACLE = EVENTS_TIMED_CTE + """,
d AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day, CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY day
), i AS (
  SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS ix, y FROM d
), pr AS (
  SELECT l.lag, a.y AS x, b.y AS z
  FROM i a
  CROSS JOIN (SELECT unnest(range(1, 8)) AS lag) l
  JOIN i b ON b.ix = a.ix + l.lag
), m AS (
  SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(z) AS HUGEINT) AS sz,
         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         CAST(sum(CAST(z AS HUGEINT) * z) AS HUGEINT) AS szz,
         CAST(sum(CAST(x AS HUGEINT) * z) AS HUGEINT) AS sxz
  FROM pr GROUP BY lag
)
SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
       CAST(CASE WHEN n_pairs * sxx - sx * sx > 0
                 AND n_pairs * szz - sz * sz > 0 THEN
         floor((CAST(n_pairs * sxz - sx * sz AS DOUBLE)
                / sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE)
                       * CAST(n_pairs * szz - sz * sz AS DOUBLE)))
               * 1000000.0e0)
       ELSE 0 END AS BIGINT) AS r_1e6
FROM m ORDER BY lag
"""


@register("events_acf_daily", oracle=_ACF_ORACLE, bench=True,
          doc="autocorrelation of the daily event-count series at "
              "lags 1..7 — exact integer moments over day-index "
              "pairs, the forecaster's first diagnostic")
def events_acf_daily(spark, sf_dir):
    """ACF at lags 1..7 of the daily total-activity series: Pearson r
    between (y_i, y_{i+L}) pairs, from exact integer sufficient
    statistics — n*Sxz - Sx*Sz over the 128-bit-exact moment products,
    one sqrt at the end, floored to 1e-6.  Zero-variance sides (a
    constant series) gate to r = 0 identically on both engines.

    Scale shape: one scan -> day-grain aggregate (map-side combine;
    the shuffle carries days x 1 counter).  The lag explode and
    self-join run on the DAY-grain relation — calendar-bounded
    (365 rows/year at any corpus size), same exception as
    events_group_sequential.  The 128-bit products run on 7 x days
    rows.
    """
    d = events_timed(spark, sf_dir).groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.count(F.lit(1)).alias("y"))
    i = d.select(
        F.row_number().over(W.orderBy("day")).cast("long").alias("ix"),
        "y",
    )
    a = i.select(
        "ix", F.col("y").alias("x"),
        F.explode(F.expr("sequence(1, 7)")).alias("lag"),
    ).select("lag", "x", (F.col("ix") + F.col("lag")).alias("tix"))
    pr = a.join(i.select(F.col("ix").alias("tix"), F.col("y").alias("z")),
                "tix")
    m = pr.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.expr("sum(CAST(x AS DECIMAL(38,0)))").alias("sx"),
        F.expr("sum(CAST(z AS DECIMAL(38,0)))").alias("sz"),
        F.expr("sum(CAST(x AS DECIMAL(19,0)) * x)").alias("sxx"),
        F.expr("sum(CAST(z AS DECIMAL(19,0)) * z)").alias("szz"),
        F.expr("sum(CAST(x AS DECIMAL(19,0)) * z)").alias("sxz"),
    )
    return m.select(
        F.col("lag").cast("long").alias("lag"), "n_pairs",
        F.expr(
            "CAST(CASE WHEN n_pairs * sxx - sx * sx > 0"
            " AND n_pairs * szz - sz * sz > 0 THEN"
            " floor((CAST(n_pairs * sxz - sx * sz AS DOUBLE)"
            " / sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE)"
            " * CAST(n_pairs * szz - sz * sz AS DOUBLE)))"
            " * 1000000.0e0)"
            " ELSE 0 END AS BIGINT)"
        ).alias("r_1e6"),
    ).orderBy("lag")


# --------------------------------------------------------------------
# simple-exponential-smoothing one-step backtest (dyadic, exact)
# --------------------------------------------------------------------

_SES_ORACLE = EVENTS_TIMED_CTE + """,
d AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day, CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY day
), i AS (
  SELECT day, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS ix, y
  FROM d
), pr AS (
  SELECT t.day, t.ix, t.y,
         CAST(m.y AS HUGEINT)
           * (CAST(1 AS BIGINT) << CAST(CASE WHEN m.ix = 1
                THEN 32 - t.ix ELSE 30 - (t.ix - m.ix) END AS INTEGER))
           AS contrib
  FROM i t JOIN i m
    ON m.ix < t.ix
   AND (t.ix - m.ix <= 30 OR (m.ix = 1 AND t.ix <= 32))
  WHERE t.ix >= 2
), f AS (
  SELECT day, ix, y,
         CAST(sum(contrib) * 10000 // 1073741824 AS BIGINT) AS yhat_1e4
  FROM pr GROUP BY day, ix, y
)
SELECT day, ix AS look, y, yhat_1e4,
       CAST(abs(yhat_1e4 - y * 10000) AS BIGINT) AS abs_err_1e4
FROM f ORDER BY look
"""


@register("events_ses_forecast", oracle=_SES_ORACLE, bench=True,
          doc="one-step-ahead exponential-smoothing backtest "
              "(alpha=1/2) on daily activity — EXACT: dyadic weights "
              "unroll to integer bit-shifts, no float in the forecast")
def events_ses_forecast(spark, sf_dir):
    """SES backtest: forecast yhat_t = s_{t-1} where s_t =
    (y_t + s_{t-1})/2, s_1 = y_1 — unrolled, yhat_t =
    sum_{m=2}^{t-1} y_m * 2^-(t-m) + y_1 * 2^-(t-2).

    Exactness: alpha = 1/2 makes every weight a power of two, so the
    forecast numerator is an exact INTEGER in 2^-30 units — each
    contribution is ``y_m << (30 - (t-m))`` (the m=1 boundary term
    carries the tail mass, one bit higher), summed in
    DECIMAL(38,0)/HUGEINT and floored into 1e-4 units by one exact
    integer division.  No libm pow, no float summation order —
    the whole statistic is integer arithmetic (contrast
    events_time_decay, whose pow(0.5, x) is float but exact for the
    same dyadic reason).  Weights below 2^-30 are identically zero
    in these units on both engines — a documented 30-day memory
    horizon, which is also what bounds the join fan-in.

    Scale shape: one scan -> day-grain aggregate; the backtest
    self-join runs on the DAY-grain relation with a <=30-row fan-in
    per target day — calendar-bounded like events_group_sequential.
    """
    d = events_timed(spark, sf_dir).groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.count(F.lit(1)).alias("y"))
    i = d.select(
        "day", F.row_number().over(W.orderBy("day")).cast("long").alias("ix"),
        "y",
    )
    t = i.select(F.col("day").alias("t_day"), F.col("ix").alias("tix"),
                 F.col("y").alias("ty")).filter(F.col("tix") >= 2)
    m = i.select(F.col("ix").alias("mix"), F.col("y").alias("my"))
    pr = t.join(
        m,
        (F.col("mix") < F.col("tix"))
        & ((F.col("tix") - F.col("mix") <= 30)
           | ((F.col("mix") == 1) & (F.col("tix") <= 32))),
    ).select(
        "t_day", "tix", "ty",
        F.expr(
            "CAST(my AS DECIMAL(38,0))"
            " * shiftleft(CAST(1 AS BIGINT), CAST(CASE WHEN mix = 1"
            " THEN 32 - tix ELSE 30 - (tix - mix) END AS INT))"
        ).alias("contrib"),
    )
    f = pr.groupBy("t_day", "tix", "ty").agg(
        F.expr("CAST(sum(contrib) * 10000 div 1073741824 AS BIGINT)")
        .alias("yhat_1e4"))
    return f.select(
        F.col("t_day").alias("day"), F.col("tix").alias("look"),
        F.col("ty").alias("y"), "yhat_1e4",
        F.expr("CAST(abs(yhat_1e4 - ty * 10000) AS BIGINT)")
        .alias("abs_err_1e4"),
    ).orderBy("look")


# --------------------------------------------------------------------
# conditional average treatment effect by pre-period activity segment
# --------------------------------------------------------------------

_CATE_ORACLE = """
WITH pu AS (
  SELECT user_id,
         CAST(CONCAT('0x', SUBSTRING(md5(CAST(user_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 2 = 1 AS treat,
         CAST(count(*) FILTER (WHERE ts < TIMESTAMP '2024-01-08 00:00:00')
              AS BIGINT) AS x,
         CAST(CASE WHEN count(*) FILTER (WHERE event_type = 'purchase'
              AND ts >= TIMESTAMP '2024-01-08 00:00:00') > 0
              THEN 1 ELSE 0 END AS BIGINT) AS conv
  FROM events GROUP BY user_id
), seg AS (
  SELECT CASE WHEN x = 0 THEN '0_none' WHEN x <= 2 THEN '1_low'
              WHEN x <= 7 THEN '2_mid' WHEN x <= 20 THEN '3_high'
              ELSE '4_power' END AS segment,
         treat, conv
  FROM pu
), s AS (
  SELECT segment,
         CAST(count(*) FILTER (WHERE NOT treat) AS BIGINT) AS n_control,
         CAST(count(*) FILTER (WHERE treat) AS BIGINT) AS n_treatment,
         CAST(COALESCE(sum(conv) FILTER (WHERE NOT treat), 0) AS BIGINT)
           AS conv_control,
         CAST(COALESCE(sum(conv) FILTER (WHERE treat), 0) AS BIGINT)
           AS conv_treatment
  FROM seg GROUP BY segment
), z AS (
  SELECT s.*,
         CASE WHEN n_control > 0 AND n_treatment > 0 THEN
           CAST(conv_treatment AS DOUBLE) / CAST(n_treatment AS DOUBLE)
           - CAST(conv_control AS DOUBLE) / CAST(n_control AS DOUBLE)
         ELSE 0.0e0 END AS lift,
         CASE WHEN n_control > 0 AND n_treatment > 0
                   AND conv_control + conv_treatment > 0
                   AND conv_control + conv_treatment
                       < n_control + n_treatment THEN
           (CAST(conv_treatment AS DOUBLE) / CAST(n_treatment AS DOUBLE)
            - CAST(conv_control AS DOUBLE) / CAST(n_control AS DOUBLE))
           / sqrt((CAST(conv_control + conv_treatment AS DOUBLE)
                   / CAST(n_control + n_treatment AS DOUBLE))
                  * (1.0e0 - CAST(conv_control + conv_treatment AS DOUBLE)
                     / CAST(n_control + n_treatment AS DOUBLE))
                  * (1.0e0 / CAST(n_control AS DOUBLE)
                     + 1.0e0 / CAST(n_treatment AS DOUBLE)))
         ELSE 0.0e0 END AS zv
  FROM s
)
SELECT segment, n_control, n_treatment, conv_control, conv_treatment,
       CAST(floor(lift * 10000.0e0) AS BIGINT) AS lift_1e4,
       CAST(floor(zv * 10000.0e0) AS BIGINT) AS z_1e4
FROM z ORDER BY segment
"""


@register("events_cate_by_segment", oracle=_CATE_ORACLE, bench=True,
          doc="conditional average treatment effect by pre-period "
              "activity segment — per-segment conversion lift and z, "
              "the WHO-did-it-move heterogeneity table")
def events_cate_by_segment(spark, sf_dir):
    """CATE table: users are segmented by PRE-period activity (ALL
    events before the frozen 2024-01-08 boundary — the same frozen
    boundary as events_ab_cuped, though CUPED's covariate counts
    only views; freezing it means the treatment can never move a
    user's segment), outcome is POST-period purchase conversion at
    the user grain, and each segment reports its own arm sizes,
    conversion lift, and pooled z.  A flat average hides a treatment
    that helps power users and hurts new ones; this is the standard
    slice that shows it.

    Segments are FIXED count bands (0 / 1-2 / 3-7 / 8-20 / 21+),
    not data-derived quantiles — a user's segment is stable as the
    corpus grows (the split_group_aware determinism property), and
    the oracle needs no quantile parity.

    Exactness: per-segment integer counters; lift and z are one
    IEEE tree each over integer-derived doubles, floored to 1e-4,
    with the degenerate-pool gates explicit on both sides.

    Scale shape: one scan -> user-grain groupBy (the one data-sized
    shuffle, map-side partial) -> segment-grain counters via
    map-side combine.  Nothing downstream of the user aggregate is
    data-sized.
    """
    pu = T(spark, sf_dir, "events").groupBy("user_id").agg(
        F.count(F.when(
            F.col("ts") < F.lit("2024-01-08 00:00:00").cast("timestamp"), 1
        )).alias("x"),
        F.when(
            F.count(F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts")
                   >= F.lit("2024-01-08 00:00:00").cast("timestamp")), 1
            )) > 0, 1
        ).otherwise(0).cast("long").alias("conv"),
    ).select(
        (md5_long(F.col("user_id").cast("string")) % 2 == 1).alias("treat"),
        F.expr(
            "CASE WHEN x = 0 THEN '0_none' WHEN x <= 2 THEN '1_low'"
            " WHEN x <= 7 THEN '2_mid' WHEN x <= 20 THEN '3_high'"
            " ELSE '4_power' END"
        ).alias("segment"),
        "conv",
    )
    s = pu.groupBy("segment").agg(
        F.count(F.when(~F.col("treat"), 1)).alias("n_control"),
        F.count(F.when(F.col("treat"), 1)).alias("n_treatment"),
        F.coalesce(F.sum(F.when(~F.col("treat"), F.col("conv"))), F.lit(0))
        .alias("conv_control"),
        F.coalesce(F.sum(F.when(F.col("treat"), F.col("conv"))), F.lit(0))
        .alias("conv_treatment"),
    )
    z = s.select(
        "*",
        F.expr(
            "CASE WHEN n_control > 0 AND n_treatment > 0 THEN"
            " CAST(conv_treatment AS DOUBLE) / CAST(n_treatment AS DOUBLE)"
            " - CAST(conv_control AS DOUBLE) / CAST(n_control AS DOUBLE)"
            " ELSE 0.0e0 END"
        ).alias("lift"),
        F.expr(
            "CASE WHEN n_control > 0 AND n_treatment > 0"
            " AND conv_control + conv_treatment > 0"
            " AND conv_control + conv_treatment"
            " < n_control + n_treatment THEN"
            " (CAST(conv_treatment AS DOUBLE) / CAST(n_treatment AS DOUBLE)"
            " - CAST(conv_control AS DOUBLE) / CAST(n_control AS DOUBLE))"
            " / sqrt((CAST(conv_control + conv_treatment AS DOUBLE)"
            " / CAST(n_control + n_treatment AS DOUBLE))"
            " * (1.0e0 - CAST(conv_control + conv_treatment AS DOUBLE)"
            " / CAST(n_control + n_treatment AS DOUBLE))"
            " * (1.0e0 / CAST(n_control AS DOUBLE)"
            " + 1.0e0 / CAST(n_treatment AS DOUBLE)))"
            " ELSE 0.0e0 END"
        ).alias("zv"),
    )
    return z.select(
        "segment", "n_control", "n_treatment",
        "conv_control", "conv_treatment",
        F.expr("CAST(floor(lift * 10000.0e0) AS BIGINT)").alias("lift_1e4"),
        F.expr("CAST(floor(zv * 10000.0e0) AS BIGINT)").alias("z_1e4"),
    ).orderBy("segment")


# --------------------------------------------------------------------
# one-step-ahead backtest of the four classic forecast baselines
# --------------------------------------------------------------------

_BASELINES_ORACLE = EVENTS_TIMED_CTE + """,
d AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day, CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY day
), dec AS (
  SELECT y,
         CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS ix,
         CAST(first_value(y) OVER (ORDER BY day) AS BIGINT) AS y1,
         CAST(lag(y, 1) OVER (ORDER BY day) AS BIGINT) AS l1,
         CAST(lag(y, 7) OVER (ORDER BY day) AS BIGINT) AS l7,
         CAST(sum(y) OVER (ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              AS BIGINT) AS cum
  FROM d
), e AS (
  SELECT
    CASE WHEN ix >= 2 THEN abs(y - l1) * 1000000 END AS e_naive,
    CASE WHEN ix >= 8 THEN abs(y - l7) * 1000000 END AS e_snaive,
    CASE WHEN ix >= 3 THEN abs(y * 1000000
         - (l1 * 1000000 + (l1 - y1) * 1000000 // (ix - 2))) END AS e_drift,
    CASE WHEN ix >= 2 THEN abs(y * 1000000
         - cum * 1000000 // (ix - 1)) END AS e_mean
  FROM dec
), a AS (
  SELECT CAST(count(e_naive) AS BIGINT) AS nn,
         CAST(coalesce(sum(e_naive), 0) AS BIGINT) AS sn,
         CAST(count(e_snaive) AS BIGINT) AS ns,
         CAST(coalesce(sum(e_snaive), 0) AS BIGINT) AS ss,
         CAST(count(e_drift) AS BIGINT) AS nd,
         CAST(coalesce(sum(e_drift), 0) AS BIGINT) AS sd,
         CAST(count(e_mean) AS BIGINT) AS nm,
         CAST(coalesce(sum(e_mean), 0) AS BIGINT) AS sm
  FROM e
)
SELECT method, n_evals, CAST(s // greatest(n_evals, 1) AS BIGINT) AS mae_1e6
FROM (
  SELECT 'naive' AS method, nn AS n_evals, sn AS s FROM a
  UNION ALL SELECT 'seasonal_naive_7', ns, ss FROM a
  UNION ALL SELECT 'drift', nd, sd FROM a
  UNION ALL SELECT 'expanding_mean', nm, sm FROM a
) ORDER BY method
"""


@register("events_forecast_baselines", oracle=_BASELINES_ORACLE, bench=True,
          doc="one-step-ahead backtest of the four classic forecast "
              "baselines (naive, seasonal-naive-7, drift, expanding "
              "mean) on the daily series: integer MAE in 1e-6 units")
def events_forecast_baselines(spark, sf_dir):
    """Hyndman's four benchmark forecasts, backtested one step ahead
    on the daily activity series — the bar every real forecasting
    model (including ``events_ses_forecast``) must clear: naive
    (y[t-1]), seasonal naive (y[t-7]), drift (y[t-1] + the average
    historical step), and the expanding mean.  Emits per-method eval
    counts and MAE floored into 1e-6 units.

    Exactness: the whole backtest is integer arithmetic.  The drift
    slope numerator ``(y[t-1] - y[1]) * 1e6`` CAN be negative —
    measured (and recorded in the verify recipe): DuckDB's ``//``
    on INTEGER operands truncates toward zero exactly like Spark's
    ``div``, so the plain quotient is engine-identical including on
    negative slopes; only a Python ``//`` replay (which FLOORS)
    needs a truncation adjustment.  The expanding-mean numerator is
    non-negative, where every convention agrees.

    Scale shape: one scan -> day-grain counts (map-side partial);
    the decoration windows run over the calendar-bounded day
    relation (the events_ses_forecast exception), and the backtest
    reduces to ONE 8-column aggregate unpivoted into 4 rows — no
    per-method re-derivation.
    """
    d = (
        events_timed(spark, sf_dir)
        .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(F.count(F.lit(1)).alias("y"))
    )
    w = W.orderBy("day")
    dec = d.select(
        "y",
        F.row_number().over(w).cast("long").alias("ix"),
        F.first("y").over(
            w.rowsBetween(W.unboundedPreceding, W.currentRow)).alias("y1"),
        F.lag("y", 1).over(w).alias("l1"),
        F.lag("y", 7).over(w).alias("l7"),
        F.sum("y").over(
            w.rowsBetween(W.unboundedPreceding, -1)).alias("cum"),
    )
    e = dec.select(
        F.expr("CASE WHEN ix >= 2 THEN abs(y - l1) * 1000000 END")
        .alias("e_naive"),
        F.expr("CASE WHEN ix >= 8 THEN abs(y - l7) * 1000000 END")
        .alias("e_snaive"),
        F.expr(
            "CASE WHEN ix >= 3 THEN abs(y * 1000000 - (l1 * 1000000"
            " + (l1 - y1) * 1000000 div (ix - 2))) END"
        ).alias("e_drift"),
        F.expr(
            "CASE WHEN ix >= 2 THEN"
            " abs(y * 1000000 - cum * 1000000 div (ix - 1)) END"
        ).alias("e_mean"),
    )
    a = e.agg(
        F.count("e_naive").alias("nn"),
        F.coalesce(F.sum("e_naive"), F.lit(0)).alias("sn"),
        F.count("e_snaive").alias("ns"),
        F.coalesce(F.sum("e_snaive"), F.lit(0)).alias("ss"),
        F.count("e_drift").alias("nd"),
        F.coalesce(F.sum("e_drift"), F.lit(0)).alias("sd"),
        F.count("e_mean").alias("nm"),
        F.coalesce(F.sum("e_mean"), F.lit(0)).alias("sm"),
    )
    return (
        a.select(F.expr(
            "stack(4, 'naive', nn, sn,"
            " 'seasonal_naive_7', ns, ss,"
            " 'drift', nd, sd,"
            " 'expanding_mean', nm, sm) AS (method, n_evals, s)"))
        .select(
            "method", "n_evals",
            F.expr("CAST(s div greatest(n_evals, 1) AS BIGINT)")
            .alias("mae_1e6"))
        .orderBy("method")
    )
