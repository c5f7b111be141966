"""Sequential-pattern mining over the event stream: first-order
Markov transition matrix between event types and the most frequent
3-step paths per user timeline.

These are the session-modeling ops a behavioral/training-data
pipeline runs to featurize user journeys (next-event prediction
labels, funnel priors). Reference parity: the reference's stream
processor exposes only map/filter transforms (internal/pipeline,
SURVEY §2.3); sequence mining is part of this repo's
beyond-reference training-data surface.

Cross-engine notes (PARITY.md rules):
- ordering inside a user timeline uses the full tiebreak chain
  (ts, event_id) — event_id is unique, so lag() is deterministic.
- transition probability = count/total: exact BIGINT numerator and
  denominator, one floor-truncated division at 6dp.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from wire_spark.catalog import register
from wire_spark.queries._util import EVENTS_TIMED_CTE, T, events_timed, tracked_cache

# --------------------------------------------------------------------
# first-order Markov transition matrix between event types
# --------------------------------------------------------------------

_MARKOV_ORACLE = EVENTS_TIMED_CTE + """,
seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
),
trans AS (
  SELECT prev_type, event_type AS next_type, count(*) AS n_trans
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY 1, 2
),
tot AS (
  SELECT prev_type, CAST(sum(n_trans) AS BIGINT) AS n_from FROM trans GROUP BY 1
)
SELECT t.prev_type, t.next_type, t.n_trans, o.n_from,
       floor(t.n_trans * 1000000.0 / o.n_from) / 1000000.0 AS p_trans
FROM trans t JOIN tot o USING (prev_type)
ORDER BY t.prev_type, t.next_type
"""


@register("events_markov_transitions", oracle=_MARKOV_ORACLE, bench=True,
          doc="first-order Markov transition matrix over per-user "
              "event-type sequences (counts + 6dp probabilities)")
def events_markov_transitions(spark, sf_dir):
    """P(next event type | current event type), estimated from every
    adjacent pair in each user's (ts, event_id)-ordered timeline.

    Scale shape: ONE data-sized shuffle — the lag() window on
    user_id; the transition table that leaves it is |types|² rows,
    so the count agg and the per-prev total join are metadata-sized.
    The per-prev total reuses the transition agg output (no second
    pass over events). Probability math is exact-integer
    numerator/denominator with one 6dp floor division."""
    ev = events_timed(spark, sf_dir)
    seq = ev.select(
        "event_type",
        F.lag("event_type").over(
            W.partitionBy("user_id").orderBy("ts", "event_id")
        ).alias("prev_type"),
    )
    trans = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n_trans"))
    )
    tot_w = W.partitionBy("prev_type")
    return (
        trans.withColumn("n_from", F.sum("n_trans").over(tot_w))
        .withColumn(
            "p_trans",
            F.floor(F.col("n_trans") * F.lit(1000000.0) / F.col("n_from"))
            / F.lit(1000000.0),
        )
        .select("prev_type", "next_type", "n_trans", "n_from", "p_trans")
        .orderBy("prev_type", "next_type")
    )


# --------------------------------------------------------------------
# most frequent 3-step event-type paths
# --------------------------------------------------------------------

_TRIGRAM_ORACLE = EVENTS_TIMED_CTE + """,
seq AS (
  SELECT user_id, event_type,
         lag(event_type, 1) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS t1,
         lag(event_type, 2) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS t2
  FROM events
)
SELECT t2 AS step1, t1 AS step2, event_type AS step3, count(*) AS n_paths
FROM seq WHERE t2 IS NOT NULL
GROUP BY 1, 2, 3
ORDER BY n_paths DESC, step1, step2, step3
LIMIT 25
"""


@register("events_trigram_paths", oracle=_TRIGRAM_ORACLE,
          doc="25 most frequent 3-step event-type paths across user "
              "timelines")
def events_trigram_paths(spark, sf_dir):
    """Top 3-step paths (A then B then C by the same user), the raw
    material for journey featurization and next-step labels.

    Scale shape: the two lag() windows share ONE user_id window
    (single shuffle, single sort — Spark collapses same-spec window
    functions into one WindowExec); the path agg output is at most
    |types|³ rows and the top-25 is a TakeOrderedAndProject with a
    full tiebreak chain."""
    ev = events_timed(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lag("event_type", 1).over(w).alias("t1"),
        F.lag("event_type", 2).over(w).alias("t2"),
    )
    return (
        seq.filter(F.col("t2").isNotNull())
        .groupBy(
            F.col("t2").alias("step1"),
            F.col("t1").alias("step2"),
            F.col("event_type").alias("step3"),
        )
        .agg(F.count(F.lit(1)).alias("n_paths"))
        .orderBy(F.desc("n_paths"), "step1", "step2", "step3")
        .limit(25)
    )


# --------------------------------------------------------------------
# daily activity / adoption growth
# --------------------------------------------------------------------

_GROWTH_ORACLE = EVENTS_TIMED_CTE + """,
firsts AS (
  SELECT user_id, min(date_trunc('day', ts)) AS first_day FROM events
  GROUP BY user_id
),
daily AS (
  SELECT date_trunc('day', ts) AS day,
         count(*) AS n_events,
         count(DISTINCT user_id) AS n_active
  FROM events GROUP BY 1
),
news AS (
  SELECT first_day AS day, count(*) AS n_new FROM firsts GROUP BY 1
)
SELECT strftime(d.day, '%Y-%m-%d') AS day, d.n_events, d.n_active,
       COALESCE(n.n_new, 0) AS n_new,
       CAST(sum(COALESCE(n.n_new, 0)) OVER (ORDER BY d.day) AS BIGINT) AS cum_users
FROM daily d LEFT JOIN news n ON d.day = n.day
ORDER BY d.day
"""


@register("events_user_growth", oracle=_GROWTH_ORACLE,
          doc="daily events, active users, new users, and cumulative "
              "adoption curve")
def events_user_growth(spark, sf_dir):
    """Daily activity and adoption: events/day, distinct active
    users/day, first-seen (new) users/day, and the cumulative
    adoption curve.

    Scale shape: two data-sized aggregations — first-seen day per
    user (one shuffle on user_id, min-combine) and the daily
    activity rollup (one shuffle on day; count-distinct expands to
    (day, user) partial dedup) — then everything else operates on
    the DAY table, whose size is bounded by wall-clock span, not
    data volume; the running sum's unpartitioned window is over
    those few hundred rows (same bounded-grid argument as
    ``events_type_correlation``), never over events."""
    ev = events_timed(spark, sf_dir)
    day = F.date_trunc("day", F.col("ts"))
    daily = ev.groupBy(day.alias("day")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").alias("n_active"),
    )
    news = (
        ev.groupBy("user_id")
        .agg(F.min(day).alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n_new"))
    )
    w = W.orderBy("day")
    return (
        daily.join(news, "day", "left")
        .withColumn("n_new", F.coalesce(F.col("n_new"), F.lit(0)))
        .withColumn("cum_users", F.sum("n_new").over(w))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_events", "n_active", "n_new", "cum_users",
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------
# seasonal (hour-of-day) anomaly: residuals vs the diurnal profile
# --------------------------------------------------------------------

_SEASONAL_ORACLE = """
WITH hc AS (
  SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS c
  FROM events GROUP BY 1, 2
),
prof AS (
  SELECT event_type, extract(hour FROM hr) AS hod,
         count(*) AS n, sum(c) AS sx, sum(c * c) AS sx2
  FROM hc GROUP BY 1, 2
)
SELECT h.event_type, strftime(h.hr, '%Y-%m-%d %H:%M:%S') AS hr, h.c,
       p.n AS n_same_hod,
       floor((h.c * p.n - p.sx) * 10000.0
             / sqrt(p.n * p.sx2 - p.sx * p.sx)) / 10000.0 AS z_seasonal
FROM hc h
JOIN prof p ON h.event_type = p.event_type
           AND extract(hour FROM h.hr) = p.hod
WHERE p.n >= 3 AND (p.n * p.sx2 - p.sx * p.sx) > 0
ORDER BY abs(floor((h.c * p.n - p.sx) * 10000.0
             / sqrt(p.n * p.sx2 - p.sx * p.sx)) / 10000.0) DESC,
         h.event_type, hr
LIMIT 25
"""


@register("events_seasonal_anomaly", oracle=_SEASONAL_ORACLE,
          doc="seasonality-aware anomaly: hourly counts z-scored "
              "against their hour-of-day profile, top 25 deviations")
def events_seasonal_anomaly(spark, sf_dir):
    """Hourly counts scored against the DIURNAL profile — each
    (type, hour) compares only to the same hour-of-day across days,
    so a quiet 3am hour is never called anomalous for being below
    the all-day mean (the mistake a global z-score makes on any
    diurnal workload). ``events_hourly_anomaly`` is the global
    variant; this is the seasonal one.

    Cross-engine: the z-score is computed from exact integer moments
    (n, sum x, sum x^2) — z = (c*n - sx) / sqrt(n*sx2 - sx^2), the
    numerator-scaled form that avoids any intermediate float mean —
    with one floor-truncated division at 4dp.

    Scale shape: one shuffle for the hourly count (map-side
    combine); the profile aggregates the hour table (bounded by
    span x types x 24) and joins back to it on (type, hod) — both
    sides metadata-sized; top-25 is TakeOrdered. Events shuffle
    exactly once."""
    ev = T(spark, sf_dir, "events")
    hc = (
        ev.select("event_type", F.date_trunc("hour", F.col("ts")).alias("hr"))
        .groupBy("event_type", "hr")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    prof = (
        hc.groupBy("event_type", F.hour("hr").alias("hod"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("c").alias("sx"),
            F.sum(F.col("c") * F.col("c")).alias("sx2"),
        )
    )
    var_num = F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")
    z = F.floor(
        (F.col("c") * F.col("n") - F.col("sx")) * F.lit(10000.0)
        / F.sqrt(var_num)
    ) / F.lit(10000.0)
    return (
        hc.join(
            prof,
            (hc.event_type == prof.event_type) & (F.hour(hc.hr) == prof.hod),
        )
        .drop(prof.event_type)
        .filter((F.col("n") >= 3) & (var_num > 0))
        .select(
            "event_type",
            F.date_format("hr", "yyyy-MM-dd HH:mm:ss").alias("hr"),
            "c",
            F.col("n").alias("n_same_hod"),
            z.alias("z_seasonal"),
        )
        .orderBy(F.abs(F.col("z_seasonal")).desc(), "event_type", "hr")
        .limit(25)
    )


# --------------------------------------------------------------------
# session dwell-time percentiles per day (sessionize -> bucketed
# exact quantiles)
# --------------------------------------------------------------------

_DWELL_ORACLE = """
WITH seq AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id))
                   >= 600000000
              OR lag(ts) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_s
  FROM events
), numbered AS (
  SELECT user_id, ts, event_id,
         sum(new_s) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS snum
  FROM seq
), sessions AS (
  SELECT user_id, snum,
         min(event_id) AS sid,
         strftime(date_trunc('day', min(ts)), '%Y-%m-%d') AS day,
         (epoch_us(max(ts)) - epoch_us(min(ts))) / 1000000.0 AS dur
  FROM numbered GROUP BY user_id, snum
), ranked AS (
  SELECT day, dur,
         row_number() OVER (PARTITION BY day ORDER BY dur, sid) AS rn,
         count(*) OVER (PARTITION BY day) AS n
  FROM sessions
), pos AS (
  SELECT r.day, p.p, r.n,
         CAST(floor((r.n - 1) * p.p) AS BIGINT) + 1 AS lo_rn,
         CAST(ceil((r.n - 1) * p.p)  AS BIGINT) + 1 AS hi_rn,
         (r.n - 1) * p.p - floor((r.n - 1) * p.p)   AS frac
  FROM (SELECT DISTINCT day, n FROM ranked) r,
       (SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE]) AS p) p
), interp AS (
  SELECT pos.day, pos.p, pos.n,
         lo.dur + (hi.dur - lo.dur) * pos.frac AS v
  FROM pos
  JOIN ranked lo ON lo.day = pos.day AND lo.rn = pos.lo_rn
  JOIN ranked hi ON hi.day = pos.day AND hi.rn = pos.hi_rn
)
SELECT day, max(n) AS n_sessions,
       floor(max(CASE WHEN p = 0.5  THEN v END) * 10000.0) / 10000.0 AS p50_s,
       floor(max(CASE WHEN p = 0.9  THEN v END) * 10000.0) / 10000.0 AS p90_s,
       floor(max(CASE WHEN p = 0.99 THEN v END) * 10000.0) / 10000.0 AS p99_s
FROM interp GROUP BY day ORDER BY day
"""


@register("session_dwell_percentiles", oracle=_DWELL_ORACLE,
          doc="per-day session dwell-time percentiles: 10-min-gap "
              "sessionization composed with bucketed exact quantiles")
def session_dwell_percentiles(spark, sf_dir):
    """How long do sessions last, day by day: 10-minute-gap
    sessionization (same semantics as ``window_session_10m``), then
    EXACT p50/p90/p99 of session duration per start day — composed
    from two already-proven pieces, with the quantiles computed by
    ``bucketed_quantiles`` (histogram navigation, no per-day sort of
    the session table).

    Cross-engine: the 10-min gap test and the durations both use
    exact integer MICROSECONDS (unix_micros/epoch_us — the proven
    pair; second-truncated unix_timestamp would disagree with the
    oracle's interval arithmetic at gap boundaries); duration
    converts to seconds by one deterministic /1e6 on both sides.
    Session identity ties on min(event_id) (unique — sessions
    partition events); interpolation is the proven rank-based form.

    Scale shape: sessionization is one user_id window (the same
    shuffle the funnel/session family shares) + one (user, snum)
    agg; the session table (orders of magnitude smaller than events)
    then pays only histogram passes. Each stage is a shape already
    plan-audited elsewhere."""
    from pyspark.sql import Window as PW

    from wire_spark.queries.sketches import bucketed_quantiles

    ev = T(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = PW.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    seq = ev.withColumn(
        "new_s",
        F.when(
            prev.isNull()
            | (F.unix_micros(F.col("ts")) - F.unix_micros(prev)
               >= 600000000),
            1,
        ).otherwise(0),
    )
    numbered = seq.withColumn("snum", F.sum("new_s").over(w))
    sessions = (
        numbered.groupBy("user_id", "snum")
        .agg(
            F.min("event_id").alias("sid"),
            F.date_format(F.date_trunc("day", F.min("ts")), "yyyy-MM-dd").alias("day"),
            ((F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
             / F.lit(1000000.0)).alias("dur"),
        )
        .select("day", "sid", "dur")
    )
    interp = bucketed_quantiles(sessions, (0.5, 0.9, 0.99),
                                key="day", val="dur", tie="sid")
    t4v = lambda c: F.floor(c * F.lit(10000.0)) / F.lit(10000.0)  # noqa: E731
    return (
        interp.groupBy("day")
        .agg(
            F.max("n").alias("n_sessions"),
            t4v(F.max(F.when(F.col("p") == 0.5, F.col("v")))).alias("p50_s"),
            t4v(F.max(F.when(F.col("p") == 0.9, F.col("v")))).alias("p90_s"),
            t4v(F.max(F.when(F.col("p") == 0.99, F.col("v")))).alias("p99_s"),
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------
# multi-touch conversion attribution: first / last / linear credit
# --------------------------------------------------------------------

_ATTRIBUTION_ORACLE = EVENTS_TIMED_CTE + """,
conv AS (
  SELECT user_id, ts AS cts, event_id AS cid
  FROM (SELECT user_id, ts, event_id,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events WHERE event_type = 'purchase')
  WHERE rn = 1
), touch AS (
  SELECT e.user_id, e.event_type AS channel, e.ts, e.event_id
  FROM events e JOIN conv c ON e.user_id = c.user_id
  WHERE e.event_type <> 'purchase'
    AND (e.ts < c.cts OR (e.ts = c.cts AND e.event_id < c.cid))
), fl AS (
  SELECT DISTINCT user_id,
         first_value(channel) OVER (PARTITION BY user_id
             ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING
                      AND UNBOUNDED FOLLOWING) AS first_ch,
         last_value(channel) OVER (PARTITION BY user_id
             ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING
                      AND UNBOUNDED FOLLOWING) AS last_ch,
         count(*) OVER (PARTITION BY user_id) AS k
  FROM touch
), lin AS (
  SELECT t.channel, CAST(count(*) AS BIGINT) AS touches,
         CAST(sum(1000000 // f.k) AS BIGINT) AS linear_credit_1e6
  FROM touch t JOIN fl f ON t.user_id = f.user_id
  GROUP BY t.channel
), fcnt AS (
  SELECT first_ch AS channel, CAST(count(*) AS BIGINT) AS first_touch
  FROM fl GROUP BY 1
), lcnt AS (
  SELECT last_ch AS channel, CAST(count(*) AS BIGINT) AS last_touch
  FROM fl GROUP BY 1
)
SELECT l.channel, l.touches,
       coalesce(f.first_touch, 0) AS first_touch,
       coalesce(lc.last_touch, 0) AS last_touch,
       l.linear_credit_1e6
FROM lin l
LEFT JOIN fcnt f ON f.channel = l.channel
LEFT JOIN lcnt lc ON lc.channel = l.channel
ORDER BY l.channel
"""


@register("events_attribution_multitouch", oracle=_ATTRIBUTION_ORACLE,
          bench=True,
          doc="multi-touch conversion attribution: first-touch, "
              "last-touch, and linear credit per channel over each "
              "converter's pre-purchase event journey")
def events_attribution_multitouch(spark, sf_dir):
    """Marketing-attribution table: for every user whose journey
    reaches a first ``purchase``, credit the non-purchase events
    strictly before it (the touches) to their channels (event types)
    under the three classic models — first-touch (1 conversion to
    the earliest touch's channel), last-touch (to the latest), and
    linear (each of the user's k touches gets ``1e6 div k``
    micro-credits; the floored per-touch credit is identical across
    engines, so per-channel sums agree exactly).

    Ordering inside a journey uses the module's full tiebreak chain
    (ts, event_id); "strictly before" compares the (ts, event_id)
    pair lexicographically, so a touch sharing the conversion's
    timestamp but with a lower event_id counts, same both engines.

    Scale shape: ONE events scan — the per-user first conversion is
    a conditional min-struct window over the user-hash partitioning,
    touches are a filter of the same decorated rows, and the
    first/last/k decorations reuse that partitioning (no second
    scan, no second data-sized shuffle); the final per-channel
    aggregate is the small-key reduction.  Per-user state is O(1) —
    no journey is ever collected.
    """
    ev = events_timed(spark, sf_dir).select(
        "user_id", "event_type", "ts", "event_id")
    w_u = W.partitionBy("user_id")
    dec = ev.withColumn(
        "conv",
        F.min(F.when(F.col("event_type") == "purchase",
                     F.struct("ts", "event_id"))).over(w_u))
    touch = (
        dec.filter(
            F.col("conv").isNotNull()
            & (F.col("event_type") != "purchase")
            & (F.struct("ts", "event_id") < F.col("conv")))
        .select("user_id", F.col("event_type").alias("channel"),
                "ts", "event_id")
    )
    w_o = w_u.orderBy("ts", "event_id")
    w_f = w_o.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    fl = touch.select(
        "user_id", "channel",
        F.first("channel").over(w_f).alias("first_ch"),
        F.last("channel").over(w_f).alias("last_ch"),
        F.count(F.lit(1)).over(w_u).alias("k"),
    )
    lin = fl.groupBy("channel").agg(
        F.count(F.lit(1)).alias("touches"),
        F.sum(F.expr("1000000 div k")).alias("linear_credit_1e6"),
    )
    per_user = fl.select("user_id", "first_ch", "last_ch").distinct()
    fcnt = per_user.groupBy(F.col("first_ch").alias("channel")).agg(
        F.count(F.lit(1)).alias("first_touch"))
    lcnt = per_user.groupBy(F.col("last_ch").alias("channel")).agg(
        F.count(F.lit(1)).alias("last_touch"))
    return (
        lin.join(fcnt, "channel", "left").join(lcnt, "channel", "left")
        .select(
            "channel", "touches",
            F.coalesce("first_touch", F.lit(0)).alias("first_touch"),
            F.coalesce("last_touch", F.lit(0)).alias("last_touch"),
            "linear_credit_1e6")
        .orderBy("channel")
    )


# --------------------------------------------------------------------
# time-to-convert deciles: signup -> first purchase delay profile
# --------------------------------------------------------------------

_TIME_TO_CONVERT_ORACLE = """
WITH su AS (
  SELECT user_id, min(ts) AS su
  FROM events WHERE event_type = 'signup' GROUP BY user_id
), pu AS (
  SELECT e.user_id, s.su, min(e.ts) AS pu
  FROM events e JOIN su s ON e.user_id = s.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= s.su
  GROUP BY e.user_id, s.su
), dh AS (
  SELECT CAST((epoch_us(pu) - epoch_us(su)) // 3600000000 AS BIGINT) AS h
  FROM pu
), hist AS (
  SELECT h, CAST(count(*) AS BIGINT) AS c FROM dh GROUP BY h
), p AS (
  SELECT h, CAST(sum(c) OVER (ORDER BY h
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM hist
), n AS (
  SELECT max(cum) AS n_u FROM p
), d AS (
  SELECT t.q, (t.q * n.n_u + 9) // 10 AS thr, n.n_u
  FROM n CROSS JOIN (SELECT unnest(range(1, 10)) AS q) t
)
SELECT CAST(d.q AS BIGINT) AS decile,
       CAST(min(p.h) AS BIGINT) AS delay_hours,
       CAST(min(d.n_u) AS BIGINT) AS n_converters
FROM p JOIN d ON p.cum >= d.thr
GROUP BY d.q ORDER BY decile
"""


@register("events_time_to_convert", oracle=_TIME_TO_CONVERT_ORACLE,
          bench=True,
          doc="time-to-convert profile: exact deciles of the "
              "signup-to-first-purchase delay in whole hours, "
              "histogram-navigated — no row-grain sort")
def events_time_to_convert(spark, sf_dir):
    """Activation-latency distribution: for every user whose journey
    contains a ``signup`` and a ``purchase`` at-or-after it, the
    delay from FIRST signup to FIRST subsequent purchase, floored
    into whole hours — reported as exact type-1 deciles.  The
    onboarding-funnel companion to ``events_attribution_multitouch``
    (who converts) and ``session_dwell_percentiles`` (how long they
    linger): this says how LONG activation takes, the metric a
    "did the new onboarding flow speed up conversion" review reads.

    Exactness: delays are computed in MICROSECONDS (``unix_micros``
    / ``epoch_us`` — Spark's second-grain ``unix_timestamp``
    TRUNCATES micros and would disagree with DuckDB's fractional
    ``epoch()`` on sub-second components) then floored to hours by
    one non-negative integer division; deciles are "smallest hour
    whose inclusive cumulative count reaches ``(q*n + 9) div 10``",
    exactly the QTE machinery.

    Scale shape: one events scan -> conditional min-struct window
    keyed on user (the one data-sized shuffle, reused by the
    follow-on user-grain groupBy) -> hour-grain histogram ->
    ``_hist_prefix`` two-pass cumulative counts; the converter
    total falls out of the prefix MAXIMA and the 9-row decile
    probe broadcasts back.
    """
    from wire_spark.queries.features import _hist_prefix

    ev = T(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    w_u = W.partitionBy("user_id")
    dec = ev.withColumn(
        "su", F.min(F.when(F.col("event_type") == "signup",
                           F.col("ts"))).over(w_u))
    pu = (
        dec.filter(
            F.col("su").isNotNull()
            & (F.col("event_type") == "purchase")
            & (F.col("ts") >= F.col("su")))
        .groupBy("user_id", "su")
        .agg(F.min("ts").alias("pu"))
    )
    dh = pu.select(
        F.expr("(unix_micros(pu) - unix_micros(su)) div 3600000000")
        .cast("long").alias("h"))
    hist = dh.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
    p = _hist_prefix(hist, "h", {"cum": "c"})
    n = p.groupBy().agg(F.max("cum").alias("n_u")).filter(
        F.col("n_u").isNotNull())
    d = n.select(
        F.explode(F.expr("sequence(1, 9)")).alias("q"), "n_u",
    ).select(
        F.col("q").cast("long").alias("q"),
        F.expr("(q * n_u + 9) div 10").alias("thr"),
        "n_u",
    )
    return (
        p.crossJoin(F.broadcast(d))
        .filter(F.col("cum") >= F.col("thr"))
        .groupBy(F.col("q").alias("decile"))
        .agg(F.min("h").alias("delay_hours"),
             F.min("n_u").alias("n_converters"))
        .orderBy("decile")
    )


# --------------------------------------------------------------------
# rolling 7-day distinct active users + stickiness
# --------------------------------------------------------------------

_ROLLING_ACTIVE_ORACLE = """
WITH ud AS (
  SELECT DISTINCT user_id,
         date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS ix
  FROM events
), win AS (
  SELECT DISTINCT user_id, ix + i.i AS wix
  FROM ud CROSS JOIN (SELECT unnest(range(0, 7)) AS i) i
), days AS (
  SELECT DISTINCT ix FROM ud
), wau AS (
  SELECT w.wix AS ix, CAST(count(*) AS BIGINT) AS wau
  FROM win w JOIN days d ON d.ix = w.wix GROUP BY w.wix
), dau AS (
  SELECT ix, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY ix
)
SELECT strftime(DATE '2024-01-01' + CAST(a.ix AS INT), '%Y-%m-%d') AS day,
       d.dau, a.wau,
       CAST(d.dau * 10000 // a.wau AS BIGINT) AS stickiness_1e4
FROM wau a JOIN dau d ON d.ix = a.ix
ORDER BY day
"""


@register("events_rolling_active_7d", oracle=_ROLLING_ACTIVE_ORACLE,
          bench=True,
          doc="rolling 7-day distinct active users per day plus the "
              "DAU/WAU stickiness ratio — exact, via presence-window "
              "explode, never a distinct-over-sliding-window")
def events_rolling_active_7d(spark, sf_dir):
    """Per activity day: the EXACT count of distinct users active in
    the trailing 7 days (the classic WAU curve) alongside that day's
    DAU and the DAU/WAU stickiness ratio in 1e-4 units.  Rolling
    DISTINCT does not decompose over daily counts (a user active on
    3 of the 7 days must count once), so the scalable exact form is
    presence-interval expansion: each (user, day) presence covers
    the 7 window-days it can serve, and the window count is a plain
    distinct-then-count — never a count(distinct) OVER a sliding
    range (which Spark cannot evaluate incrementally and would
    re-scan per window at any engine).

    Exactness: day indices are integer datediffs from a fixed epoch
    (2024-01-01) and the ratio is one floored non-negative division;
    no timestamps survive past the first projection.

    Scale shape: one scan -> distinct (user, day-ix) — user-day
    grain, the relation everything else derives from, cached across
    its three consumers -> a 7-row broadcast explode (7x user-day,
    bounded) -> distinct + count per window day.  All shuffles are
    on user-day or day keys; nothing is ever row-grain sorted.
    """
    ev = T(spark, sf_dir, "events")
    ud = tracked_cache(
        ev.select(
            "user_id",
            F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
            .alias("ix")).distinct())
    i7 = spark.range(7).select(F.col("id").cast("int").alias("i"))
    win = (
        ud.crossJoin(F.broadcast(i7))
        .select("user_id", (F.col("ix") + F.col("i")).alias("wix"))
        .distinct()
    )
    days = ud.select("ix").distinct()
    wau = (
        win.join(days, win.wix == days.ix)
        .groupBy("wix").agg(F.count(F.lit(1)).alias("wau"))
    )
    dau = ud.groupBy("ix").agg(F.count(F.lit(1)).alias("dau"))
    return (
        wau.join(dau, wau.wix == dau.ix)
        .select(
            F.date_format(
                F.date_add(F.lit("2024-01-01").cast("date"), F.col("wix")),
                "yyyy-MM-dd").alias("day"),
            "dau", "wau",
            F.expr("CAST(dau * 10000 div wau AS BIGINT)")
            .alias("stickiness_1e4"),
        )
        .orderBy("day")
    )
