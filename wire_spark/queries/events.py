"""Event-time windowing: tumbling, sliding, session windows + event
envelope aggregation.

These are the reference's declared roadmap operators (ROADMAP.md:96-100:
tumbling/sliding/session windows, event-time processing) — implemented
here with Spark's native `window()` / `session_window()` expressions.
The same expressions run unchanged under Structured Streaming with a
watermark (see wire_spark/streaming/); the batch form below is what the
DuckDB oracle can verify.

Scale notes: time-window aggregation state is bounded by
(#keys x #windows-in-watermark); tumbling windows align to epoch so
partition pruning on date-partitioned storage still applies.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from wire_spark.catalog import register
from wire_spark.queries._util import EVENTS_SANITIZED_CTE, EVENTS_TIMED_CTE, T, events_sane, events_timed, msum, r4, tracked_cache

# avg comes from the same exact 128-bit 4dp sum as sum_value via a
# truncating INTEGER division, not from round(avg(value), 4): both
# engines sum doubles in arbitrary order, and once |value| mass is
# large enough the last-ulp noise exceeds the 4dp resolution — and
# even round(exact_double, 4) splits between engines at 1e12
# magnitude, where 4dp sits below the double's own ulp (r12
# maxmass).  The trunc-divided integer converts to DOUBLE
# identically on both engines.
_TYPE_STATS_ORACLE = EVENTS_SANITIZED_CTE + """
SELECT
  event_type,
  count(*)                       AS n_events,
  count(DISTINCT user_id)        AS n_users,
  sum(CAST(floor(value * 10000.0) AS HUGEINT)) / 10000.0 AS sum_value,
  (sum(CAST(floor(value * 10000.0) AS HUGEINT)) // count(value))
    / 10000.0 AS avg_value,
  round(min(value), 4)           AS min_value,
  round(max(value), 4)           AS max_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@register("events_type_stats", oracle=_TYPE_STATS_ORACLE,
          doc="event envelope aggregation by type")
def events_type_stats(spark, sf_dir):
    e = events_sane(spark, sf_dir)
    g = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(
            F.floor(F.col("value") * F.lit(10000.0)).cast("decimal(38,0)")
        ).alias("s4"),
        F.count("value").alias("nv"),
        r4(F.min("value")).alias("min_value"),
        r4(F.max("value")).alias("max_value"),
    )
    return g.select(
        "event_type",
        "n_events",
        "n_users",
        (F.col("s4") / F.lit(10000.0)).alias("sum_value"),
        # (a - a%b)/b = truncating division, sign-matched to DuckDB //
        (F.expr("(s4 - s4 % nv) / nv") / F.lit(10000.0)).alias("avg_value"),
        "min_value",
        "max_value",
    ).orderBy("event_type")


# Tumbling 1-hour windows align to the epoch => identical to
# date_trunc('hour') bucketing in the oracle.
_TUMBLING_ORACLE = EVENTS_TIMED_CTE + """
SELECT
  strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
  event_type,
  count(*)             AS n_events,
  sum(CAST(floor(value * 10000.0) AS HUGEINT)) / 10000.0 AS sum_value
FROM events
GROUP BY date_trunc('hour', ts), event_type
ORDER BY window_start, event_type
"""


@register("window_tumbling_hourly", oracle=_TUMBLING_ORACLE,
          doc="tumbling 1h event-time window (ROADMAP.md:97)", bench=True)
def window_tumbling_hourly(spark, sf_dir):
    e = events_timed(spark, sf_dir)
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), msum(F.col("value")).alias("sum_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .orderBy("window_start", "event_type")
    )


# Sliding 1h windows every 30min: each event belongs to exactly 2
# windows, starting at the enclosing 30-min boundary and 30 min before.
# The bucket base is built with NAIVE timestamp arithmetic: DuckDB's
# to_timestamp(secs) returns TIMESTAMPTZ, which strftime renders in
# the HOST session timezone — correct on UTC hosts (every driver run)
# but shifted by the local offset on any non-UTC host (found r12 by
# driving in an Asia/Kolkata session: every label moved +05:30 while
# the Spark side stayed put).  TIMESTAMP + INTERVAL stays naive.
_SLIDING_ORACLE = EVENTS_TIMED_CTE + """,
buckets AS (
  SELECT
    TIMESTAMP '1970-01-01 00:00:00'
      + (CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT) * INTERVAL 1 SECOND)
      - (n * INTERVAL 30 MINUTE)
      AS window_start,
    value
  FROM events, (SELECT unnest([0, 1]) AS n)
)
SELECT
  strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
  count(*)             AS n_events,
  sum(CAST(floor(value * 10000.0) AS HUGEINT)) / 10000.0 AS sum_value
FROM buckets
GROUP BY window_start
ORDER BY window_start
"""


@register("window_sliding_30m", oracle=_SLIDING_ORACLE,
          doc="sliding 1h/30m event-time window (ROADMAP.md:97)")
def window_sliding_30m(spark, sf_dir):
    e = events_timed(spark, sf_dir)
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), msum(F.col("value")).alias("sum_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
            "sum_value",
        )
        .orderBy("window_start")
    )


# Session windows (10-minute inactivity gap) per user. Oracle =
# classic gaps-and-islands: a new session starts when the previous
# event of the same user is > gap away; session end = last event + gap
# (matching Spark's session_window end semantics).
_SESSION_ORACLE = EVENTS_TIMED_CTE + """,
flagged AS (
  SELECT
    user_id, ts, value,
    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              >= INTERVAL 10 MINUTE
         OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         THEN 1 ELSE 0 END AS new_session
  FROM events
), numbered AS (
  SELECT *,
    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
)
SELECT
  user_id,
  strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f')                       AS session_start,
  strftime(max(ts) + INTERVAL 10 MINUTE, '%Y-%m-%d %H:%M:%S.%f')  AS session_end,
  count(*)                                                        AS n_events,
  sum(CAST(floor(value * 10000.0) AS HUGEINT)) / 10000.0                           AS sum_value
FROM numbered
GROUP BY user_id, session_id
ORDER BY user_id, session_start
"""


@register("window_session_10m", oracle=_SESSION_ORACLE,
          doc="session window, 10m gap (ROADMAP.md:97)", bench=True)
def window_session_10m(spark, sf_dir):
    e = events_timed(spark, sf_dir)
    return (
        e.groupBy("user_id", F.session_window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), msum(F.col("value")).alias("sum_value"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_end"),
            "n_events",
            "sum_value",
        )
        .orderBy("user_id", "session_start")
    )


# JSON payload extraction — the reference parses every payload as JSON
# (SURVEY.md §2.3 from_json/to_json boundary); props is a JSON object
# column in the synthetic events table.
# Hostile-payload discipline (r11 badjson sweep): Spark's
# get_json_object NULL-bands malformed JSON while DuckDB's
# json_extract ERRORS, and DuckDB's VARCHAR->BIGINT cast parses
# decimals and ROUNDS ('95.7' -> 96) while Spark's try_cast is
# strict — so the oracle gates on json_valid() plus an
# integer-shape regex and the Spark side uses try_cast; both
# engines then NULL-band every malformed/non-integer payload
# identically (clean payloads are unchanged).
_JSON_ORACLE = """
SELECT
  event_id,
  CASE WHEN props IS NOT NULL AND json_valid(props)
        AND regexp_matches(json_extract_string(props, '$.k'),
                           '^-?[0-9]+$')
       THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
  END AS k
FROM events
WHERE k > 90
ORDER BY event_id
"""


@register("events_json_extract", oracle=_JSON_ORACLE,
          doc="JSON field extraction + predicate (get_json_object)")
def events_json_extract(spark, sf_dir):
    e = T(spark, sf_dir, "events")
    k = F.expr("try_cast(get_json_object(props, '$.k') AS BIGINT)")
    return (
        e.select("event_id", k.alias("k"))
        .filter(F.col("k") > 90)
        .orderBy("event_id")
    )


# per-user activity profile: pivot the event-type dimension to columns
_EV_PIVOT_ORACLE = """
SELECT
  user_id,
  count(*) FILTER (event_type = 'click')    AS n_click,
  count(*) FILTER (event_type = 'view')     AS n_view,
  count(*) FILTER (event_type = 'purchase') AS n_purchase,
  count(*) FILTER (event_type = 'signup')   AS n_signup,
  count(*) FILTER (event_type = 'error')    AS n_error
FROM events
GROUP BY user_id
ORDER BY user_id
"""


@register("events_pivot_by_type", oracle=_EV_PIVOT_ORACLE,
          doc="per-user activity profile (pivot event_type to columns)")
def events_pivot_by_type(spark, sf_dir):
    e = T(spark, sf_dir, "events")
    pivoted = (
        e.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .agg(F.count(F.lit(1)))
    )
    return (
        pivoted.select(
            "user_id",
            *[
                F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}")
                for t in ("click", "view", "purchase", "signup", "error")
            ],
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------
# conversion funnel: click -> purchase within 1 hour, per user
# --------------------------------------------------------------------

_FUNNEL_ORACLE = """
WITH clicks AS (
  SELECT user_id, ts FROM events WHERE event_type = 'click'
), purchases AS (
  SELECT user_id, ts FROM events WHERE event_type = 'purchase'
), converted AS (
  SELECT DISTINCT c.user_id
  FROM clicks c JOIN purchases p
    ON p.user_id = c.user_id
   AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
), clickers AS (SELECT DISTINCT user_id FROM clicks)
SELECT
  (SELECT count(*) FROM clickers) AS n_clickers,
  (SELECT count(*) FROM converted) AS n_converted,
  floor((SELECT count(*) FROM converted) * 1.0
        / greatest((SELECT count(*) FROM clickers), 1) * 10000.0) / 10000.0
    AS conversion_rate
"""


@register("events_funnel_conversion", oracle=_FUNNEL_ORACLE, bench=True,
          doc="funnel: users converting click -> purchase within 1 hour")
def events_funnel_conversion(spark, sf_dir):
    """Click->purchase conversion within an hour. The step join is a
    BUCKETED event-time range join: a purchase within (t, t+1h] of a
    click lives in the click's own hour bucket or the next one, so
    each click is emitted under equi-keys (user, hour) and
    (user, hour+1) and joined to purchases on the composite
    (user, hour) key, with the exact interval predicate as a residual
    filter. The candidate set per task is bounded by per-(user, hour)
    density — a bot user with 10^6 clicks and 10^6 purchases spread
    over a year no longer makes one join key quadratic. Counts are
    exact integers, the rate a single floor-truncated division."""
    e = T(spark, sf_dir, "events")
    hour = lambda c: F.floor(F.unix_timestamp(F.col(c)) / F.lit(3600)).cast("long")  # noqa: E731
    clicks = (
        e.filter(F.col("event_type") == "click")
        .select("user_id", "ts", hour("ts").alias("hb"))
        # a click's 1-hour window spans at most its own and the next
        # hour bucket: emit both equi-keys (2x click rows, not df^2)
        .select(
            "user_id", "ts",
            F.explode(F.array(F.col("hb"), F.col("hb") + 1)).alias("jb"),
        )
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        hour("ts").alias("p_hb"),
    )
    converted = (
        clicks.join(
            purchases,
            (F.col("p_user") == F.col("user_id"))
            & (F.col("p_hb") == F.col("jb"))
            & (F.col("p_ts") > F.col("ts"))
            & (F.col("p_ts") <= F.col("ts") + F.expr("INTERVAL 1 HOUR")),
        )
        .select("user_id")
        .distinct()
    )
    # one declarative plan, no driver-side actions: both scalar counts
    # are single-row aggregates cross-joined (broadcast of 1 row)
    n_clickers = (
        clicks.select("user_id").distinct()
        .agg(F.count(F.lit(1)).alias("n_clickers"))
    )
    n_converted = converted.agg(F.count(F.lit(1)).alias("n_converted"))
    rate = F.floor(
        F.col("n_converted") * F.lit(1.0)
        / F.greatest(F.col("n_clickers"), F.lit(1)) * F.lit(10000.0)
    ) / F.lit(10000.0)
    return n_clickers.crossJoin(n_converted).select(
        "n_clickers", "n_converted", rate.alias("conversion_rate")
    )


# --------------------------------------------------------------------
# retention cohorts: signup week x weeks-since-signup activity
# --------------------------------------------------------------------

_RETENTION_ORACLE = """
WITH signups AS (
  SELECT user_id, min(date_trunc('week', ts)) AS cohort_week
  FROM events WHERE event_type = 'signup' GROUP BY user_id
), activity AS (
  SELECT DISTINCT e.user_id, s.cohort_week,
         CAST(floor(date_diff('day', s.cohort_week, date_trunc('week', e.ts)) / 7.0) AS BIGINT)
           AS week_n
  FROM events e JOIN signups s ON e.user_id = s.user_id
  WHERE e.ts >= s.cohort_week
)
SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week, week_n,
       count(*) AS n_active
FROM activity
WHERE week_n <= 8
GROUP BY cohort_week, week_n
ORDER BY cohort_week, week_n
"""


def _signup_cohorts(e):
    """(user_id, cohort_week) — the signup-cohort convention shared
    by retention_cohorts and cohort_ltv_triangle, extracted so their
    documented row-for-row alignment is structural: one Monday-start
    week truncation, argmin over each user's signup events."""
    return (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(F.date_trunc("week", F.col("ts"))).alias("cohort_week"))
    )


@register("retention_cohorts", oracle=_RETENTION_ORACLE, bench=True,
          doc="weekly retention cohorts: signup week x weeks-since-signup "
              "distinct-user activity")
def retention_cohorts(spark, sf_dir):
    """The classic cohort-retention matrix. Two shuffles: the signup
    argmin per user, then the cohort x week distinct-count; the user
    join broadcasts at test scale and shuffles on user_id (uniform
    key) at 100 TB."""
    e = T(spark, sf_dir, "events")
    signups = _signup_cohorts(e)
    activity = (
        e.join(signups, "user_id")
        .filter(F.col("ts") >= F.col("cohort_week"))
        .select(
            "user_id", "cohort_week",
            F.floor(
                F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week"))
                / F.lit(7.0)
            ).cast("long").alias("week_n"),
        )
        .distinct()
    )
    return (
        activity.filter(F.col("week_n") <= 8)
        .groupBy("cohort_week", "week_n")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .select(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            "week_n", "n_active",
        )
        .orderBy("cohort_week", "week_n")
    )


# --------------------------------------------------------------------
# anomaly detection: hourly event-count z-scores per event type
# --------------------------------------------------------------------

_ANOMALY_ORACLE = """
WITH hc AS (
  SELECT event_type,
         strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hr,
         count(*) AS c
  FROM events GROUP BY 1, 2
), st AS (
  SELECT event_type, count(*) AS n, sum(c) AS sx, sum(c * c) AS sx2
  FROM hc GROUP BY 1
)
SELECT hc.event_type, hr, c,
       floor((c - sx * 1.0 / n)
             / sqrt((n * sx2 - sx * sx) * 1.0 / (n * n))
             * 10000.0) / 10000.0 AS z
FROM hc JOIN st USING (event_type)
WHERE n > 1 AND (n * sx2 - sx * sx) > 0
  AND abs(floor((c - sx * 1.0 / n)
                / sqrt((n * sx2 - sx * sx) * 1.0 / (n * n))
                * 10000.0) / 10000.0) >= 1.0
ORDER BY event_type, hr
"""


@register("events_hourly_anomaly", oracle=_ANOMALY_ORACLE, bench=True,
          doc="hourly event-count anomalies: |z| >= 1 per event type, "
              "exact-integer variance arithmetic")
def events_hourly_anomaly(spark, sf_dir):
    """Traffic anomaly detection: hours whose event count deviates
    >= 1 sigma from that event type's hourly mean. The variance is
    computed from exact integer moments (n, Σx, Σx²) so the z-score
    is the identical IEEE expression on both engines (no stddev
    builtin — those differ in summation order); output floored at
    4 dp. Scale shape: one shuffle for hourly counts, one tiny
    aggregate per event type broadcast back — the per-type stats
    table has one row per event type regardless of corpus size."""
    e = T(spark, sf_dir, "events")
    hc = (
        e.groupBy(
            "event_type",
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias("hr"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    st = hc.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("sx"),
        F.sum(F.col("c") * F.col("c")).alias("sx2"),
    )
    z = (F.col("c") - F.col("sx") * F.lit(1.0) / F.col("n")) / F.sqrt(
        (F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx"))
        * F.lit(1.0) / (F.col("n") * F.col("n"))
    )
    zt = F.floor(z * F.lit(10000.0)) / F.lit(10000.0)
    return (
        hc.join(F.broadcast(st), "event_type")
        .filter(
            (F.col("n") > 1)
            & ((F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")) > 0)
        )
        .withColumn("z", zt)
        .filter(F.abs(F.col("z")) >= 1.0)
        .select("event_type", "hr", "c", "z")
        .orderBy("event_type", "hr")
    )


# --------------------------------------------------------------------
# 3-step strict-order funnel: view -> click -> purchase, 1h per step
# --------------------------------------------------------------------

_FUNNEL3_ORACLE = """
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS eu FROM events
), v AS (
  SELECT user_id, min(eu) AS v_ts FROM e WHERE event_type = 'view'
  GROUP BY user_id
), c AS (
  SELECT e.user_id, min(e.eu) AS c_ts
  FROM e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click'
    AND e.eu > v.v_ts AND e.eu <= v.v_ts + 3600000000
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, min(e.eu) AS p_ts
  FROM e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase'
    AND e.eu > c.c_ts AND e.eu <= c.c_ts + 3600000000
  GROUP BY e.user_id
), tot AS (SELECT count(DISTINCT user_id) AS n FROM e)
SELECT CAST(tot.n AS BIGINT) AS n_users,
       CAST((SELECT count(*) FROM v) AS BIGINT) AS n_view,
       CAST((SELECT count(*) FROM c) AS BIGINT) AS n_click,
       CAST((SELECT count(*) FROM p) AS BIGINT) AS n_purchase,
       ((SELECT count(*) FROM c) * 10000)
         // greatest((SELECT count(*) FROM v), 1) AS click_rate_bp,
       ((SELECT count(*) FROM p) * 10000)
         // greatest((SELECT count(*) FROM c), 1) AS purchase_rate_bp
FROM tot
"""


@register("events_funnel_3step", oracle=_FUNNEL3_ORACLE, bench=True,
          doc="3-step strict-order funnel (first view -> first "
              "qualifying click -> first qualifying purchase, 1h per "
              "step) with per-step conversion")
def events_funnel_3step(spark, sf_dir):
    """The sequential-pattern funnel: a user converts step N+1 only
    via an event strictly after their step-N anchor and within one
    hour of it, anchors being FIRST qualifying events. This is the
    min-after-min chaining shape (each stage re-anchors on the
    previous stage's timestamp) that two-step pairwise funnels can't
    express.

    Scale shape: each stage is one user-keyed shuffle join of the
    raw stream against the previous stage's one-row-per-user anchor
    table followed by a map-combinable min — stages chain linearly,
    candidate sets shrink monotonically, and nothing is ever
    per-user quadratic. Timestamps compare as integer epoch micros;
    conversion rates are exact integer basis points.
    """
    e = T(spark, sf_dir, "events").select(
        "user_id", "event_type", F.expr("unix_micros(ts)").alias("eu"))
    v = (e.filter(F.col("event_type") == "view")
         .groupBy("user_id").agg(F.min("eu").alias("v_ts")))
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter((F.col("eu") > F.col("v_ts"))
                & (F.col("eu") <= F.col("v_ts") + 3_600_000_000))
        .groupBy("user_id").agg(F.min("eu").alias("c_ts"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter((F.col("eu") > F.col("c_ts"))
                & (F.col("eu") <= F.col("c_ts") + 3_600_000_000))
        .groupBy("user_id").agg(F.min("eu").alias("p_ts"))
    )
    tot = e.agg(F.countDistinct("user_id").alias("n_users"))
    nv = v.agg(F.count(F.lit(1)).alias("n_view"))
    nc = c.agg(F.count(F.lit(1)).alias("n_click"))
    np_ = p.agg(F.count(F.lit(1)).alias("n_purchase"))
    return (
        tot.crossJoin(F.broadcast(nv)).crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(np_))
        .select(
            "n_users", "n_view", "n_click", "n_purchase",
            F.expr("(n_click * 10000) div greatest(n_view, 1)")
            .alias("click_rate_bp"),
            F.expr("(n_purchase * 10000) div greatest(n_click, 1)")
            .alias("purchase_rate_bp"),
        )
    )


# --------------------------------------------------------------------
# discrete survival/hazard table: signup -> first purchase
# --------------------------------------------------------------------

_HAZARD_ORACLE = """
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS eu FROM events
), mx AS (SELECT max(eu) AS m FROM e),
s AS (
  SELECT user_id, min(eu) AS s_ts FROM e WHERE event_type = 'signup'
  GROUP BY user_id
), fp AS (
  SELECT e.user_id, min(e.eu) AS p_ts
  FROM e JOIN s ON e.user_id = s.user_id
  WHERE e.event_type = 'purchase' AND e.eu > s.s_ts
  GROUP BY e.user_id
), u AS (
  SELECT s.user_id,
         CASE WHEN fp.p_ts IS NOT NULL
              THEN (fp.p_ts - s.s_ts) // 86400000000
              ELSE (mx.m - s.s_ts) // 86400000000 END AS obs_end,
         CASE WHEN fp.p_ts IS NOT NULL
              THEN (fp.p_ts - s.s_ts) // 86400000000 END AS event_day
  FROM s LEFT JOIN fp ON s.user_id = fp.user_id, mx
), days AS (
  SELECT unnest(range(0, (SELECT max(obs_end) FROM u) + 1)) AS day
), risk AS (
  SELECT d.day,
         CAST((SELECT count(*) FROM u WHERE u.obs_end >= d.day) AS BIGINT)
           AS n_at_risk,
         CAST((SELECT count(*) FROM u WHERE u.event_day = d.day) AS BIGINT)
           AS n_events
  FROM days d
)
SELECT day, n_at_risk, n_events,
       (n_events * 10000) // n_at_risk AS hazard_bp
FROM risk WHERE n_at_risk > 0
ORDER BY day
"""


@register("events_survival_hazard", oracle=_HAZARD_ORACLE, bench=True,
          doc="discrete survival analysis: per-day at-risk counts, "
              "first-purchase events, and hazard after signup, with "
              "censoring at the window edge")
def events_survival_hazard(spark, sf_dir):
    """Time-to-conversion as a discrete hazard table: for each day
    since signup, how many users were still unconverted and under
    observation (at risk), how many converted that day, and the
    hazard in basis points — with users who never purchase censored
    at the data window's edge, the piece naive "average days to
    purchase" gets wrong. The Kaplan-Meier curve is the running
    product of (1 - hazard); the table keeps integers so the oracle
    hash-matches.

    Scale shape: everything reduces to ONE row per signup user
    (two user-keyed min aggregations), after which at-risk counts
    come from a reverse cumulative sum over the ~30-row day
    histogram — never a per-day rescan of users. The oracle uses
    correlated per-day subqueries (the verification form); the
    Spark side demonstrates the scale form.
    """
    e = T(spark, sf_dir, "events").select(
        "user_id", "event_type", F.expr("unix_micros(ts)").alias("eu"))
    mx = e.agg(F.max("eu").alias("m"))
    # user-grain, consumed by both the first-purchase join and the
    # censoring rollup — materialize once.  tracked_cache, not
    # materialize: this relation is DATA-sized (one row per signup
    # user), and a local checkpoint keeps no lineage to recover from
    # executor loss on a real cluster — the cache keeps
    # the lineage and is released by the bench/CLI after the query's
    # actions complete.
    # The count() materializes it eagerly so the two consumers below
    # (which fan out inside one job) never race the lazy cache into
    # recomputing the aggregation.
    s = tracked_cache(
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id").agg(F.min("eu").alias("s_ts")))
    s.count()
    fp = (
        e.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(F.col("eu") > F.col("s_ts"))
        .groupBy("user_id").agg(F.min("eu").alias("p_ts"))
    )
    # two narrow columns per signup user, consumed by THREE
    # aggregations (end_hist / ev_hist / dmax) — materialized once so
    # the purchase join does not re-execute per consumer.  Same
    # tracked_cache-not-materialize rationale as `s` (data-sized,
    # cluster-recoverable); eager count() because the two histogram
    # consumers are BroadcastExchange builds the driver launches
    # concurrently — a lazy cache would race them into recomputing
    # the purchase join.
    u = tracked_cache(
        s.join(fp, "user_id", "left").crossJoin(F.broadcast(mx))
        .select(
            F.expr("CASE WHEN p_ts IS NOT NULL "
                   "THEN (p_ts - s_ts) div 86400000000 "
                   "ELSE (m - s_ts) div 86400000000 END").alias("obs_end"),
            F.expr("CASE WHEN p_ts IS NOT NULL "
                   "THEN (p_ts - s_ts) div 86400000000 END")
            .alias("event_day"),
        )
    )
    u.count()
    # day histogram + reverse cumsum: at_risk(d) = sum of users whose
    # observation ends at day >= d
    end_hist = u.groupBy(F.col("obs_end").alias("day")).agg(
        F.count(F.lit(1)).alias("n_end"))
    ev_hist = u.filter(F.col("event_day").isNotNull()).groupBy(
        F.col("event_day").alias("day")).agg(F.count(F.lit(1)).alias("n_events"))
    dmax = u.agg(F.max("obs_end").alias("dm"))
    days = dmax.select(F.explode(F.sequence(F.lit(0), F.col("dm"))).alias("day"))
    wrev = W.orderBy(F.desc("day")).rowsBetween(W.unboundedPreceding, 0)
    # the day histograms are ~|days| rows — broadcast them so the
    # day-grid joins are hash joins, not sort-merge exchanges (the
    # r15 plan audit counted 10 SortMergeJoins here)
    risk = (
        days.join(F.broadcast(end_hist), "day", "left")
        .join(F.broadcast(ev_hist), "day", "left")
        .select(
            "day",
            F.coalesce("n_end", F.lit(0)).alias("n_end"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
        )
        .withColumn("n_at_risk", F.sum("n_end").over(wrev))
    )
    return (
        risk.filter(F.col("n_at_risk") > 0)
        .select(
            "day", "n_at_risk", F.col("n_events").cast("long").alias("n_events"),
            F.expr("(n_events * 10000) div n_at_risk").alias("hazard_bp"),
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------
# LTV cohort triangle: value-weighted sibling of retention_cohorts
# --------------------------------------------------------------------

_LTV_ORACLE = EVENTS_SANITIZED_CTE + """,
signups AS (
  SELECT user_id, min(date_trunc('week', ts)) AS cohort_week
  FROM events WHERE event_type = 'signup' GROUP BY user_id
), cs AS (
  SELECT cohort_week, CAST(count(*) AS BIGINT) AS n_cohort
  FROM signups GROUP BY cohort_week
), purch AS (
  SELECT s.cohort_week,
         CAST(floor(date_diff('day', s.cohort_week,
              date_trunc('week', e.ts)) / 7.0) AS BIGINT) AS week_n,
         e.user_id,
         CAST(floor(e.value * 10000.0e0) AS BIGINT) AS v4
  FROM events e JOIN signups s ON e.user_id = s.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= s.cohort_week
), g AS (
  SELECT cohort_week, week_n,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_buyers,
         CAST(sum(v4) AS BIGINT) AS rev_v4
  FROM purch GROUP BY cohort_week, week_n
), c AS (
  SELECT cohort_week, week_n, n_buyers, rev_v4,
         CAST(sum(rev_v4) OVER (PARTITION BY cohort_week ORDER BY week_n
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_rev_v4
  FROM g
)
SELECT strftime(c.cohort_week, '%Y-%m-%d') AS cohort_week,
       c.week_n, c.n_buyers, c.rev_v4, c.cum_rev_v4,
       CAST(c.cum_rev_v4 // cs.n_cohort AS BIGINT) AS ltv_per_signup_v4
FROM c JOIN cs ON cs.cohort_week = c.cohort_week
WHERE c.week_n <= 8
ORDER BY cohort_week, week_n
"""


@register("cohort_ltv_triangle", oracle=_LTV_ORACLE, bench=True,
          doc="LTV cohort triangle: signup week x weeks-since-signup "
              "purchase revenue, cumulative revenue, and per-signup "
              "LTV in 1e-4 units — the value-weighted sibling of "
              "retention_cohorts")
def cohort_ltv_triangle(spark, sf_dir):
    """The growth team's second table: where ``retention_cohorts``
    counts WHO came back, this sums WHAT they spent — per (signup
    cohort week, weeks since signup): distinct buyers, revenue,
    cumulative cohort revenue, and cumulative revenue per SIGNUP
    (the LTV curve a payback-period model reads).  Cohort
    conventions (week truncation, week_n arithmetic, the <= 8
    horizon) are identical to retention_cohorts so the two
    triangles align row-for-row.

    Exactness: purchase values floor into 1e-4 fixed point at the
    row (the QTE idiom), all aggregates are integer sums, and the
    per-signup LTV is one TRUNCATING integer division (Spark div ==
    DuckDB integer //, including on a negative cumulative revenue if
    refunds ever appear) by the cohort's signup count (>= 1 by
    construction — a cohort exists only if someone signed up in it).
    Weeks with zero purchases emit no row; the cumulative sum over
    present rows is unaffected.

    Scale shape: the signup argmin and the purchase join shuffle on
    user_id (uniform key); the cohort x week rollup reduces to a
    calendar-bounded grid, the cumulative window runs over <= 9
    rows per cohort, and the cohort-size join is grid-grain.
    """
    e = events_sane(spark, sf_dir)
    # cached: signups feeds the cohort-size aggregate AND the
    # purchase join — uncached, each consumer re-derives it from its
    # own parquet scan (observed: 3 FileScans in the final plan)
    signups = tracked_cache(_signup_cohorts(e))
    cs = signups.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("n_cohort"))
    purch = (
        e.filter(F.col("event_type") == "purchase")
        .join(signups, "user_id")
        .filter(F.col("ts") >= F.col("cohort_week"))
        .select(
            "cohort_week",
            F.floor(
                F.datediff(F.date_trunc("week", F.col("ts")),
                           F.col("cohort_week")) / F.lit(7.0)
            ).cast("long").alias("week_n"),
            "user_id",
            F.expr("CAST(floor(value * 10000.0e0) AS BIGINT)").alias("v4"),
        )
    )
    g = purch.groupBy("cohort_week", "week_n").agg(
        F.countDistinct("user_id").alias("n_buyers"),
        F.sum("v4").alias("rev_v4"),
    )
    w = (W.partitionBy("cohort_week").orderBy("week_n")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    c = g.withColumn("cum_rev_v4", F.sum("rev_v4").over(w))
    return (
        c.join(cs, "cohort_week")
        .filter(F.col("week_n") <= 8)
        .select(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            "week_n", "n_buyers", "rev_v4", "cum_rev_v4",
            F.expr("CAST(cum_rev_v4 div n_cohort AS BIGINT)")
            .alias("ltv_per_signup_v4"),
        )
        .orderBy("cohort_week", "week_n")
    )
