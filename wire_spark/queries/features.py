"""Feature-engineering operators over the event stream and the corpus:
exponential time-decay scoring, time-series resampling with forward
fill, deterministic negative sampling for contrastive training, and a
per-source duplication audit.

These extend the engine's training-data-pipeline surface (the same
category as dedup/similarity/curation): each is a standard feature
op a 100 TB pipeline runs daily, re-expressed as declarative Spark
with an exact DuckDB oracle.

Cross-engine notes (PARITY.md rules applied):
- decay weights are 0.5^h with integer h — exact powers of two, so
  value*weight is the same double in both engines; each addend is
  floor-truncated to the integer domain before summation (msum).
- epoch seconds: DuckDB ``epoch()`` is a DOUBLE with fractional
  micros and its BIGINT cast rounds-to-nearest, so both sides floor
  explicitly before the cast (Spark ``unix_timestamp`` already
  truncates).
- all sampling hashes are md5-derived (`md5_long`) — portable.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from wire_spark.catalog import register
from wire_spark.queries._util import EVENTS_SANITIZED_CTE, T, events_sane, md5_long

#: histogram-value-buckets per offset row in _hist_prefix's pass 1.
#: At 100 TB pick it so n_distinct_values/_HIST_BUCKET offset rows
#: stay trivially small (the same sizing rule as curation._PACK_BUCKET).
_HIST_BUCKET = 4096


def _hist_prefix(h, order_col, sums, parts=(), inclusive=True,
                 bucket=_HIST_BUCKET):
    """Distributed two-pass prefix sums over a histogram relation —
    the scale guard for every histogram-navigated argmin
    (quality_gini_stump / quality_tree_depth2 / model_auc_rank).

    A naive ``sum().over(W.orderBy(order_col))`` moves the WHOLE
    histogram through one task (Exchange SinglePartition).  For a
    bounded-domain feature (token counts) that is merely ugly; for a
    high-cardinality or continuous feature the histogram approaches
    corpus grain and the one-task window is the 100 TB killer — the
    same failure sequence_packing_plan's docstring dissects.  Two
    passes keep the result EXACT (bit-identical prefix sums, so the
    oracle hash is unchanged) while bounding every task:

    1. bucket histogram rows by ``floor(order_col / bucket)`` —
       deterministic, order-preserving (floor is monotone, negatives
       included), no sampled range bounds;
    2. per-bucket totals -> exclusive cumsum over the BUCKET-GRAIN
       relation (the one deliberate single-partition window:
       n_distinct/bucket narrow rows, never the histogram);
    3. broadcast the offsets back and window WITHIN each bucket.

    ``sums`` maps output column -> input column; ``parts`` adds
    partition keys (e.g. tree side) carried through both passes;
    ``inclusive=False`` yields the strictly-below prefix
    (rowsBetween(unboundedPreceding, -1), 0 for the first row).
    Output sums are LONG (exact to ~9.2e18 rows); callers widening
    to DECIMAL(38,0) for downstream products cast afterwards, same
    as they did on the window form.
    """
    from wire_spark.queries._util import tracked_cache

    parts = list(parts)
    in_cols = sorted(set(sums.values()))
    # cached: the bucketed histogram feeds BOTH passes (the bucket
    # totals and the within-bucket join); without persistence each
    # pass re-derives the histogram's whole upstream tree from the
    # scan — observed to triple quality_tree_depth2's wall time when
    # the two-pass form landed. This is the standard persist-before-
    # multi-pass discipline; the relation is histogram-grain, and a
    # cache that outgrows memory spills rather than failing.
    hb = tracked_cache(
        h.withColumn(
            "_bkt", F.floor(F.col(order_col) / F.lit(bucket)).cast("long")
        )
    )
    totals = hb.groupBy(*parts, "_bkt").agg(
        *[F.sum(c).alias(f"_t_{c}") for c in in_cols]
    )
    w_off = (
        (W.partitionBy(*parts) if parts else W).orderBy("_bkt")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    off = totals.select(
        *parts, "_bkt",
        *[
            F.coalesce(F.sum(f"_t_{c}").over(w_off), F.lit(0)).alias(f"_o_{c}")
            for c in in_cols
        ],
    )
    upper = W.currentRow if inclusive else -1
    w_in = (
        W.partitionBy(*parts, "_bkt").orderBy(order_col)
        .rowsBetween(W.unboundedPreceding, upper)
    )
    out = hb.join(F.broadcast(off), [*parts, "_bkt"])
    for out_col, in_col in sums.items():
        out = out.withColumn(
            out_col,
            F.coalesce(F.sum(in_col).over(w_in), F.lit(0)) + F.col(f"_o_{in_col}"),
        )
    return out.drop("_bkt", *[f"_o_{c}" for c in in_cols])


# --------------------------------------------------------------------
# exponential time-decay engagement score
# --------------------------------------------------------------------

_DECAY_ORACLE = EVENTS_SANITIZED_CTE + """,
mx AS (SELECT user_id, max(ts) AS mts FROM events GROUP BY user_id),
d AS (
  SELECT e.user_id,
         floor(e.value * pow(0.5,
             (CAST(floor(epoch(m.mts)) AS BIGINT)
              - CAST(floor(epoch(e.ts)) AS BIGINT)) // 3600) * 10000.0)
           AS add4
  FROM events e JOIN mx m USING (user_id)
)
SELECT user_id, count(*) AS n_events,
       COALESCE(sum(add4), 0) / 10000.0 AS decay_score
FROM d GROUP BY user_id
ORDER BY decay_score DESC, user_id
LIMIT 30
"""


@register("events_time_decay", oracle=_DECAY_ORACLE, bench=True,
          doc="per-user engagement score with 1-hour half-life decay "
              "anchored at each user's last event — top 30 users")
def events_time_decay(spark, sf_dir):
    """Exponential time-decay scoring (half-life = 1 hour): each
    event's value is weighted by 0.5^(hours before the user's latest
    event) and summed — the standard recency-weighted engagement /
    freshness feature. The half-life of 1/2 per integer hour makes
    every weight an exact power of two, so the weighted addend is the
    same double in both engines; addends are floored into integer
    micro-units before the (order-free) sum.

    Scale shape: the per-user anchor is a window max over user_id and
    the fold is a groupBy on the same key — one shuffle total, the
    aggregation reuses the window's partitioning (exchange reuse).
    Top-30 via TakeOrderedAndProject."""
    ev = events_sane(spark, sf_dir)
    w = W.partitionBy("user_id")
    d = ev.withColumn("mts", F.max("ts").over(w)).select(
        "user_id",
        F.floor(
            F.col("value")
            * F.pow(
                F.lit(0.5),
                F.expr("(unix_timestamp(mts) - unix_timestamp(ts)) div 3600"),
            )
            * F.lit(10000.0)
        ).alias("add4"),
    )
    return (
        d.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.coalesce(F.sum("add4"), F.lit(0)) / F.lit(10000.0)).alias(
                "decay_score"
            ),
        )
        .orderBy(F.desc("decay_score"), F.asc("user_id"))
        .limit(30)
    )


# --------------------------------------------------------------------
# time-series resample to an hourly grid + forward fill
# --------------------------------------------------------------------

_RESAMPLE_ORACLE = EVENTS_SANITIZED_CTE + """,
hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hr,
         sum(CAST(floor(value * 10000.0) AS HUGEINT)) / 10000.0 AS hv
  FROM events GROUP BY 1, 2
),
span AS (
  SELECT event_type, min(hr) AS mn, max(hr) AS mx FROM hourly GROUP BY 1
),
grid AS (
  SELECT s.event_type,
         unnest(generate_series(s.mn, s.mx, INTERVAL 1 HOUR)) AS hr
  FROM span s
),
j AS (
  SELECT g.event_type, g.hr, h.hv
  FROM grid g LEFT JOIN hourly h USING (event_type, hr)
),
f AS (
  SELECT event_type, hr,
         last_value(hv IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY hr
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled,
         CASE WHEN hv IS NULL THEN 1 ELSE 0 END AS was_gap
  FROM j
)
SELECT event_type, strftime(hr, '%Y-%m-%d %H:%M:%S') AS hour_ts,
       filled, was_gap
FROM f WHERE hr < TIMESTAMP '2024-01-08 00:00:00'
ORDER BY event_type, hour_ts
"""


@register("events_resample_ffill", oracle=_RESAMPLE_ORACLE,
          doc="resample per-type event values to a gapless hourly grid "
              "with forward fill (first week shown)")
def events_resample_ffill(spark, sf_dir):
    """Time-series resampling: aggregate to hourly buckets, densify to
    a gapless grid (sequence + explode — the Spark idiom for DuckDB's
    generate_series), and forward-fill gaps with the last observed
    value (`last(ignorenulls=True)` over an ordered per-key window).

    Scale shape: the hourly pre-aggregation is the data-sized step
    (one shuffle, map-side combine); everything after operates on the
    GRID, whose size is types x hours — bounded by wall-clock time,
    not data volume, so the per-key ffill window holds at any scale.
    The first hour of every key is observed by construction (the grid
    starts at min(hr)), so `filled` is never null."""
    ev = events_sane(spark, sf_dir)
    hourly = (
        ev.select(
            "event_type",
            F.date_trunc("hour", F.col("ts")).alias("hr"),
            F.floor(F.col("value") * F.lit(10000.0)).alias("v4"),
        )
        .groupBy("event_type", "hr")
        .agg((F.sum(F.col("v4").cast("decimal(38,0)")) / F.lit(10000.0)).alias("hv"))
    )
    span = hourly.groupBy("event_type").agg(
        F.min("hr").alias("mn"), F.max("hr").alias("mx")
    )
    grid = span.select(
        "event_type",
        F.explode(F.expr("sequence(mn, mx, interval 1 hour)")).alias("hr"),
    )
    j = grid.join(hourly, ["event_type", "hr"], "left")
    w = (
        W.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        j.select(
            "event_type",
            F.date_format("hr", "yyyy-MM-dd HH:mm:ss").alias("hour_ts"),
            F.last("hv", ignorenulls=True).over(w).alias("filled"),
            F.when(F.col("hv").isNull(), 1).otherwise(0).alias("was_gap"),
            F.col("hr"),
        )
        .filter(F.col("hr") < F.lit("2024-01-08 00:00:00").cast("timestamp"))
        .select("event_type", "hour_ts", "filled", "was_gap")
        .orderBy("event_type", "hour_ts")
    )


# --------------------------------------------------------------------
# deterministic negative sampling (contrastive training pairs)
# --------------------------------------------------------------------

_NEGSAMPLE_ORACLE = """
WITH n AS (SELECT count(*) AS n FROM documents),
cand AS (
  SELECT d.doc_id, i.i,
         CAST(CONCAT('0x', SUBSTRING(md5(CAST(d.doc_id AS VARCHAR) || '#' ||
              CAST(i.i AS VARCHAR)), 1, 15)) AS BIGINT) % n.n AS neg_id
  FROM documents d CROSS JOIN n
  CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS i) i
  WHERE d.doc_id < 40
)
SELECT c.doc_id, c.i, c.neg_id,
       CASE WHEN d2.lang = d1.lang THEN 1 ELSE 0 END AS same_lang
FROM cand c
JOIN documents d1 ON c.doc_id = d1.doc_id
JOIN documents d2 ON c.neg_id = d2.doc_id
WHERE c.neg_id != c.doc_id
ORDER BY c.doc_id, c.i
"""


@register("negative_sampling_pairs", oracle=_NEGSAMPLE_ORACLE,
          doc="deterministic contrastive negatives: 4 hash-drawn negative "
              "docs per anchor, with a same-language collision flag")
def negative_sampling_pairs(spark, sf_dir):
    """Negative sampling for contrastive training: each anchor doc
    draws k=4 pseudo-random partners via md5(doc_id#i) mod N —
    deterministic (reproducible batches, resumable jobs) yet
    uniform. Self-pairs are dropped; the same_lang flag marks
    in-language negatives (the hard-negative/false-negative signal a
    curriculum builder wants).

    Scale shape: the draw is a projection (no shuffle); resolving
    negatives is a self equi-join on doc_id — co-partitioned, one
    shuffle each side. The doc_id < 40 cut bounds driver output; the
    plan is identical without it. Assumes doc_ids are dense 0..N-1
    (guaranteed by TESTDATA.md); with sparse ids you'd draw against a
    zipWithIndex-style dense rank instead."""
    docs = T(spark, sf_dir, "documents")
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    anchors = docs.filter(F.col("doc_id") < 40).select("doc_id", "lang")
    cand = (
        anchors.crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            F.col("lang").alias("a_lang"),
            F.explode(F.array(*[F.lit(i) for i in (1, 2, 3, 4)])).alias("i"),
            "n",
        )
        .select(
            "doc_id",
            "a_lang",
            "i",
            (
                md5_long(
                    F.concat(
                        F.col("doc_id").cast("string"),
                        F.lit("#"),
                        F.col("i").cast("string"),
                    )
                ) % F.col("n")
            ).alias("neg_id"),
        )
        .filter(F.col("neg_id") != F.col("doc_id"))
    )
    d2 = docs.select(F.col("doc_id").alias("neg_id"), F.col("lang").alias("n_lang"))
    return (
        cand.join(d2, "neg_id")
        .select(
            "doc_id",
            "i",
            "neg_id",
            F.when(F.col("n_lang") == F.col("a_lang"), 1).otherwise(0).alias(
                "same_lang"
            ),
        )
        .orderBy("doc_id", "i")
    )


# --------------------------------------------------------------------
# duplication-rate audit per source
# --------------------------------------------------------------------

# --------------------------------------------------------------------
# pairwise Pearson correlation between event-type hourly series
# --------------------------------------------------------------------

_TYPECORR_ORACLE = EVENTS_SANITIZED_CTE + """,
hc AS (
  SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS c
  FROM events GROUP BY 1, 2
),
span AS (SELECT min(hr) AS mn, max(hr) AS mx FROM hc),
grid_h AS (
  SELECT unnest(generate_series(s.mn, s.mx, INTERVAL 1 HOUR)) AS hr FROM span s
),
types AS (SELECT DISTINCT event_type FROM events),
grid AS (SELECT t.event_type, g.hr FROM types t CROSS JOIN grid_h g),
dense AS (
  SELECT g.event_type, g.hr, COALESCE(h.c, 0) AS c
  FROM grid g LEFT JOIN hc h USING (event_type, hr)
),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         count(*) AS n, sum(a.c) AS sx, sum(b.c) AS sy,
         sum(a.c * b.c) AS sxy, sum(a.c * a.c) AS sx2, sum(b.c * b.c) AS sy2
  FROM dense a JOIN dense b ON a.hr = b.hr AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT type_a, type_b, n AS n_hours,
       floor((n * sxy - sx * sy) * 10000.0 /
             sqrt((n * sx2 - sx * sx) * 1.0 * (n * sy2 - sy * sy))) / 10000.0
         AS pearson_r
FROM pairs
WHERE (n * sx2 - sx * sx) > 0 AND (n * sy2 - sy * sy) > 0
ORDER BY type_a, type_b
"""


@register("events_type_correlation", oracle=_TYPECORR_ORACLE,
          doc="pairwise Pearson correlation between per-type hourly "
              "activity series (gap hours count as zero)")
def events_type_correlation(spark, sf_dir):
    """Cross-signal analysis: Pearson r between every pair of event
    types' hourly activity series, densified so silent hours count
    as zero (otherwise correlation is computed on a biased support).
    All five moment sums are exact integers; the only float math is
    one sqrt + division at the end, floor-truncated at 4dp.

    Scale shape: the data-sized step is the hourly count (one
    shuffle, map-side combine); the series align on the hour grid —
    bounded by wall-clock span, not data volume — and the pair join
    fans each grid row out by the (small) type count. Constant-series
    pairs (zero variance) are excluded rather than divided by zero.
    At extreme scale the BIGINT moments would overflow around 3e9
    events/hour-pair; promote the sums to DECIMAL(38,0) there."""
    ev = events_sane(spark, sf_dir)
    hc = (
        ev.select("event_type", F.date_trunc("hour", F.col("ts")).alias("hr"))
        .groupBy("event_type", "hr")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    span = hc.agg(F.min("hr").alias("mn"), F.max("hr").alias("mx"))
    grid_h = span.select(
        F.explode(F.expr("sequence(mn, mx, interval 1 hour)")).alias("hr")
    )
    types = ev.select("event_type").distinct()
    grid = types.crossJoin(grid_h)
    dense = grid.join(hc, ["event_type", "hr"], "left").select(
        "event_type", "hr", F.coalesce(F.col("c"), F.lit(0)).alias("c")
    )
    a = dense.select(
        F.col("event_type").alias("type_a"), "hr", F.col("c").alias("ca")
    )
    b = dense.select(
        F.col("event_type").alias("type_b"), "hr", F.col("c").alias("cb")
    )
    pairs = (
        a.join(b, ["hr"])
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("ca").alias("sx"),
            F.sum("cb").alias("sy"),
            F.sum(F.col("ca") * F.col("cb")).alias("sxy"),
            F.sum(F.col("ca") * F.col("ca")).alias("sx2"),
            F.sum(F.col("cb") * F.col("cb")).alias("sy2"),
        )
    )
    vx = F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("sy2") - F.col("sy") * F.col("sy")
    r = F.floor(
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) * F.lit(10000.0)
        / F.sqrt(vx * F.lit(1.0) * vy)
    ) / F.lit(10000.0)
    return (
        pairs.filter((vx > 0) & (vy > 0))
        .select("type_a", "type_b", F.col("n").alias("n_hours"),
                r.alias("pearson_r"))
        .orderBy("type_a", "type_b")
    )


# --------------------------------------------------------------------
# deterministic weighted sampling (Efraimidis-Spirakis A-ES)
# --------------------------------------------------------------------

_WSAMPLE_ORACLE = """
WITH k AS (
  SELECT doc_id, n_chars,
         -ln((CAST(CONCAT('0x', SUBSTRING(md5(CAST(doc_id AS VARCHAR) || ':w'),
                          1, 15)) AS BIGINT) + 1) / 1152921504606846976.0)
           / n_chars AS key
  FROM documents
)
SELECT doc_id, n_chars,
       floor(key * 100000000.0) / 100000000.0 AS sample_key
FROM k
ORDER BY sample_key, doc_id
LIMIT 40
"""


@register("sample_weighted_by_length", oracle=_WSAMPLE_ORACLE,
          doc="weighted sample without replacement (Efraimidis-Spirakis "
              "A-ES, md5-seeded): 40 docs drawn proportional to length")
def sample_weighted_by_length(spark, sf_dir):
    """Weighted sampling without replacement via the A-ES one-pass
    reduction (Efraimidis & Spirakis 2006): each row draws a uniform
    u from its md5 hash and keys itself by -ln(u)/weight; the k
    smallest keys ARE a weight-proportional sample. That turns
    weighted WOR sampling — normally a sequential process — into a
    stateless projection + top-k, the shape that scales: no global
    sort (TakeOrdered), no driver-side pass, reproducible across
    runs and engines because u is md5-derived, not a RNG.

    Weights here are n_chars (longer docs proportionally likelier —
    the token-budget-aware sampling a corpus builder wants); any
    positive column works."""
    docs = T(spark, sf_dir, "documents")
    u = (
        md5_long(F.concat(F.col("doc_id").cast("string"), F.lit(":w"))) + 1
    ) / F.lit(1152921504606846976.0)
    key = -F.log(u) / F.col("n_chars")
    return (
        docs.select(
            "doc_id",
            "n_chars",
            (F.floor(key * F.lit(100000000.0)) / F.lit(100000000.0)).alias(
                "sample_key"
            ),
        )
        .orderBy("sample_key", "doc_id")
        .limit(40)
    )


_DUPRATE_ORACLE = """
WITH h AS (SELECT source, md5(text) AS h FROM documents)
SELECT source, count(*) AS n_docs, count(DISTINCT h) AS n_unique,
       floor((count(*) - count(DISTINCT h)) * 10000.0 / count(*)) / 10000.0
         AS dup_ratio
FROM h GROUP BY source ORDER BY source
"""


@register("dedup_rate_by_source", oracle=_DUPRATE_ORACLE,
          doc="exact duplication rate per source (md5 content hash) — "
              "the provenance-level dedup dashboard")
def dedup_rate_by_source(spark, sf_dir):
    """Per-provenance duplication audit: content-hash each document
    and report the exact dup ratio by source — the first chart on any
    crawl-quality dashboard (which feeds decide-before-dedup: a
    source at 40% dup gets a cheaper pipeline than one at 1%).

    Scale shape: one shuffle on (source, hash) for the distinct, then
    a map-side-combinable rollup to source; text never moves — only
    its 128-bit hash does."""
    h = T(spark, sf_dir, "documents").select(
        "source", F.md5(F.col("text")).alias("h")
    )
    return (
        h.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("h").alias("n_unique"),
        )
        .select(
            "source",
            "n_docs",
            "n_unique",
            (
                F.floor(
                    (F.col("n_docs") - F.col("n_unique")) * F.lit(10000.0)
                    / F.col("n_docs")
                ) / F.lit(10000.0)
            ).alias("dup_ratio"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------
# stratified weighted sample: top-k A-ES draw per source
# --------------------------------------------------------------------

_STRATWS_ORACLE = """
WITH k AS (
  SELECT doc_id, source, n_chars,
         -ln((CAST(CONCAT('0x', SUBSTRING(md5(CAST(doc_id AS VARCHAR) || ':w'),
                          1, 15)) AS BIGINT) + 1) / 1152921504606846976.0)
           / n_chars AS key
  FROM documents
), r AS (
  SELECT doc_id, source, n_chars,
         floor(key * 100000000.0) / 100000000.0 AS sample_key,
         row_number() OVER (PARTITION BY source
                            ORDER BY key, doc_id) AS rk
  FROM k
)
SELECT source, doc_id, n_chars, sample_key
FROM r WHERE rk <= 10
ORDER BY source, sample_key, doc_id
"""


@register("sample_weighted_per_source", oracle=_STRATWS_ORACLE,
          doc="stratified weighted sample: 10 docs per source drawn "
              "proportional to length (A-ES per stratum)")
def sample_weighted_per_source(spark, sf_dir):
    """Per-stratum Efraimidis-Spirakis draw: the k smallest
    -ln(u)/weight keys WITHIN each source are a weight-proportional
    sample of that source — the balanced-mixture sampler a corpus
    builder uses when sources must keep fixed representation.

    Scale shape: one shuffle on ``source``; the rank-<=10 filter
    compiles to WindowGroupLimit, so each partition retains only its
    top 10 candidates map-side before the shuffle — per-stratum
    top-k, never a global sort. Same md5-seeded key as
    ``sample_weighted_by_length`` (reproducible, engine-portable)."""
    docs = T(spark, sf_dir, "documents")
    u = (
        md5_long(F.concat(F.col("doc_id").cast("string"), F.lit(":w"))) + 1
    ) / F.lit(1152921504606846976.0)
    key = -F.log(u) / F.col("n_chars")
    w = W.partitionBy("source").orderBy("key", "doc_id")
    return (
        docs.select("doc_id", "source", "n_chars", key.alias("key"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select(
            "source",
            "doc_id",
            "n_chars",
            (F.floor(F.col("key") * F.lit(100000000.0))
             / F.lit(100000000.0)).alias("sample_key"),
        )
        .orderBy("source", "sample_key", "doc_id")
    )


# --------------------------------------------------------------------
# cross-source contamination matrix (shared near-dup content)
# --------------------------------------------------------------------

_XSOURCE_ORACLE = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         unnest([ words[i] || ' ' || words[i+1] || ' ' || words[i+2]
                  for i in range(1, len(words)-1) ]) AS shingle
  FROM w
), sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), dpairs AS (
  SELECT d1, d2 FROM inter
  JOIN sizes s1 ON d1 = s1.doc_id
  JOIN sizes s2 ON d2 = s2.doc_id
  WHERE i * 1.0 / (s1.n + s2.n - i) >= 0.8
), spairs AS (
  SELECT least(da.source, db.source) AS source_a,
         greatest(da.source, db.source) AS source_b,
         count(*) AS n_pairs
  FROM dpairs p
  JOIN documents da ON p.d1 = da.doc_id
  JOIN documents db ON p.d2 = db.doc_id
  GROUP BY 1, 2
),
per_src AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source)
SELECT s.source_a, s.source_b, s.n_pairs,
       sa.n_docs AS n_a, sb.n_docs AS n_b
FROM spairs s
JOIN per_src sa ON s.source_a = sa.source
JOIN per_src sb ON s.source_b = sb.source
ORDER BY s.source_a, s.source_b
"""


@register("source_contamination_matrix", oracle=_XSOURCE_ORACLE,
          doc="cross-source contamination: near-dup pairs shared "
              "between source pairs (includes within-source diagonal)")
def source_contamination_matrix(spark, sf_dir):
    """Which sources republish (near-copies of) each other's
    documents: every >=0.8-Jaccard pair is mapped to its unordered
    source pair and counted, with per-source doc counts as margins.
    Off-diagonal entries are the provenance audit a corpus builder
    runs before per-source mixing weights — content double-counted
    across sources silently doubles its effective weight; the
    diagonal is within-source duplication.

    Scale shape: pair building is the capped-Jaccard join (bounded;
    LSH edges at full scale, as elsewhere); the two provenance
    lookups join the TINY pair list against the (doc_id, source)
    projection — broadcast the pair side, never the corpus; the
    matrix is |sources|^2. Text never shuffles."""
    from wire_spark.queries.dedup import _jaccard_pairs

    pairs = _jaccard_pairs(spark, sf_dir, 0.8).select("d1", "d2")
    src = T(spark, sf_dir, "documents").select("doc_id", "source")
    tagged = (
        F.broadcast(pairs)
        .join(src.select(F.col("doc_id").alias("d1"),
                         F.col("source").alias("sa")), "d1")
        .join(src.select(F.col("doc_id").alias("d2"),
                         F.col("source").alias("sb")), "d2")
    )
    spairs = (
        tagged.select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    per_src = src.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        spairs.join(
            F.broadcast(per_src.select(F.col("source").alias("source_a"),
                                       F.col("n_docs").alias("n_a"))),
            "source_a",
        )
        .join(
            F.broadcast(per_src.select(F.col("source").alias("source_b"),
                                       F.col("n_docs").alias("n_b"))),
            "source_b",
        )
        .select("source_a", "source_b", "n_pairs", "n_a", "n_b")
        .orderBy("source_a", "source_b")
    )


# --------------------------------------------------------------------
# distributed logistic-regression gradient step — iterative ML as
# relational algebra (the model-training endpoint of the pipeline)
# --------------------------------------------------------------------

# One full batch-gradient-descent step of logistic regression (predict
# lang='en' from token/char counts), then the NEXT step's gradient and
# loss — the training loop made concrete the same way
# embedding_power_iteration unrolls power iteration. Exactness plan:
# step-1 gradients at w=0 are pure integers (p=0.5 exactly); step-1
# weights are exact rationals g_j/(4*n*1e4) (lr=1/2e4), so every
# step-2 margin is ONE double division of an int64 numerator --
# engine-identical; sigmoid/log addends floor to micro-units before
# integer summation (the repo's ln()/exp() idiom); final ratios use
# exact integer division (loss) and floor(x/100.0e0) (gradients,
# exact because the numerator is an integer far from ulp boundaries).
_LOGREG_ORACLE = """
WITH d AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS x1,
         CAST(n_chars AS BIGINT) AS x2
  FROM documents
), g AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum((2 * y - 1) * x1) AS BIGINT) AS g1,
         CAST(sum((2 * y - 1) * x2) AS BIGINT) AS g2,
         CAST(sum(2 * y - 1) AS BIGINT) AS gb
  FROM d
), m AS (
  SELECT d.y, d.x1, d.x2, g.n, g.g1, g.g2, g.gb,
         (g.g1 * d.x1 + g.g2 * d.x2 + g.gb)
           / (4.0e0 * g.n * 10000.0e0) AS mi
  FROM d, g
), p AS (
  -- clamp: a saturated margin makes the sigmoid EXACTLY 0.0/1.0 in
  -- doubles and ln(0) then errors in DuckDB while Spark NULL-bands
  -- (r11 longdocs divergence); the clamp is the standard logloss
  -- epsilon, the identical op tree on both engines, and a no-op on
  -- any non-degenerate margin (|mi| < 27)
  SELECT y, x1, x2, n, g1, g2, gb,
         least(greatest(1.0e0 / (1.0e0 + exp(-mi)), 1.0e-12),
               1.0e0 - 1.0e-12) AS pi
  FROM m
), a AS (
  SELECT n, g1, g2, gb,
    CAST(floor(-(y * ln(pi) + (1 - y) * ln(1.0e0 - pi)) * 1000000.0e0)
         AS BIGINT) AS l6,
    CAST(floor((pi - y) * x1 * 1000000.0e0) AS BIGINT) AS q1_6,
    CAST(floor((pi - y) * x2 * 1000000.0e0) AS BIGINT) AS q2_6
  FROM p
)
SELECT n, g1, g2, gb,
       CAST(sum(l6) // (n * 100) AS BIGINT) AS loss2_1e4,
       CAST(floor(sum(q1_6) / (n * 100.0e0)) AS BIGINT) AS grad2_x1_1e4,
       CAST(floor(sum(q2_6) / (n * 100.0e0)) AS BIGINT) AS grad2_x2_1e4
FROM a GROUP BY n, g1, g2, gb
"""


@register("quality_logreg_step", oracle=_LOGREG_ORACLE, bench=True,
          doc="one exact batch logistic-regression step (predict "
              "lang=en from token/char counts): integer step-1 "
              "gradient, rational weights, micro-unit step-2 "
              "loss+gradient — distributed training as relational ops")
def quality_logreg_step(spark, sf_dir):
    """The training loop an LLM-data pipeline ultimately feeds,
    executed BY the pipeline engine: one full-batch logistic-
    regression gradient step (features: token count, char count,
    bias; label: lang='en'), then the next step's loss and gradient.
    Every further epoch is this same shape repeated — one corpus scan
    producing a feature-dimension-sized aggregate, with the weight
    vector broadcast back — which is why data-parallel GD scales to
    any corpus the scan scales to.

    Exactness: at w=0 the sigmoid is exactly 1/2, so the step-1
    gradient is a pure integer relation; with lr = 1/2e4 the step-1
    weights are exact rationals whose step-2 margins are one int64/
    double division per row (engine-identical); sigmoid/log addends
    floor to micro-units before integer summation. All per-row math
    is JVM built-ins inside whole-stage codegen — no UDFs anywhere
    in a gradient step."""
    d = T(spark, sf_dir, "documents").select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("x1"),
        F.col("n_chars").cast("long").alias("x2"),
    )
    g = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((2 * F.col("y") - 1) * F.col("x1")).alias("g1"),
        F.sum((2 * F.col("y") - 1) * F.col("x2")).alias("g2"),
        F.sum(2 * F.col("y") - 1).alias("gb"),
    )
    m = d.crossJoin(F.broadcast(g)).withColumn(
        "mi",
        F.expr("(g1 * x1 + g2 * x2 + gb) / (4.0e0 * n * 10000.0e0)"),
    )
    # clamped sigmoid — see the oracle comment (longdocs ln(0) fix)
    p = m.withColumn("pi", F.expr(
        "least(greatest(1.0e0 / (1.0e0 + exp(-mi)), 1.0e-12),"
        " 1.0e0 - 1.0e-12)"))
    a = p.select(
        "n", "g1", "g2", "gb",
        F.expr("CAST(floor(-(y * ln(pi) + (1 - y) * ln(1.0e0 - pi)) "
               "* 1000000.0e0) AS BIGINT)").alias("l6"),
        F.expr("CAST(floor((pi - y) * x1 * 1000000.0e0) AS BIGINT)").alias("q1_6"),
        F.expr("CAST(floor((pi - y) * x2 * 1000000.0e0) AS BIGINT)").alias("q2_6"),
    )
    return (
        a.groupBy("n", "g1", "g2", "gb")
        .agg(
            F.expr("CAST(sum(l6) div (n * 100) AS BIGINT)").alias("loss2_1e4"),
            F.expr("CAST(floor(sum(q1_6) / (n * 100.0e0)) AS BIGINT)")
            .alias("grad2_x1_1e4"),
            F.expr("CAST(floor(sum(q2_6) / (n * 100.0e0)) AS BIGINT)")
            .alias("grad2_x2_1e4"),
        )
    )


# --------------------------------------------------------------------
# exact ROC-AUC via score histogram — model evaluation without a
# global sort (the rank-sum/Mann-Whitney identity on grouped counts)
# --------------------------------------------------------------------

# AUC of "token count predicts lang='en'", computed EXACTLY from the
# per-score histogram: AUC = sum_s [ neg_below(s)*pos(s)
# + pos(s)*neg(s)/2 ] / (P*N). Doubling the numerator keeps every
# term an integer (tie midranks are half-integers); the final ratio
# widens to DECIMAL/HUGEINT (the supplier_return_pchart discipline)
# because P*N outgrows int64 past ~sf3000. No row-grain sort or
# window anywhere: the only window runs over the SCORE-grain
# histogram (bounded by distinct score values, not corpus size).
_AUC_ORACLE = """
WITH d AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS s
  FROM documents
), h AS (
  SELECT s,
         CAST(count(CASE WHEN y = 1 THEN 1 END) AS BIGINT) AS pos_c,
         CAST(count(CASE WHEN y = 0 THEN 1 END) AS BIGINT) AS neg_c
  FROM d GROUP BY s
), c AS (
  SELECT s, pos_c, neg_c,
         CAST(COALESCE(sum(neg_c) OVER (ORDER BY s
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS neg_below
  FROM h
), tot AS (
  SELECT CAST(sum(pos_c) AS BIGINT) AS p, CAST(sum(neg_c) AS BIGINT) AS n
  FROM h
)
SELECT tot.p AS n_pos, tot.n AS n_neg,
       CAST(CAST(sum(c.pos_c * (2 * c.neg_below + c.neg_c)) AS HUGEINT)
            * 10000 // (2 * CAST(tot.p AS HUGEINT) * tot.n) AS BIGINT)
         AS auc_1e4
FROM c, tot
GROUP BY tot.p, tot.n
"""


@register("model_auc_rank", oracle=_AUC_ORACLE, bench=True,
          doc="exact ROC-AUC (Mann-Whitney rank-sum with tie "
              "midranks) from the per-score histogram — no row-grain "
              "sort, 128-bit-exact final ratio")
def model_auc_rank(spark, sf_dir):
    """The evaluation metric for every scoring rule the pipeline
    produces (quality scores, dup scores, classifier margins): exact
    ROC-AUC of token count predicting lang='en', via the rank-sum
    identity on the SCORE HISTOGRAM. A naive AUC ranks all rows (a
    global sort — the 100 TB killer); the histogram form needs one
    map-combinable groupBy on the integer score plus a window over
    the score-grain relation (bounded by distinct scores), and ties
    get their exact midrank credit by construction.

    Doubled numerator keeps all rank credit integral; the numerator
    ACCUMULATES in DECIMAL(38,0) (a summand is cast before the sum —
    the running total is ~2*P*N, which wraps int64 past ~sf3000,
    exactly where the DuckDB oracle's HUGEINT sum stays exact), and
    the final ratio divides in DECIMAL(38,0)/HUGEINT, then floors to
    4dp as an exact integer division."""
    d = T(spark, sf_dir, "documents").select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("s"),
    )
    h = d.groupBy("s").agg(
        F.count(F.when(F.col("y") == 1, 1)).alias("pos_c"),
        F.count(F.when(F.col("y") == 0, 1)).alias("neg_c"),
    )
    c = _hist_prefix(h, "s", {"neg_below": "neg_c"}, inclusive=False)
    # one aggregate over the prefix relation: the class totals fall
    # out of the same pass (p = sum of pos counts; n = the largest
    # inclusive negative prefix, exact by monotonicity), so the
    # histogram has a single consumer and no crossJoin re-derives it
    return (
        c.groupBy()
        .agg(
            F.sum("pos_c").alias("p"),
            F.max(F.col("neg_below") + F.col("neg_c")).alias("n"),
            F.sum(
                F.expr("CAST(pos_c AS DECIMAL(38,0)) * (2 * neg_below + neg_c)")
            ).alias("num"),
        )
        .filter(F.col("p").isNotNull())
        # ^ empty corpus: the no-groupBy agg emits one all-NULL row
        # where the oracle emits zero — drop the sentinel
        .select(
            F.col("p").alias("n_pos"),
            F.col("n").alias("n_neg"),
            F.expr(
                "CAST(num * 10000 div nullif(2 * CAST(p AS DECIMAL(19,0)) "
                "* CAST(n AS DECIMAL(19,0)), 0) AS BIGINT)"
            ).alias("auc_1e4"),
        )
    )


# --------------------------------------------------------------------
# bootstrap confidence interval — metric error bars by deterministic
# Poisson resampling (the distributed bootstrap)
# --------------------------------------------------------------------

# Error bars for any corpus metric without resampling rows: each of 32
# bootstrap replicates assigns every doc a Poisson(1) weight derived
# from md5(doc_id, replicate) through the inverse CDF (integer
# micro-probability thresholds — identical CASE ladder both engines),
# so a replicate's mean is an exact integer ratio and the whole
# procedure is reproducible bit-for-bit. This is how you put a CI on
# "mean tokens/doc" (or dup rate, quality score...) at 100 TB: one
# scan exploded x32, map-combinable partial sums per replicate, and
# the order statistics run over 32 rows.
_BOOTSTRAP_ORACLE = """
WITH d AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS x
  FROM documents
), r AS (
  SELECT unnest(range(0, 32)) AS rep
), u AS (
  SELECT d.doc_id, d.x, r.rep,
         CAST(CONCAT('0x', SUBSTRING(md5(CAST(d.doc_id AS VARCHAR)
              || ':' || CAST(r.rep AS VARCHAR)), 1, 15)) AS BIGINT)
           % 1000000 AS u6
  FROM d, r
), w AS (
  SELECT rep, x,
         CASE WHEN u6 < 367879 THEN 0
              WHEN u6 < 735759 THEN 1
              WHEN u6 < 919699 THEN 2
              WHEN u6 < 981012 THEN 3
              WHEN u6 < 996340 THEN 4
              WHEN u6 < 999406 THEN 5
              ELSE 6 END AS wt
  FROM u
), reps AS (
  SELECT rep,
         CAST(sum(wt * x) * 10000 // sum(wt) AS BIGINT) AS mean_1e4
  FROM w GROUP BY rep HAVING sum(wt) > 0
), ranked AS (
  SELECT mean_1e4,
         row_number() OVER (ORDER BY mean_1e4, rep) AS rn,
         count(*) OVER () AS m
  FROM reps
), full_mean AS (
  SELECT CAST(sum(x) * 10000 // count(*) AS BIGINT) AS mean_1e4 FROM d
)
SELECT full_mean.mean_1e4 AS mean_1e4,
       max(CASE WHEN ranked.rn = 2 THEN ranked.mean_1e4 END) AS ci_lo_1e4,
       max(CASE WHEN ranked.rn = ranked.m - 1 THEN ranked.mean_1e4 END)
         AS ci_hi_1e4,
       max(ranked.m) AS n_replicates
FROM ranked, full_mean
GROUP BY full_mean.mean_1e4
"""


@register("metric_bootstrap_ci", oracle=_BOOTSTRAP_ORACLE, bench=True,
          doc="bootstrap CI for mean tokens/doc: 32 deterministic "
              "Poisson(1)-weighted replicates (md5 inverse-CDF), "
              "exact integer replicate means, 2nd/31st order stats")
def metric_bootstrap_ci(spark, sf_dir):
    """Every metric the pipeline reports (mean quality, dup rate,
    tokens/doc) needs an error bar before it drives a decision; the
    Poisson bootstrap provides one in a single distributed pass. Each
    (doc, replicate) pair draws a Poisson(1) weight from the md5 hash
    through an integer inverse-CDF ladder — deterministic, so the CI
    is reproducible and oracle-checkable — and each replicate's mean
    is an exact fixed-point integer ratio.

    Scale shape: the x32 replicate explosion is a broadcast-grid
    crossJoin (rows x 32, map-combinable partial sums keyed on rep);
    replicate means are 32 rows, so the order statistics (2nd and
    31st = the ~95% percentile interval) cost nothing. Larger
    replicate counts trade linearly more scan work for tighter
    quantile resolution."""
    d = T(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split(F.col("text"), " ")).cast("long").alias("x")
    )
    reps_grid = spark.range(0, 32).select(F.col("id").cast("long").alias("rep"))
    u = d.crossJoin(F.broadcast(reps_grid)).withColumn(
        "u6",
        md5_long(
            F.concat_ws(":", F.col("doc_id").cast("string"),
                        F.col("rep").cast("string"))
        ) % 1_000_000,
    )
    wt = (
        F.when(F.col("u6") < 367879, 0)
        .when(F.col("u6") < 735759, 1)
        .when(F.col("u6") < 919699, 2)
        .when(F.col("u6") < 981012, 3)
        .when(F.col("u6") < 996340, 4)
        .when(F.col("u6") < 999406, 5)
        .otherwise(6)
    )
    reps = (
        u.withColumn("wt", wt)
        .groupBy("rep")
        .agg(F.sum(F.col("wt") * F.col("x")).alias("swx"),
             F.sum("wt").alias("sw"))
        .filter(F.col("sw") > 0)
        .select("rep", F.expr("CAST(swx * 10000 div sw AS BIGINT)").alias("mean_1e4"))
    )
    ranked = reps.select(
        "mean_1e4",
        F.row_number().over(W.orderBy("mean_1e4", "rep")).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("m"),
    )
    full_mean = d.agg(
        F.expr("CAST(sum(x) * 10000 div count(*) AS BIGINT)").alias("mean_1e4")
    )
    return (
        ranked.crossJoin(F.broadcast(full_mean).withColumnRenamed("mean_1e4", "fm"))
        .groupBy("fm")
        .agg(
            F.max(F.when(F.col("rn") == 2, F.col("mean_1e4"))).alias("ci_lo_1e4"),
            F.max(F.when(F.col("rn") == F.col("m") - 1, F.col("mean_1e4")))
            .alias("ci_hi_1e4"),
            F.max("m").alias("n_replicates"),
        )
        .select(F.col("fm").alias("mean_1e4"), "ci_lo_1e4", "ci_hi_1e4",
                "n_replicates")
    )


# --------------------------------------------------------------------
# calibration bins (reliability diagram) for the step-1 classifier
# --------------------------------------------------------------------

# Does predicted probability match observed frequency? Decile-bin the
# step-1 logistic scores (the same exact-rational margins as
# quality_logreg_step) and compare each bin's mean predicted p against
# its empirical positive rate — the reliability diagram behind every
# calibration (Platt/isotonic) decision. Bin ids come from the
# engine-identical double p, per-row p floors to micro-units before
# summation, and the empirical rate is an exact integer ratio.
_CALIB_ORACLE = """
WITH d AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS x1,
         CAST(n_chars AS BIGINT) AS x2
  FROM documents
), g AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum((2 * y - 1) * x1) AS BIGINT) AS g1,
         CAST(sum((2 * y - 1) * x2) AS BIGINT) AS g2,
         CAST(sum(2 * y - 1) AS BIGINT) AS gb
  FROM d
), p AS (
  SELECT d.y,
         1.0e0 / (1.0e0 + exp(-((g.g1 * d.x1 + g.g2 * d.x2 + g.gb)
           / (4.0e0 * g.n * 10000.0e0)))) AS pi
  FROM d, g
)
SELECT CAST(floor(pi * 10.0e0) AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n_bin,
       CAST(sum(CAST(floor(pi * 1000000.0e0) AS BIGINT))
            // (count(*) * 100) AS BIGINT) AS mean_p_1e4,
       CAST(sum(y) * 10000 // count(*) AS BIGINT) AS pos_rate_1e4
FROM p
GROUP BY bin
ORDER BY bin
"""


@register("model_calibration_bins", oracle=_CALIB_ORACLE, bench=True,
          doc="reliability diagram: decile bins of the step-1 "
              "logistic scores, mean predicted p vs exact empirical "
              "positive rate per bin")
def model_calibration_bins(spark, sf_dir):
    """Calibration audit for the pipeline's classifier scores: decile
    bins of predicted probability versus the observed positive rate —
    AUC says the ranking is right, this says the PROBABILITIES are.
    Shares quality_logreg_step's exactness plan (integer step-1
    gradient, exact-rational margins, engine-identical sigmoid); bin
    membership uses the identical double, per-bin means floor to
    micro-units first, and the empirical rate is pure integer
    division. Scale: one scan into a <=10-row aggregate with the
    weight relation broadcast."""
    d = T(spark, sf_dir, "documents").select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("x1"),
        F.col("n_chars").cast("long").alias("x2"),
    )
    g = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((2 * F.col("y") - 1) * F.col("x1")).alias("g1"),
        F.sum((2 * F.col("y") - 1) * F.col("x2")).alias("g2"),
        F.sum(2 * F.col("y") - 1).alias("gb"),
    )
    p = d.crossJoin(F.broadcast(g)).withColumn(
        "pi",
        F.expr("1.0e0 / (1.0e0 + exp(-((g1 * x1 + g2 * x2 + gb) "
               "/ (4.0e0 * n * 10000.0e0))))"),
    )
    return (
        p.groupBy(F.expr("CAST(floor(pi * 10.0e0) AS BIGINT)").alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n_bin"),
            F.expr("CAST(sum(CAST(floor(pi * 1000000.0e0) AS BIGINT)) "
                   "div (count(1) * 100) AS BIGINT)").alias("mean_p_1e4"),
            F.expr("CAST(sum(y) * 10000 div count(1) AS BIGINT)")
            .alias("pos_rate_1e4"),
        )
        .orderBy("bin")
    )


# --------------------------------------------------------------------
# k-anonymity audit — disclosure-risk governance on quasi-identifiers
# --------------------------------------------------------------------

# Before a table (or the training corpus derived from it) leaves the
# boundary, governance asks: how many individuals are re-identifiable
# from quasi-identifiers alone? Group customers by the QI tuple
# (mktsegment, nationkey, acctbal sign), bucket the equivalence-class
# sizes into the standard k bands, and report classes + rows at risk
# per band. k=1 rows are population-unique (directly re-identifiable);
# k<5 is the common release threshold.
_KANON_ORACLE = """
WITH classes AS (
  SELECT c_mktsegment, c_nationkey,
         CASE WHEN c_acctbal < 0 THEN 'neg' ELSE 'pos' END AS bal_sign,
         CAST(count(*) AS BIGINT) AS k
  FROM customer
  GROUP BY c_mktsegment, c_nationkey, bal_sign
), banded AS (
  SELECT CASE WHEN k = 1 THEN 'k=1 unique'
              WHEN k < 5 THEN 'k=2-4'
              WHEN k < 10 THEN 'k=5-9'
              ELSE 'k>=10' END AS k_band,
         k
  FROM classes
), tot AS (SELECT CAST(sum(k) AS BIGINT) AS n FROM banded)
SELECT b.k_band,
       CAST(count(*) AS BIGINT) AS n_classes,
       CAST(sum(b.k) AS BIGINT) AS n_rows,
       CAST(sum(b.k) * 10000 // tot.n AS BIGINT) AS row_share_1e4
FROM banded b, tot
GROUP BY b.k_band, tot.n
ORDER BY b.k_band
"""


@register("kanonymity_audit", oracle=_KANON_ORACLE, bench=True,
          doc="k-anonymity disclosure-risk audit: equivalence-class "
              "sizes over quasi-identifiers, banded into the standard "
              "k thresholds with rows-at-risk shares")
def kanonymity_audit(spark, sf_dir):
    """The release gate for any table leaving the pipeline: group by
    the quasi-identifier tuple (segment, nation, balance sign), and
    report how many equivalence classes — and what share of rows —
    fall in each k band. k=1 rows are population-unique; a k<5 band
    above ~0 usually blocks release or forces generalization
    (coarser QI buckets), which this same query re-audits.

    Scale shape: one map-combinable groupBy on the QI tuple (class
    grain), then a 4-row band aggregate with the 1-row total
    broadcast — the audit costs one scan regardless of table size,
    and every ratio is exact integer fixed-point."""
    c = T(spark, sf_dir, "customer").select(
        "c_mktsegment", "c_nationkey",
        F.when(F.col("c_acctbal") < 0, "neg").otherwise("pos").alias("bal_sign"),
    )
    classes = c.groupBy("c_mktsegment", "c_nationkey", "bal_sign").agg(
        F.count(F.lit(1)).alias("k")
    )
    banded = classes.select(
        F.when(F.col("k") == 1, "k=1 unique")
        .when(F.col("k") < 5, "k=2-4")
        .when(F.col("k") < 10, "k=5-9")
        .otherwise("k>=10")
        .alias("k_band"),
        "k",
    )
    tot = banded.agg(F.sum("k").alias("n"))
    return (
        banded.crossJoin(F.broadcast(tot))
        .groupBy("k_band", "n")
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            F.sum("k").alias("n_rows"),
        )
        .select(
            "k_band", "n_classes", "n_rows",
            F.expr("CAST(n_rows * 10000 div n AS BIGINT)").alias("row_share_1e4"),
        )
        .orderBy("k_band")
    )


# --------------------------------------------------------------------
# decision-stump training — exact best split by weighted Gini
# --------------------------------------------------------------------

# The distributed form of "train a depth-1 tree": every candidate
# threshold's weighted Gini impurity from the SCORE HISTOGRAM (the
# model_auc_rank relation), argmin by (score, threshold).  A naive
# implementation sorts rows; this one needs one map-combinable
# groupBy on the integer feature plus a window over the score-grain
# relation.  All arithmetic is integer: the weighted-impurity
# comparison runs as
#   gini_1e4 = floor(2e4 * (Pl*Nl*nr + Pr*Nr*nl) / (nl*nr*n))
# in DECIMAL(38,0)/HUGEINT (the product is ~n^3 — int64 wraps at
# ~sf0.3-grade corpus sizes; 128-bit holds to ~10^11 rows at the 1e4
# scale).
_GINI_ORACLE = """
WITH d AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS s
  FROM documents
), h AS (
  SELECT s,
         CAST(count(CASE WHEN y = 1 THEN 1 END) AS BIGINT) AS pos_c,
         CAST(count(CASE WHEN y = 0 THEN 1 END) AS BIGINT) AS neg_c
  FROM d GROUP BY s
), c AS (
  SELECT s,
         CAST(sum(pos_c) OVER (ORDER BY s) AS HUGEINT) AS pl,
         CAST(sum(neg_c) OVER (ORDER BY s) AS HUGEINT) AS nl
  FROM h
), tot AS (
  SELECT CAST(sum(pos_c) AS HUGEINT) AS p, CAST(sum(neg_c) AS HUGEINT) AS q
  FROM h
), cand AS (
  SELECT c.s, c.pl, c.nl,
         tot.p - c.pl AS pr, tot.q - c.nl AS nr,
         c.pl + c.nl AS n_left,
         (tot.p - c.pl) + (tot.q - c.nl) AS n_right,
         tot.p + tot.q AS n
  FROM c, tot
  WHERE (tot.p - c.pl) + (tot.q - c.nl) > 0
)
SELECT CAST(s AS BIGINT) AS split_at,
       CAST((20000 * (pl * nl * n_right + pr * nr * n_left))
            // (n_left * n_right * n) AS BIGINT) AS gini_1e4,
       CAST(n_left AS BIGINT) AS n_left,
       CAST(n_right AS BIGINT) AS n_right,
       CAST(pl AS BIGINT) AS pos_left,
       CAST(pr AS BIGINT) AS pos_right
FROM cand
ORDER BY gini_1e4, split_at
LIMIT 1
"""


@register("quality_gini_stump", oracle=_GINI_ORACLE, bench=True,
          doc="exact depth-1 decision-tree training: best token-count "
              "split by weighted Gini from the score histogram, "
              "128-bit integer argmin")
def quality_gini_stump(spark, sf_dir):
    """Train the simplest possible quality classifier — a decision
    stump "lang=en iff token count <= t" — EXACTLY: every candidate
    threshold's weighted Gini impurity, argmin.  The pattern behind
    every histogram-based tree learner (XGBoost/LightGBM grow trees
    from exactly this relation): no row-grain sort, one groupBy on
    the integer feature, prefix sums over the score-grain relation,
    and an integer argmin that both engines resolve identically
    (ties break toward the smaller threshold by construction).

    Scale: prefix sums run through ``_hist_prefix``'s distributed
    two-pass form, so even a HIGH-cardinality (continuous) feature
    never funnels its histogram through one task — only the
    bucket-grain offset cumsum is single-partition (plan-asserted);
    products are ~n^3 so the comparison runs in DECIMAL(38,0)/HUGEINT
    at the 1e4 fixed-point scale — exact to ~10^11 rows."""
    d = T(spark, sf_dir, "documents").select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("s"),
    )
    h = d.groupBy("s").agg(
        F.count(F.when(F.col("y") == 1, 1)).alias("pos_c"),
        F.count(F.when(F.col("y") == 0, 1)).alias("neg_c"),
    )
    c = _hist_prefix(h, "s", {"pl_l": "pos_c", "nl_l": "neg_c"}).select(
        "s",
        F.col("pl_l").cast("decimal(38,0)").alias("pl"),
        F.col("nl_l").cast("decimal(38,0)").alias("nl"),
    )
    # totals = the inclusive prefix maxima (prefix sums are monotone,
    # so max(pl)/max(nl) ARE the class totals, exactly) — derived
    # from c instead of a second aggregate over h so the histogram
    # has a single consumer and is never re-derived from the scan
    tot = c.agg(F.max("pl").alias("p"), F.max("nl").alias("q"))
    cand = (
        c.crossJoin(F.broadcast(tot))
        .withColumn("pr", F.col("p") - F.col("pl"))
        .withColumn("nr", F.col("q") - F.col("nl"))
        .withColumn("n_left", F.col("pl") + F.col("nl"))
        .withColumn("n_right", F.col("pr") + F.col("nr"))
        .withColumn("n", F.col("p") + F.col("q"))
        .filter(F.col("n_right") > 0)
        .select(
            F.expr(
                "CAST((20000 * (pl * nl * n_right + pr * nr * n_left)) "
                "div (n_left * n_right * n) AS BIGINT)"
            ).alias("gini_1e4"),
            F.col("s").alias("split_at"),
            F.col("n_left").cast("long").alias("n_left"),
            F.col("n_right").cast("long").alias("n_right"),
            F.col("pl").cast("long").alias("pos_left"),
            F.col("pr").cast("long").alias("pos_right"),
        )
    )
    best = cand.agg(
        F.min(
            F.struct(
                "gini_1e4", "split_at", "n_left", "n_right",
                "pos_left", "pos_right",
            )
        ).alias("b")
    ).filter(F.col("b").isNotNull())
    # ^ a no-groupBy agg over an EMPTY candidate set (empty table, or a
    # single distinct feature value leaving no valid split) yields one
    # all-NULL row; the oracle's LIMIT 1 yields zero rows — drop the
    # sentinel so both engines agree on degenerate input.
    return best.select(
        F.col("b.split_at").alias("split_at"),
        F.col("b.gini_1e4").alias("gini_1e4"),
        F.col("b.n_left").alias("n_left"),
        F.col("b.n_right").alias("n_right"),
        F.col("b.pos_left").alias("pos_left"),
        F.col("b.pos_right").alias("pos_right"),
    )


# --------------------------------------------------------------------
# mutual information between a feature and the label
# --------------------------------------------------------------------

# Feature selection's first question: how much does knowing the
# length band tell you about the language?  MI over the joint
# (length-band, lang) grid — bounded by the two domains, never by
# corpus size — with every addend floored to integer micro-nats
# before summation (the corpus_js_divergence discipline: textually
# identical IEEE double expressions in both engines, exact integer
# aggregation, final floor that no double rounding can shift).
_MI_ORACLE = """
WITH d AS (
  SELECT least(9, CAST(n_chars AS BIGINT) // 64) AS xb, lang
  FROM documents WHERE lang IS NOT NULL
), xy AS (
  SELECT xb, lang, CAST(count(*) AS BIGINT) AS n_xy FROM d GROUP BY xb, lang
), mx AS (
  SELECT xb, CAST(sum(n_xy) AS BIGINT) AS n_x FROM xy GROUP BY xb
), my AS (
  SELECT lang, CAST(sum(n_xy) AS BIGINT) AS n_y FROM xy GROUP BY lang
), tot AS (
  SELECT CAST(sum(n_xy) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS n_cells
  FROM xy
), addends AS (
  SELECT CAST(floor((n_xy * 1.0e0 / n)
              * ln((n_xy * 1.0e0 * n) / (n_x * 1.0e0 * n_y))
              * 1000000.0e0) AS BIGINT) AS a6
  FROM xy JOIN mx USING (xb) JOIN my USING (lang), tot
)
SELECT tot.n AS n_docs, tot.n_cells,
       floor(greatest(sum(a6), 0) / 100.0e0) / 10000.0e0 AS mi4
FROM addends, tot
GROUP BY tot.n, tot.n_cells
"""


@register("feature_mutual_information", oracle=_MI_ORACLE, bench=True,
          doc="mutual information between length band and language "
              "over the bounded joint grid, micro-nat fixed-point")
def feature_mutual_information(spark, sf_dir):
    """How informative is a feature about the label?  MI(length band;
    lang) in nats — the model-free dependence measure behind feature
    selection and leakage audits (an MI spike between a "neutral"
    feature and the label is how target leakage is caught before
    training).

    Scale shape: one map-combinable groupBy to the joint grid
    (10 x n_langs cells), marginals as window sums over the grid
    itself (cell-grain, no second scan), addends floored to integer
    micro-nats before the exact sum — partitioning-independent and
    engine-identical, same discipline as corpus_js_divergence."""
    d = T(spark, sf_dir, "documents").filter(
        F.col("lang").isNotNull()
    ).select(
        F.expr("least(9, CAST(n_chars AS BIGINT) div 64)").alias("xb"),
        "lang",
    )
    xy = d.groupBy("xb", "lang").agg(F.count(F.lit(1)).alias("n_xy"))
    wx = W.partitionBy("xb")
    wy = W.partitionBy("lang")
    grid = xy.select(
        "n_xy",
        F.sum("n_xy").over(wx).alias("n_x"),
        F.sum("n_xy").over(wy).alias("n_y"),
    )
    tot = xy.agg(
        F.sum("n_xy").alias("n"), F.count(F.lit(1)).alias("n_cells")
    )
    a6 = (
        "CAST(floor((n_xy * 1.0e0 / n) "
        "* ln((n_xy * 1.0e0 * n) / (n_x * 1.0e0 * n_y)) "
        "* 1000000.0e0) AS BIGINT)"
    )
    return (
        grid.crossJoin(F.broadcast(tot))
        .withColumn("a6", F.expr(a6))
        .groupBy("n", "n_cells")
        .agg(F.sum("a6").alias("s6"))
        .select(
            F.col("n").alias("n_docs"),
            "n_cells",
            F.expr("floor(greatest(s6, 0) / 100.0e0) / 10000.0e0")
            .alias("mi4"),
        )
    )


# --------------------------------------------------------------------
# depth-2 tree training — the chained-stump step
# --------------------------------------------------------------------

# The histogram tree-growing LOOP, demonstrated: level 1 picks the
# best token-count threshold (exactly quality_gini_stump's relation);
# level 2 conditions the corpus on that split and trains a fresh stump
# on a SECOND feature (n_chars) WITHIN EACH SIDE — the per-(side,
# value) histogram, per-side prefix sums, per-side integer argmin.
# Every real histogram learner (XGBoost/LightGBM) is this step
# repeated; the level-1 threshold flows in as a broadcast 1-row
# relation, never a driver scalar.
_TREE2_ORACLE = """
WITH d AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS s,
         CAST(n_chars AS BIGINT) AS x2
  FROM documents
), h AS (
  SELECT s,
         CAST(count(CASE WHEN y = 1 THEN 1 END) AS BIGINT) AS pos_c,
         CAST(count(CASE WHEN y = 0 THEN 1 END) AS BIGINT) AS neg_c
  FROM d GROUP BY s
), c AS (
  SELECT s,
         CAST(sum(pos_c) OVER (ORDER BY s) AS HUGEINT) AS pl,
         CAST(sum(neg_c) OVER (ORDER BY s) AS HUGEINT) AS nl
  FROM h
), tot AS (
  SELECT CAST(sum(pos_c) AS HUGEINT) AS p, CAST(sum(neg_c) AS HUGEINT) AS q
  FROM h
), best1 AS (
  SELECT s AS t1
  FROM (
    SELECT c.s,
           (20000 * (c.pl * c.nl * ((tot.p - c.pl) + (tot.q - c.nl))
                     + (tot.p - c.pl) * (tot.q - c.nl) * (c.pl + c.nl)))
           // ((c.pl + c.nl) * ((tot.p - c.pl) + (tot.q - c.nl))
               * (tot.p + tot.q)) AS score
    FROM c, tot
    WHERE (tot.p - c.pl) + (tot.q - c.nl) > 0
  )
  ORDER BY score, s LIMIT 1
), sided AS (
  SELECT CASE WHEN d.s <= b.t1 THEN 'L' ELSE 'R' END AS side, d.y, d.x2
  FROM d, best1 b
), h2 AS (
  SELECT side, x2,
         CAST(count(CASE WHEN y = 1 THEN 1 END) AS BIGINT) AS pos_c,
         CAST(count(CASE WHEN y = 0 THEN 1 END) AS BIGINT) AS neg_c
  FROM sided GROUP BY side, x2
), c2 AS (
  SELECT side, x2,
         CAST(sum(pos_c) OVER (PARTITION BY side ORDER BY x2) AS HUGEINT)
           AS pl,
         CAST(sum(neg_c) OVER (PARTITION BY side ORDER BY x2) AS HUGEINT)
           AS nl
  FROM h2
), tot2 AS (
  SELECT side, CAST(sum(pos_c) AS HUGEINT) AS p,
         CAST(sum(neg_c) AS HUGEINT) AS q
  FROM h2 GROUP BY side
), cand2 AS (
  SELECT c2.side, c2.x2, c2.pl, c2.nl,
         tot2.p - c2.pl AS pr, tot2.q - c2.nl AS nr,
         c2.pl + c2.nl AS n_left,
         (tot2.p - c2.pl) + (tot2.q - c2.nl) AS n_right,
         tot2.p + tot2.q AS n
  FROM c2 JOIN tot2 ON c2.side = tot2.side
  WHERE (tot2.p - c2.pl) + (tot2.q - c2.nl) > 0
), scored2 AS (
  SELECT side, x2, pl, pr, n_left, n_right,
         (20000 * (pl * nl * n_right + pr * nr * n_left))
           // (n_left * n_right * n) AS score,
         row_number() OVER (
           PARTITION BY side
           ORDER BY (20000 * (pl * nl * n_right + pr * nr * n_left))
                    // (n_left * n_right * n), x2) AS rn
  FROM cand2
)
SELECT side, CAST(x2 AS BIGINT) AS split_at,
       CAST(score AS BIGINT) AS gini_1e4,
       CAST(n_left AS BIGINT) AS n_left,
       CAST(n_right AS BIGINT) AS n_right,
       CAST(pl AS BIGINT) AS pos_left,
       CAST(pr AS BIGINT) AS pos_right
FROM scored2
WHERE rn = 1
ORDER BY side
"""


@register("quality_tree_depth2", oracle=_TREE2_ORACLE, bench=True,
          doc="the histogram tree-growing LOOP step: condition on the "
              "level-1 stump split, train per-side stumps on a second "
              "feature — per-side 128-bit integer argmin")
def quality_tree_depth2(spark, sf_dir):
    """Level 2 of exact histogram tree training: partition the corpus
    on quality_gini_stump's winning token-count threshold (broadcast
    in as a 1-row relation — the tree structure never touches the
    driver), then find each side's best n_chars split by the same
    weighted-Gini integer argmin.  One more level = repeat with side
    as an extra grouping key; this is the loop body XGBoost-style
    learners iterate.

    Scale: both levels take their prefix sums through
    ``_hist_prefix``'s distributed two-pass form (per-side at level
    2), and the per-side argmin is a map-combinable min(struct) — no
    histogram or candidate set ever funnels through a one-task
    window, so a continuous high-cardinality feature is safe, not
    just token counts.  A side with a single distinct feature value
    yields no candidate row on either engine (the n_right filter
    removes its only row before the aggregate)."""
    d = T(spark, sf_dir, "documents").select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("s"),
        F.col("n_chars").cast("long").alias("x2"),
    )
    h = d.groupBy("s").agg(
        F.count(F.when(F.col("y") == 1, 1)).alias("pos_c"),
        F.count(F.when(F.col("y") == 0, 1)).alias("neg_c"),
    )
    c = _hist_prefix(h, "s", {"pl_l": "pos_c", "nl_l": "neg_c"}).select(
        "s",
        F.col("pl_l").cast("decimal(38,0)").alias("pl"),
        F.col("nl_l").cast("decimal(38,0)").alias("nl"),
    )
    # totals from the inclusive prefix maxima (exact — see
    # quality_gini_stump): h's only consumer is then _hist_prefix,
    # whose internal cache stops every level-2 branch from
    # re-deriving the level-1 tree from the scan
    tot = c.agg(F.max("pl").alias("p"), F.max("nl").alias("q"))
    best1 = (
        c.crossJoin(F.broadcast(tot))
        .filter(F.expr("(p - pl) + (q - nl) > 0"))
        .select(
            F.expr(
                "CAST((20000 * (pl * nl * ((p - pl) + (q - nl)) "
                "+ (p - pl) * (q - nl) * (pl + nl))) "
                "div ((pl + nl) * ((p - pl) + (q - nl)) * (p + q)) AS BIGINT)"
            ).alias("score"),
            "s",
        )
        .agg(F.min(F.struct("score", "s")).alias("b"))
        .filter(F.col("b").isNotNull())
        # ^ empty level-1 candidate set (single distinct token count)
        # would otherwise yield one NULL-t1 row, silently routing
        # every doc to side 'R' while the oracle's FROM d, best1
        # yields zero rows — the gini-stump NULL-sentinel rule again
        .select(F.col("b.s").alias("t1"))
    )
    sided = d.crossJoin(F.broadcast(best1)).select(
        F.when(F.col("s") <= F.col("t1"), "L").otherwise("R").alias("side"),
        "y", "x2",
    )
    h2 = sided.groupBy("side", "x2").agg(
        F.count(F.when(F.col("y") == 1, 1)).alias("pos_c"),
        F.count(F.when(F.col("y") == 0, 1)).alias("neg_c"),
    )
    c2 = _hist_prefix(
        h2, "x2", {"pl_l": "pos_c", "nl_l": "neg_c"}, parts=("side",)
    ).select(
        "side", "x2",
        F.col("pl_l").cast("decimal(38,0)").alias("pl"),
        F.col("nl_l").cast("decimal(38,0)").alias("nl"),
    )
    # per-side totals from the per-side prefix maxima (exact); h2's
    # only consumer is then _hist_prefix, so the corpus-side split
    # join runs once inside its internal cache
    tot2 = c2.groupBy("side").agg(
        F.max("pl").alias("p"), F.max("nl").alias("q")
    )
    cand2 = (
        c2.join(tot2, "side")
        .withColumn("pr", F.col("p") - F.col("pl"))
        .withColumn("nr", F.col("q") - F.col("nl"))
        .withColumn("n_left", F.col("pl") + F.col("nl"))
        .withColumn("n_right", F.col("pr") + F.col("nr"))
        .withColumn("n", F.col("p") + F.col("q"))
        .filter(F.col("n_right") > 0)
        .withColumn(
            "score",
            F.expr(
                "CAST((20000 * (pl * nl * n_right + pr * nr * n_left)) "
                "div (n_left * n_right * n) AS BIGINT)"
            ),
        )
    )
    # per-side argmin as a map-combinable min(struct) — (side, x2) is
    # unique in cand2, so lexicographic (score, x2, ...) equals the
    # previous row_number-over-(score, x2) rank-1 row exactly, and the
    # aggregate distributes where a per-side rank window would funnel
    # each side's full candidate set through one task.
    return (
        cand2.groupBy("side")
        .agg(
            F.min(
                F.struct(
                    "score", "x2", "n_left", "n_right", "pl", "pr"
                )
            ).alias("b")
        )
        .select(
            "side",
            F.col("b.x2").alias("split_at"),
            F.col("b.score").alias("gini_1e4"),
            F.col("b.n_left").cast("long").alias("n_left"),
            F.col("b.n_right").cast("long").alias("n_right"),
            F.col("b.pl").cast("long").alias("pos_left"),
            F.col("b.pr").cast("long").alias("pos_right"),
        )
        .orderBy("side")
    )


# --------------------------------------------------------------------
# split-conformal interval audit — distribution-free uncertainty
# --------------------------------------------------------------------

# Conformal prediction's promise: pick q-hat as the ceil(0.9*(n+1))-th
# smallest calibration residual and the interval pred +/- q-hat covers
# >= 90% of FUTURE points, no distributional assumptions.  This query
# runs the whole protocol exactly: fit on train (chars-per-token
# ratio), take the order statistic on calibration, MEASURE empirical
# coverage on test.  A coverage_1e4 far below 9000 means the
# exchangeability assumption broke (distribution shift) — the
# model-agnostic drift alarm.
_CONFORMAL_ORACLE = """
WITH d AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS s,
         CAST(n_chars AS BIGINT) AS a,
         CAST(CONCAT('0x', SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 100 AS b
  FROM documents
), fit AS (
  SELECT CAST(sum(a) * 1000000 // sum(s) AS BIGINT) AS r6
  FROM d WHERE b < 80
), resid AS (
  SELECT d.doc_id, d.b,
         abs(d.a * 1000000 - d.s * fit.r6) AS res
  FROM d, fit
), cal AS (
  SELECT res, row_number() OVER (ORDER BY res, doc_id) AS rn,
         CAST(count(*) OVER () AS BIGINT) AS n_cal
  FROM resid WHERE b >= 80 AND b < 90
), qhat AS (
  SELECT res AS q, n_cal FROM cal
  WHERE rn = (9 * (n_cal + 1) + 9) // 10
), test AS (
  SELECT res FROM resid WHERE b >= 90
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM resid WHERE b < 80) AS n_train,
       qhat.n_cal,
       CAST(count(*) AS BIGINT) AS n_test,
       CAST(qhat.q AS BIGINT) AS qhat_1e6,
       CAST(sum(CASE WHEN test.res <= qhat.q THEN 1 ELSE 0 END) * 10000
            // count(*) AS BIGINT) AS coverage_1e4
FROM test, qhat
GROUP BY qhat.n_cal, qhat.q
"""


@register("conformal_interval_audit", oracle=_CONFORMAL_ORACLE, bench=True,
          doc="split-conformal protocol end-to-end: train ratio "
              "predictor, exact calibration order statistic, measured "
              "test coverage — the distribution-free uncertainty gate")
def conformal_interval_audit(spark, sf_dir):
    """The split-conformal protocol, exactly: fit a chars-per-token
    predictor on the train slice (80% by doc hash), take q-hat as the
    ceil(0.9*(n+1))-th smallest absolute residual on the calibration
    slice (10%), and report the interval's EMPIRICAL coverage on the
    test slice (10%).  Exchangeability guarantees coverage >= 90%;
    a shortfall is a model-agnostic distribution-shift alarm, which
    is why serving pipelines recompute this audit per data window.

    Scale shape: fit is one conditional aggregate; residuals are a
    projection; the single row-grain step is the order statistic over
    the CALIBRATION slice (10% here; production calibrates on a
    bounded sample — for corpus-sized calibration sets swap in the
    percentile_bucketed_exact histogram pattern, same contract).
    All arithmetic is integer fixed-point: residuals in 1e-6 char
    units, coverage as an exact ratio."""
    d = T(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("s"),
        F.col("n_chars").cast("long").alias("a"),
        (md5_long(F.col("doc_id").cast("string")) % 100).alias("b"),
    )
    fit = d.filter(F.col("b") < 80).agg(
        F.expr("CAST(sum(a) * 1000000 div sum(s) AS BIGINT)").alias("r6")
    )
    resid = d.crossJoin(F.broadcast(fit)).select(
        "doc_id", "b",
        F.abs(F.col("a") * F.lit(1000000) - F.col("s") * F.col("r6"))
        .alias("res"),
    )
    cal = (
        resid.filter((F.col("b") >= 80) & (F.col("b") < 90))
        .withColumn("rn", F.row_number().over(W.orderBy("res", "doc_id")))
        .withColumn("n_cal", F.count(F.lit(1)).over(W.partitionBy()))
    )
    qhat = cal.filter(
        F.expr("rn = (9 * (n_cal + 1) + 9) div 10")
    ).select(F.col("res").alias("q"), "n_cal")
    n_train = resid.filter(F.col("b") < 80).agg(
        F.count(F.lit(1)).alias("n_train")
    )
    return (
        resid.filter(F.col("b") >= 90)
        .crossJoin(F.broadcast(qhat))
        .crossJoin(F.broadcast(n_train))
        .groupBy("n_train", "n_cal", "q")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum(F.when(F.col("res") <= F.col("q"), 1).otherwise(0))
            .alias("n_cov"),
        )
        .select(
            "n_train", "n_cal", "n_test",
            F.col("q").cast("long").alias("qhat_1e6"),
            F.expr("CAST(n_cov * 10000 div n_test AS BIGINT)")
            .alias("coverage_1e4"),
        )
    )


# --------------------------------------------------------------------
# precision-recall curve — the ROC sibling for rare-positive regimes
# --------------------------------------------------------------------

_PR_CURVE_ORACLE = """
WITH d AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS s
  FROM documents
), h AS (
  SELECT s,
         CAST(count(CASE WHEN y = 1 THEN 1 END) AS BIGINT) AS pos_c,
         CAST(count(CASE WHEN y = 0 THEN 1 END) AS BIGINT) AS neg_c
  FROM d GROUP BY s
), c AS (
  SELECT s,
         CAST(COALESCE(sum(pos_c) OVER (ORDER BY s
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS pos_below,
         CAST(COALESCE(sum(neg_c) OVER (ORDER BY s
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS neg_below
  FROM h
), tot AS (
  SELECT CAST(sum(pos_c) AS BIGINT) AS p, CAST(sum(neg_c) AS BIGINT) AS n
  FROM h
)
SELECT c.s,
       tot.p - c.pos_below AS tp,
       tot.n - c.neg_below AS fp,
       CAST((tot.p - c.pos_below) * 1000000
            // greatest(tot.p - c.pos_below + tot.n - c.neg_below, 1)
            AS BIGINT) AS precision_1e6,
       CAST((tot.p - c.pos_below) * 1000000 // greatest(tot.p, 1)
            AS BIGINT) AS recall_1e6
FROM c, tot ORDER BY c.s
"""


@register("model_pr_curve", oracle=_PR_CURVE_ORACLE, bench=True,
          doc="exact precision-recall curve from the per-score "
              "histogram: one operating point per distinct score "
              "(predict positive at score >= s), integer 1e-6 "
              "precision/recall — no row-grain sort")
def model_pr_curve(spark, sf_dir):
    """The precision-recall companion to ``model_auc_rank``'s ROC:
    for every distinct score s (token count predicting lang='en',
    the same scoring rule, so the two tables describe one model),
    the confusion counts and precision/recall of the classifier
    "positive iff score >= s".  PR is the curve that matters in
    rare-positive regimes (dup detection, PII hits) where ROC's
    false-positive RATE hides an avalanche of false positives.

    Exactness: tp/fp fall out of the strictly-below prefix sums as
    ``total - below`` — all integers; precision and recall are one
    floored division each into 1e-6 units (numerators <= 9.2e12
    rows stay within int64 after the 1e6 scale; denominators are
    >= 1 by construction at real thresholds and guarded for the
    degenerate empty relation).

    Scale shape: one scan -> map-combinable score histogram ->
    ``_hist_prefix`` two-pass prefix sums (never a single-partition
    window over the histogram); class totals are a ONE-ROW
    broadcast aggregate of the same cached bucketed histogram, so
    the per-score join is a broadcast nested loop against one row,
    not a shuffle."""
    d = T(spark, sf_dir, "documents").select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("s"),
    )
    h = d.groupBy("s").agg(
        F.count(F.when(F.col("y") == 1, 1)).alias("pos_c"),
        F.count(F.when(F.col("y") == 0, 1)).alias("neg_c"),
    )
    c = _hist_prefix(h, "s", {"pos_below": "pos_c", "neg_below": "neg_c"},
                     inclusive=False)
    tot = c.groupBy().agg(
        F.max(F.col("pos_below") + F.col("pos_c")).alias("p"),
        F.max(F.col("neg_below") + F.col("neg_c")).alias("n"),
    ).filter(F.col("p").isNotNull())
    return (
        c.crossJoin(F.broadcast(tot))
        .select(
            "s",
            (F.col("p") - F.col("pos_below")).alias("tp"),
            (F.col("n") - F.col("neg_below")).alias("fp"),
            F.expr(
                "CAST((p - pos_below) * 1000000"
                " div greatest(p - pos_below + n - neg_below, 1)"
                " AS BIGINT)").alias("precision_1e6"),
            F.expr(
                "CAST((p - pos_below) * 1000000 div greatest(p, 1)"
                " AS BIGINT)").alias("recall_1e6"),
        )
        .orderBy("s")
    )
