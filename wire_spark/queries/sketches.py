"""Sketch-based and filter-based approximate operators, made
cross-engine-deterministic: a HyperLogLog distinct sketch, a
histogram quantile sketch, and a Bloom-filter-pruned join.

The reference exposes no sketches, but a 100 TB pipeline leans on
them constantly (cardinality dashboards, quantile monitors, join
pruning).  Spark's built-ins (``approx_count_distinct``,
``percentile_approx``) are engine-specific black boxes that no
foreign oracle can reproduce, so these operators build the sketches
from first principles out of deterministic primitives — the md5-based
portable hash (`md5_long`), integer shifts, and floor-truncated
floats — which makes the *approximate* answer itself exactly
reproducible in DuckDB.  That is the property a data-quality gate
wants: the estimate may deviate from the truth, but never from run
to run or engine to engine.

Reference parity: the reference's query tier has no sketch surface
(SURVEY.md §2.6); these extend the engine the same way the dedup/ANN
family does — standard pipeline ops re-expressed Spark-first.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from wire_spark.catalog import register
from wire_spark.queries._util import (EVENTS_SANITIZED_CTE, T, events_sane,
                                      local_df, materialize, md5_long,
                                      tracked_cache)

# --------------------------------------------------------------------
# HyperLogLog distinct sketch (m=256 registers, deterministic)
# --------------------------------------------------------------------

# alpha_256 * m^2 * 2^53, precomputed so both engines consume one
# exact double literal instead of re-deriving it in (possibly
# DECIMAL-typed) SQL arithmetic: 0.7213/(1+1.079/256) * 65536 * 2^53.
_HLL_A = 4.2399330249068963e+20
_HLL_LINEAR_CUTOFF = 640.0  # 2.5 * m

_HLL_ORACLE = f"""
WITH h AS (
  SELECT event_type,
         CAST(CONCAT('0x', SUBSTRING(md5(CAST(event_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS hv
  FROM events
),
parts AS (
  SELECT event_type, hv % 256 AS reg, hv // 256 AS rest FROM h
),
rnk AS (
  SELECT event_type, reg,
         max(CASE WHEN rest = 0 THEN 53
                  ELSE 53 - length(bin(rest)) END) AS m
  FROM parts GROUP BY event_type, reg
),
types AS (SELECT DISTINCT event_type FROM events),
grid AS (
  SELECT t.event_type, g.range AS reg
  FROM types t CROSS JOIN generate_series(0, 255) AS g(range)
),
regs AS (
  SELECT g.event_type, g.reg, COALESCE(r.m, 0) AS m
  FROM grid g LEFT JOIN rnk r ON g.event_type = r.event_type AND g.reg = r.reg
),
agg AS (
  SELECT event_type,
         sum(1::BIGINT << (53 - m)) AS s53,
         sum(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS v
  FROM regs GROUP BY event_type
),
est AS (
  SELECT event_type,
         CASE WHEN {_HLL_A!r} / s53 <= {_HLL_LINEAR_CUTOFF!r} AND v > 0
              THEN 256.0 * ln(256.0 / v)
              ELSE {_HLL_A!r} / s53 END AS e
  FROM agg
),
exact AS (
  SELECT event_type, count(DISTINCT event_id) AS exact_distinct
  FROM events GROUP BY event_type
)
SELECT x.event_type, x.exact_distinct,
       CAST(floor(e.e) AS BIGINT) AS hll_estimate,
       floor(abs(CAST(floor(e.e) AS BIGINT) - x.exact_distinct) * 10000.0
             / x.exact_distinct) / 10000.0 AS rel_err
FROM exact x JOIN est e USING (event_type)
ORDER BY x.event_type
"""


@register("sketch_hll_distinct", oracle=_HLL_ORACLE, bench=True,
          doc="deterministic HyperLogLog (m=256, md5 hash): distinct "
              "event_ids per type, estimate vs exact with relative error")
def sketch_hll_distinct(spark, sf_dir):
    """HyperLogLog from first principles (Flajolet et al. 2007), made
    portable: register = low 8 bits of the 60-bit md5 hash, rank =
    leading-zero count of the remaining 52 bits (computed as
    53 - length(bin(rest)) — no transcendental), indicator sum kept in
    the *integer* domain as sum(2^(53-M_j)) which fits a BIGINT
    (256 * 2^53 = 2^61), so summation order cannot perturb it. One
    double division + the standard linear-counting branch at the end.

    Scale shape: one shuffle on (event_type, reg) — at most
    types x 256 groups survive the map-side partial max, so the
    shuffle payload is tiny regardless of input size; the register
    grid is types x 256 rows. This is the always-mergeable sketch:
    the same per-register max runs as a combiner on every partition.
    The exact count (for the error column) is the expensive half and
    exists only to audit the sketch."""
    ev = T(spark, sf_dir, "events")
    h = ev.select(
        "event_type",
        md5_long(F.col("event_id").cast("string")).alias("hv"),
    )
    parts = h.select(
        "event_type",
        (F.col("hv") % 256).alias("reg"),
        F.expr("hv div 256").alias("rest"),
    )
    rnk = parts.groupBy("event_type", "reg").agg(
        F.max(
            F.when(F.col("rest") == 0, F.lit(53)).otherwise(
                F.lit(53) - F.length(F.bin(F.col("rest")))
            )
        ).alias("m")
    )
    types = ev.select("event_type").distinct()
    grid = types.crossJoin(spark.range(256).select(F.col("id").alias("reg")))
    regs = grid.join(rnk, ["event_type", "reg"], "left").select(
        "event_type", "reg", F.coalesce(F.col("m"), F.lit(0)).alias("m")
    )
    agg = regs.groupBy("event_type").agg(
        F.sum(F.expr("shiftleft(bigint(1), 53 - m)")).alias("s53"),
        F.sum(F.when(F.col("m") == 0, 1).otherwise(0)).alias("v"),
    )
    raw = F.lit(_HLL_A) / F.col("s53")
    est = agg.select(
        "event_type",
        F.when(
            (raw <= F.lit(_HLL_LINEAR_CUTOFF)) & (F.col("v") > 0),
            F.lit(256.0) * F.log(F.lit(256.0) / F.col("v")),
        ).otherwise(raw).alias("e"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("event_id").alias("exact_distinct")
    )
    hll = F.floor(F.col("e")).cast("long")
    return (
        exact.join(est, "event_type")
        .select(
            "event_type",
            "exact_distinct",
            hll.alias("hll_estimate"),
            (
                F.floor(
                    F.abs(hll - F.col("exact_distinct")) * F.lit(10000.0)
                    / F.col("exact_distinct")
                ) / F.lit(10000.0)
            ).alias("rel_err"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------
# histogram quantile sketch (1024 equal-width bins)
# --------------------------------------------------------------------

_QSKETCH_ORACLE = """
WITH stats AS (
  SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx FROM orders
),
binned AS (
  SELECT least(CAST(floor((o_totalprice - s.mn) * 1024.0 / (s.mx - s.mn))
                    AS BIGINT), 1023) AS bin
  FROM orders, stats s
),
hist AS (SELECT bin, count(*) AS c FROM binned GROUP BY bin),
tot AS (SELECT count(*) AS n FROM binned),
cum AS (
  SELECT bin, sum(c) OVER (ORDER BY bin
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM hist
),
qs AS (
  SELECT * FROM (VALUES ('p50', 0.50::DOUBLE), ('p95', 0.95::DOUBLE),
                        ('p99', 0.99::DOUBLE)) AS t(qname, frac)
),
hit AS (
  SELECT q.qname, min(c.bin) AS bin
  FROM cum c CROSS JOIN tot t JOIN qs q ON c.cum >= q.frac * t.n
  GROUP BY q.qname
)
SELECT h.qname, h.bin,
       floor((s.mn + (h.bin + 1) * (s.mx - s.mn) / 1024.0) * 100.0) / 100.0
         AS est_value
FROM hit h CROSS JOIN stats s
ORDER BY h.qname
"""


@register("quantile_histogram_sketch", oracle=_QSKETCH_ORACLE,
          doc="p50/p95/p99 of o_totalprice from a 1024-bin equal-width "
              "histogram — the single-pass, no-global-sort quantile path")
def quantile_histogram_sketch(spark, sf_dir):
    """Quantiles without a global sort: one scan bins every row into
    1024 equal-width buckets, the histogram aggregates map-side (at
    most 1024 groups reach the shuffle), and the quantile is read off
    the cumulative histogram. The cumulative window is a
    SinglePartition exchange over AT MOST 1024 rows — a constant
    independent of input size, which is what makes it admissible
    (contrast a *data-sized* global window, which funnels the whole
    input through one task). The
    min/max pre-pass is a scalar aggregate broadcast back into the
    binning scan.

    Estimate = upper edge of the hit bin, so error is bounded by one
    bin width (max-min)/1024; cross-engine the bin index is exact
    integer arithmetic over identical doubles."""
    o = T(spark, sf_dir, "orders")
    stats = o.agg(
        F.min("o_totalprice").alias("mn"), F.max("o_totalprice").alias("mx")
    )
    binned = o.crossJoin(F.broadcast(stats)).select(
        F.least(
            F.floor(
                (F.col("o_totalprice") - F.col("mn")) * F.lit(1024.0)
                / F.expr("nullif(mx - mn, 0.0e0)")
            ).cast("long"),
            F.lit(1023).cast("long"),
        ).alias("bin")
    )
    hist = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("c"))
    tot = binned.agg(F.count(F.lit(1)).alias("n"))
    cum = hist.select(
        "bin",
        F.sum("c").over(
            W.orderBy("bin").rowsBetween(W.unboundedPreceding, W.currentRow)
        ).alias("cum"),
    )
    qs = local_df(
        spark,
        [("p50", 0.50), ("p95", 0.95), ("p99", 0.99)], "qname string, frac double"
    )
    hit = (
        cum.crossJoin(F.broadcast(tot))
        .join(F.broadcast(qs), F.col("cum") >= F.col("frac") * F.col("n"))
        .groupBy("qname")
        .agg(F.min("bin").alias("bin"))
    )
    est = F.floor(
        (
            F.col("mn")
            + (F.col("bin") + 1) * (F.col("mx") - F.col("mn")) / F.lit(1024.0)
        ) * F.lit(100.0)
    ) / F.lit(100.0)
    return (
        hit.crossJoin(F.broadcast(stats))
        .select("qname", "bin", est.alias("est_value"))
        .orderBy("qname")
    )


# --------------------------------------------------------------------
# Bloom-filter-pruned join (size-adaptive bitmap, k=3, md5-derived)
# --------------------------------------------------------------------

# Bitmap sizing, identical in both engines: nbits =
# 2^clamp(ceil(log2(20 * n_distinct_build_keys)), 12, 20) — ~20 bits
# per key holds the candidate-set FP share (FP / candidates, which
# concentrates vs the per-probe FPR) under ~1% at any SF instead of
# letting a fixed bitmap saturate when the build side grows 100×.
# ceil(log2()) over an integer is float-exact here because 20*n can never be an
# exact power of two, so Spark's Python math and DuckDB's SQL agree.
_BLOOM_MIN_LOG2, _BLOOM_MAX_LOG2 = 12, 20

_BLOOM_ORACLE = f"""
WITH build AS (
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
),
params AS (
  SELECT CAST(POWER(2, GREATEST({_BLOOM_MIN_LOG2}, LEAST({_BLOOM_MAX_LOG2},
         CEIL(LOG2(20.0 * GREATEST(COUNT(DISTINCT c_custkey), 1)))))) AS BIGINT) AS nbits
  FROM build
),
build_bits AS (
  SELECT DISTINCT
    CAST(CONCAT('0x', SUBSTRING(md5(CAST(c_custkey AS VARCHAR) || ':' ||
         CAST(i.i AS VARCHAR)), 1, 15)) AS BIGINT)
      % (SELECT nbits FROM params) AS pos
  FROM build CROSS JOIN (SELECT unnest([1, 2, 3]) AS i) i
),
probe AS (
  SELECT o_orderkey, o_custkey,
    CAST(CONCAT('0x', SUBSTRING(md5(CAST(o_custkey AS VARCHAR) || ':1'), 1, 15))
         AS BIGINT) % (SELECT nbits FROM params) AS p1,
    CAST(CONCAT('0x', SUBSTRING(md5(CAST(o_custkey AS VARCHAR) || ':2'), 1, 15))
         AS BIGINT) % (SELECT nbits FROM params) AS p2,
    CAST(CONCAT('0x', SUBSTRING(md5(CAST(o_custkey AS VARCHAR) || ':3'), 1, 15))
         AS BIGINT) % (SELECT nbits FROM params) AS p3
  FROM orders
),
cand AS (
  SELECT o_orderkey, o_custkey FROM probe
  WHERE p1 IN (SELECT pos FROM build_bits)
    AND p2 IN (SELECT pos FROM build_bits)
    AND p3 IN (SELECT pos FROM build_bits)
)
SELECT count(*) AS n_candidates,
       CAST(sum(CASE WHEN o_custkey IN (SELECT c_custkey FROM build)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
       floor((count(*) - sum(CASE WHEN o_custkey IN
                (SELECT c_custkey FROM build) THEN 1 ELSE 0 END)) * 10000.0
             / count(*)) / 10000.0 AS fp_ratio
FROM cand
"""


@register("bloom_join_prune", oracle=_BLOOM_ORACLE, bench=True,
          doc="Bloom-filter pre-pruned semi-join (size-adaptive bitmap "
              "~20 bits/key, k=3 md5 hashes): orders of BUILDING-segment "
              "customers, with the filter's own false-positive rate measured")
def bloom_join_prune(spark, sf_dir):
    """Join pruning with an explicit Bloom filter: the build side's
    keys set k=3 md5-derived bits in a bitmap sized from the build
    side's exact distinct-key count (~20 bits/key, power-of-two,
    clamped to [2^12, 2^20] bits); the probe side tests its bits with
    pure column ops BEFORE any join, so at scale the shuffle (or even
    the broadcast-hash probe) only sees the candidate subset. The
    final exact join both removes false positives and measures them —
    the output's fp_ratio is the filter's realized FPR, deterministic
    because every hash and the sizing rule are.

    Sizing uses COUNT(DISTINCT) rather than approx_count_distinct
    because the oracle must derive the *identical* bitmap; the count
    runs on the small (build) side — the same side the bitmap itself
    aggregates — so it adds one cheap pass. Past ~50k build keys the
    2^20 cap saturates; there you graduate to AQE's runtime bloom
    pruning (spark.sql.optimizer.runtime.bloomFilter, native sizing,
    not oracle-checkable — this query is its oracle-checkable twin;
    the engine's injection of might_contain on the probe scan is
    pinned in tests/test_scale_patterns.py::
    test_aqe_runtime_bloom_filter_prunes_probe_side) or a Broadcast
    variable instead of a plan literal.

    The bitmap is collected to the driver as nbits/64 longs (at most
    16384 words = 128 KiB — the same order as a broadcast-join hash
    table's keys) and re-enters the plan as an array literal; bit
    tests are element_at + bitwise AND against a 64-entry mask array,
    no Python."""
    import math

    cust = T(spark, sf_dir, "customer")
    # cached: the build side feeds three consumers (distinct count for
    # sizing, the bitmap aggregation, the exact verify join) — one
    # filtered scan instead of three
    build = tracked_cache(
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )

    n_keys = build.distinct().count()
    log2_bits = max(_BLOOM_MIN_LOG2,
                    min(_BLOOM_MAX_LOG2,
                        math.ceil(math.log2(20.0 * max(1, n_keys)))))
    nbits = 1 << log2_bits
    nwords = nbits // 64

    def _pos(key_col, i):
        return md5_long(F.concat(key_col.cast("string"), F.lit(f":{i}"))) % nbits

    pos = build.select(
        F.explode(F.array(*[_pos(F.col("c_custkey"), i) for i in (1, 2, 3)])).alias(
            "pos"
        )
    )
    words = (
        pos.select(
            F.expr("pos div 64").alias("w"), (F.col("pos") % 64).alias("b")
        )
        .groupBy("w")
        .agg(F.expr("bit_or(shiftleft(bigint(1), b))").alias("word"))
    )
    wm = {r["w"]: r["word"] for r in words.collect()}
    # the bitmap re-enters the plan as ONE parsed SQL array literal —
    # building it element-wise with F.array(*[F.lit(...) ...]) costs a
    # py4j round-trip per word (~1.1k calls, ~1.5 s of driver time at
    # sf0.1, measured r15); a single expr string is one call and
    # constant-folds identically
    bitmap = F.expr(
        "array(" + ",".join(f"{wm.get(i, 0)}L" for i in range(nwords)) + ")"
    )
    masks = F.expr(
        "array(" + ",".join(
            f"{(1 << b) - (1 << 64 if b == 63 else 0)}L" for b in range(64)
        ) + ")"
    )

    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    probe = o.select(
        "o_orderkey",
        "o_custkey",
        *[_pos(F.col("o_custkey"), i).alias(f"p{i}") for i in (1, 2, 3)],
    )
    hit = None
    for i in (1, 2, 3):
        p = F.col(f"p{i}")
        word = F.element_at(bitmap, (F.expr(f"p{i} div 64") + 1).cast("int"))
        mask = F.element_at(masks, ((p % 64) + 1).cast("int"))
        test = word.bitwiseAND(mask) != 0
        hit = test if hit is None else (hit & test)
    cand = probe.filter(hit).select("o_orderkey", "o_custkey")
    matched = cand.join(
        build.withColumnRenamed("c_custkey", "bk"),
        cand.o_custkey == F.col("bk"),
        "left",
    )
    n_matched = F.sum(F.when(F.col("bk").isNotNull(), 1).otherwise(0))
    return matched.agg(
        F.count(F.lit(1)).alias("n_candidates"),
        n_matched.alias("n_matched"),
        (
            F.floor((F.count(F.lit(1)) - n_matched) * F.lit(10000.0)
                    / F.count(F.lit(1))) / F.lit(10000.0)
        ).alias("fp_ratio"),
    )




def bucketed_quantiles(df, ps, key="event_type", val="value", tie="event_id",
                       width: float = 1.0):
    """Exact interpolated quantiles per ``key`` WITHOUT a per-key
    sort: two-pass histogram navigation (see
    ``percentile_bucketed_exact`` for the full story). ``df`` must
    have columns (key, tie, val); returns (key, p, n, v) with v the
    exact rank-interpolated quantile — bit-identical to sorting the
    whole key group. Buckets are ``floor(val / width)`` (``width=1``
    keeps the original ``floor(val)`` plan): any order-compatible,
    finite-width bucketing works — pick width so the histogram stays
    ~1k buckets per key and each bucket stays small."""
    k, t, v = F.col(key), F.col(tie), F.col(val)
    bkt = F.floor(v) if width == 1.0 else F.floor(v / F.lit(float(width)))
    from wire_spark.queries._util import tracked_cache

    ev = df.select(k.alias("__k"), t.alias("__t"), v.alias("__v"),
                   bkt.cast("long").alias("bkt"))
    hist = ev.groupBy("__k", "bkt").agg(F.count(F.lit(1)).alias("c"))
    wcum = W.partitionBy("__k").orderBy("bkt")
    # cached: the cumulative histogram feeds BOTH the target-rank
    # derivation and the bucket-location join; without persistence
    # each consumer re-runs the histogram pass from the scan (the
    # same multi-consumer discipline as _hist_prefix).  The relation
    # is histogram-grain (|keys| x ~1k buckets), never data-grain.
    cum = tracked_cache(hist.select(
        "__k", "bkt", "c",
        (F.sum("c").over(wcum) - F.col("c")).alias("cum_before"),
        F.sum("c").over(W.partitionBy("__k")).alias("n"),
    ))
    ps_df = local_df(df.sparkSession, [(float(p),) for p in ps], "p double")
    h = (F.col("n") - 1) * F.col("p")
    targets = (
        cum.select("__k", "n").distinct()
        .crossJoin(F.broadcast(ps_df))
        .select(
            "__k", "p", "n",
            (F.floor(h) + 1).alias("lo_rn"),
            (F.ceil(h) + 1).alias("hi_rn"),
            (h - F.floor(h)).alias("frac"),
        )
    )
    ranks = targets.select(
        "__k", "p", "frac",
        F.explode(
            F.array(
                F.struct(F.lit("lo").alias("side"), F.col("lo_rn").alias("rk")),
                F.struct(F.lit("hi").alias("side"), F.col("hi_rn").alias("rk")),
            )
        ).alias("tg"),
    ).select("__k", "p", "frac", "tg.side", "tg.rk")
    located = ranks.join(cum, "__k").filter(
        (F.col("rk") > F.col("cum_before"))
        & (F.col("rk") <= F.col("cum_before") + F.col("c"))
    ).select("__k", "p", "frac", "side", "rk", "bkt", "cum_before", "n")
    needed = located.select("__k", "bkt").distinct()
    wbin = W.partitionBy("__k", "bkt").orderBy("__v", "__t")
    in_bkt = (
        ev.join(F.broadcast(needed), ["__k", "bkt"])
        .withColumn("wrk", F.row_number().over(wbin))
    )
    picked = located.join(
        in_bkt,
        (located.__k == in_bkt.__k)
        & (located.bkt == in_bkt.bkt)
        & (located.rk - located.cum_before == in_bkt.wrk),
    ).select(located.__k, "p", "frac", "n", "side", "__v")
    return (
        picked.groupBy("__k", "p", "frac", "n")
        .agg(
            F.max(F.when(F.col("side") == "lo", F.col("__v"))).alias("v_lo"),
            F.max(F.when(F.col("side") == "hi", F.col("__v"))).alias("v_hi"),
        )
        .select(
            F.col("__k").alias(key), "p", "n",
            (F.col("v_lo") + (F.col("v_hi") - F.col("v_lo")) * F.col("frac")).alias("v"),
        )
    )


# --------------------------------------------------------------------
# EXACT percentiles without a per-key sort: two-pass bucketed median
# --------------------------------------------------------------------

_BUCKETED_PCT_ORACLE = EVENTS_SANITIZED_CTE + """,
ranked AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events WHERE value IS NOT NULL
), pos AS (
  SELECT r.event_type, p.p, r.n,
         CAST(floor((r.n - 1) * p.p) AS BIGINT) + 1 AS lo_rn,
         CAST(ceil((r.n - 1) * p.p)  AS BIGINT) + 1 AS hi_rn,
         (r.n - 1) * p.p - floor((r.n - 1) * p.p)   AS frac
  FROM (SELECT DISTINCT event_type, n FROM ranked) r,
       (SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE]) AS p) p
), interp AS (
  SELECT pos.event_type, pos.p, pos.n,
         lo.value + (hi.value - lo.value) * pos.frac AS v
  FROM pos
  JOIN ranked lo ON lo.event_type = pos.event_type AND lo.rn = pos.lo_rn
  JOIN ranked hi ON hi.event_type = pos.event_type AND hi.rn = pos.hi_rn
)
SELECT event_type, max(n) AS n_events,
       floor(max(CASE WHEN p = 0.5  THEN v END) * 10000.0) / 10000.0 AS p50,
       floor(max(CASE WHEN p = 0.9  THEN v END) * 10000.0) / 10000.0 AS p90,
       floor(max(CASE WHEN p = 0.99 THEN v END) * 10000.0) / 10000.0 AS p99
FROM interp GROUP BY event_type ORDER BY event_type
"""


@register("percentile_bucketed_exact", oracle=_BUCKETED_PCT_ORACLE, bench=True,
          doc="EXACT per-type percentiles via two-pass histogram "
              "navigation — no per-key sort of the data, ever")
def percentile_bucketed_exact(spark, sf_dir):
    """Exact interpolated p50/p90/p99 per event type WITHOUT sorting
    the data: the scale-correct form of the exact-percentile family
    (``percentile_order_value`` and ``robust_outliers_mad`` sort
    each key group — fine until one key holds a terabyte; this
    never sorts more than one histogram bucket).

    Pass 1: count per (type, floor(value)) bucket — one map-combined
    shuffle; the histogram (types x <=~1k buckets) is tiny. Its
    cumulative counts locate, for each target global rank, WHICH
    bucket holds it and the residual rank within that bucket.
    Pass 2: semi-join the data to the few needed buckets (broadcast
    — typically 6 buckets/type), rank only inside them (each bucket
    is a small fraction of a key's data; the window key (type,
    bucket) is fine because only selected-bucket rows survive the
    filter), and pick the lo/hi values; interpolate exactly as the
    rank-based oracle defines. Bucketing by floor(value) is
    order-compatible with (value, event_id), so global rank =
    cumulative-before(bucket) + within-bucket rank, and the result
    is bit-identical to the sort-everything form at any scale."""
    ev = events_sane(spark, sf_dir).select(
        "event_type", "event_id", "value"
    ).filter(F.col("value").isNotNull())
    interp = bucketed_quantiles(ev, (0.5, 0.9, 0.99))
    t4v = lambda c: F.floor(c * F.lit(10000.0)) / F.lit(10000.0)  # noqa: E731
    return (
        interp.groupBy("event_type")
        .agg(
            F.max("n").alias("n_events"),
            t4v(F.max(F.when(F.col("p") == 0.5, F.col("v")))).alias("p50"),
            t4v(F.max(F.when(F.col("p") == 0.9, F.col("v")))).alias("p90"),
            t4v(F.max(F.when(F.col("p") == 0.99, F.col("v")))).alias("p99"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------
# KMV (k-minimum-values) distinct sketch: mergeable cardinality
# --------------------------------------------------------------------

_KMV_K = 64
_KMV_DOMAIN = 1 << 48  # 48-bit hash: (k-1)*2^48 stays far inside int64

_KMV_ORACLE = f"""
WITH h AS (
  SELECT DISTINCT event_type,
         CAST(CONCAT('0x', SUBSTRING(md5(CAST(user_id AS VARCHAR)), 1, 12))
              AS BIGINT) AS hv
  FROM events
), ranked AS (
  SELECT event_type, hv,
         row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn,
         count(*) OVER (PARTITION BY event_type) AS nd
  FROM h
), kth AS (
  SELECT event_type, nd, hv AS mk FROM ranked WHERE rn = {_KMV_K}
), exact AS (
  SELECT event_type, count(DISTINCT user_id) AS n_exact FROM events GROUP BY 1
)
SELECT e.event_type, CAST(e.n_exact AS BIGINT) AS n_exact,
       CAST(CASE WHEN k.mk IS NULL THEN e.n_exact
                 ELSE ({_KMV_K - 1} * {_KMV_DOMAIN}) // k.mk END AS BIGINT)
         AS kmv_estimate
FROM exact e LEFT JOIN kth k ON e.event_type = k.event_type
ORDER BY e.event_type
"""


@register("sketch_kmv_distinct", oracle=_KMV_ORACLE, bench=True,
          doc="KMV (k-minimum-values) distinct-count sketch per event "
              "type, deterministic and mergeable, vs exact truth")
def sketch_kmv_distinct(spark, sf_dir):
    """Distinct users per event type estimated from only the k=64
    smallest hash values: estimate = (k-1) * 2^48 / h_(k). The KMV
    set is a MERGEABLE summary — union two sketches, keep the k
    smallest — which is what makes it the cross-partition /
    cross-day cardinality primitive (HLL's order-statistics cousin,
    exact-reproducible here via the portable 48-bit md5 hash).

    Scale shape: the k smallest hashes per group come from a
    rank-filtered window that Spark executes as WindowGroupLimit —
    each task keeps a k-row heap, the shuffle carries k rows per
    group, never the distinct set. Groups with fewer than k distinct
    hashes fall back to the exact count (the sketch IS the set
    there). All arithmetic is integer ((k-1)*2^48 div h_k), so the
    estimate reproduces bit-for-bit cross-engine.
    """
    e = T(spark, sf_dir, "events")
    h = e.select(
        "event_type",
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 12),
               16, 10).cast("long").alias("hv"),
    ).distinct()
    w = W.partitionBy("event_type").orderBy("hv")
    kth = (
        h.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == _KMV_K)
        .select("event_type", F.col("hv").alias("mk"))
    )
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact"))
    return (
        exact.join(F.broadcast(kth), "event_type", "left")
        .select(
            "event_type",
            F.col("n_exact").cast("long").alias("n_exact"),
            F.expr(f"CAST(CASE WHEN mk IS NULL THEN n_exact "
                   f"ELSE ({_KMV_K - 1} * {_KMV_DOMAIN}) div mk END AS BIGINT)")
            .alias("kmv_estimate"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------
# count-min sketch: frequency estimation with collision audit
# --------------------------------------------------------------------

_CMS_D = 4
_CMS_W = 16  # deliberately tight vs the 31-token vocab so collisions are visible

_CMS_ORACLE = f"""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
), exact AS (
  SELECT token, CAST(count(*) AS BIGINT) AS n_exact FROM tok GROUP BY token
), cells AS (
  SELECT d.d,
         CAST(CONCAT('0x', SUBSTRING(md5(CAST(d.d AS VARCHAR) || ':' || e.token), 1, 15))
              AS BIGINT) % {_CMS_W} AS cell,
         CAST(sum(e.n_exact) AS BIGINT) AS total
  FROM exact e, (SELECT unnest(range({_CMS_D})) AS d) d
  GROUP BY 1, 2
), est AS (
  SELECT e.token, min(c.total) AS cms_n
  FROM exact e
  JOIN (SELECT unnest(range({_CMS_D})) AS d) d ON true
  JOIN cells c
    ON c.d = d.d
   AND c.cell = CAST(CONCAT('0x', SUBSTRING(md5(CAST(d.d AS VARCHAR) || ':' || e.token), 1, 15))
                     AS BIGINT) % {_CMS_W}
  GROUP BY e.token
)
SELECT e.token, e.n_exact, CAST(est.cms_n AS BIGINT) AS cms_n,
       CAST(est.cms_n - e.n_exact AS BIGINT) AS over_n
FROM exact e JOIN est ON e.token = est.token
ORDER BY e.n_exact DESC, e.token
LIMIT 20
"""


@register("sketch_countmin_freq", oracle=_CMS_ORACLE, bench=True,
          doc="count-min sketch (4x16) token frequencies with "
              "per-token overestimation audit vs exact counts")
def sketch_countmin_freq(spark, sf_dir):
    """Token frequencies read back from a 4x16 count-min sketch,
    with the per-token overestimate (always >= 0 — CMS never
    undercounts) audited against exact counts. The CMS is the
    fixed-size mergeable frequency summary for streams and
    cross-partition union: cells add, so a 1000-executor build is
    d*w integers per executor plus one tree-reduce. The width here is
    deliberately tight against the 31-token test vocabulary so the
    collision overestimates are visibly exercised; production sizing
    is w = ceil(e/eps) for an eps*N error bound.

    Scale shape: the sketch is built from the (token, count)
    aggregate, not per-occurrence rows — increments are weighted, so
    the heavy relation is touched by exactly one map-combinable
    groupBy; the cell table is d*w = 4096 rows broadcast back into
    the estimation join. Hashes are the portable md5-derived kind,
    making every cell total and every min bit-identical in DuckDB.
    """
    tok = T(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("token"))
    exact = tok.groupBy("token").agg(F.count(F.lit(1)).alias("n_exact"))
    depths = spark.range(_CMS_D).select(F.col("id").cast("int").alias("d"))
    keyed = exact.crossJoin(F.broadcast(depths)).select(
        "token", "n_exact", "d",
        (md5_long(F.concat_ws(":", F.col("d").cast("string"), F.col("token")))
         % _CMS_W).alias("cell"),
    )
    cells = keyed.groupBy("d", "cell").agg(F.sum("n_exact").alias("total"))
    est = (
        keyed.join(F.broadcast(cells), ["d", "cell"])
        .groupBy("token")
        .agg(F.min("total").alias("cms_n"))
    )
    return (
        exact.join(est, "token")
        .select(
            "token", "n_exact", "cms_n",
            (F.col("cms_n") - F.col("n_exact")).alias("over_n"),
        )
        .orderBy(F.desc("n_exact"), "token")
        .limit(20)
    )


# --------------------------------------------------------------------
# conditional-quantile filter: orders above their segment's p90
# --------------------------------------------------------------------

# Type-1 order statistic (value at rank ceil(0.9 n)) as a FILTER
# threshold: the two-pass histogram navigation finds the target
# bucket from cumulative counts, sorts only inside that one bucket,
# and the resulting per-segment thresholds broadcast back into the
# scan. ceil is exact-integer: (9n + 9) div 10.
_SEG_P90_ORACLE = """
WITH oc AS (
  SELECT c.c_mktsegment AS seg, o.o_totalprice AS price, o.o_orderkey AS k
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
), ranked AS (
  SELECT seg, price,
         row_number() OVER (PARTITION BY seg ORDER BY price, k) AS rn,
         count(*) OVER (PARTITION BY seg) AS n
  FROM oc
), thr AS (
  SELECT seg, price AS t90 FROM ranked WHERE rn = (9 * n + 9) // 10
)
SELECT oc.seg,
       CAST(count(CASE WHEN oc.price > t.t90 THEN 1 END) AS BIGINT) AS n_above,
       floor(t.t90 * 10000.0) / 10000.0 AS t90,
       CAST(sum(CASE WHEN oc.price > t.t90
                     THEN CAST(floor(oc.price * 10000.0) AS BIGINT)
                     ELSE 0 END) AS BIGINT) / 10000.0 AS sum_above
FROM oc JOIN thr t ON oc.seg = t.seg
GROUP BY oc.seg, t.t90
ORDER BY oc.seg
"""


@register("segment_p90_spenders", oracle=_SEG_P90_ORACLE, bench=True,
          doc="conditional-quantile filter: per-segment p90 order "
              "value found by histogram navigation, orders above it "
              "counted and summed")
def segment_p90_spenders(spark, sf_dir):
    """"Orders above their own segment's p90" — the conditional-
    quantile filter behind outlier billing review, top-decile spend
    attribution, and per-cohort SLA cuts. The threshold is an exact
    type-1 order statistic (value at rank ceil(0.9 n) under a total
    (price, key) order), so the answer is discrete and reproducible —
    no interpolation, no approx-percentile drift.

    Scale shape: pass 1 builds a per-segment value histogram
    (map-combinable groupBy) and locates the bucket whose cumulative
    range covers the target rank; pass 2 sorts ONLY that bucket's
    rows per segment (window over a bucket-filtered relation — a
    few hundred rows regardless of segment size). The five threshold
    rows broadcast into the final scan. The oracle uses the
    verification form (full per-segment row_number) — same answer,
    sort-everything plan.
    """
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey",
                                          "o_totalprice")
    c = T(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    oc = (
        o.join(c, o.o_custkey == c.c_custkey)
        .select(F.col("c_mktsegment").alias("seg"),
                F.col("o_totalprice").alias("price"),
                F.col("o_orderkey").alias("k"))
    )
    ev = oc.withColumn("bkt", F.floor(F.col("price") / F.lit(1000.0)))
    hist = ev.groupBy("seg", "bkt").agg(F.count(F.lit(1)).alias("c"))
    wcum = W.partitionBy("seg").orderBy("bkt")
    cum = hist.select(
        "seg", "bkt", "c",
        (F.sum("c").over(wcum) - F.col("c")).alias("cum_before"),
        F.sum("c").over(W.partitionBy("seg")).alias("n"),
    ).withColumn("rk", F.expr("(9 * n + 9) div 10"))
    target = cum.filter(
        (F.col("cum_before") < F.col("rk"))
        & (F.col("cum_before") + F.col("c") >= F.col("rk"))
    ).select("seg", "bkt", "cum_before", "rk")
    # pass 2: sort only the target bucket's rows per segment
    in_bucket = ev.join(F.broadcast(target), ["seg", "bkt"])
    wbkt = W.partitionBy("seg").orderBy("price", "k")
    thr = (
        in_bucket.withColumn("rn", F.row_number().over(wbkt))
        .filter(F.col("rn") == F.col("rk") - F.col("cum_before"))
        .select("seg", F.col("price").alias("t90"))
    )
    return (
        oc.join(F.broadcast(thr), "seg")
        .groupBy("seg", "t90")
        .agg(
            F.count(F.when(F.col("price") > F.col("t90"), 1)).alias("n_above"),
            (F.sum(F.when(F.col("price") > F.col("t90"),
                          F.expr("CAST(floor(price * 10000.0) AS BIGINT)"))
                   .otherwise(F.lit(0))) / F.lit(10000.0)).alias("sum_above"),
        )
        .select(
            "seg", "n_above",
            (F.floor(F.col("t90") * F.lit(10000.0)) / F.lit(10000.0))
            .alias("t90"),
            "sum_above",
        )
        .orderBy("seg")
    )


# --------------------------------------------------------------------
# join-size estimation: self-join size (F2) from CMS inner products
# --------------------------------------------------------------------

_F2_D = 4
_F2_W = 256

_F2_ORACLE = f"""
WITH counts AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS c FROM events GROUP BY user_id
), exact AS (
  SELECT CAST(sum(c * c) AS BIGINT) AS f2 FROM counts
), cells AS (
  SELECT d.d,
         CAST(CONCAT('0x', SUBSTRING(md5(CAST(d.d AS VARCHAR) || ':' ||
                                         CAST(k.user_id AS VARCHAR)), 1, 15))
              AS BIGINT) % {_F2_W} AS cell,
         CAST(sum(k.c) AS BIGINT) AS total
  FROM counts k, (SELECT unnest(range({_F2_D})) AS d) d
  GROUP BY 1, 2
), per_depth AS (
  SELECT d, CAST(sum(total * total) AS BIGINT) AS est FROM cells GROUP BY d
), best AS (
  SELECT min(est) AS cms_f2 FROM per_depth
)
SELECT e.f2 AS exact_f2, CAST(b.cms_f2 AS BIGINT) AS cms_f2,
       ((b.cms_f2 - e.f2) * 10000) // e.f2 AS over_bp
FROM exact e, best b
"""


@register("sketch_selfjoin_size", oracle=_F2_ORACLE, bench=True,
          doc="join-size estimation: the events-on-user self-join "
              "cardinality (F2 moment) from CMS cell inner products "
              "vs exact truth")
def sketch_selfjoin_size(spark, sf_dir):
    """How big would the events-on-user_id self-join be? The exact
    answer is the second frequency moment sum(c_u^2); the sketch
    answer is min over depths of sum(cell^2) on a 4x256 count sketch
    — the AMS/CMS inner-product estimate a cost-based planner uses to
    veto a join before running it. The estimate never undercounts
    (cell totals only merge keys), and the audit reports the
    overestimate in basis points.

    Scale shape: the sketch is built from the (key, count) aggregate
    — one map-combinable groupBy over events, then d*w = 1024 cells;
    the squared sums and the min are constant-size arithmetic.
    Two DIFFERENT relations' sketches estimate their equi-join size
    the same way (sum of cell products per depth) — self-join F2 is
    the oracle-checkable special case. Integer end-to-end.
    """
    e = T(spark, sf_dir, "events")
    # exact-F2 + sketch branches share it
    counts = materialize(e.groupBy("user_id").agg(F.count(F.lit(1)).alias("c")))
    exact = counts.agg(F.sum(F.col("c") * F.col("c")).alias("exact_f2"))
    depths = spark.range(_F2_D).select(F.col("id").cast("int").alias("d"))
    cells = (
        counts.crossJoin(F.broadcast(depths))
        .select(
            "d", "c",
            (md5_long(F.concat_ws(":", F.col("d").cast("string"),
                                  F.col("user_id").cast("string")))
             % _F2_W).alias("cell"),
        )
        .groupBy("d", "cell").agg(F.sum("c").alias("total"))
    )
    best = (
        cells.groupBy("d")
        .agg(F.sum(F.col("total") * F.col("total")).alias("est"))
        .agg(F.min("est").alias("cms_f2"))
    )
    return (
        exact.crossJoin(F.broadcast(best))
        .select(
            "exact_f2", "cms_f2",
            F.expr("((cms_f2 - exact_f2) * 10000) div exact_f2")
            .alias("over_bp"),
        )
    )


# --------------------------------------------------------------------
# HLL merge: register-max union across shards vs summed estimates
# --------------------------------------------------------------------

_HLL_MERGE_ORACLE = f"""
WITH h AS (
  SELECT event_type,
         CAST(CONCAT('0x', SUBSTRING(md5(CAST(user_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS hv
  FROM events
), parts AS (
  SELECT event_type, hv % 256 AS reg, hv // 256 AS rest FROM h
), shard_rnk AS (
  SELECT event_type, reg,
         max(CASE WHEN rest = 0 THEN 53
                  ELSE 53 - length(bin(rest)) END) AS m
  FROM parts GROUP BY event_type, reg
), merged_rnk AS (
  SELECT reg, max(m) AS m FROM shard_rnk GROUP BY reg
), grid AS (SELECT g.range AS reg FROM generate_series(0, 255) AS g(range)),
mregs AS (
  SELECT g.reg, COALESCE(r.m, 0) AS m
  FROM grid g LEFT JOIN merged_rnk r ON g.reg = r.reg
), magg AS (
  SELECT sum(1::BIGINT << (53 - m)) AS s53,
         sum(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS v
  FROM mregs
), mest AS (
  SELECT CASE WHEN {_HLL_A!r} / s53 <= {_HLL_LINEAR_CUTOFF!r} AND v > 0
              THEN 256.0 * ln(256.0 / v)
              ELSE {_HLL_A!r} / s53 END AS e
  FROM magg
), types AS (SELECT DISTINCT event_type FROM events),
sgrid AS (
  SELECT t.event_type, g.range AS reg
  FROM types t CROSS JOIN generate_series(0, 255) AS g(range)
), sregs AS (
  SELECT g.event_type, g.reg, COALESCE(r.m, 0) AS m
  FROM sgrid g LEFT JOIN shard_rnk r
    ON g.event_type = r.event_type AND g.reg = r.reg
), sagg AS (
  SELECT event_type,
         sum(1::BIGINT << (53 - m)) AS s53,
         sum(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS v
  FROM sregs GROUP BY event_type
), sest AS (
  SELECT sum(CAST(floor(
           CASE WHEN {_HLL_A!r} / s53 <= {_HLL_LINEAR_CUTOFF!r} AND v > 0
                THEN 256.0 * ln(256.0 / v)
                ELSE {_HLL_A!r} / s53 END) AS BIGINT)) AS se
  FROM sagg
), exact AS (SELECT count(DISTINCT user_id) AS n FROM events)
SELECT CAST(exact.n AS BIGINT) AS exact_distinct,
       CAST(floor(mest.e) AS BIGINT) AS hll_merged,
       CAST(sest.se AS BIGINT) AS sum_shard_estimates
FROM exact, mest, sest
"""


@register("sketch_hll_merge", oracle=_HLL_MERGE_ORACLE, bench=True,
          doc="HLL mergeability: register-max union of per-type "
              "sketches estimates GLOBAL distinct users; summing "
              "per-shard estimates double-counts the overlap")
def sketch_hll_merge(spark, sf_dir):
    """The property that makes HLL the distributed cardinality tool,
    demonstrated on overlapping shards: users appear under several
    event types, so SUMMING per-type estimates over-counts wildly,
    while taking the per-register MAX across the shards' sketches
    yields the sketch of the UNION — one number close to the true
    global distinct. At 100 TB this is why per-partition/per-day HLL
    states roll up losslessly with no re-scan.

    Scale shape: one shuffle to (type, reg) partial-max registers
    (map-side combined), then the merge is a 256-row max — the
    roll-up costs nothing beyond the per-shard sketches themselves.
    Same deterministic md5/integer-domain formulation as
    ``sketch_hll_distinct``, so every register and both estimates
    reproduce bit-for-bit.
    """
    ev = T(spark, sf_dir, "events")
    h = ev.select(
        "event_type",
        md5_long(F.col("user_id").cast("string")).alias("hv"),
    )
    parts = h.select(
        "event_type",
        (F.col("hv") % 256).alias("reg"),
        F.expr("hv div 256").alias("rest"),
    )
    rnk_m = F.expr("max(CASE WHEN rest = 0 THEN 53 "
                   "ELSE 53 - length(bin(rest)) END)")
    shard_rnk = parts.groupBy("event_type", "reg").agg(rnk_m.alias("m"))
    grid = spark.range(256).select(F.col("id").cast("long").alias("reg"))

    def hll_est(regs):
        """(reg, m) relation (missing regs = rank 0) -> 1-row estimate."""
        full = grid.join(regs, "reg", "left").select(
            F.coalesce("m", F.lit(0)).alias("m"))
        agg = full.agg(
            F.sum(F.expr("CAST(1 AS BIGINT) << CAST(53 - m AS INT)")).alias("s53"),
            F.sum(F.when(F.col("m") == 0, 1).otherwise(0)).alias("v"),
        )
        return agg.select(
            F.expr(f"CASE WHEN {_HLL_A!r} / s53 <= {_HLL_LINEAR_CUTOFF!r} "
                   f"AND v > 0 THEN 256.0D * ln(256.0D / v) "
                   f"ELSE {_HLL_A!r} / s53 END").alias("e"))

    merged = hll_est(shard_rnk.groupBy("reg").agg(F.max("m").alias("m")))
    # per-shard estimates: same grid/agg per event_type, then sum
    sfull = (
        ev.select("event_type").distinct().crossJoin(F.broadcast(grid))
        .join(shard_rnk, ["event_type", "reg"], "left")
        .select("event_type", F.coalesce("m", F.lit(0)).alias("m"))
    )
    sagg = sfull.groupBy("event_type").agg(
        F.sum(F.expr("CAST(1 AS BIGINT) << CAST(53 - m AS INT)")).alias("s53"),
        F.sum(F.when(F.col("m") == 0, 1).otherwise(0)).alias("v"),
    )
    sest = sagg.select(
        F.expr(f"CAST(floor(CASE WHEN {_HLL_A!r} / s53 <= "
               f"{_HLL_LINEAR_CUTOFF!r} AND v > 0 "
               f"THEN 256.0D * ln(256.0D / v) "
               f"ELSE {_HLL_A!r} / s53 END) AS BIGINT)").alias("e")
    ).agg(F.sum("e").alias("sum_shard_estimates"))
    exact = ev.agg(F.countDistinct("user_id").alias("exact_distinct"))
    return (
        exact.crossJoin(F.broadcast(merged)).crossJoin(F.broadcast(sest))
        .select(
            F.col("exact_distinct").cast("long").alias("exact_distinct"),
            F.expr("CAST(floor(e) AS BIGINT)").alias("hll_merged"),
            F.col("sum_shard_estimates").cast("long")
            .alias("sum_shard_estimates"),
        )
    )
