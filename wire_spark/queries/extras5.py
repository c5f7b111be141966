"""Fifth extras batch: shapes a 100 TB pipeline needs that neither
the TPC-H set nor the dedup family exercises — bucket-blocked band
join, Heaps'-law vocabulary growth, blocked fuzzy record linkage,
per-group OLS from sufficient statistics, the continuous-aggregate
(rollup + raw tail) serving pattern, a map-reduce Gram matrix, and
market-basket association mining.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from wire_spark.catalog import register
from wire_spark.queries._util import EVENTS_MOMENT_CTE, EVENTS_SANITIZED_CTE, EVENTS_TIMED_CTE, T, events_moment, events_sane, events_timed, materialize

# --------------------------------------------------------------------
# band join: order pairs within 7 days of each other (bucket-blocked)
# --------------------------------------------------------------------

# |t1 - t2| <= 7d is a BAND join — a theta join no equi-join planner
# handles natively. The scale-correct DataFrame expression: block time
# into band-width buckets, emit the probe side into its bucket and both
# neighbors, equi-join on (customer, bucket), then apply the exact
# predicate. A qualifying pair differs by at most one bucket, so it
# meets in exactly one (of the three distinct) emitted buckets — no
# dedup pass needed, no cross product anywhere.
_BURSTS_ORACLE = """
WITH o AS (
  SELECT o_orderkey, o_custkey, epoch_us(o_orderdate) // 1000000 AS es
  FROM orders
), p AS (
  SELECT o1.o_custkey AS custkey,
         abs(o1.es - o2.es) // 86400 AS gap_days
  FROM o o1 JOIN o o2
    ON o1.o_custkey = o2.o_custkey
   AND o1.o_orderkey < o2.o_orderkey
   AND abs(o1.es - o2.es) <= 604800
)
SELECT custkey,
       CAST(count(*) AS BIGINT)    AS n_burst_pairs,
       CAST(min(gap_days) AS BIGINT) AS min_gap_days,
       CAST(max(gap_days) AS BIGINT) AS max_gap_days
FROM p GROUP BY custkey
ORDER BY n_burst_pairs DESC, custkey
LIMIT 25
"""


@register("range_join_order_bursts", oracle=_BURSTS_ORACLE, bench=True,
          doc="band join via bucket blocking: per-customer order pairs "
              "placed within 7 days of each other")
def range_join_order_bursts(spark, sf_dir):
    """Customers whose orders cluster in time: every (o1, o2) pair of
    one customer's orders placed within 7 days, aggregated to burst
    counts and gap extrema. The band join is the building block for
    interval overlap, near-time correlation, and slowly-changing-
    dimension alignment — none expressible as a plain equi-join.

    Scale shape: delegated to the reusable
    ``operators/joins.py::band_join`` (bucket blocking: probe side
    exploded into bucket +/-1, pure equi-join on (custkey, bucket),
    exact |diff| residual — property-tested against the quadratic
    model in tests/test_joins.py). Shuffle cost O(3|orders|), never
    per-customer quadratic; a hot customer's cost is bounded by
    per-bucket density. Arithmetic is all integer epoch-seconds, so
    the oracle's plain theta join hash-matches.
    """
    from wire_spark.operators.joins import band_join

    o = T(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey",
        F.expr("unix_micros(o_orderdate) div 1000000").alias("es"),
    )
    probe = o.select(F.col("o_orderkey").alias("k1"),
                     F.col("o_custkey").alias("custkey"),
                     F.col("es").alias("es1"))
    build = o.select(F.col("o_orderkey").alias("k2"),
                     F.col("o_custkey").alias("custkey"),
                     F.col("es").alias("es2"))
    pairs = (
        band_join(probe, build, "custkey", "es1", "es2", 604800)
        .filter(F.col("k1") < F.col("k2"))
        .select("custkey",
                F.expr("abs(es1 - es2) div 86400").alias("gap_days"))
    )
    return (
        pairs.groupBy("custkey")
        .agg(
            F.count(F.lit(1)).alias("n_burst_pairs"),
            F.min("gap_days").alias("min_gap_days"),
            F.max("gap_days").alias("max_gap_days"),
        )
        .orderBy(F.desc("n_burst_pairs"), "custkey")
        .limit(25)
    )


# --------------------------------------------------------------------
# Heaps'-law vocabulary growth (scale-correct cumulative distinct)
# --------------------------------------------------------------------

# Cumulative distinct over a document order is inherently sequential
# if computed naively; the distributed form: each token's vocabulary
# contribution lands exactly once, at its FIRST-seen bucket
# (min(bucket) per token — one map-combinable groupBy), after which
# the cumulative sums run over a constant-size bucket table.
_VOCAB_GROWTH_ORACLE = """
WITH mx AS (SELECT max(doc_id) AS m FROM documents),
tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
), bucketed AS (
  SELECT (doc_id * 20) // (m + 1) AS bucket, token FROM tok, mx
), per_bucket_tokens AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS n_tokens
  FROM bucketed GROUP BY bucket
), first_seen AS (
  SELECT token, min(bucket) AS fb FROM bucketed GROUP BY token
), new_vocab AS (
  SELECT fb AS bucket, CAST(count(*) AS BIGINT) AS n_new
  FROM first_seen GROUP BY fb
), docs_per_bucket AS (
  SELECT (doc_id * 20) // (m + 1) AS bucket, count(*) AS n_docs
  FROM documents, mx GROUP BY 1
)
SELECT d.bucket, d.n_docs,
       CAST(sum(p.n_tokens) OVER
              (ORDER BY d.bucket ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cum_tokens,
       CAST(sum(coalesce(v.n_new, 0)) OVER
              (ORDER BY d.bucket ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cum_vocab
FROM docs_per_bucket d
JOIN per_bucket_tokens p ON d.bucket = p.bucket
LEFT JOIN new_vocab v ON d.bucket = v.bucket
ORDER BY d.bucket
"""


@register("text_vocab_growth", oracle=_VOCAB_GROWTH_ORACLE, bench=True,
          doc="Heaps'-law curve: cumulative vocabulary vs cumulative "
              "tokens over 20 doc_id buckets, via first-occurrence "
              "attribution")
def text_vocab_growth(spark, sf_dir):
    """Vocabulary growth curve (Heaps' law V ~ k*n^beta): cumulative
    distinct token count against cumulative token count across 20
    equal doc_id ranges. A corpus whose curve flattens early is
    repetitive (dup/boilerplate heavy); a curve that keeps climbing
    signals genuine diversity — a one-glance corpus health gauge used
    when staging training mixes.

    Scale shape: "cumulative distinct" never runs as a distinct per
    prefix. Each token contributes at exactly its first-seen bucket
    (min(bucket) per token — one shuffle on the token key, partial
    min map-side), so the heavy relation is touched once; the window
    cumsum then runs over a 20-row table on one task. The bucket id
    derives from max(doc_id) via a broadcast 1-row relation, integer
    arithmetic end-to-end.
    """
    d = T(spark, sf_dir, "documents")
    m = d.agg(F.max("doc_id").alias("m"))
    bucket = F.expr("(doc_id * 20) div (m + 1)")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    bucketed = tok.crossJoin(F.broadcast(m)).select(
        bucket.alias("bucket"), "token")
    per_bucket = bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_tokens"))
    first_seen = bucketed.groupBy("token").agg(F.min("bucket").alias("fb"))
    new_vocab = first_seen.groupBy(F.col("fb").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_new"))
    docs_pb = (
        d.crossJoin(F.broadcast(m))
        .select(bucket.alias("bucket"))
        .groupBy("bucket").agg(F.count(F.lit(1)).alias("n_docs"))
    )
    wc = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, 0)
    return (
        docs_pb.join(per_bucket, "bucket")
        .join(new_vocab, "bucket", "left")
        .select(
            "bucket", "n_docs",
            F.sum("n_tokens").over(wc).alias("cum_tokens"),
            F.sum(F.coalesce(F.col("n_new"), F.lit(0))).over(wc)
            .alias("cum_vocab"),
        )
        .orderBy("bucket")
    )


# --------------------------------------------------------------------
# record linkage: blocked fuzzy match on customer names (levenshtein)
# --------------------------------------------------------------------

_LINKAGE_ORACLE = """
WITH p AS (
  SELECT c1.c_nationkey AS nationkey,
         levenshtein(c1.c_name, c2.c_name) AS d
  FROM customer c1 JOIN customer c2
    ON c1.c_nationkey = c2.c_nationkey
   AND c1.c_custkey < c2.c_custkey
  WHERE levenshtein(c1.c_name, c2.c_name) <= 2
)
SELECT nationkey,
       CAST(count(*) AS BIGINT) AS n_linked_pairs,
       CAST(sum(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dist1,
       CAST(sum(CASE WHEN d = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dist2
FROM p GROUP BY nationkey
ORDER BY nationkey
"""


@register("record_linkage_customers", oracle=_LINKAGE_ORACLE, bench=True,
          doc="blocked fuzzy record linkage: same-nation customer "
              "pairs within levenshtein distance 2")
def record_linkage_customers(spark, sf_dir):
    """Entity-resolution primitive: candidate duplicate customer
    records found by fuzzy name match (edit distance <= 2) inside
    nation blocks. Structured-record linkage is the tabular sibling
    of document near-dup — same blocking-then-verify shape, different
    similarity kernel.

    Scale shape: the edit-distance predicate only ever runs INSIDE a
    block — the join is a plain equi-join on the blocking key
    (nation), so candidate count is sum(block_size^2), never
    |customers|^2. On a production corpus the blocking key would be
    composite (e.g. zip + name-prefix) to keep blocks small, and a
    hot block gets salted like any skewed join key; the verify kernel
    (JVM levenshtein, whole-stage codegen) is unchanged. The oracle
    runs the identical blocked theta join declaratively.
    """
    c = T(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_name")
    # spread the verify kernel by RECORD key, not block key: the block
    # column has only ~25 distinct values, and the build side is
    # broadcast anyway, so probe-side partitioning is free-form — a
    # single-file scan would otherwise run every levenshtein in one task
    # explicit partition count: a column-only repartition of a tiny
    # relation gets AQE-coalesced back to one partition, re-serializing
    # the O(block^2) verify work
    a = c.repartition(32, F.col("c_custkey")).select(
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_custkey").alias("k1"),
        F.col("c_name").alias("n1"))
    b = c.select(F.col("c_nationkey").alias("nationkey"),
                 F.col("c_custkey").alias("k2"),
                 F.col("c_name").alias("n2"))
    # threshold form: banded DP that early-exits once distance exceeds
    # 2 (returns -1) — O(k*n) per pair instead of O(n^2), and the key
    # inequality lives in the join condition so the kernel never runs
    # on the discarded half of each block
    d = F.levenshtein("n1", "n2", 2)
    pairs = (
        a.join(b, (a["nationkey"] == b["nationkey"])
               & (F.col("k1") < F.col("k2")))
        .filter(d != -1)
        .select(a["nationkey"], d.alias("d"))
    )
    return (
        pairs.groupBy("nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_linked_pairs"),
            F.sum(F.when(F.col("d") == 1, 1).otherwise(0)).alias("n_dist1"),
            F.sum(F.when(F.col("d") == 2, 1).otherwise(0)).alias("n_dist2"),
        )
        .orderBy("nationkey")
    )


# --------------------------------------------------------------------
# per-group OLS trend (integer-exact sufficient statistics)
# --------------------------------------------------------------------

# Distributed regression done right: one aggregation computes the five
# sufficient statistics (n, Sx, Sy, Sxy, Sxx) — all BIGINT-exact, all
# map-side combinable — and the slope falls out of closed form on the
# tiny result. No per-group sort, no iterative solver, no Python.
_TREND_ORACLE = EVENTS_MOMENT_CTE + """,
b AS (
  SELECT event_type, epoch_us(ts) // 1000000 AS es,
         CAST(floor(value * 10000.0) AS BIGINT) AS y
  FROM events
), m AS (
  SELECT event_type, min(es) AS mn FROM b GROUP BY 1
), x AS (
  SELECT b.event_type, (b.es - m.mn) // 3600 AS x, b.y
  FROM b JOIN m USING (event_type)
), s AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         sum(CAST(x AS HUGEINT))     AS sx,
         sum(CAST(y AS HUGEINT))     AS sy,
         sum(CAST(x * y AS HUGEINT)) AS sxy,
         sum(CAST(x * x AS HUGEINT)) AS sxx
  FROM x GROUP BY 1
)
SELECT event_type, n,
       CAST(sy // n AS BIGINT) AS mean_y4,
       CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE)
                  / nullif(CAST(n * sxx - sx * sx AS DOUBLE), 0.0e0)
                  * 1000000.0e0) AS BIGINT) AS slope_1e6
FROM s
ORDER BY event_type
"""


@register("events_linear_trend", oracle=_TREND_ORACLE, bench=True,
          doc="per-event-type OLS trend line via integer-exact "
              "sufficient statistics (no sort, no solver)")
def events_linear_trend(spark, sf_dir):
    """Least-squares trend of event value over time, per event type:
    slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2) with x = hours since the
    type's first event and y = value in 1e4 fixed-point. The drift
    detector for metric streams ("is this feed slowly degrading?").

    Cross-engine exactness: the five sufficient statistics are BIGINT
    integer sums (x bounded by the one-month window -> ~720, y4 <
    5e6, so n*Sxy stays under 2^62 at sf0.1); numerator and
    denominator are exact integers in both engines, the final single
    division + floor is one deterministic double op — verified at all
    three SFs. Scale shape: ONE shuffle (the groupBy computing the
    statistics, partial-aggregated map-side) plus a broadcast join
    for the per-group epoch origin; adding groups or rows never adds
    passes. The same five-number pattern extends to Welford variance
    and covariance matrices.
    """
    e = events_moment(spark, sf_dir).select(
        "event_type",
        F.expr("unix_micros(ts) div 1000000").alias("es"),
        F.expr("CAST(floor(value * 10000.0) AS BIGINT)").alias("y"),
    )
    m = e.groupBy("event_type").agg(F.min("es").alias("mn"))
    x = e.join(F.broadcast(m), "event_type").select(
        "event_type",
        F.expr("(es - mn) div 3600").alias("x"),
        "y",
    )
    # per-row products stay inside int64 (x <= ~1.14e6 hours to the
    # 2100 ts-domain edge, |y| <= 1e12 in the moment domain -> x*y <=
    # 1.14e18), but the SUMS accumulate in DECIMAL(38,0)/HUGEINT —
    # the r12 maxmass sweep caught the old LONG sums ANSI-overflowing
    # while the oracle's HUGEINT kept going.  mean_y4 uses the
    # (a - a%b)/b trunc-division idiom (sign semantics identical to
    # the old `div` and DuckDB's `//` for negative sy) with a loud
    # final CAST.
    s = x.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("sum(CAST(x AS DECIMAL(38,0)))").alias("sx"),
        F.expr("sum(CAST(y AS DECIMAL(38,0)))").alias("sy"),
        F.expr("sum(CAST(x * y AS DECIMAL(38,0)))").alias("sxy"),
        F.expr("sum(CAST(x * x AS DECIMAL(38,0)))").alias("sxx"),
    )
    return s.select(
        "event_type", "n",
        F.expr("CAST((sy - sy % n) / n AS BIGINT)").alias("mean_y4"),
        # identical DOUBLE op tree in both dialects: with DECIMAL /
        # HUGEINT sufficient statistics, a bare `* 1.0` literal keeps
        # the division in each engine's own decimal arithmetic (they
        # round differently at the last 1e-6 digit); explicit CAST AS
        # DOUBLE makes the exact integer operands convert identically
        # and the division one deterministic IEEE op
        F.expr("CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE)"
               " / nullif(CAST(n * sxx - sx * sx AS DOUBLE), 0.0e0)"
               " * 1000000.0e0) AS BIGINT)").alias("slope_1e6"),
    ).orderBy("event_type")


# --------------------------------------------------------------------
# continuous-aggregate pattern: stored rollup + raw tail merge
# --------------------------------------------------------------------

# The hypertable/"lambda view" shape: history is served from a compact
# pre-aggregated rollup, only the recent tail touches raw rows, and the
# two merge because count/sum are decomposable aggregates. The oracle
# aggregates everything directly — proving the merged path is
# indistinguishable from the direct one.
_ROLLUP_TAIL_ORACLE = EVENTS_TIMED_CTE + """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_s,
       CAST(count(*) AS BIGINT) AS n_events,
       sum(CAST(floor(value * 10000.0) AS HUGEINT)) / 10000.0 AS sum_value
FROM events
GROUP BY 1
ORDER BY 1
"""


@register("rollup_plus_tail_merge", oracle=_ROLLUP_TAIL_ORACLE, bench=True,
          doc="continuous-aggregate merge: pre-aggregated hourly "
              "rollup for history + raw scan only for the last 6h, "
              "merged losslessly")
def rollup_plus_tail_merge(spark, sf_dir):
    """Hourly event statistics served the way a 100 TB deployment
    serves them: everything older than the last 6 hours comes from
    the hourly ROLLUP (here computed inline; in production a stored
    table maintained by the streaming materialized-view path —
    wire_spark/streaming/materialized.py), only the tail scans raw
    rows, and the two halves merge by re-aggregating decomposable
    partials (counts add, fixed-point sums add). The answer is
    bit-identical to the direct full aggregation — which is exactly
    what the oracle computes.

    Scale shape: the raw scan is bounded by the tail window no matter
    how old the table grows; history cost is O(hours), not O(rows).
    The cutoff is hour-aligned so no hour straddles the boundary and
    the merge needs no partial-bucket reconciliation. At 100 TB with
    a partitioned events table the `ts < cutoff` filter also prunes
    raw partitions entirely — the rollup is the only thing read.
    """
    e = events_timed(spark, sf_dir).select("ts", "value")
    mx = e.agg(
        F.expr("date_trunc('hour', max(ts)) - INTERVAL 6 HOURS").alias("cutoff")
    )
    ec = e.crossJoin(F.broadcast(mx))
    hour = F.date_trunc("hour", F.col("ts"))
    y4 = F.expr("floor(value * 10000.0)")
    # the "stored rollup": per-hour decomposable partials for history
    hist = (
        ec.filter(F.col("ts") < F.col("cutoff"))
        .groupBy(hour.alias("h"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum(y4.cast("decimal(38,0)")).alias("s4"))
    )
    # the raw tail: identical partials over only the recent rows
    tail = (
        ec.filter(F.col("ts") >= F.col("cutoff"))
        .groupBy(hour.alias("h"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum(y4.cast("decimal(38,0)")).alias("s4"))
    )
    merged = (
        hist.unionByName(tail)
        .groupBy("h")
        .agg(F.sum("n").alias("n_events"),
             (F.sum("s4") / F.lit(10000.0)).alias("sum_value"))
    )
    return merged.select(
        F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour_s"),
        "n_events", "sum_value",
    ).orderBy("hour_s")


# --------------------------------------------------------------------
# distributed Gram (second-moment) matrix over the embedding table
# --------------------------------------------------------------------

# The PCA/whitening precursor X^T X computed the map-reduce way: each
# partition reduces its rows to one 64x64 partial matrix (vectorized
# numpy over Arrow batches), and partials merge by integer addition.
# Per-row products are floor-truncated to 1e6 BEFORE summing, so every
# partial is an exact BIGINT and the merged result is identical under
# any partitioning — the msum trick lifted to matrices.
_GRAM_ORACLE = """
WITH idx AS (SELECT unnest(range(1, 65)) AS i),
pairs AS (SELECT a.i AS i, b.i AS j FROM idx a JOIN idx b ON a.i <= b.i),
prod AS (
  SELECT p.i, p.j,
         CAST(floor(CAST(e.embedding[p.i] AS DOUBLE)
                    * CAST(e.embedding[p.j] AS DOUBLE)
                    * 1000000.0) AS BIGINT) AS v
  FROM embeddings e, pairs p
  WHERE list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]) > 0.0
    AND list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]) < 1.0e12
    AND list_max(list_transform(e.embedding::DOUBLE[], x -> abs(x))) <= 1024.0e0
)
SELECT CAST(i - 1 AS BIGINT) AS i, CAST(j - 1 AS BIGINT) AS j,
       CAST(sum(v) AS BIGINT) AS gram_1e6
FROM prod GROUP BY 1, 2 ORDER BY 1, 2
"""


@register("embedding_gram_matrix", oracle=_GRAM_ORACLE, bench=True,
          doc="distributed X^T X over embeddings: per-partition numpy "
              "partial matrices merged by exact integer addition")
def embedding_gram_matrix(spark, sf_dir):
    """Upper-triangle Gram matrix of the embedding table — the one
    matrix PCA, whitening, and linear-probe covariance all start
    from. At 100 TB this is THE canonical map-reduce matrix job:
    per-partition X^T X partials (here a vectorized einsum over each
    Arrow batch) are dimension^2-sized regardless of row count, so
    the shuffle moves 64x64 matrices, never rows.

    Cross-engine exactness: each row's outer-product entries are
    floor-truncated to 1e6 fixed-point individually (deterministic
    double op on the f32-widened values), making every partial an
    exact int64 — addition commutes, so the result is partitioning-
    independent and matches DuckDB's per-element unnest formulation
    bit-for-bit. int64 headroom: |entry| <= 1e6 per row supports
    ~9e12 rows before overflow.
    """
    import numpy as np
    import pandas as pd

    from wire_spark.queries.similarity import gram_domain_cond

    e = (T(spark, sf_dir, "embeddings")
         .filter(gram_domain_cond()).select("embedding"))
    dim = 64
    iu, ju = np.triu_indices(dim)

    def gram_partial(batches):
        acc = np.zeros((dim, dim), dtype=object)
        seen = False
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            # floor each row's outer product in fixed point, THEN sum:
            # exact integers commute under any batch/partition split.
            # Chunked (512 rows): the rows x 64 x 64 float64 einsum
            # intermediate plus its int64 copy would peak ~650 MB/task
            # at a 10k-row Arrow batch — chunking caps it at ~32 MB
            # while the per-row floor (hence the result) is unchanged.
            for lo in range(0, len(X), 512):
                Xc = X[lo:lo + 512]
                # loud domain contract for the numpy path: int64 has
                # no overflow guard (it WRAPS silently), so bound the
                # inputs such that per-row outer products (<= B^2*1e6
                # ~ 1.05e12 at B=1024) and 512-row chunk sums
                # (<= 5.4e14) are int64-exact, and accumulate across
                # chunks in arbitrary-precision Python ints (object
                # dtype) so per-partition mass can never wrap; the
                # final int64 conversion raises OverflowError loudly
                # if a partition's mass outgrows the output contract.
                if len(Xc) and np.abs(Xc).max() > 1024.0:
                    # unreachable through the registered queries since
                    # r13: gram_domain_cond() excludes |component| >
                    # 1024 at the scan on BOTH engines (the band
                    # (1024, ~3e4] was Spark-raise vs DuckDB-result
                    # asymmetric).  Kept as an invariant
                    # backstop for direct kernel callers.
                    raise ValueError(
                        "gram kernel domain: |component| <= 1024 "
                        "(gram_domain_cond() should have excluded "
                        "this vector before the numpy path; direct "
                        "callers must pre-filter)"
                    )
                P = np.floor(np.einsum("ri,rj->rij", Xc, Xc) * 1e6).astype(np.int64)
                acc += P.sum(axis=0)
            seen = True
        if seen:
            yield pd.DataFrame({
                "i": iu.astype(np.int64),
                "j": ju.astype(np.int64),
                "v": acc[iu, ju].astype(np.int64),
            })

    partials = e.mapInPandas(gram_partial, "i LONG, j LONG, v LONG")
    return (
        partials.groupBy("i", "j")
        .agg(F.sum("v").alias("gram_1e6"))
        .orderBy("i", "j")
    )


# --------------------------------------------------------------------
# market-basket co-occurrence: brand pairs within an order
# --------------------------------------------------------------------

_BASKET_ORACLE = """
WITH ob AS (
  SELECT DISTINCT l.l_orderkey AS orderkey, p.p_brand AS brand
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
), nn AS (SELECT count(DISTINCT orderkey) AS n FROM ob),
bc AS (
  SELECT brand, count(*) AS nb FROM ob GROUP BY brand
), pairs AS (
  SELECT a.brand AS b1, b.brand AS b2, count(*) AS support
  FROM ob a JOIN ob b ON a.orderkey = b.orderkey AND a.brand < b.brand
  GROUP BY 1, 2
)
SELECT p.b1, p.b2, CAST(p.support AS BIGINT) AS support,
       (p.support * 10000) // c1.nb AS confidence_1e4,
       (p.support * nn.n * 10000) // (c1.nb * c2.nb) AS lift_1e4
FROM pairs p
JOIN bc c1 ON p.b1 = c1.brand
JOIN bc c2 ON p.b2 = c2.brand, nn
ORDER BY support DESC, b1, b2
LIMIT 30
"""


@register("basket_brand_pairs", oracle=_BASKET_ORACLE, bench=True,
          doc="market-basket mining: brand co-occurrence within "
              "orders, with support / confidence / lift")
def basket_brand_pairs(spark, sf_dir):
    """Association mining over order baskets: which part brands are
    bought together more than chance predicts. support = co-occurring
    orders, confidence = P(b2|b1), lift = observed/expected — the
    classic frequent-itemset statistics at pair order.

    Scale shape: the basket relation is (order, brand) DISTINCT —
    one shuffle — and the pair join is a self-join on the order key,
    whose cost is sum(basket_size^2) with basket size bounded by the
    brand count (25), never corpus-sized. Brand marginals broadcast
    into the final scoring join. Ratios are exact integer fixed-point
    ((support * N * 10000) div (nb1 * nb2)), so the oracle
    hash-matches without float rounding concerns.
    """
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = T(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # FOUR consumers (total, marginals, both sides of the pair
    # self-join) share ONE order-keyed exchange: the explicit
    # repartition("orderkey") below the distinct keys the pipeline on
    # the self-join key (hashpartitioning(orderkey) satisfies the
    # (orderkey, brand) distinct's clustering — subset rule), every
    # consumer reads the same ReusedExchange, and the self-join
    # shuffles nothing further (guide §2.4).  Replaces a
    # data-sized, executor-pinned localCheckpoint.
    ob = (
        li.join(p, li.l_partkey == p.p_partkey)
        .select(F.col("l_orderkey").alias("orderkey"),
                F.col("p_brand").alias("brand"))
        .repartition("orderkey")
        .distinct()
    )
    nn = ob.agg(F.countDistinct("orderkey").alias("n"))
    bc = ob.groupBy("brand").agg(F.count(F.lit(1)).alias("nb"))
    a, b = ob.alias("a"), ob.alias("b")
    pairs = (
        a.join(b, (F.col("a.orderkey") == F.col("b.orderkey"))
               & (F.col("a.brand") < F.col("b.brand")))
        .groupBy(F.col("a.brand").alias("b1"), F.col("b.brand").alias("b2"))
        .agg(F.count(F.lit(1)).alias("support"))
    )
    return (
        pairs
        .join(F.broadcast(bc.select(F.col("brand").alias("b1"),
                                    F.col("nb").alias("nb1"))), "b1")
        .join(F.broadcast(bc.select(F.col("brand").alias("b2"),
                                    F.col("nb").alias("nb2"))), "b2")
        .crossJoin(F.broadcast(nn))
        .select(
            "b1", "b2", "support",
            F.expr("(support * 10000) div nb1").alias("confidence_1e4"),
            F.expr("(support * n * 10000) div (nb1 * nb2)").alias("lift_1e4"),
        )
        .orderBy(F.desc("support"), "b1", "b2")
        .limit(30)
    )


# --------------------------------------------------------------------
# power iteration on the Gram matrix: dominant eigenvalue estimate
# --------------------------------------------------------------------

# Iterative linear algebra as relational ops: the matrix lives as an
# (i, j, v) relation, matrix-vector products are join+groupBy, and two
# products from the ones vector give the Rayleigh-quotient estimate of
# the dominant eigenvalue. Every value is an exact BIGINT except the
# one mid-course rescale, floor(x * 1024.0 / m) with m = max|x| — a
# data-dependent double division, NOT exact in general; cross-engine
# parity holds because both engines evaluate the identical EXPLICIT
# IEEE-754 double expression (the int128-exact x and m convert to
# DOUBLE identically, then one multiply + divide + floor; SQL floor
# matches for negative inputs, where integer `div` truncation would
# disagree with DuckDB).  The rescale constant is 1024, not 4096:
# the Rayleigh numerator scales ~ 64 * C^2 * lambda / m, and at
# C=4096 the REAL sf0.001 corpus already sat at ~90% of int64 — the
# r12 zerovec corpus tipped it over at both engines' loud output
# casts.  C=1024 buys 16x headroom at a negligible cost in estimate
# resolution (the start vector still has 11 significant bits).
_POWER_ORACLE = """
WITH idx AS (SELECT unnest(range(1, 65)) AS i),
pr AS (SELECT a.i AS i, b.i AS j FROM idx a, idx b),
am AS (
  SELECT p.i - 1 AS i, p.j - 1 AS j,
         CAST(sum(CAST(floor(CAST(e.embedding[p.i] AS DOUBLE)
                             * CAST(e.embedding[p.j] AS DOUBLE)
                             * 1000000.0) AS BIGINT)) AS BIGINT) AS v
  FROM embeddings e, pr p
  WHERE list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]) > 0.0
    AND list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]) < 1.0e12
    AND list_max(list_transform(e.embedding::DOUBLE[], x -> abs(x))) <= 1024.0e0
  GROUP BY 1, 2
),
v0 AS (SELECT i, v AS x FROM am WHERE i = j),
v1 AS (
  SELECT m.i, sum(CAST(m.v AS HUGEINT) * s.x) AS x
  FROM am m JOIN v0 s ON m.j = s.i GROUP BY m.i
),
mx AS (SELECT max(abs(x)) AS m FROM v1),
v1s AS (SELECT i, CAST(floor(CAST(x AS DOUBLE) * 1024.0e0
                             / CAST(m AS DOUBLE)) AS BIGINT) AS x
        FROM v1, mx),
v2 AS (
  SELECT m.i, CAST(sum(CAST(m.v AS HUGEINT) * s.x) AS BIGINT) AS y
  FROM am m JOIN v1s s ON m.j = s.i GROUP BY m.i
),
num AS (SELECT CAST(sum(CAST(s.x AS HUGEINT) * v2.y) AS BIGINT) AS rq_num
        FROM v1s s JOIN v2 ON s.i = v2.i),
den AS (SELECT CAST(sum(x * x) AS BIGINT) AS rq_den FROM v1s)
SELECT num.rq_num, den.rq_den,
       CAST(floor(num.rq_num / CAST(den.rq_den AS DOUBLE)) AS BIGINT)
         AS lambda_est
FROM num, den
"""


@register("embedding_power_iteration", oracle=_POWER_ORACLE, bench=True,
          doc="dominant-eigenvalue estimate of the embedding Gram "
              "matrix: two relational matrix-vector products + "
              "Rayleigh quotient, integer-exact")
def embedding_power_iteration(spark, sf_dir):
    """The spectral health probe for an embedding space: the dominant
    eigenvalue of X^T X (relative to trace) measures how much
    variance collapses onto one axis — anisotropy that degrades
    cosine retrieval. Estimated by power iteration from diag(A)
    (see the block comment on start-vector choice):
    v1 = A*v0, v2 = A*v1', lambda ~ (v1'.v2)/(v1'.v1'). The
    Rayleigh quotient is a guaranteed LOWER bound on lambda_max,
    converging as (lambda2/lambda1)^(2k) per extra product (measured
    0.60x truth after two products on this near-isotropic test
    spectrum — more iterations are more joins of the same shape).

    Scale shape: the matrix is dimension^2 rows built by the same
    per-partition fixed-point numpy partials as
    ``embedding_gram_matrix`` (here with both triangles materialized);
    each matrix-vector product is a broadcast-sized join + groupBy on
    a 4096-row relation — iteration cost is independent of corpus
    size once the Gram partials are reduced, which is why power/
    Lanczos methods are THE distributed spectral tools. The rescale
    floor(x * 1024.0 / m) divides by the data-dependent max|x| — both
    engines evaluate that identical double expression (see the block
    comment above the oracle); all other arithmetic is BIGINT, making
    the estimate bit-reproducible.
    """
    import numpy as np
    import pandas as pd

    from wire_spark.queries.similarity import gram_domain_cond

    e = (T(spark, sf_dir, "embeddings")
         .filter(gram_domain_cond()).select("embedding"))
    dim = 64
    ii, jj = np.meshgrid(np.arange(dim), np.arange(dim), indexing="ij")

    def gram_full(batches):
        acc = np.zeros((dim, dim), dtype=object)
        seen = False
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            # chunked einsum: bounds the rows x 64 x 64 intermediate;
            # object-dtype accumulation + the component guard make the
            # numpy path loud instead of silently wrapping (see
            # gram_partial in embedding_gram_matrix)
            for lo in range(0, len(X), 512):
                Xc = X[lo:lo + 512]
                # loud domain contract for the numpy path: int64 has
                # no overflow guard (it WRAPS silently), so bound the
                # inputs such that per-row outer products (<= B^2*1e6
                # ~ 1.05e12 at B=1024) and 512-row chunk sums
                # (<= 5.4e14) are int64-exact, and accumulate across
                # chunks in arbitrary-precision Python ints (object
                # dtype) so per-partition mass can never wrap; the
                # final int64 conversion raises OverflowError loudly
                # if a partition's mass outgrows the output contract.
                if len(Xc) and np.abs(Xc).max() > 1024.0:
                    # unreachable through the registered queries since
                    # r13: gram_domain_cond() excludes |component| >
                    # 1024 at the scan on BOTH engines (the band
                    # (1024, ~3e4] was Spark-raise vs DuckDB-result
                    # asymmetric).  Kept as an invariant
                    # backstop for direct kernel callers.
                    raise ValueError(
                        "gram kernel domain: |component| <= 1024 "
                        "(gram_domain_cond() should have excluded "
                        "this vector before the numpy path; direct "
                        "callers must pre-filter)"
                    )
                P = np.floor(np.einsum("ri,rj->rij", Xc, Xc) * 1e6).astype(np.int64)
                acc += P.sum(axis=0)
            seen = True
        if seen:
            yield pd.DataFrame({
                "i": ii.ravel().astype(np.int64),
                "j": jj.ravel().astype(np.int64),
                "v": acc.ravel().astype(np.int64),
            })

    # eagerly materialized: THREE consumers (start vector, both
    # matrix-vector products) would otherwise each re-run the Python
    # gram partials over the full embedding table; the checkpoint is
    # dimension^2 rows
    A = materialize(
        e.mapInPandas(gram_full, "i LONG, j LONG, v LONG")
        .groupBy("i", "j").agg(F.sum("v").alias("v"))
    )
    v0 = A.filter(F.col("i") == F.col("j")).select("i", F.col("v").alias("x"))
    # matrix-vector products accumulate in DECIMAL(38,0) (the r12
    # zerovec near-budget probe overflowed the long products loudly on
    # both engines, with different exceptions); the BIGINT cast at
    # each existing boundary keeps the in-budget op tree — and every
    # real-data value — identical, and fails loudly past it.
    # v1 stays in DECIMAL(38,0): the r12 zerovec corpus pushed the
    # real first matvec to ~9.3e18 — past int64 — so a BIGINT x here
    # is not an option; the mid-course rescale below consumes it
    # through an EXPLICIT double tree (identical int128->double
    # conversion + IEEE ops on both engines), which is also what the
    # oracle's block comment always claimed the expression was.
    v1 = (
        A.join(F.broadcast(v0.select(F.col("i").alias("j"), "x")), "j")
        .groupBy("i")
        .agg(F.expr("sum(CAST(v AS DECIMAL(19,0)) * x)").alias("x"))
    )
    mx = v1.agg(F.max(F.abs(F.col("x"))).alias("m"))
    v1s = v1.crossJoin(F.broadcast(mx)).select(
        "i",
        F.expr(
            "CAST(floor(CAST(x AS DOUBLE) * 1024.0e0"
            " / CAST(m AS DOUBLE)) AS BIGINT)"
        ).alias("x"))
    v2 = (
        A.join(F.broadcast(v1s.select(F.col("i").alias("j"), "x")), "j")
        .groupBy("i")
        .agg(F.expr(
            "CAST(sum(CAST(v AS DECIMAL(19,0)) * x) AS BIGINT)"
        ).alias("y"))
    )
    num = (
        v1s.join(v2, "i")
        .agg(F.expr(
            "CAST(sum(CAST(x AS DECIMAL(19,0)) * y) AS BIGINT)"
        ).alias("rq_num"))
    )
    den = v1s.agg(F.sum(F.col("x") * F.col("x")).alias("rq_den"))
    return (
        num.crossJoin(F.broadcast(den))
        .select(
            "rq_num", "rq_den",
            F.expr("CAST(floor(rq_num / CAST(rq_den AS DOUBLE)) AS BIGINT)")
            .alias("lambda_est"),
        )
    )


# --------------------------------------------------------------------
# Z-order (Morton) layout audit: locality of 2-D clustering schemes
# --------------------------------------------------------------------

_MB = 14  # bits per dimension (day idx < 2^14, custkey < 2^14)


def _morton_expr(x: str, y: str, duck: bool) -> str:
    """Bit-interleave expression for a 2*_MB-bit Morton code,
    generated identically for both engines (DuckDB spells shifts as
    operators, Spark as shiftleft/shiftright functions; & is common)."""
    parts = []
    for i in range(_MB):
        if duck:
            parts.append(f"((({x} >> {i}) & 1) << {2 * i})")
            parts.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
        else:
            parts.append(f"shiftleft(shiftright({x}, {i}) & 1, {2 * i})")
            parts.append(f"shiftleft(shiftright({y}, {i}) & 1, {2 * i + 1})")
    return " + ".join(parts)


_ZORDER_ORACLE = f"""
WITH base AS (
  SELECT epoch_us(o_orderdate) // 86400000000
           - (SELECT min(epoch_us(o_orderdate) // 86400000000) FROM orders)
           AS dx,
         o_custkey AS cy
  FROM orders
), mx AS (
  SELECT max(dx) AS md, max(cy) AS mc FROM base
), scaled AS (
  SELECT dx, cy,
         (dx * {1 << _MB}) // (mx.md + 1) AS dxs,
         (cy * {1 << _MB}) // (mx.mc + 1) AS cys,
         mx.md, mx.mc
  FROM base, mx
), coded AS (
  SELECT dx, cy,
         ({_morton_expr('dxs', 'cys', True)}) // {1 << (2 * _MB - 8)} AS b_morton,
         (dx * 256) // (md + 1) AS b_day,
         (cy * 256) // (mc + 1) AS b_cust
  FROM scaled
), u AS (
  SELECT 'morton' AS strategy, b_morton AS bucket, dx, cy FROM coded
  UNION ALL
  SELECT 'day_linear', b_day, dx, cy FROM coded
  UNION ALL
  SELECT 'cust_linear', b_cust, dx, cy FROM coded
), per_bucket AS (
  SELECT strategy, bucket,
         max(dx) - min(dx) AS day_span,
         max(cy) - min(cy) AS cust_span
  FROM u GROUP BY strategy, bucket
)
SELECT strategy,
       CAST(count(*) AS BIGINT) AS n_buckets,
       (CAST(sum(day_span) AS BIGINT) * 100) // count(*) AS avg_day_span_x100,
       (CAST(sum(cust_span) AS BIGINT) * 100) // count(*) AS avg_cust_span_x100
FROM per_bucket
GROUP BY strategy
ORDER BY strategy
"""


@register("layout_zorder_audit", oracle=_ZORDER_ORACLE, bench=True,
          doc="Z-order layout audit: per-bucket (day, custkey) span "
              "under Morton vs single-dimension clustering")
def layout_zorder_audit(spark, sf_dir):
    """The data-layout decision quantified: bucket orders three ways
    — by Morton (Z-order) code of (day, custkey), by day alone, by
    custkey alone — and measure each bucket's span in BOTH
    dimensions (both normalized to the full code range first, so
    the prefix buckets are occupied). Single-dimension clustering
    collapses one span and
    leaves the other at full range (queries filtering the other
    column prune nothing); the Morton prefix keeps both spans
    moderate, which is exactly why lakehouse OPTIMIZE ZORDER exists.
    This is the measure-side tool you run before choosing a layout;
    the WRITE side is ``operators/layout.py::zorder_write``
    (repartitionByRange + sortWithinPartitions on the Morton key),
    whose file-extent pruning is asserted against real parquet footer
    statistics in tests/test_scale_patterns.py.

    Scale shape: the Morton code is pure bit arithmetic (JVM codegen,
    no UDF) and prefix bucketing is a div — no global sort anywhere,
    unlike an actual re-layout; the three labelings explode 3x and
    reduce through one (strategy, bucket) groupBy whose state is the
    bucket count. The audit's output is O(strategies); run it on a
    sample at 100 TB — span statistics converge long before full
    scans. Integer end-to-end (spans, x100 fixed-point averages).
    """
    o = T(spark, sf_dir, "orders").select(
        F.expr("unix_micros(o_orderdate) div 86400000000").alias("d0"),
        F.col("o_custkey").alias("cy"),
    )
    mins = o.agg(F.min("d0").alias("mnd"))
    base = o.crossJoin(F.broadcast(mins)).select(
        (F.col("d0") - F.col("mnd")).alias("dx"), "cy")
    mx = base.agg(F.max("dx").alias("md"), F.max("cy").alias("mc"))
    scaled = base.crossJoin(F.broadcast(mx)).select(
        "dx", "cy", "md", "mc",
        F.expr(f"(dx * {1 << _MB}) div (md + 1)").alias("dxs"),
        F.expr(f"(cy * {1 << _MB}) div (mc + 1)").alias("cys"),
    )
    coded = scaled.select(
        "dx", "cy",
        F.expr(f"({_morton_expr('dxs', 'cys', False)}) "
               f"div {1 << (2 * _MB - 8)}").alias("b_morton"),
        F.expr("(dx * 256) div (md + 1)").alias("b_day"),
        F.expr("(cy * 256) div (mc + 1)").alias("b_cust"),
    )
    u = coded.select(
        F.explode(F.array(
            F.struct(F.lit("morton").alias("strategy"),
                     F.col("b_morton").alias("bucket")),
            F.struct(F.lit("day_linear").alias("strategy"),
                     F.col("b_day").alias("bucket")),
            F.struct(F.lit("cust_linear").alias("strategy"),
                     F.col("b_cust").alias("bucket")),
        )).alias("s"),
        "dx", "cy",
    ).select("s.strategy", "s.bucket", "dx", "cy")
    per_bucket = u.groupBy("strategy", "bucket").agg(
        (F.max("dx") - F.min("dx")).alias("day_span"),
        (F.max("cy") - F.min("cy")).alias("cust_span"),
    )
    return (
        per_bucket.groupBy("strategy")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.expr("(sum(day_span) * 100) div count(*)")
            .alias("avg_day_span_x100"),
            F.expr("(sum(cust_span) * 100) div count(*)")
            .alias("avg_cust_span_x100"),
        )
        .orderBy("strategy")
    )


# --------------------------------------------------------------------
# revenue concentration: Gini coefficient + top-decile share
# --------------------------------------------------------------------

_GINI_ORACLE = """
WITH rev AS (
  SELECT o_custkey AS custkey,
         CAST(sum(CAST(floor(o_totalprice * 100.0) AS BIGINT)) AS BIGINT)
           AS r
  FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT custkey, r,
         CAST(row_number() OVER (ORDER BY r, custkey) AS BIGINT) AS rk,
         CAST(count(*) OVER () AS BIGINT) AS n,
         CAST(sum(r) OVER () AS BIGINT) AS s
  FROM rev
), agg AS (
  SELECT max(n) AS n, max(s) AS s,
         CAST(sum(rk * r) AS BIGINT) AS srx,
         CAST(sum(CASE WHEN rk * 10 > 9 * max_n THEN r ELSE 0 END) AS BIGINT)
           AS top10,
         CAST(sum(CASE WHEN rk * 100 > 99 * max_n THEN r ELSE 0 END) AS BIGINT)
           AS top1
  FROM (SELECT *, max(n) OVER () AS max_n FROM ranked)
)
SELECT n AS n_customers,
       CAST(floor((2 * srx - (n + 1) * s) * 1000000.0 / (n * s)) AS BIGINT)
         AS gini_1e6,
       (top10 * 10000) // s AS top10_share_bp,
       (top1 * 10000) // s AS top1_share_bp
FROM agg
"""


@register("revenue_concentration_gini", oracle=_GINI_ORACLE, bench=True,
          doc="revenue inequality: exact Gini coefficient and "
              "top-10%/top-1% customer revenue shares via "
              "histogram-navigated ranking")
def revenue_concentration_gini(spark, sf_dir):
    """How concentrated is revenue across customers? The Gini
    coefficient from the closed form G = (2*sum(i*x_i) - (n+1)*S) /
    (n*S) over ascending-ranked revenues, plus the top-decile and
    top-percentile shares — the skew facts behind both business
    dashboards and data-skew planning (a 0.9-Gini key column WILL
    need salting).

    Scale shape: the rank every customer needs does NOT come from a
    global sort — revenues bucket by fixed width, bucket counts
    cumulate on the small bucket table, and rank = bucket's
    cumulative offset + within-bucket row_number (windows touch one
    bucket at a time; the oracle uses the global-sort verification
    form). Revenue is exact integer cents; the single Gini division
    runs on exact BIGINTs with a deterministic floor.
    """
    rev = materialize(  # histogram + rank branches share it
        T(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(F.sum(F.expr("CAST(floor(o_totalprice * 100.0) AS BIGINT)"))
             .alias("r"))
    )
    bkt = F.expr("r div 10000000")  # 100k-currency buckets, ~1k buckets
    ev = rev.withColumn("bkt", bkt)
    hist = ev.groupBy("bkt").agg(F.count(F.lit(1)).alias("c"))
    wb = W.orderBy("bkt").rowsBetween(W.unboundedPreceding, 0)
    cum = hist.select(
        "bkt", (F.sum("c").over(wb) - F.col("c")).alias("cum_before"))
    ranked = (
        ev.join(F.broadcast(cum), "bkt")
        .withColumn("rk", F.col("cum_before")
                    + F.row_number().over(
                        W.partitionBy("bkt").orderBy("r", "custkey")))
    )
    tot = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("r").alias("s"),
    )
    agg = (
        ranked.crossJoin(F.broadcast(tot))
        .agg(
            F.max("n").alias("n"),
            F.max("s").alias("s"),
            F.sum(F.col("rk") * F.col("r")).alias("srx"),
            F.sum(F.when(F.col("rk") * 10 > 9 * F.col("n"), F.col("r"))
                  .otherwise(F.lit(0))).alias("top10"),
            F.sum(F.when(F.col("rk") * 100 > 99 * F.col("n"), F.col("r"))
                  .otherwise(F.lit(0))).alias("top1"),
        )
    )
    return agg.select(
        F.col("n").alias("n_customers"),
        F.expr("CAST(floor((2 * srx - (n + 1) * s) * 1000000.0 / (n * s)) "
               "AS BIGINT)").alias("gini_1e6"),
        F.expr("(top10 * 10000) div s").alias("top10_share_bp"),
        F.expr("(top1 * 10000) div s").alias("top1_share_bp"),
    )


# --------------------------------------------------------------------
# RFM segmentation: recency / frequency / monetary quintile codes
# --------------------------------------------------------------------

_RFM_ORACLE = """
WITH base AS (
  SELECT o_custkey AS custkey,
         CAST(count(*) AS BIGINT) AS f,
         CAST(sum(CAST(floor(o_totalprice * 100.0) AS BIGINT)) AS BIGINT)
           AS m,
         CAST(max(epoch_us(o_orderdate)) // 86400000000 AS BIGINT) AS last_day
  FROM orders GROUP BY o_custkey
), mx AS (SELECT max(last_day) AS today, count(*) AS n FROM base),
scored AS (
  SELECT custkey, f, m, (mx.today - last_day) AS r_days, mx.n,
         row_number() OVER (ORDER BY (mx.today - last_day), custkey) AS r_rn,
         row_number() OVER (ORDER BY f DESC, custkey) AS f_rn,
         row_number() OVER (ORDER BY m DESC, custkey) AS m_rn
  FROM base, mx
), coded AS (
  SELECT custkey, m,
         5 - ((r_rn - 1) * 5) // n AS r_score,
         5 - ((f_rn - 1) * 5) // n AS f_score,
         5 - ((m_rn - 1) * 5) // n AS m_score
  FROM scored
)
SELECT CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
         || CAST(m_score AS VARCHAR) AS segment,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(m) AS BIGINT) // count(*) AS avg_monetary_c
FROM coded
GROUP BY 1
ORDER BY n_customers DESC, segment
LIMIT 25
"""


@register("customer_rfm_segments", oracle=_RFM_ORACLE, bench=True,
          doc="RFM segmentation: recency/frequency/monetary quintile "
              "codes per customer, deterministic integer quintiles, "
              "top segments by population")
def customer_rfm_segments(spark, sf_dir):
    """The marketing-standard RFM cut: every customer coded by
    quintile of recency (days since last order, recent = 5),
    frequency (order count), and monetary (lifetime cents) — '555'
    is the champion segment, '111' the lapsed one. Quintiles are
    exact integer functions of a totally-ordered rank (score = 5 -
    (rank-1)*5 div n with a full tiebreak chain), so segment
    membership is bit-reproducible — no engine-specific ntile tie
    behavior in sight.

    Scale shape: one groupBy reduces orders to a customer-grain
    relation; the three rankings here use the global-sort
    verification form over that reduced (already small) relation —
    at 100 TB each rank swaps in the histogram-navigated form
    exactly as ``revenue_concentration_gini`` does, one histogram
    per dimension. The segment rollup is a 125-group aggregate.
    """
    o = T(spark, sf_dir, "orders")
    # totals + three rankings share it
    base = materialize(o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.count(F.lit(1)).alias("f"),
        F.sum(F.expr("CAST(floor(o_totalprice * 100.0) AS BIGINT)")).alias("m"),
        F.expr("max(unix_micros(o_orderdate)) div 86400000000")
        .alias("last_day"),
    ))
    mx = base.agg(F.max("last_day").alias("today"),
                  F.count(F.lit(1)).alias("n"))
    scored = (
        base.crossJoin(F.broadcast(mx))
        .withColumn("r_days", F.col("today") - F.col("last_day"))
        .withColumn("r_rn", F.row_number().over(
            W.orderBy("r_days", "custkey")))
        .withColumn("f_rn", F.row_number().over(
            W.orderBy(F.desc("f"), "custkey")))
        .withColumn("m_rn", F.row_number().over(
            W.orderBy(F.desc("m"), "custkey")))
    )
    coded = scored.select(
        "m",
        F.expr("5 - ((r_rn - 1) * 5) div n").alias("r_score"),
        F.expr("5 - ((f_rn - 1) * 5) div n").alias("f_score"),
        F.expr("5 - ((m_rn - 1) * 5) div n").alias("m_score"),
    )
    return (
        coded.groupBy(
            F.concat(F.col("r_score").cast("string"),
                     F.col("f_score").cast("string"),
                     F.col("m_score").cast("string")).alias("segment"))
        .agg(F.count(F.lit(1)).alias("n_customers"),
             F.expr("sum(m) div count(*)").alias("avg_monetary_c"))
        .orderBy(F.desc("n_customers"), "segment")
        .limit(25)
    )


# --------------------------------------------------------------------
# trade-flow matrix: supplier nation x customer nation revenue
# --------------------------------------------------------------------

_TRADE_ORACLE = """
WITH flows AS (
  SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
         CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 10000.0)
              AS BIGINT) AS rev4
  FROM lineitem l
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation nc  ON c.c_nationkey = nc.n_nationkey
  JOIN nation ns  ON s.s_nationkey = ns.n_nationkey
)
SELECT supp_nation, cust_nation,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(rev4) AS BIGINT) / 10000.0 AS revenue
FROM flows
GROUP BY supp_nation, cust_nation
ORDER BY revenue DESC, supp_nation, cust_nation
LIMIT 30
"""


@register("trade_flow_matrix", oracle=_TRADE_ORACLE, bench=True,
          doc="full nation-to-nation revenue matrix (q7 generalized "
              "to all pairs), top flows")
def trade_flow_matrix(spark, sf_dir):
    """The complete supplier-nation x customer-nation revenue matrix
    — TPC-H q7 asks for one nation pair; real trade analysis wants
    the whole matrix and its top corridors. One query, all pairs,
    no per-pair re-scans.

    Scale shape: ONE fact-fact shuffle join (lineitem-orders on
    the order key — orders is order-grain, never broadcastable at
    scale); nation x2 is the only bounded dimension. Customer and
    supplier grow with SF, so they carry no forced broadcast hint —
    AQE broadcasts them under the threshold and shuffles at 100 TB.
    The 625-cell aggregation partial-aggregates map-side
    so the final shuffle carries cells, not line items. Revenue
    is fixed-point-summed so the hash is order-independent; top
    flows via partial top-k.
    """
    l = T(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey",
        F.expr("CAST(floor(l_extendedprice * (1 - l_discount) * 10000.0) "
               "AS BIGINT)").alias("rev4"))
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = T(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = T(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    flows = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n.select(F.col("n_nationkey").alias("ck"),
                                   F.col("n_name").alias("cust_nation"))),
              F.col("c_nationkey") == F.col("ck"))
        .join(F.broadcast(n.select(F.col("n_nationkey").alias("sk"),
                                   F.col("n_name").alias("supp_nation"))),
              F.col("s_nationkey") == F.col("sk"))
    )
    return (
        flows.groupBy("supp_nation", "cust_nation")
        .agg(F.count(F.lit(1)).alias("n_items"),
             (F.sum("rev4") / F.lit(10000.0)).alias("revenue"))
        .orderBy(F.desc("revenue"), "supp_nation", "cust_nation")
        .limit(30)
    )
