"""Shared helpers for catalog queries (Spark side + oracle parity)."""

from __future__ import annotations

import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wire_spark.engine import load_table


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


#: Measurement hygiene for the ``events.value`` measure: non-finite
#: readings (NaN/±inf) and magnitudes past the engine's fixed-point
#: budget (|v| ≤ 1e12 keeps v*1e6 inside int64) become NULL, which
#: every aggregate/floor path already handles identically on both
#: engines (the nulls-sweep class).  Sanitizing the VALUE instead of
#: filtering ROWS preserves group/window/join structure — counts,
#: sessions, lag/lead positions and as-of matches are unchanged.
#: The string is valid in BOTH dialects (Spark SQL and DuckDB ship
#: isnan()); Spark uses it via F.expr, oracles via a CTE that
#: shadows the events view with ``SELECT * REPLACE (… AS value)``.
#: Introduced by the r10 ``extremes`` degenerate sweep (21 hits:
#: ANSI long-overflow on CAST(floor(1e308*1e4)) and NaN conversion
#: errors in DuckDB).
SANITIZE_VALUE = (
    "CASE WHEN value IS NULL OR isnan(value) OR abs(value) > 1.0e12 "
    "THEN NULL ELSE value END"
)

#: Event-time hygiene: timestamps outside the engine's declared
#: event-time domain [1970-01-01, 2100-01-01) become NULL.  A single
#: corrupt clock (year 1901 or 9999) must not be able to stretch a
#: calendar-grid operator — `sequence(min(ts), max(ts), interval 1
#: hour)` over an 8,000-year span is a multi-billion-row explosion,
#: the r10 `timewarp` sweep's hang.  Same CASE string runs in both
#: dialects; NULL propagates (NULL < x is NULL → ELSE branch).
SANITIZE_TS = (
    "CASE WHEN ts < TIMESTAMP '1970-01-01 00:00:00' "
    "OR ts >= TIMESTAMP '2100-01-01 00:00:00' "
    "THEN NULL ELSE ts END"
)

#: Oracle-side prelude: shadow the events view with the sanitized
#: measure.  Append other CTEs after it or follow with plain SQL.
EVENTS_SANITIZED_CTE = (
    # main.events: DuckDB rejects a CTE that references the same-named
    # view unqualified (circular-CTE check); the driver registers all
    # views in the default main schema
    f"WITH events AS (SELECT * REPLACE (({SANITIZE_VALUE}) AS value, "
    f"({SANITIZE_TS}) AS ts) "
    "FROM main.events)"
)


#: Time-structured tier: sessions, windows, lags, paths and daily
#: series ORDER or GROUP by event time — an event with no (in-domain)
#: timestamp cannot enter them at all, and keeping NULL ts rows
#: re-opens the engines' NULL-ordering split (Spark sorts NULLs
#: first ascending, DuckDB last — the r9 class) plus Spark
#: F.window()'s drop-NULL behavior vs a SQL bucket expression's
#: NULL-keyed group.  So the timed tier FILTERS to in-domain
#: timestamps (which also excludes NULL) while still sanitizing the
#: measure.
EVENTS_TIMED_CTE = (
    f"WITH events AS (SELECT * REPLACE (({SANITIZE_VALUE}) AS value) "
    "FROM main.events "
    "WHERE ts >= TIMESTAMP '1970-01-01 00:00:00' "
    "AND ts < TIMESTAMP '2100-01-01 00:00:00')"
)


def events_timed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events restricted to rows with an in-domain event time (the
    Spark twin of :data:`EVENTS_TIMED_CTE`) — for time-structured
    queries; measure column sanitized as in :func:`events_sane`."""
    from pyspark.sql import functions as F

    return events_sane(spark, sf_dir).filter(F.col("ts").isNotNull())


def events_sane(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table with sanitized measure and event-time columns
    — the Spark-side twin of :data:`EVENTS_SANITIZED_CTE`."""
    from pyspark.sql import functions as F

    return (
        load_table(spark, sf_dir, "events")
        .withColumn("value", F.expr(SANITIZE_VALUE))
        .withColumn("ts", F.expr(SANITIZE_TS))
    )


#: Quadratic-moment tier: operators that square the measure (variance,
#: t/F statistics, OLS sufficient statistics) need per-row fixed-point
#: SQUARES to be exact — and Spark's ``floor(DOUBLE)`` returns LONG
#: and SATURATES SILENTLY at int64 max (measured r12: floor(1e26) =
#: 9223372036854775807, no ANSI error), so a value that passes the
#: 1e12 SANITIZE budget can still poison a second moment without any
#: loud failure while DuckDB's floor stays DOUBLE and its HUGEINT
#: cast keeps the true value (the r12 ``maxmass`` sweep: welch's t
#: gate flipped to 0 on Spark only).  Moment operators therefore
#: declare a tighter measurement domain: |v| <= 1e8, where
#: floor(v*v*100) <= 1e18 < int64 per row.  Out-of-domain values
#: become NULL on BOTH engines (NaN fails the <= comparison in both,
#: so the expression subsumes the SANITIZE gate for the value
#: column).  Real data carries |v| <= ~500 at every SF — verified
#: bit-identical before/after at sf0.001/0.01/0.1.
MOMENT_VALUE = (
    "CASE WHEN abs(value) <= 1.0e8 THEN value END"
)

#: Oracle-side prelude for the moment tier (value gated to the moment
#: domain, event time sanitized as usual).
EVENTS_MOMENT_CTE = (
    f"WITH events AS (SELECT * REPLACE (({MOMENT_VALUE}) AS value, "
    f"({SANITIZE_TS}) AS ts) "
    "FROM main.events)"
)


def events_moment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events with the measure restricted to the quadratic-moment
    domain — the Spark-side twin of :data:`EVENTS_MOMENT_CTE`."""
    from pyspark.sql import functions as F

    return (
        load_table(spark, sf_dir, "events")
        .withColumn("value", F.expr(MOMENT_VALUE))
        .withColumn("ts", F.expr(SANITIZE_TS))
    )


#: Intermediate results kept by catalog queries and the operators
#: they call, awaiting release, as ``(DataFrame, free)`` pairs: caches
#: from :func:`tracked_cache` and checkpoints from :func:`materialize`.
#: Catalog functions are lazy (the caller runs the action), so a query
#: cannot release its own intermediates — long-lived callers
#: (bench.py, the CLI, the serve path, the oracle tests) call
#: :func:`release_tracked_caches` once their actions complete.
#: Without this, a session that runs many queries (or the same query
#: across different sf_dirs — distinct plans, distinct cache entries)
#: pins executor storage memory indefinitely (seen in
#: tcloseness_audit).
_TRACKED: list[tuple[DataFrame, Callable[[], object]]] = []
_TRACKED_LOCK = threading.Lock()


def tracked_cache(df: DataFrame) -> DataFrame:
    """``df.cache()`` with deferred-release bookkeeping.

    Spark's cache manager matches by analyzed plan, so an identical
    fragment built twice inside ONE query (e.g. both sides of a
    self-join) hits one shared InMemoryRelation.  Callers that time
    queries individually must release between queries — bench.py does:
    cross-QUERY cache hits make per-query seconds
    depend on execution order, so the caches are scoped to the query
    that built them and the honest cost is paid by every consumer.
    Unlike a checkpoint, a cache keeps its lineage: lost blocks (an
    executor died, or the cache was released) are recomputed.
    """
    with _TRACKED_LOCK:
        _TRACKED.append((df, df.unpersist))
    return df.cache()


def materialize(df: DataFrame, *, eager: bool = True) -> DataFrame:
    """Truncate ``df``'s lineage at its computed rows, tracked for
    release like :func:`tracked_cache`.

    The session decides where the rows live: when the SparkContext
    has a checkpoint dir (a cluster), a reliable ``checkpoint`` into
    it, which survives executor loss; otherwise an executor-local
    ``localCheckpoint``.

    ``eager=False`` fuses the materialization into the caller's next
    action: one job instead of two.  Only valid when exactly one
    action follows before multi-branch reuse: a lazy checkpoint
    consumed by two branches of one job races both branches into the
    cache and can compute the rows twice.  Reliable checkpoints stay
    eager always: RDD ``checkpoint()`` recomputes the lineage when
    the checkpoint job runs unless the data was already materialized,
    so a lazy reliable checkpoint would run the plan twice.
    """
    if df.sparkSession.sparkContext.getCheckpointDir():
        out = df.checkpoint(eager=True)
    else:
        out = df.localCheckpoint(eager=eager)
    rdd = out._jdf.queryExecution().analyzed().rdd()  # the LogicalRDD's rows
    with _TRACKED_LOCK:
        _TRACKED.append((out, lambda: rdd.unpersist(False)))
    return out


def release_tracked_caches(*dfs: DataFrame) -> int:
    """Free tracked caches and checkpoints; returns how many were
    released.  With no arguments every tracked result is freed; with
    DataFrames only those (an operator that owns its intermediates
    from start to end, like ``merge_upsert``).

    Call it only after the last action on anything built from them.
    A released cache is merely evicted (a later action recomputes
    it), but a released checkpoint cannot be re-read: its lineage was
    truncated, so a later action on a DataFrame built from it fails."""
    ids = {id(d) for d in dfs}
    with _TRACKED_LOCK:
        taken = [t for t in _TRACKED if not dfs or id(t[0]) in ids]
        _TRACKED[:] = [t for t in _TRACKED if dfs and id(t[0]) not in ids]
    n = 0
    for _, free in reversed(taken):
        try:
            free()
            n += 1
        except Exception:
            pass  # session already stopped — nothing to release
    return n


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Build a DataFrame from a SMALL driver-side literal list as ONE
    partition.  The default ``createDataFrame`` slices local data
    ``defaultParallelism`` ways, and each slice is a Python-worker
    task — 32 tasks to materialize a 4-row constants table, ~0.45 s
    vs ~0.23 s warm on local[32] (measured r16; the cold-host gap is
    10x worse).  Every literal/constants relation in the catalog is
    broadcast-sized by construction, so one partition is the right
    shape at any scale."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(list(rows), 1), schema
    )


def fmt_ts(col, with_micros: bool = False):
    """Render a timestamp as a canonical string.

    Cross-engine hash parity: DuckDB and Spark may serialize timestamps
    differently, so catalog queries that OUTPUT a timestamp column
    format it to a string on both sides (`strftime` in the oracle).
    """
    pat = "yyyy-MM-dd HH:mm:ss.SSSSSS" if with_micros else "yyyy-MM-dd HH:mm:ss"
    return F.date_format(col, pat)


#: DuckDB strftime patterns matching fmt_ts
ORACLE_TS = "%Y-%m-%d %H:%M:%S"
ORACLE_TS_MICROS = "%Y-%m-%d %H:%M:%S.%f"


def r2(col):
    return F.round(col, 2)


def r4(col):
    return F.round(col, 4)


def r6(col):
    return F.round(col, 6)


def msum(col):
    """Order-independent float sum: floor-truncate each addend to 4dp
    in integer domain, sum exactly in 128-bit, scale back.

    ``round(sum(x), 2)`` is NOT cross-engine stable: the two engines
    sum in different orders, the last-ulp noise occasionally lands the
    true sum exactly on a .005 rounding boundary (observed: q7 volume
    296301.815). Here every addend ``floor(x*10000)`` is the same
    integer in both engines (same per-row double in, deterministic
    floor — Spark's floor(DOUBLE) returns LONG, exact for |x| within
    the 1e12 SANITIZE budget), and the sum accumulates in
    DECIMAL(38,0) (Spark) / HUGEINT (DuckDB): the r12 ``maxmass``
    sweep proved the narrow accumulators break at GROUP mass even
    when every row passes the per-row budget — Spark's LONG sum
    ANSI-overflows past 9.2e14 whole units while DuckDB's DOUBLE sum
    silently rounds past 2^53 of 4dp units (order-dependent last
    digits: events_type_stats diverged).  The exact 128-bit integer
    converts to DOUBLE identically on both engines (round-to-nearest,
    probed at 1e23/1e26), so the final /10000 stays deterministic.
    Result has 4dp resolution. Oracle mirror:
    ``sum(CAST(floor(x * 10000.0) AS HUGEINT)) / 10000.0``.
    """
    return F.sum(
        F.floor(col * F.lit(10000.0)).cast("decimal(38,0)")
    ) / F.lit(10000.0)


def t4(col):
    """Truncate to 4 dp via floor — for PER-ROW ratios/composites.

    Unlike ``round``, which Spark implements through BigDecimal
    HALF_UP and DuckDB through double math (they disagree on exact
    .5 boundaries like 0.31575), floor(x*1e4)/1e4 is bit-deterministic
    given the identical input double both engines compute for
    per-row expressions. Oracle side: ``floor(x * 10000) / 10000``.
    Do NOT use for cross-row aggregates (sums/avgs) — those differ in
    the last ulp by summation order; use r2/r4 there.
    """
    return F.floor(col * F.lit(10000.0)) / F.lit(10000.0)


def t6(col):
    """Truncate to 6 dp via floor (see t4); oracle:
    ``floor(x * 1000000) / 1000000``."""
    return F.floor(col * F.lit(1000000.0)) / F.lit(1000000.0)


def word_shingles(text_col: str = "text", k: int = 3):
    """Distinct word k-gram shingles of a text column (JVM-side only:
    split + zip_with higher-order functions, no Python UDF).

    Matches the DuckDB oracle formulation
    ``[words[i] || ' ' || ... for i in range(1, len(words)-k+2)]``.

    Shape: k shifted slices of the split array zipped positionally.
    The earlier ``transform(sequence(...), i -> slice(words, i, k))``
    form CAPTURED the split expression inside the lambda, and Spark
    re-evaluates a captured expression per element — O(words²) string
    splitting per document (measured: one 16k-word doc took 15.6 s vs
    0.2 s for this form; the r11 ``longdocs`` sweep found the whole
    shingle-backed dedup/graph family timing out on 100 KB docs).
    Here every array expression is top-level, evaluated once per row,
    and the zip lambdas touch only their element arguments — linear.
    """
    w = F.split(F.col(text_col), " ")
    n = F.size(w)
    parts = [F.slice(w, i + 1, n - (k - 1)) for i in range(k)]
    zipped = parts[0]
    for p in parts[1:]:
        zipped = F.zip_with(zipped, p, lambda a, b: F.concat_ws(" ", a, b))
    return F.array_distinct(F.when(n >= k, zipped).otherwise(F.array()))


def md5_long(col):
    """Portable 60-bit hash: first 15 hex chars of md5 as a BIGINT.

    Identical in DuckDB via
    ``CAST(CONCAT('0x', SUBSTRING(md5(x),1,15)) AS BIGINT)`` — the
    cross-engine hash primitive for minhash/simhash parity. (Spark's
    native xxhash64/murmur3 would be faster but engine-specific; the
    md5 path is still JVM codegen, no Python.)
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")
