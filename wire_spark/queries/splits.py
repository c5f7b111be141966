"""Leakage-safe dataset splitting: group-aware assignment, time-based
splits with an embargo gap, and stratification audits — the split
discipline that decides whether an eval number can be trusted.

``train_val_test_split`` (sampling.py) splits by ROW hash; these
queries cover the two classic ways that still leaks and the audit
that catches imbalance:

* group leakage — two rows from the same entity (user, source) on
  both sides of the split share information no model should get
  credit for; the fix is hashing the GROUP key so an entity lives
  entirely in one split;
* temporal leakage — training on the future of the test period; the
  fix is a time cut with an EMBARGO gap so lagged features straddling
  the boundary can't peek;
* stratification drift — a hash split is only asymptotically
  stratified; per-(split, class) shares must be audited against the
  global mix before a per-class metric is read.

All assignment is deterministic integer/hash arithmetic (md5_long %
buckets, integer epoch-second boundaries), so a row's split never
changes as the corpus grows and both engines agree bit-for-bit.

Reference parity: the reference ships no split tooling (SURVEY §2
gap-fill, same family as sampling.py).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from wire_spark.catalog import register
from wire_spark.queries._util import T, md5_long

# --------------------------------------------------------------------
# group-aware split (entity-level holdout)
# --------------------------------------------------------------------

_GROUP_SPLIT_ORACLE = """
WITH u AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS ne,
         CAST(CONCAT('0x', SUBSTRING(md5(CAST(user_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 10 AS b
  FROM events GROUP BY user_id
), lab AS (
  SELECT CASE WHEN b < 8 THEN 'a_train'
              WHEN b = 8 THEN 'b_val'
              ELSE 'c_test' END AS split,
         ne
  FROM u
), tot AS (SELECT CAST(sum(ne) AS BIGINT) AS t FROM lab)
SELECT lab.split,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(lab.ne) AS BIGINT) AS n_events,
       CAST(sum(lab.ne) * 10000 // tot.t AS BIGINT) AS events_share_1e4
FROM lab, tot
GROUP BY lab.split, tot.t
ORDER BY lab.split
"""


@register("split_group_aware", oracle=_GROUP_SPLIT_ORACLE, bench=True,
          doc="entity-level 80/10/10 holdout: split assigned by USER "
              "hash so every user's events land on one side — the "
              "group-leakage control row splits cannot give")
def split_group_aware(spark, sf_dir):
    """Group-aware holdout over the event stream: the split is a
    function of ``md5(user_id)``, so a user's entire history lives in
    exactly one split by construction — the control that makes
    per-user models and user-level features honest (a row-hash split
    puts half a user's events in train and half in test, and any
    user-level feature then memorizes the test set).

    Scale shape: one map-combinable groupBy to the USER grain (the
    split label is a projection of the key), then a 3-row rollup with
    the total broadcast.  The events table is scanned once; nothing
    downstream exceeds user-grain."""
    u = (
        T(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("ne"))
    )
    b = md5_long(F.col("user_id").cast("string")) % 10
    lab = u.select(
        F.when(b < 8, "a_train").when(b == 8, "b_val")
        .otherwise("c_test").alias("split"),
        "ne",
    )
    tot = lab.agg(F.sum("ne").alias("t"))
    return (
        lab.crossJoin(F.broadcast(tot))
        .groupBy("split", "t")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("ne").alias("n_events"),
        )
        .select(
            "split", "n_users", "n_events",
            F.expr("CAST(n_events * 10000 div t AS BIGINT)")
            .alias("events_share_1e4"),
        )
        .orderBy("split")
    )


# --------------------------------------------------------------------
# time split with embargo + leakage measurement
# --------------------------------------------------------------------

# Boundaries are integer epoch-second arithmetic over the observed
# span (train < 70%, 5% embargo, test >= 75%) — deterministic in both
# engines (unix_timestamp truncates; DuckDB floors epoch() before the
# cast, PARITY.md rule 2).  The output MEASURES the group leakage a
# pure time split leaves behind: n_users_seen_in_train counts test/
# embargo users that also appear in train — on this synthetic stream
# every user spans the month, so the column reads 100% leaky, which
# is exactly the audit's point (time cuts control temporal leakage
# only; compose with split_group_aware for entity holdout).
_TIME_SPLIT_ORACLE = """
WITH e AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS s FROM events
), bnd AS (SELECT min(s) AS mn, max(s) AS mx FROM e),
lab AS (
  SELECT e.user_id,
         CASE WHEN e.s < bnd.mn + (bnd.mx - bnd.mn) * 70 // 100
              THEN 'a_train'
              WHEN e.s < bnd.mn + (bnd.mx - bnd.mn) * 75 // 100
              THEN 'b_embargo'
              ELSE 'c_test' END AS split
  FROM e, bnd
), per AS (
  SELECT split, user_id, CAST(count(*) AS BIGINT) AS ne
  FROM lab GROUP BY split, user_id
), tr AS (SELECT DISTINCT user_id FROM per WHERE split = 'a_train')
SELECT per.split,
       CAST(sum(per.ne) AS BIGINT) AS n_events,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(count(CASE WHEN tr.user_id IS NOT NULL THEN 1 END) AS BIGINT)
         AS n_users_seen_in_train
FROM per LEFT JOIN tr ON per.user_id = tr.user_id
GROUP BY per.split
ORDER BY per.split
"""


@register("split_time_embargo", oracle=_TIME_SPLIT_ORACLE, bench=True,
          doc="chronological split with a 5%-span embargo gap, plus "
              "the measured group-leakage residual (test users also "
              "seen in train)")
def split_time_embargo(spark, sf_dir):
    """Chronological holdout with an embargo: train on the first 70%
    of the observed span, discard the next 5% (the embargo absorbs
    lagged/windowed features that would otherwise straddle the cut),
    test on the rest — the standard design for forecasting and any
    feature with lookback.  The result also REPORTS the residual
    group leakage (test users already seen in train), the number that
    tells you whether this split alone is enough or it must compose
    with the group-aware split.

    Scale shape: one scan to (split, user) grain, a distinct train-
    user relation joined back at user grain (broadcastable while
    users << rows; shuffles on user_id otherwise), then a 3-row
    rollup."""
    e = T(spark, sf_dir, "events").select(
        "user_id", F.unix_timestamp("ts").alias("s")
    )
    bnd = e.agg(F.min("s").alias("mn"), F.max("s").alias("mx"))
    lab = e.crossJoin(F.broadcast(bnd)).select(
        "user_id",
        F.when(F.expr("s < mn + (mx - mn) * 70 div 100"), "a_train")
        .when(F.expr("s < mn + (mx - mn) * 75 div 100"), "b_embargo")
        .otherwise("c_test")
        .alias("split"),
    )
    per = lab.groupBy("split", "user_id").agg(F.count(F.lit(1)).alias("ne"))
    tr = (
        per.filter(F.col("split") == "a_train")
        .select("user_id").distinct()
        .withColumn("in_train", F.lit(1))
    )
    return (
        per.join(tr, "user_id", "left")
        .groupBy("split")
        .agg(
            F.sum("ne").alias("n_events"),
            F.count(F.lit(1)).alias("n_users"),
            F.count(F.col("in_train")).alias("n_users_seen_in_train"),
        )
        .orderBy("split")
    )


# --------------------------------------------------------------------
# stratification audit of the hash split
# --------------------------------------------------------------------

# Per (split, lang): the split-internal share vs the global share and
# the absolute deviation — the table read before trusting any
# per-language eval metric from a hash split.  Marginals are window
# sums over the split x lang GRID (bounded by the two domains).
_STRAT_ORACLE = """
WITH assigned AS (
  SELECT lang,
         CASE WHEN b < 80 THEN 'a_train'
              WHEN b < 90 THEN 'b_val'
              ELSE 'c_test' END AS split
  FROM (
    SELECT lang,
           CAST(CONCAT('0x', SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                AS BIGINT) % 100 AS b
    FROM documents
  )
), g AS (
  SELECT split, lang, CAST(count(*) AS BIGINT) AS n
  FROM assigned GROUP BY split, lang
), m AS (
  SELECT split, lang, n,
         CAST(sum(n) OVER (PARTITION BY split) AS BIGINT) AS n_split,
         CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT) AS n_lang,
         CAST(sum(n) OVER () AS BIGINT) AS n_all
  FROM g
)
SELECT split, lang, n,
       CAST(n * 10000 // n_split AS BIGINT) AS share_in_split_1e4,
       CAST(n_lang * 10000 // n_all AS BIGINT) AS share_global_1e4,
       CAST(abs(n * 10000 // n_split - n_lang * 10000 // n_all) AS BIGINT)
         AS deviation_1e4
FROM m
ORDER BY split, lang
"""


@register("split_stratification_audit", oracle=_STRAT_ORACLE, bench=True,
          doc="per-(split, lang) share vs the global mix with absolute "
              "deviation — the imbalance audit a hash split needs "
              "before per-class metrics are read")
def split_stratification_audit(spark, sf_dir):
    """Is the 80/10/10 hash split actually stratified?  A hash split
    is only stratified in expectation; the val/test slices of a rare
    class can drift far from the global mix, silently reweighting any
    per-class metric.  This emits, for every (split, lang) cell, the
    within-split share, the global share, and their absolute
    deviation in basis points — gate on max(deviation) before reading
    per-language evals.

    Scale shape: one map-combinable groupBy to the split x lang grid;
    all three marginals are window sums over the GRID itself
    (<= 3 x n_langs rows), costing nothing at any corpus size."""
    d = T(spark, sf_dir, "documents")
    b = md5_long(F.col("doc_id").cast("string")) % 100
    g = (
        d.select(
            "lang",
            F.when(b < 80, "a_train").when(b < 90, "b_val")
            .otherwise("c_test").alias("split"),
        )
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    m = g.select(
        "split", "lang", "n",
        F.sum("n").over(W.partitionBy("split")).alias("n_split"),
        F.sum("n").over(W.partitionBy("lang")).alias("n_lang"),
        F.sum("n").over(W.partitionBy()).alias("n_all"),
    )
    return (
        m.select(
            "split", "lang", "n",
            F.expr("CAST(n * 10000 div n_split AS BIGINT)")
            .alias("share_in_split_1e4"),
            F.expr("CAST(n_lang * 10000 div n_all AS BIGINT)")
            .alias("share_global_1e4"),
            F.expr(
                "CAST(abs(n * 10000 div n_split - n_lang * 10000 div n_all) "
                "AS BIGINT)"
            ).alias("deviation_1e4"),
        )
        .orderBy("split", "lang")
    )
