"""KV-surface catalog queries: last-writer-wins state resolution and
point lookup, derived from the events table as an append-log analog.

The reference's KV store replays a Raft log into BadgerDB state
(internal/store/store.go:1633-1767); the Spark-native equivalent is an
argmax over an append-only log — one shuffle on the key, fully
parallel, no consensus tier (SURVEY.md §2.5). `wire_spark.kv.KVStore`
implements the actual SET/GET/DELETE dialect; these catalog entries
prove the resolution plan against the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from wire_spark.catalog import register
from wire_spark.queries._util import T, fmt_ts

# Treat events as an append-log: key = user_id, value = props,
# writer order = (ts, event_id). Live state = newest value per key.
_LWW_ORACLE = """
SELECT user_id AS key, props AS value,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS written_at
FROM (
  SELECT user_id, props, ts,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
ORDER BY key
"""


@register("kv_last_writer_wins", oracle=_LWW_ORACLE,
          doc="KV state resolution: newest value per key (store.go FSM analog)")
def kv_last_writer_wins(spark, sf_dir):
    e = T(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("user_id").alias("key"),
            F.col("props").alias("value"),
            fmt_ts(F.col("ts"), with_micros=True).alias("written_at"),
        )
        .orderBy("key")
    )


# GET semantics: point lookup; missing key -> empty result, not error
# (store.go:1335-1344). Key 7 exists in the synthetic data; the
# empty-result path is covered by tests/test_kv.py.
_GET_ORACLE = """
SELECT user_id AS key, props AS value
FROM (
  SELECT user_id, props,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
  WHERE user_id = 7
)
WHERE rn = 1
ORDER BY key
"""


@register("kv_point_lookup", oracle=_GET_ORACLE,
          doc="GET <key> point lookup with filter pushdown")
def kv_point_lookup(spark, sf_dir):
    e = T(spark, sf_dir, "events")
    # filter BEFORE the window: Catalyst pushes user_id=42 into the
    # parquet scan, so the point lookup never shuffles the full log.
    w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        e.filter(F.col("user_id") == 7)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("user_id").alias("key"), F.col("props").alias("value"))
        .orderBy("key")
    )


# --------------------------------------------------------------------
# Unregistered: transactional-table lifecycle under one oracle-checked
# query; tests/test_txn.py compares it with its oracle.
# --------------------------------------------------------------------

TXN_LIFECYCLE_ORACLE = """
WITH post AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CASE WHEN o_orderpriority = '1-URGENT'
              THEN o_totalprice + 1000.0e0 ELSE o_totalprice END AS price
  FROM orders
  WHERE o_orderkey % 13 <> 0
  UNION ALL
  SELECT o_orderkey + 10000000, o_custkey, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 11 = 0
), init AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice AS price
  FROM orders
), both_tags AS (
  SELECT 'initial' AS snapshot, * FROM init
  UNION ALL
  SELECT 'final' AS snapshot, * FROM post
)
SELECT snapshot, o_orderstatus AS status,
       count(*) AS n_orders,
       round(sum(price), 2) AS sum_price,
       count(DISTINCT o_custkey) AS n_cust,
       max(o_orderkey) AS max_key
FROM both_tags
GROUP BY snapshot, o_orderstatus
ORDER BY snapshot, status
"""


def txn_lifecycle_orders(spark, sf_dir):
    """ACID table lifecycle as one oracle-checked query: CREATE a
    snapshot-isolated txn table from orders (operators/txn.py — the
    manifest commit protocol standing in for the reference's
    Raft-applied store atomicity, store.go apply path), MERGE an
    update+delete batch, REPLAY that batch's id (transactional
    exactly-once must no-op), MERGE an insert batch, then aggregate
    BOTH the time-traveled initial snapshot and the final snapshot
    from storage.  The oracle recomputes both states inline — so one
    driver-green row witnesses atomic commit, upsert/delete/insert
    MERGE semantics, batch-id idempotence, AND time travel.

    Batch 1 uplifts 1-URGENT orders' price by +1000.0 (exact in
    binary floating point — parity-safe) and deletes keys %13;
    batch 2 inserts clones of the ORIGINAL %11 rows at key+10M.
    Updates exclude the %13 deletes by construction (one batch must
    not both update and delete a key).

    Scale: create is one bucketed write; each merge rewrites only
    touched buckets + one O(n_buckets) manifest; the two snapshot
    reads are pruned unions of immutable commit dirs.  The table
    lives in an ephemeral per-invocation dir because catalog queries
    are self-contained; a deployment keeps a durable path and this
    body is the recipe (the vector_index_search_stored convention).
    The one collect is the RESULT SET itself (statuses x 2 rows),
    moved inside only so the ephemeral dir can be removed."""
    import shutil
    import tempfile

    from wire_spark.operators.txn import (
        txn_create, txn_merge, txn_read)

    o = T(spark, sf_dir, "orders")
    tdir = tempfile.mkdtemp(prefix="wire_txn_q_")
    path = tdir + "/orders_t"
    try:
        txn_create(o, path, "o_orderkey", n_buckets=8)
        ups = (o.filter((F.col("o_orderpriority") == "1-URGENT")
                        & (F.col("o_orderkey") % 13 != 0))
               .withColumn("o_totalprice",
                           F.col("o_totalprice") + F.lit(1000.0)))
        dels = (o.filter(F.col("o_orderkey") % 13 == 0)
                .select("o_orderkey"))
        txn_merge(spark, path, ups, delete_keys=dels, batch_id="b1")
        txn_merge(spark, path, ups, delete_keys=dels, batch_id="b1")  # replay
        ins = (o.filter(F.col("o_orderkey") % 11 == 0)
               .withColumn("o_orderkey",
                           F.col("o_orderkey") + F.lit(10_000_000)))
        txn_merge(spark, path, ins, batch_id="b2")

        def agg(df, tag):
            return (df.groupBy(F.col("o_orderstatus").alias("status"))
                    .agg(F.count(F.lit(1)).alias("n_orders"),
                         F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
                         F.countDistinct("o_custkey").alias("n_cust"),
                         F.max("o_orderkey").alias("max_key"))
                    .withColumn("snapshot", F.lit(tag)))

        res = (agg(txn_read(spark, path, version=1), "initial")
               .unionByName(agg(txn_read(spark, path), "final"))
               .select("snapshot", "status", "n_orders", "sum_price",
                       "n_cust", "max_key")
               .orderBy("snapshot", "status"))
        rows = res.collect()
        schema = res.schema
    finally:
        shutil.rmtree(tdir, ignore_errors=True)
    return spark.createDataFrame(rows, schema)
