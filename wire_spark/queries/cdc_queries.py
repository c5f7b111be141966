"""CDC catalog queries: the reference's core pipeline — a change
stream folded into current state — as driver-gated, oracle-verified
operators (transforms/cdc.py holds the reusable fold; these queries
derive a deterministic change log from the events table so the gate
can run on the standard testdata).

Envelope mapping (deterministic): signup -> insert, purchase ->
delete, everything else -> update; document_id = user_id;
(cluster_time, resume_token) = (epoch micros, zero-padded event_id) —
zero-padding makes lexicographic string order equal numeric order in
both engines, mirroring Mongo's opaque-but-ordered resume token.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from wire_spark.catalog import register
from wire_spark.queries._util import (EVENTS_SANITIZED_CTE, events_sane,
                                      tracked_cache)

_ENVELOPE_SQL_CTE = EVENTS_SANITIZED_CTE + """,
env AS (
  SELECT
    lpad(CAST(event_id AS VARCHAR), 12, '0') AS resume_token,
    CASE event_type
      WHEN 'signup' THEN 'insert'
      WHEN 'purchase' THEN 'delete'
      ELSE 'update'
    END AS operation_type,
    CAST(user_id AS VARCHAR) AS document_id,
    CASE WHEN event_type = 'purchase' THEN NULL
         ELSE '{"user_id":' || user_id || ',"cents":' ||
              CAST(floor(value * 100.0) AS BIGINT) || '}'
    END AS full_document,
    epoch_us(ts) AS cluster_time
  FROM events
)
"""

_CDC_APPLY_ORACLE = _ENVELOPE_SQL_CTE + """
, ranked AS (
  SELECT document_id, operation_type, full_document,
         row_number() OVER (
           PARTITION BY document_id
           ORDER BY cluster_time DESC, resume_token DESC
         ) AS rn
  FROM env
)
SELECT document_id, full_document
FROM ranked
WHERE rn = 1 AND operation_type IN ('insert', 'update', 'replace')
ORDER BY document_id
"""


def _envelope(spark, sf_dir):
    e = events_sane(spark, sf_dir)
    op = (
        F.when(F.col("event_type") == "signup", "insert")
        .when(F.col("event_type") == "purchase", "delete")
        .otherwise("update")
    )
    doc = F.concat(
        F.lit('{"user_id":'), F.col("user_id").cast("string"),
        F.lit(',"cents":'),
        F.floor(F.col("value") * F.lit(100.0)).cast("long").cast("string"),
        F.lit("}"),
    )
    return e.select(
        F.lpad(F.col("event_id").cast("string"), 12, "0").alias("resume_token"),
        op.alias("operation_type"),
        F.col("user_id").cast("string").alias("document_id"),
        F.when(F.col("event_type") != "purchase", doc).alias("full_document"),
        F.lit(None).cast("string").alias("db"),
        F.lit(None).cast("string").alias("coll"),
        F.lit(None).cast("string").alias("updated_fields"),
        F.lit(None).cast("array<string>").alias("removed_fields"),
        F.col("ts").alias("wall_time"),
        F.unix_micros(F.col("ts")).alias("cluster_time"),
    )


@register("cdc_apply_state", oracle=_CDC_APPLY_ORACLE, bench=True,
          doc="CDC change log folded to live state (last op wins; final "
              "delete removes the doc) — the reference's core pipeline")
def cdc_apply_state(spark, sf_dir):
    """The Mongo-change-stream -> current-state fold (transforms/
    cdc.py:apply_cdc; reference sources/mongo.go:23-41 envelope,
    FullDocument=UpdateLookup contract). One shuffle on document_id,
    argmax aggregation — O(changed keys) inside foreachBatch when run
    incrementally."""
    from wire_spark.transforms.cdc import apply_cdc

    return apply_cdc(_envelope(spark, sf_dir)).orderBy("document_id")


_CDC_RESUME_ORACLE = _CDC_APPLY_ORACLE


@register("cdc_resume_restart", oracle=_CDC_RESUME_ORACLE, bench=True,
          doc="CDC restart from a mid-stream resume token with "
              "overlapping at-least-once replay — restarted state must "
              "equal the straight one-shot fold (oracle-pinned)")
def cdc_resume_restart(spark, sf_dir):
    """Exactly-once-EFFECT restart: the reference's change-stream
    source persists a resume token and, on restart, resumes the
    stream from it (sources/mongo.go:23-41 — ``resume_token`` is the
    envelope's first field precisely so consumers can checkpoint it);
    the existing cdc queries READ that envelope but never restarted
    from it.

    This query executes the full restart protocol and returns the
    restarted state; the ORACLE is the straight one-shot fold over
    the whole log — equality (the driver's row/schema/hash gate) IS
    the idempotence proof, cross-engine:

    1. phase 1 folds the log prefix up to a mid-stream cut token
       (the zero-padded midpoint event id — deterministic, no
       collect) into a resumable checkpoint that carries each live
       document's winning (cluster_time, resume_token) ord
       (transforms/cdc.py:checkpoint_state);
    2. the restart replays the tail from a resume token 10% BEFORE
       the cut — the at-least-once overlap a lagging token persist
       produces — so a suffix of phase 1's events is re-delivered;
    3. ``resume_apply`` unions checkpoint + tail and re-runs the
       same argmax fold: re-delivered duplicates tie bit-identically
       with checkpoint rows or lose to later ops, never
       double-apply.

    Scale: two document_id shuffles (prefix fold, resume fold); the
    resume fold touches |live keys| + |tail| rows — restart cost is
    O(changed keys), not O(log length), which is the entire point of
    resume tokens at 100 TB of changelog.
    """
    from wire_spark.transforms.cdc import checkpoint_state, resume_apply

    env = _envelope(spark, sf_dir)
    cuts = env.groupBy().agg(
        F.max(F.col("resume_token")).alias("mx")
    ).select(
        # token arithmetic in integer domain, re-padded: cut at the
        # midpoint id, resume from 10% of the id space earlier
        F.lpad((F.col("mx").cast("long") / 2).cast("long").cast("string"),
               12, "0").alias("cut"),
        F.lpad(((F.col("mx").cast("long") / 2).cast("long")
                - (F.col("mx").cast("long") / 10).cast("long"))
               .cast("string"), 12, "0").alias("resume_from"),
    )
    # Both restart branches (prefix fold + replayed tail) consume the
    # tagged envelope, and Spark re-derives the events scan + envelope
    # expressions per branch — so the cuts pre-pass plus two branch
    # scans read the change log three times.  Project to exactly the
    # five columns the folds touch and materialize ONCE: two log reads
    # total (cuts + cache build), and the cached relation is narrow
    # (the wall_time/db/coll/update-description columns never enter
    # the restart protocol).
    cols = ["resume_token", "operation_type", "document_id",
            "full_document", "cluster_time"]
    tagged = tracked_cache(
        env.select(*cols).crossJoin(F.broadcast(cuts))
    )
    prefix = tagged.filter(F.col("resume_token") <= F.col("cut"))
    tail = tagged.filter(F.col("resume_token") > F.col("resume_from"))
    ckpt = checkpoint_state(prefix)
    return resume_apply(ckpt, tail).orderBy("document_id")


_CDC_STATS_ORACLE = _ENVELOPE_SQL_CTE + """
SELECT operation_type,
       count(*) AS n_ops,
       count(DISTINCT document_id) AS n_docs
FROM env
GROUP BY operation_type
ORDER BY operation_type
"""


@register("cdc_op_stats", oracle=_CDC_STATS_ORACLE, bench=True,
          doc="CDC operational summary: op counts and distinct documents "
              "per operation type")
def cdc_op_stats(spark, sf_dir):
    env = _envelope(spark, sf_dir)
    return (
        env.groupBy("operation_type")
        .agg(
            F.count(F.lit(1)).alias("n_ops"),
            F.countDistinct("document_id").alias("n_docs"),
        )
        .orderBy("operation_type")
    )
