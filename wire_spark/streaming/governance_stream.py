"""Streaming governance: the per-window k-anonymity gate and the
per-window calibration monitor — streaming siblings of the batch
``kanonymity_audit`` and ``model_calibration_bins`` queries
(queries/features.py), closing the batch/streaming parity story for
the governance family.

Why these exist: a release gate that runs nightly catches yesterday's
leak.  Run the SAME audits over watermarked event-time windows on the
ingest path and a disclosure-risk regression (a new source floods
population-unique QI tuples) or a score-calibration drift (the
classifier's probabilities detach from observed rates) raises within
one window of landing.

Shapes (both append-mode, emit only CLOSED windows, so every row is
final):

* k-anonymity — two chained windowed aggregations in one query (the
  legal time-window chaining pattern shared with
  ``drift_stream.windowed_js_divergence``): (window, QI tuple) ->
  class size k, then window_time -> k-band rollup.  State for agg-1
  is live-windows x distinct-QI-tuples (bounded by the QI domain and
  the watermark horizon, never stream length); agg-2 holds one row
  per live (window, band).
* calibration — ONE windowed aggregation: rows are scored with a
  FIXED weight vector (the batch ``quality_logreg_step`` output,
  passed as integer literals — exactly the deploy shape: train in
  batch, monitor in stream), decile-binned row-wise, then aggregated
  per (window, bin).  Identical fixed-point discipline to the batch
  query: per-row p floors to micro-units before summation and the
  empirical rate is an exact integer ratio, so a closed window's row
  equals the batch query's answer on the same slice bit-for-bit.

Reference behavioral anchor: the reference declares stateful
transformations on the ingest path (ROADMAP.md:100) but ships no
governance ops; these follow SURVEY §2.6's stateful-transform
contract.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def windowed_kanonymity(
    stream: DataFrame,
    qi_cols: list[str],
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """Per closed window: (w_start, w_end, k_band, n_classes, n_rows)
    — equivalence-class sizes over the quasi-identifier tuple, banded
    into the standard k thresholds (k=1 unique / k=2-4 / k=5-9 /
    k>=10).

    Gate usage: alarm when the ``k=1 unique`` band's ``n_rows`` for a
    closed window exceeds the release threshold.  Band shares are
    left to the consumer (they need the window total, one more
    grouping — cheap, but most gates only watch the k=1 band).
    """
    classes = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), *qi_cols)
        .agg(F.count(F.lit(1)).alias("k"))
    )
    banded = classes.select(
        "w",
        F.when(F.col("k") == 1, "k=1 unique")
        .when(F.col("k") < 5, "k=2-4")
        .when(F.col("k") < 10, "k=5-9")
        .otherwise("k>=10")
        .alias("k_band"),
        "k",
    )
    rolled = banded.groupBy(
        F.window(F.window_time("w"), window).alias("w2"), "k_band"
    ).agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.sum("k").alias("n_rows"),
    )
    return rolled.select(
        F.col("w2.start").alias("w_start"),
        F.col("w2.end").alias("w_end"),
        "k_band",
        "n_classes",
        "n_rows",
    )


def windowed_calibration_bins(
    stream: DataFrame,
    weights: tuple[int, int, int, int],
    label_col: str = "y",
    x1_col: str = "x1",
    x2_col: str = "x2",
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """Per closed window and probability decile: (w_start, w_end,
    bin, n_bin, mean_p_1e4, pos_rate_1e4) — the live reliability
    diagram for a FROZEN scorer.

    ``weights`` is the integer gradient tuple ``(g1, g2, gb, n)``
    from the batch ``quality_logreg_step`` (features.py): scores are
    ``sigmoid((g1*x1 + g2*x2 + gb) / (4 * n * 10000))`` — the exact
    deployed model, so a closed window's bins are directly comparable
    against the training-time ``model_calibration_bins`` rows and
    against every other window (fixed weights; only the data moves).
    """
    g1, g2, gb, n = (int(v) for v in weights)
    pi: Column = F.expr(
        f"1.0e0 / (1.0e0 + exp(-(({g1}L * {x1_col} + {g2}L * {x2_col}"
        f" + {gb}L) / (4.0e0 * {n}L * 10000.0e0))))"
    )
    # bin and p_1e6 both derive from the ONE pi expression above, so
    # the scorer can never silently diverge between them
    scored = stream.withWatermark(ts_col, watermark).select(
        ts_col,
        F.col(label_col).alias("y"),
        F.floor(pi * F.lit(10.0)).cast("long").alias("bin"),
        F.floor(pi * F.lit(1000000.0)).cast("long").alias("p_1e6"),
    )
    agg = scored.groupBy(F.window(ts_col, window).alias("w"), "bin").agg(
        F.count(F.lit(1)).alias("n_bin"),
        F.expr("CAST(sum(p_1e6) div (count(1) * 100) AS BIGINT)").alias(
            "mean_p_1e4"
        ),
        F.expr("CAST(sum(y) * 10000 div count(1) AS BIGINT)").alias(
            "pos_rate_1e4"
        ),
    )
    return agg.select(
        F.col("w.start").alias("w_start"),
        F.col("w.end").alias("w_end"),
        "bin",
        "n_bin",
        "mean_p_1e4",
        "pos_rate_1e4",
    )


def contract_gate(
    expectations,
    pass_path: str,
    quarantine_path: str,
    audit_path: str | None = None,
):
    """foreachBatch gate: validate every micro-batch against a data
    contract (``operators/contracts.Expectation`` list) and route the
    WHOLE batch — contracts are batch-grain decisions — to
    ``pass_path`` or ``quarantine_path`` as parquet appends.

    This is the streaming face of ``contract_validation_report``: the
    same one-aggregate validation plan runs per micro-batch, and
    nothing reaches the published table unless the batch passed.  The
    batch is persisted for the gate's duration so its source is read
    ONCE — without that, the empty-check, the validation aggregate,
    and the routed write would each re-derive the batch from the
    source (three reads of every input file per trigger).  Optionally appends a one-row-per-rule audit record
    (batch id, rule, pass count, rate, verdict) to ``audit_path`` —
    the queryable history a release review wants.

    Usage::

        q = (stream.writeStream
             .foreachBatch(contract_gate(rules, good, bad, audit))
             .option("checkpointLocation", ck).start())

    Exactly-once note: foreachBatch re-runs a batch after recovery
    with the SAME batch_id; the audit append keys on batch_id so
    replays are detectable downstream (parquet appends themselves are
    at-least-once — a table format upgrades this to exactly-once).
    """
    from wire_spark.operators.contracts import validate

    def gate(bdf, batch_id: int) -> None:
        bdf.persist()
        try:
            result = validate(bdf, expectations)
            if result.n_rows == 0:
                return
            target = pass_path if result.ok else quarantine_path
            bdf.write.mode("append").parquet(target)
            if audit_path is not None:
                spark = bdf.sparkSession
                rows = [
                    (
                        int(batch_id), name, int(n_pass), float(rate),
                        name not in result.failed, int(result.n_rows),
                    )
                    for name, (n_pass, rate) in result.rules.items()
                ]
                # rule-grain audit rows: one partition (and one
                # output file) per micro-batch, not 32 Python tasks
                spark.createDataFrame(
                    spark.sparkContext.parallelize(rows, 1),
                    "batch_id LONG, rule STRING, n_pass LONG, "
                    "pass_rate DOUBLE, ok BOOLEAN, n_rows LONG",
                ).write.mode("append").parquet(audit_path)
        finally:
            bdf.unpersist()

    return gate


def windowed_centroid_shift(
    stream: DataFrame,
    reference: DataFrame,
    ts_col: str = "ts",
    vec_col: str = "embedding",
    window: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """Per closed window: (w_start, w_end, n_vectors, shift2_1e6) —
    the squared L2 distance between the window's embedding centroid
    and a FROZEN reference centroid, in the exact fixed-point
    discipline of the batch ``embedding_centroid_distance`` query.
    This is the encoder-drift alarm: an upstream embedding-model swap
    moves every vector at once, and the centroid shift of the very
    next window shows it long before any downstream metric does.

    ``reference`` is a (dim, c6) frame — 1-based dim index and the
    reference centroid coordinate in integer micro-units (build it in
    batch with the same posexplode/floor/sum pipeline; see the test).

    Shape: posexplode to (ts, dim, x6) cells (still append-time rows,
    no state), ONE windowed aggregation keyed (window, dim) — state
    is live-windows x 64 dims, bounded by schema — then a chained
    window_time aggregation folds the 64 per-dim sums into one row
    per closed window, joining the broadcast reference at dim grain.
    Centroid coordinates use floor(sum/count) in double (int64 ->
    double conversion and division round identically everywhere), so
    a closed window's value equals the batch computation on the same
    slice exactly."""
    cells = stream.select(
        ts_col,
        F.posexplode(
            F.transform(vec_col, lambda x: x.cast("double"))
        ).alias("d0", "xv"),
    ).select(
        ts_col,
        (F.col("d0") + 1).alias("dim"),
        F.floor(F.col("xv") * F.lit(1000000.0)).cast("long").alias("x6"),
    )
    per_dim = (
        cells.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), "dim")
        .agg(F.sum("x6").alias("sx"), F.count(F.lit(1)).alias("nc"))
    )
    diff = F.expr("CAST(floor(sx * 1.0e0 / nc) AS BIGINT)") - F.col("c6")
    joined = per_dim.join(F.broadcast(reference), "dim").select(
        "w",
        "nc",
        (diff * diff).cast("long").alias("d2"),  # integer, never pow()
    )
    folded = joined.groupBy(
        F.window(F.window_time("w"), window).alias("w2")
    ).agg(
        F.max("nc").alias("n_vectors"),
        F.expr("CAST(sum(d2) div 1000000 AS BIGINT)").alias("shift2_1e6"),
    )
    return folded.select(
        F.col("w2.start").alias("w_start"),
        F.col("w2.end").alias("w_end"),
        "n_vectors",
        "shift2_1e6",
    )


def windowed_stratification(
    stream: DataFrame,
    split_col: str,
    class_col: str,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """Per closed window and (split, class) cell: within-split share,
    global share, and their absolute deviation in basis points — the
    streaming sibling of the batch ``split_stratification_audit``
    (queries/splits.py), completing the governance-stream story for
    the r8 splits family the same way the calibration monitor did for
    model quality.

    Why on the ingest path: a hash split is only stratified in
    expectation, and the balance can break ABRUPTLY — a new source
    starts landing documents of one language, and every (split,
    class) share it touches drifts at once.  The nightly batch audit
    catches it a day late; this raises within one window.

    Shape: ONE windowed aggregation to the (window, split, class)
    cell grid (state: live-windows x splits x classes, bounded by the
    two domains and the watermark horizon, never stream length), then
    the chained ``window_time`` aggregation collects each closed
    window's grid into ONE bounded array row, and all three marginals
    (split total, class total, window total) are computed INSIDE the
    array with higher-order functions — O(grid^2) over <= 3 x
    n_classes entries, no joins on an aggregated stream (which append
    mode would reject), no state beyond the grid.  The in-array
    marginal filters use null-safe ``<=>``: a NULL split or class
    (malformed source rows — exactly what a governance monitor must
    surface) forms its own cell and reports a real share instead of
    NULL-ing out on a dropped-by-=-NULL denominator.  Fixed-point
    discipline matches the batch audit exactly (integer ``div``
    shares at 1e4), so a closed window's rows equal
    ``split_stratification_audit``'s answer on that window's slice
    bit-for-bit.
    """
    cells = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(
            F.window(ts_col, window).alias("w"),
            F.col(split_col).alias("split"),
            F.col(class_col).alias("cls"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    grid = cells.groupBy(
        F.window(F.window_time("w"), window).alias("w2")
    ).agg(F.collect_list(F.struct("split", "cls", "n")).alias("g"))
    return (
        grid.select(
            F.col("w2.start").alias("w_start"),
            F.col("w2.end").alias("w_end"),
            F.explode(
                F.expr(
                    """
                    transform(g, e -> struct(
                      e.split AS split,
                      e.cls AS cls,
                      e.n AS n,
                      CAST(e.n * 10000 div aggregate(
                          filter(g, x -> x.split <=> e.split),
                          CAST(0 AS BIGINT), (a, x) -> a + x.n)
                        AS BIGINT) AS share_in_split_1e4,
                      CAST(aggregate(
                          filter(g, x -> x.cls <=> e.cls),
                          CAST(0 AS BIGINT), (a, x) -> a + x.n) * 10000
                        div aggregate(
                          g, CAST(0 AS BIGINT), (a, x) -> a + x.n)
                        AS BIGINT) AS share_global_1e4
                    ))
                    """
                )
            ).alias("r"),
        )
        .select(
            "w_start",
            "w_end",
            "r.split",
            "r.cls",
            "r.n",
            "r.share_in_split_1e4",
            "r.share_global_1e4",
            F.expr("abs(r.share_in_split_1e4 - r.share_global_1e4)")
            .alias("deviation_1e4"),
        )
    )
