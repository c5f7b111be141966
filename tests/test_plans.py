"""Plan-shape regression tests: the scale properties the engine
promises (pushdown, pruning, broadcast, bounded shuffles, partial
top-n) asserted on the actual physical plans."""

from __future__ import annotations

from wire_spark.catalog import load_registry
from wire_spark.plans import (
    count_shuffles,
    has_broadcast_join,
    has_take_ordered,
    pushed_filters,
    scan_columns,
)

REG = load_registry()


def _df(spark, sf_dir, name):
    return REG[name].fn(spark, sf_dir)


def test_q1_filter_pushdown_and_pruning(spark, sf_dir):
    df = _df(spark, sf_dir, "q1_pricing_summary")
    pf = " ".join(pushed_filters(df))
    assert "l_shipdate" in pf  # predicate reached the parquet scan
    rs = " ".join(scan_columns(df))
    assert "l_orderkey" not in rs  # untouched columns pruned from scan
    assert "l_partkey" not in rs


def test_q3_broadcasts_dims_and_partial_topn(spark, sf_dir):
    df = _df(spark, sf_dir, "q3_shipping_priority")
    assert has_broadcast_join(df)  # customer (and orders at small SF)
    assert has_take_ordered(df)    # top-n is partial + merge, no global sort
    pf = " ".join(pushed_filters(df))
    assert "BUILDING" in pf        # dim filter pushed into its scan


def test_point_lookup_pushdown(spark, sf_dir):
    df = _df(spark, sf_dir, "kv_point_lookup")
    pf = " ".join(pushed_filters(df))
    assert "EqualTo(user_id,7)" in pf  # point predicate at the scan


def test_q1_shuffle_budget(spark, sf_dir):
    # one exchange for the aggregation, one for the final orderBy —
    # the fact table must not shuffle more than that
    df = _df(spark, sf_dir, "q1_pricing_summary")
    assert count_shuffles(df) <= 2


def test_broadcast_brand_join_no_fact_shuffle(spark, sf_dir):
    df = _df(spark, sf_dir, "join_broadcast_brand_volume")
    assert has_broadcast_join(df)
    # broadcast join + agg + sort: lineitem shuffles only for the agg
    assert count_shuffles(df) <= 2


def test_similarity_queries_broadcast_query_side(spark, sf_dir):
    df = _df(spark, sf_dir, "knn_bruteforce_cosine")
    assert has_broadcast_join(df)  # query vectors broadcast, table scans once


def test_embedding_dedup_no_nested_loop(spark, sf_dir):
    # exact all-pairs must run as a block-partitioned equi-join, not a
    # BroadcastNestedLoopJoin / cartesian over the whole vector table
    from wire_spark.plans import formatted_plan

    for name in ("dedup_embedding_cosine", "dedup_embedding_cosine_lsh"):
        plan = formatted_plan(_df(spark, sf_dir, name))
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_sample_prunes_text_column(spark, sf_dir):
    # the 10% sample must not read the (wide) text column: hashing
    # keys on doc_id only — scan schema is the 3 output columns
    df = _df(spark, sf_dir, "sample_hash_documents")
    rs = " ".join(scan_columns(df))
    assert "text" not in rs
    assert "doc_id" in rs


def test_split_audit_shuffle_budget(spark, sf_dir):
    # hash-split + count: one exchange for the agg, one for the sort
    df = _df(spark, sf_dir, "train_val_test_split")
    assert count_shuffles(df) <= 2


def test_decontamination_broadcasts_probe_side(spark, sf_dir):
    df = _df(spark, sf_dir, "decontamination_overlap")
    assert has_broadcast_join(df)  # benchmark ids + probe set are small


def test_cdc_apply_shuffle_budget(spark, sf_dir):
    # argmax fold: one exchange on document_id, one for the order-by
    df = _df(spark, sf_dir, "cdc_apply_state")
    assert count_shuffles(df) <= 2


def test_token_zipf_partial_topk(spark, sf_dir):
    # the top-100 cut must be TakeOrderedAndProject (per-partition
    # partial top-k) so the full distinct-token table never funnels
    # through a single-partition row_number window
    df = _df(spark, sf_dir, "token_zipf")
    assert has_take_ordered(df)


def test_funnel_joins_on_composite_time_bucket(spark, sf_dir):
    # the click->purchase range join must carry the (user, hour)
    # bucket in the equi-keys so one hot user can't go quadratic;
    # the plan's join key lists must be 2-wide
    from wire_spark.plans import formatted_plan

    plan = formatted_plan(_df(spark, sf_dir, "events_funnel_conversion"))
    assert "Left keys [2]" in plan and "Right keys [2]" in plan


def test_sequence_packing_no_global_window(spark, sf_dir):
    # the prefix sum is two-pass (bucket totals + within-bucket
    # window). The only permitted SinglePartition exchange is the
    # offset cumsum over the BUCKET-GRAIN aggregate (n/_PACK_BUCKET
    # narrow rows); the corpus-grain running sum must window within
    # buckets — a one-task global running sum is the 100 TB killer.
    from wire_spark.plans import formatted_plan

    df = _df(spark, sf_dir, "sequence_packing_plan")
    plan = formatted_plan(df)
    assert plan.count("Exchange SinglePartition") <= 1
    assert "windowspecdefinition(bkt" in plan  # corpus window is per-bucket


def test_tfidf_broadcasts_vocabulary_model(spark, sf_dir):
    # the df (vocabulary) side must broadcast — the doc-side tf table
    # must not reshuffle for the scoring join
    df = _df(spark, sf_dir, "text_tfidf_top_terms")
    assert has_broadcast_join(df)


def test_unigram_logprob_broadcasts_model(spark, sf_dir):
    df = _df(spark, sf_dir, "text_unigram_logprob")
    assert has_broadcast_join(df)
    assert has_take_ordered(df)  # top-30 partial, no global sort


def test_collocations_takeordered_and_broadcast_margins(spark, sf_dir):
    df = _df(spark, sf_dir, "text_collocations_lift")
    assert has_broadcast_join(df)
    assert has_take_ordered(df)


def test_anomaly_shuffle_budget(spark, sf_dir):
    # hourly counts (1 shuffle) + per-type stats (tiny agg) broadcast
    # back + final sort: the event table itself shuffles once
    df = _df(spark, sf_dir, "events_hourly_anomaly")
    assert has_broadcast_join(df)
    assert count_shuffles(df) <= 4


def test_rank_filter_windows_get_group_limit(spark, sf_dir):
    # Spark's InferWindowGroupLimit must recognize every rn<=k filter
    # over a rank window: the partial WindowGroupLimit before the
    # exchange keeps only top-k per group per map partition, which is
    # what makes low-cardinality partition keys (brand, lang) safe at
    # scale. A refactor that breaks the recognizable pattern (e.g.
    # filtering on a derived column) silently loses the bound.
    from wire_spark.plans import formatted_plan

    for name in ("window_topk_per_brand", "sample_stratified_by_lang",
                 "text_tfidf_top_terms"):
        plan = formatted_plan(_df(spark, sf_dir, name))
        assert "WindowGroupLimit" in plan, name
    # langid's top-50 training window now executes during query
    # construction (the profile is collected and classification is
    # scan-local, r15) — assert the property on the training phase,
    # where the window actually runs
    from wire_spark.queries.langid import _trained_profile

    _, prof = _trained_profile(spark, sf_dir)
    assert "WindowGroupLimit" in formatted_plan(prof)


def test_hll_sketch_shuffle_budget(spark, sf_dir):
    # register partial-max combines map-side: (type, reg) groups cap
    # the shuffle at types x 256 rows no matter the input size; the
    # exact-count audit column adds its own distinct shuffle
    df = _df(spark, sf_dir, "sketch_hll_distinct")
    assert count_shuffles(df) <= 6


def test_quantile_sketch_no_global_sort(spark, sf_dir):
    # the whole point of the histogram path: the only sorts run over
    # the <=1024-row histogram (keyed on `bin`) — a sort keyed on the
    # raw measure would mean the plan regressed to a data-sized
    # global sort
    from wire_spark.plans import formatted_plan

    df = _df(spark, sf_dir, "quantile_histogram_sketch")
    plan = formatted_plan(df)
    for line in plan.splitlines():
        if "Sort [" in line:
            assert "o_totalprice" not in line, line
    assert has_broadcast_join(df)


def test_bloom_prune_filters_before_join(spark, sf_dir):
    # the bitmap test must be a plain Filter over the orders scan —
    # no join shape of any kind upstream of it — and the exact
    # verification join must be broadcast
    from wire_spark.plans import formatted_plan

    df = _df(spark, sf_dir, "bloom_join_prune")
    plan = formatted_plan(df)
    assert has_broadcast_join(df)
    assert "SortMergeJoin" not in plan


def test_time_decay_single_user_shuffle(spark, sf_dir):
    # window max(ts) and the score fold share the user_id
    # partitioning; top-30 is partial
    df = _df(spark, sf_dir, "events_time_decay")
    assert has_take_ordered(df)
    assert count_shuffles(df) <= 2


def test_langid_classification_is_scan_local(spark, sf_dir):
    # r15: the trained profile (langs x 50 trigrams) is collected and
    # re-enters the plan as array literals, so classification runs
    # entirely in the row — the final plan has NO join and NO window,
    # and its only exchanges are the bounded |langs|^2 confusion
    # aggregate plus the output sort
    from wire_spark.plans import formatted_plan

    df = _df(spark, sf_dir, "text_langid_trigram_trained")
    plan = formatted_plan(df)
    assert "array_intersect" in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert plan.count("Exchange") <= 4


def test_trigram_paths_single_window(spark, sf_dir):
    # both lag() calls share one window spec — Spark must collapse
    # them into a single WindowExec (one shuffle + one sort over the
    # event stream, not two)
    import re

    from wire_spark.plans import formatted_plan

    df = _df(spark, sf_dir, "events_trigram_paths")
    plan = formatted_plan(df)
    assert len(re.findall(r"^\(\d+\) Window$", plan, re.M)) == 1
    assert has_take_ordered(df)


def test_markov_one_data_sized_shuffle(spark, sf_dir):
    # the user_id lag window is the only exchange over the event
    # stream; everything after operates on the <=|types|^2
    # transition table (count agg, per-prev total, final sort)
    df = _df(spark, sf_dir, "events_markov_transitions")
    assert count_shuffles(df) <= 4


def test_corpus_clean_broadcasts_tiny_sides(spark, sf_dir):
    # the near-dup drop-list must broadcast into an anti-join and the
    # md5 keep-set into a semi-join — the corpus-sized side never
    # shuffles for either
    from wire_spark.plans import formatted_plan

    df = _df(spark, sf_dir, "corpus_clean_split")
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "LeftAnti" in plan and "LeftSemi" in plan


def test_contamination_matrix_broadcasts_pairs(spark, sf_dir):
    # provenance lookups join the tiny pair list to the corpus —
    # pair side broadcast, corpus side never reshuffled
    df = _df(spark, sf_dir, "source_contamination_matrix")
    assert has_broadcast_join(df)


def test_bucketed_percentile_never_sorts_per_key(spark, sf_dir):
    # the whole point: the only row_number window runs over
    # (event_type, bkt) — selected buckets only — never a per-type
    # total sort of the data; the needed-bucket filter broadcasts
    from wire_spark.plans import formatted_plan

    df = _df(spark, sf_dir, "percentile_bucketed_exact")
    plan = formatted_plan(df)
    rn_windows = [
        line for line in plan.splitlines()
        if "windowspecdefinition" in line and "row_number" in line
    ]
    assert rn_windows and all("bkt" in line for line in rn_windows)
    assert has_broadcast_join(df)


def test_gopher_rules_single_rollup_shuffle(spark, sf_dir):
    # all per-doc metrics are array HOFs inside the scan projection;
    # only the per-source count rollup (+ final tiny sort) may shuffle
    df = _df(spark, sf_dir, "text_gopher_quality_rules")
    assert count_shuffles(df) <= 2
    rs = " ".join(scan_columns(df))
    assert "doc_id" not in rs  # untouched columns pruned from the scan
    assert "lang" not in rs


def test_ann_recall_audit_broadcasts_tiny_topk(spark, sf_dir):
    # both inputs are |Q| x 5 top-k tables; their recall join must be
    # broadcast, never a shuffled sort-merge join
    df = _df(spark, sf_dir, "ann_recall_audit")
    assert has_broadcast_join(df)


def test_interleave_schedule_partial_topk(spark, sf_dir):
    # the global schedule position must come from TakeOrdered top-60,
    # never a whole-corpus single-partition sort window
    df = _df(spark, sf_dir, "curation_interleave_schedule")
    assert has_take_ordered(df)


def test_profile_branches_prune_to_single_columns(spark, sf_dir):
    # each union branch's scan must read only the column it profiles
    df = _df(spark, sf_dir, "profile_documents_columns")
    scans = scan_columns(df)
    assert scans, "no parquet scans found"
    for rs in scans:
        assert "text" not in rs  # the wide column is never read


def test_incremental_dedup_candidates_are_equi_join(spark, sf_dir):
    # batch-vs-corpus candidates must come from the (band, bsig)
    # hash equi-join, never an unkeyed product. (The only nested-loop
    # joins allowed are the intentional 24-row perms broadcast
    # expansions inside the signature builder.)
    df = _df(spark, sf_dir, "dedup_incremental_lsh")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    import re

    assert re.search(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[band",
                     plan), "candidate join is not a keyed join on band"
    # every nested-loop join must be the broadcast perms expansion
    # (Cross with the 24-row build side) — no unkeyed join of data
    # relations. NOTE: don't count occurrences — a warm cache embeds
    # the InMemoryRelation's build plan in the string, duplicating
    # the perms BNLJ lines.
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "Cross" in line, f"non-broadcast-dim nested loop: {line.strip()}"


def test_order_percentile_bucketed_twin_never_sorts_per_key(spark, sf_dir):
    # the same invariant for the orders twin: row_number windows key on
    # (o_orderpriority, bkt) over bucket-filtered rows — never a
    # per-priority total sort like percentile_order_value's verify form
    from wire_spark.plans import formatted_plan

    df = _df(spark, sf_dir, "percentile_order_value_bucketed")
    plan = formatted_plan(df)
    rn_windows = [
        line for line in plan.splitlines()
        if "windowspecdefinition" in line and "row_number" in line
    ]
    assert rn_windows and all("bkt" in line for line in rn_windows)
    assert has_broadcast_join(df)


def test_band_join_is_equi_join(spark, sf_dir):
    # the 7-day band join must run as a hash equi-join on
    # (custkey, bucket) with the exact |diff| predicate as a residual
    # condition — never a cartesian/nested-loop per customer
    df = _df(spark, sf_dir, "range_join_order_bursts")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    import re

    assert re.search(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[custkey",
        plan), "band join is not keyed on (custkey, bucket)"


def test_record_linkage_probe_parallelized(spark, sf_dir):
    # the levenshtein verify kernel must be spread across a fixed
    # partition count — a column-only repartition gets AQE-coalesced
    # back to one task (observed: 19s -> 1.7s at sf0.1)
    df = _df(spark, sf_dir, "record_linkage_customers")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(c_custkey" in plan and ", 32)" in plan, \
        "probe side lost its explicit-count repartition"


def test_triangle_joins_are_keyed(spark, sf_dir):
    # wedge enumeration joins on the oriented tail; the closing-edge
    # probe joins on (v, w) — no unkeyed join anywhere
    df = _df(spark, sf_dir, "graph_triangle_count")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_kmv_rank_filter_uses_window_group_limit(spark, sf_dir):
    # the k smallest hashes per group must come from WindowGroupLimit
    # (per-task k-row heap), not a full per-group sort materialization
    df = _df(spark, sf_dir, "sketch_kmv_distinct")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_gram_matrix_shuffles_only_partials(spark, sf_dir):
    # the Gram job's shuffles carry dimension^2-sized partials (the
    # (i, j, v) rows), so the whole plan needs at most the merge
    # groupBy plus the final ordering — never a row-granular exchange
    df = _df(spark, sf_dir, "embedding_gram_matrix")
    assert count_shuffles(df) <= 2


def test_bm25_is_single_corpus_shuffle(spark, sf_dir):
    # BM25 reduces the corpus in ONE conditional aggregation; the
    # remaining exchanges handle the 1-row marginals and the top-k —
    # the token relation itself must not shuffle twice
    df = _df(spark, sf_dir, "search_bm25_ranked")
    assert count_shuffles(df) <= 3
    assert has_take_ordered(df)


def test_cusum_peak_is_window_group_limit(spark, sf_dir):
    # per-type peak selection must plan as a rank-1 WindowGroupLimit,
    # not a full sort + filter
    df = _df(spark, sf_dir, "events_changepoint_cusum")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_pchart_single_shuffle_plus_broadcast(spark, sf_dir):
    # per-supplier counts are one map-combinable groupBy; corpus
    # totals ride a broadcast — the fact relation shuffles once
    df = _df(spark, sf_dir, "supplier_return_pchart")
    assert count_shuffles(df) <= 2
    assert has_broadcast_join(df)


def test_sf_scaled_tables_have_no_forced_broadcast_hint():
    # customer/part/supplier grow linearly with scale factor: a forced
    # F.broadcast() on them overrides autoBroadcastJoinThreshold and
    # OOMs at 100x. Only bounded relations (nation, region, scalar /
    # tiny aggregates) may carry explicit hints. Guard the source.
    import pathlib
    import re

    qdir = pathlib.Path(__file__).resolve().parent.parent / "wire_spark" / "queries"
    bad = []
    pat = re.compile(r"F\.broadcast\((c|s|p|cust|custs|supp|part)[),.]")
    for f in sorted(qdir.glob("*.py")):
        for i, line in enumerate(f.read_text().splitlines(), 1):
            if pat.search(line):
                bad.append(f"{f.name}:{i}: {line.strip()}")
    assert not bad, "forced broadcast of SF-scaled table:\n" + "\n".join(bad)


def test_q10_broadcast_is_threshold_driven(spark, sf_dir):
    # after dropping the forced hints, the SAME broadcast plan must
    # still appear at small SF — chosen by AQE/autoBroadcastJoinThreshold
    # from measured sizes, not forced. At 100 TB the threshold flips the
    # same query to a shuffled hash join instead of OOMing.
    df = _df(spark, sf_dir, "q10_returned_items")
    assert has_broadcast_join(df)


def test_q5_broadcast_is_threshold_driven(spark, sf_dir):
    df = _df(spark, sf_dir, "q5_local_supplier_volume")
    assert has_broadcast_join(df)


def test_histogram_prefix_sums_never_window_globally(spark, sf_dir):
    """The histogram-navigated argmin family
    (quality_gini_stump / quality_tree_depth2 / model_auc_rank) used
    a global Window.orderBy prefix sum — safe for a bounded token-
    count domain, but a continuous feature would collapse the whole
    histogram into one task.  They now run _hist_prefix's two-pass
    form; pin the plan property: every window either partitions by
    the bucket column (histogram grain, distributed) or IS the
    bucket-grain offset cumsum (orders by _bkt over n_distinct/4096
    rows — the one deliberate bounded single-partition pass).  No
    window may order by the raw feature without a _bkt partition."""
    import re

    from wire_spark.plans import formatted_plan

    for name in ("quality_gini_stump", "quality_tree_depth2", "model_auc_rank"):
        plan = formatted_plan(_df(spark, sf_dir, name))
        specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
        assert specs, name
        for spec in specs:
            # partition/order columns precede the first ASC/frame
            # marker; _bkt must appear among them (either as a
            # partition key of the histogram-grain window or as the
            # order key of the bounded bucket-grain offset cumsum)
            keys = spec.split(" ASC", 1)[0]
            assert "_bkt#" in keys, (name, spec)


def test_hist_prefix_exact_on_high_cardinality_feature(spark):
    """_hist_prefix must return bit-identical prefix sums to the
    naive global window on a feature with MORE distinct values than
    the bucket width (forcing multiple buckets and non-trivial
    offsets), including the exclusive form, negative values, and
    partition keys."""
    import random

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from wire_spark.queries.features import _hist_prefix

    rng = random.Random(7)
    rows = [
        (side, v, rng.randint(0, 5), rng.randint(0, 5))
        for side in ("L", "R")
        for v in rng.sample(range(-50_000, 50_000), 400)
    ]
    h = spark.createDataFrame(rows, "side STRING, v LONG, a LONG, b LONG")

    # naive reference: global (per-side) ordered window
    w_in = W.partitionBy("side").orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow)
    w_ex = W.partitionBy("side").orderBy("v").rowsBetween(W.unboundedPreceding, -1)
    ref = h.select(
        "side", "v",
        F.sum("a").over(w_in).alias("ca"),
        F.coalesce(F.sum("b").over(w_ex), F.lit(0)).alias("cb"),
    )
    got = _hist_prefix(
        h, "v", {"ca": "a"}, parts=("side",), bucket=1024
    )
    got = _hist_prefix(
        got, "v", {"cb": "b"}, parts=("side",), inclusive=False, bucket=1024
    ).select("side", "v", "ca", "cb")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ref.collect()))
