"""Scale patterns: streaming dedup within watermark, date-partitioned
layout with partition pruning — the at-rest and in-flight data
discipline for 100 TB operation."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from wire_spark.engine import load_table
from wire_spark.model import SourceConfig
from wire_spark.plans import formatted_plan
from wire_spark.sources import data_source_factory


def _write_jsonl(path, rows):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_streaming_exact_dedup_within_watermark(spark, tmp_path):
    """Exact dedup on a stream: duplicates within the watermark horizon
    are dropped with bounded state (the streaming face of dedup_exact)."""
    in_dir = str(tmp_path / "in")
    _write_jsonl(
        os.path.join(in_dir, "b.json"),
        [
            {"id": "a", "ts": "2024-03-01T10:00:00", "v": 1},
            {"id": "a", "ts": "2024-03-01T10:00:05", "v": 2},  # dup id
            {"id": "b", "ts": "2024-03-01T10:01:00", "v": 3},
            {"id": "b", "ts": "2024-03-01T10:02:00", "v": 4},  # dup id
            {"id": "c", "ts": "2024-03-01T10:03:00", "v": 5},
        ],
    )
    stream = (
        data_source_factory(
            SourceConfig(name="s", type="file", key="k", config={"path": in_dir})
        )
        .read(spark)
        .withColumn("ts", F.to_timestamp("ts"))
    )
    deduped = stream.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(["id"])
    q = (
        deduped.writeStream.format("memory").queryName("sdedup")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.awaitTermination(60)
    rows = spark.sql("SELECT id FROM sdedup").collect()
    assert sorted(r.id for r in rows) == ["a", "b", "c"]


def test_partitioned_layout_prunes_partitions(spark, sf_dir, tmp_path):
    """Date-partitioned parquet: a day predicate prunes the scan to
    one partition directory (PartitionFilters, not data filters)."""
    out = str(tmp_path / "events_by_day")
    ev = load_table(spark, sf_dir, "events")
    (ev.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
       .write.partitionBy("day").mode("overwrite").parquet(out))

    back = spark.read.parquet(out)
    one_day = back.filter(F.col("day") == "2024-01-03")
    plan = formatted_plan(one_day)
    assert "PartitionFilters" in plan
    assert "day" in plan.split("PartitionFilters", 1)[1][:200]
    # pruned read returns exactly that day's events
    expected = ev.filter(F.date_format("ts", "yyyy-MM-dd") == "2024-01-03").count()
    assert one_day.count() == expected > 0


def test_jaccard_stop_shingle_cap_guards_candidates(spark, sf_dir):
    """The df cap must (a) actually shrink the shingle relation when
    low, (b) leave the default output invariant when above max df —
    the 100 TB viral-shingle guard from dedup.py:_jaccard_pairs."""
    from wire_spark.queries.dedup import _jaccard_pairs, _shingle_df

    sh = _shingle_df(spark, sf_dir)
    df_prof = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    dropped = df_prof.filter(F.col("df") > 5).count()
    assert dropped > 0  # cap=5 really removes stop-shingles at sf0.001

    capped = _jaccard_pairs(spark, sf_dir, 0.8, df_cap=5)
    uncapped = _jaccard_pairs(spark, sf_dir, 0.8, df_cap=None)
    default = _jaccard_pairs(spark, sf_dir, 0.8)  # cap=1000 > max df
    assert sorted(map(tuple, default.collect())) == sorted(map(tuple, uncapped.collect()))
    # candidate pairs can only shrink under a cap
    assert capped.count() <= uncapped.count()


def test_aqe_runtime_bloom_filter_prunes_probe_side(spark, sf_dir):
    """The documented graduation path from the oracle-checkable
    bloom_join_prune: past ~50k build keys its 2^20-bit explicit
    bitmap saturates and AQE's runtime bloom filter takes over
    (native sizing, no plan literal). Pin that the engine actually
    injects it: with a shuffled join whose build side is selective,
    the probe-side scan must carry a might_contain(bloom_filter_agg)
    filter — at 100 TB this is what keeps the orders shuffle from
    carrying rows no BUILDING customer can match. Thresholds are
    lowered only because the test tables are tiny; at real scale the
    defaults (10 MB creation side / 10 GB application side) fire on
    their own.

    The build predicate is MACHINERY, not BUILDING, deliberately:
    bloom_join_prune .cache()s the BUILDING-customer fragment, and if
    an earlier test ran it the cache manager would substitute an
    InMemoryTableScan here — which InjectRuntimeFilter skips."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        c = load_table(spark, sf_dir, "customer").filter(
            F.col("c_mktsegment") == "MACHINERY"
        ).select("c_custkey")
        o = load_table(spark, sf_dir, "orders")
        j = o.join(c, o.o_custkey == c.c_custkey).groupBy().count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan
        assert "bloom_filter_agg" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_zorder_write_bounds_file_extents_both_dims(spark, sf_dir, tmp_path):
    """Z-order clustered write vs a single-column-sorted write, judged
    by the REAL parquet footer statistics a scan would prune with.
    The classic trade: the price-sorted layout prunes price
    predicates best but is USELESS on its second dimension — a
    custkey-only slab intersects every linear file, while z-ordered
    files are bounded Morton tiles and most of them skip. On the
    first dimension z-order stays bounded (a tile column), merely not
    optimal."""
    import pyarrow.parquet as pq

    from wire_spark.operators.layout import zorder_write

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    n_files = 16
    linear, zpath = str(tmp_path / "linear"), str(tmp_path / "zorder")
    (
        o.repartitionByRange(n_files, "o_totalprice")
        .sortWithinPartitions("o_totalprice")
        .write.mode("overwrite").parquet(linear)
    )
    zorder_write(o, zpath, "o_totalprice", "o_custkey", n_files=n_files)

    lo = o.agg(
        F.min("o_totalprice"), F.max("o_totalprice"),
        F.min("o_custkey"), F.max("o_custkey"),
    ).first()
    # ~20% slab on custkey ONLY (price unconstrained), mid-range
    px = (lo[0], lo[1])
    py = (lo[2] + (lo[3] - lo[2]) * 0.4, lo[2] + (lo[3] - lo[2]) * 0.6)

    def files_touched(path):
        import glob
        touched, total = 0, 0
        for f in sorted(glob.glob(path + "/part-*.parquet")):
            md = pq.ParquetFile(f).metadata
            mins = {"o_totalprice": None, "o_custkey": None}
            maxs = {"o_totalprice": None, "o_custkey": None}
            for rg in range(md.num_row_groups):
                row = md.row_group(rg)
                for ci in range(row.num_columns):
                    col = row.column(ci)
                    name = col.path_in_schema
                    if name in mins and col.statistics is not None:
                        s = col.statistics
                        mins[name] = s.min if mins[name] is None else min(mins[name], s.min)
                        maxs[name] = s.max if maxs[name] is None else max(maxs[name], s.max)
            total += 1
            if (
                mins["o_totalprice"] <= px[1] and maxs["o_totalprice"] >= px[0]
                and mins["o_custkey"] <= py[1] and maxs["o_custkey"] >= py[0]
            ):
                touched += 1
        return touched, total

    lt, ln = files_touched(linear)
    zt, zn = files_touched(zpath)
    assert ln >= n_files - 2 and zn >= n_files - 2  # both actually split
    # linear layout: every price-sorted file spans all custkeys -> the
    # custkey slab touches them ALL. z-order: only the tile rows whose
    # custkey extent overlaps the slab.
    assert lt == ln, (lt, ln)
    assert zt < lt, (zt, lt)
    assert zt <= zn // 2, (zt, zn)  # prunes at least half the files


def test_generalization_ladder_reaches_k(spark, sf_dir):
    """k-anonymity remediation: the ladder walks from the preferred
    fine-grained release to coarser encodings and stops at the first
    level meeting the threshold; the returned frame's QI columns are
    actually generalized and every equivalence class satisfies k."""
    import pytest

    from wire_spark.operators.privacy import generalize_to_k, min_class_size

    c = load_table(spark, sf_dir, "customer")
    ladder = [
        # level 0: near-raw — balance to the cent makes tiny classes
        {"seg": F.col("c_mktsegment"), "nat": F.col("c_nationkey"),
         "bal": F.round("c_acctbal", 0)},
        # level 1: balance to coarse 1000-wide bands
        {"seg": F.col("c_mktsegment"), "nat": F.col("c_nationkey"),
         "bal": F.floor(F.col("c_acctbal") / 1000)},
        # level 2: drop balance entirely
        {"seg": F.col("c_mktsegment"), "nat": F.col("c_nationkey"),
         "bal": F.lit("*")},
        # level 3: segment only (nation suppressed too)
        {"seg": F.col("c_mktsegment"), "nat": F.lit("*"), "bal": F.lit("*")},
    ]
    assert min_class_size(c, ladder[0]) < 5  # level 0 genuinely leaks
    level, out = generalize_to_k(c, ladder, k=5)
    assert level > 0
    got_k = (
        out.groupBy("seg", "nat", "bal").count()
        .agg(F.min("count").alias("mk")).first().mk
    )
    assert got_k >= 5
    assert set(out.columns) >= {"seg", "nat", "bal", "c_custkey"}
    with pytest.raises(ValueError):
        generalize_to_k(c, [ladder[0]], k=5)  # unreachable k raises


def test_compaction_and_retention_lifecycle(spark, sf_dir, tmp_path):
    """The OPTIMIZE/VACUUM pair: a fragmented write compacts to the
    size-derived file count with rows intact (and an optional restored
    clustering), and date-partition retention drops expired partitions
    by path, leaving newer data untouched."""
    from wire_spark.operators.maintenance import compact_files, expire_partitions

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    frag = str(tmp_path / "fragmented")
    o.repartition(64).write.mode("overwrite").parquet(frag)  # tiny files
    import glob as _g
    assert len(_g.glob(frag + "/part-*.parquet")) == 64
    n_rows = o.count()

    n_after = compact_files(
        spark, frag, target_file_bytes=10 * 1024 * 1024,
        sort_within_by=["o_orderkey"],
    )
    assert n_after < 64
    back = spark.read.parquet(frag)
    assert back.count() == n_rows  # no data loss through the swap
    assert len(_g.glob(frag + "/part-*.parquet")) == n_after

    # retention over a date-partitioned layout
    ev = load_table(spark, sf_dir, "events")
    part = str(tmp_path / "events_by_day")
    (ev.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
       .write.partitionBy("day").mode("overwrite").parquet(part))
    days = sorted(
        e.split("=", 1)[1] for e in os.listdir(part) if e.startswith("day=")
    )
    assert len(days) > 2
    cutoff = days[len(days) // 2]
    dropped = expire_partitions(part, "day", keep_from=cutoff)
    assert dropped == [d for d in days if d < cutoff]
    kept = spark.read.parquet(part)
    # partition values are type-inferred (DATE here) — compare as string
    assert str(kept.select(F.min("day")).first()[0]) == cutoff
    expected_kept = ev.filter(
        F.date_format("ts", "yyyy-MM-dd") >= cutoff
    ).count()
    assert kept.count() == expected_kept


def test_data_contract_gate_single_pass(spark, sf_dir):
    """The publish gate: every expectation's pass rate computed in one
    aggregation; hard rules fail on any violation, soft rules tolerate
    their configured noise; NULL predicate results count as failures."""
    from wire_spark.operators.contracts import Expectation, validate

    o = load_table(spark, sf_dir, "orders")
    result = validate(o, [
        Expectation("key_not_null", F.col("o_orderkey").isNotNull()),
        Expectation("price_positive", F.col("o_totalprice") > 0),
        Expectation("status_domain",
                    F.col("o_orderstatus").isin("O", "F", "P")),
        # deliberately impossible hard rule -> must fail the gate
        Expectation("price_over_million", F.col("o_totalprice") > 1_000_000),
        # same rule as a soft expectation with a generous threshold
        Expectation("price_over_million_soft",
                    F.col("o_totalprice") > 1_000_000, min_pass_rate=0.0),
    ])
    assert result.n_rows == o.count()
    assert result.rules["key_not_null"] == (result.n_rows, 1.0)
    assert result.rules["price_positive"][1] == 1.0
    assert result.failed == ["price_over_million"]
    assert not result.ok

    # NULLs fail conservatively: a null-valued comparison is a failure
    with_null = o.withColumn(
        "maybe", F.when(F.col("o_orderkey") % 2 == 0, F.col("o_totalprice"))
    )
    r2 = validate(with_null, [Expectation("maybe_pos", F.col("maybe") > 0,
                                          min_pass_rate=0.6)])
    n_even = with_null.filter(F.col("o_orderkey") % 2 == 0).count()
    assert r2.rules["maybe_pos"][0] == n_even  # odd keys (NULL) failed
    assert r2.failed == ["maybe_pos"] if n_even / r2.n_rows < 0.6 else r2.ok


def test_compact_files_crash_recovery_each_step(spark, sf_dir, tmp_path):
    """Kill-at-every-step lifecycle for compact_files: whatever
    stranded state a crash leaves (stale tmp; table renamed away but
    new data not yet swapped in; both old and new present), the next
    call heals it and completes — the table is readable with the full
    row count after every recovery.  Markers are dot-prefixed
    SIBLINGS, so a whole-table reader of the parent never sees them
    as partitions mid-rewrite."""
    import glob as _g
    import shutil

    from wire_spark.operators.maintenance import (
        _compact_markers,
        compact_files,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    n_rows = o.count()
    # hive-style partition dir: the reader-invisibility check matters
    # exactly here (a suffix-named marker would parse as a partition)
    root = tmp_path / "tbl"
    frag = str(root / "day=2024-01-01")
    tmp_m, old_m = _compact_markers(frag)
    assert os.path.basename(tmp_m).startswith(".")
    assert os.path.basename(old_m).startswith(".")

    def reset():
        o.repartition(32).write.mode("overwrite").parquet(frag)

    # crash state 1: stale tmp marker from a run that died mid-write
    reset()
    o.coalesce(1).write.mode("overwrite").parquet(tmp_m)
    # the stranded marker is INVISIBLE to a whole-table read of the
    # parent: exactly one partition value, exactly n_rows rows
    whole = spark.read.parquet(str(root))
    assert whole.count() == n_rows
    assert whole.select("day").distinct().count() == 1
    n = compact_files(spark, frag, target_file_bytes=10 * 1024 * 1024)
    assert spark.read.parquet(frag).count() == n_rows
    assert not os.path.exists(tmp_m)
    assert not os.path.exists(old_m)

    # crash state 2: died between the two renames — table stranded at
    # the old marker, path missing, complete rewrite sitting in tmp
    reset()
    o.coalesce(1).write.mode("overwrite").parquet(tmp_m)
    os.rename(frag, old_m)
    n = compact_files(spark, frag, target_file_bytes=10 * 1024 * 1024)
    assert spark.read.parquet(frag).count() == n_rows  # original restored, recompacted
    assert n == len(_g.glob(os.path.join(frag, "part-*.parquet")))

    # crash state 3: died after the second rename, before cleanup —
    # new table live, old husk left behind
    reset()
    shutil.copytree(frag, old_m)
    n = compact_files(spark, frag, target_file_bytes=10 * 1024 * 1024)
    assert spark.read.parquet(frag).count() == n_rows
    assert not os.path.exists(old_m)


def test_expire_partitions_crash_safe_and_reader_invisible(spark, sf_dir, tmp_path):
    """Retention drops a partition by atomic rename-then-delete: a
    stranded ._expired_ husk (crash mid-rmtree) is invisible to Spark
    readers (dot-prefix) and healed by the next call."""
    from wire_spark.operators.maintenance import expire_partitions

    ev = load_table(spark, sf_dir, "events")
    part = str(tmp_path / "events_by_day")
    (ev.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
       .write.partitionBy("day").mode("overwrite").parquet(part))
    days = sorted(
        e.split("=", 1)[1] for e in os.listdir(part) if e.startswith("day=")
    )
    cutoff = days[len(days) // 2]

    # simulate a crash mid-delete: partition renamed to its husk but
    # not removed — Spark must NOT see it as table data
    victim = f"day={days[0]}"
    os.rename(os.path.join(part, victim),
              os.path.join(part, "._expired_" + victim))
    visible = spark.read.parquet(part)
    assert str(visible.select(F.min("day")).first()[0]) == days[1]

    dropped = expire_partitions(part, "day", keep_from=cutoff)
    # the husk was healed (not re-reported), the rest dropped by value
    assert dropped == [d for d in days[1:] if d < cutoff]
    assert not any(e.startswith("._expired_") for e in os.listdir(part))
    kept = spark.read.parquet(part)
    assert str(kept.select(F.min("day")).first()[0]) == cutoff


def test_data_contract_rejects_duplicate_names_and_reserved(spark, sf_dir):
    """A release gate must not silently corrupt pass rates: duplicate
    rule names raise up front, and a rule literally named '__n' is
    fine because internal aliases are positional."""
    import pytest

    from wire_spark.operators.contracts import Expectation, validate

    o = load_table(spark, sf_dir, "orders")
    with pytest.raises(ValueError, match="duplicate"):
        validate(o, [
            Expectation("r", F.col("o_orderkey").isNotNull()),
            Expectation("r", F.col("o_totalprice") > 0),
        ])
    # '__n' as a user-facing rule name cannot collide with the count
    r = validate(o, [Expectation("__n", F.col("o_orderkey").isNotNull())])
    assert r.ok and r.rules["__n"] == (r.n_rows, 1.0)


def test_zorder_write_null_cells_and_all_null_column(spark, sf_dir, tmp_path):
    """NULL cluster values must not produce NULL Morton keys: null
    rows land in the top tile (layout still prunable), and an
    all-NULL cluster column raises instead of writing an unprunable
    table."""
    import pytest

    from wire_spark.operators.layout import zorder_write

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    # poke NULLs into both dimensions on disjoint row subsets
    holey = (
        o.withColumn("o_totalprice",
                     F.when(F.col("o_orderkey") % 97 == 0, None)
                      .otherwise(F.col("o_totalprice")))
         .withColumn("o_custkey",
                     F.when(F.col("o_orderkey") % 101 == 0, None)
                      .otherwise(F.col("o_custkey")))
    )
    zpath = str(tmp_path / "z_nulls")
    zorder_write(holey, zpath, "o_totalprice", "o_custkey", n_files=8)
    back = spark.read.parquet(zpath)
    assert back.count() == o.count()  # no rows lost to NULL keys
    n_null = holey.filter(F.col("o_totalprice").isNull()
                          | F.col("o_custkey").isNull()).count()
    assert back.filter(F.col("o_totalprice").isNull()
                       | F.col("o_custkey").isNull()).count() == n_null

    with pytest.raises(ValueError, match="all-NULL"):
        zorder_write(o.withColumn("dead", F.lit(None).cast("long")),
                     str(tmp_path / "z_dead"), "o_totalprice", "dead")


def test_pii_scan_redact_audit(spark):
    """PII governance tier: planted emails/SSNs/PANs/phones/IPs are
    counted per doc, fully redacted to typed placeholders (no digits
    of a PAN survive, non-PII text untouched), and the per-source
    audit aggregates discovery correctly. All JVM-side regex — the
    plan must contain no Python eval."""
    from wire_spark.operators.pii import pii_audit, redact_pii, scan_pii

    rows = [
        (0, "contact bob.smith+x@example.co.uk for details", "a"),
        (1, "ssn 123-45-6789 and card 4111 1111 1111 1111 here", "a"),
        (2, "call (555) 123-4567 or +1 555-987-6543 from 10.0.0.1", "b"),
        (3, "perfectly clean sentence with numbers 12345", "b"),
        (4, "two mails: x@y.io z@w.dev", "b"),
        (5, "e164 +15551234567 works", "c"),
        (6, "order id 98765 but 432-1098 alone is no phone", "c"),
        (7, None, "c"),
        # the PII_PATTERNS comment's literal counterexample: a 5-digit
        # id directly adjacent to a phone-like fragment must NOT be
        # swallowed ('98' must not parse as a separator-less country
        # code — the r8 false-positive)
        (8, "id 98765 432-1098", "d"),
        # '+cc' glued to the area code must still redact: \b cannot
        # match before '+', so the plus branch must not sit behind it
        # (the r9 review regression)
        (9, "call +1555 123 4567 or +1555-123-4567", "d"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING, source STRING")

    s = {r.doc_id: r for r in scan_pii(df).collect()}
    assert s[0].pii_email == 1 and s[0].pii_total == 1
    assert s[1].pii_ssn == 1 and s[1].pii_credit_card == 1 and s[1].pii_total == 2
    assert s[2].pii_phone == 2 and s[2].pii_ipv4 == 1 and s[2].pii_total == 3
    assert s[3].pii_total == 0
    assert s[4].pii_email == 2
    assert s[5].pii_phone == 1  # bare E.164, no separators
    assert s[6].pii_total == 0  # 7-digit fragment never matches mid-run
    assert s[7].pii_total == 0  # NULL text scans clean, never NULL
    assert s[8].pii_total == 0  # id adjacent to phone-like fragment kept
    assert s[9].pii_phone == 2  # glued '+cc' forms still redact

    red = {r.doc_id: r.text for r in redact_pii(df).collect()}
    assert red[0] == "contact [EMAIL] for details"
    assert red[1] == "ssn [SSN] and card [CREDIT_CARD] here"
    assert "[PHONE]" in red[2] and "[IPV4]" in red[2]
    assert not any(ch.isdigit() for ch in red[1])  # no PAN/SSN digits survive
    assert red[3] == rows[3][1]  # clean text byte-identical

    audit = {r.source: r for r in pii_audit(df).collect()}
    assert audit["a"].n_docs == 2 and audit["a"].n_docs_with_pii == 2
    assert audit["b"].n_docs == 3 and audit["b"].n_docs_with_pii == 2
    assert audit["a"].n_email == 1 and audit["b"].n_email == 2
    assert audit["a"].n_ssn == 1 and audit["b"].n_phone == 2
    # NULL text is reported, not silently passed as clean
    assert audit["c"].n_docs == 3 and audit["c"].n_docs_null == 1
    assert audit["c"].n_docs_with_pii == 1 and audit["c"].n_phone == 1

    # JVM-only: no BatchEvalPython / ArrowEvalPython in the plan
    plan = scan_pii(df)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_tracked_caches_release_after_action(spark, sf_dir, tmp_path):
    """Catalog queries keep intermediates through ``tracked_cache`` or
    ``materialize`` so long-lived callers can free them once their
    actions finish (tcloseness_audit pinned its class x
    bucket grid forever; the checkpointed graph and median queries
    held their RDDs until the session ended).  Pin the lifecycle:
    after the action, ``release_tracked_caches`` empties the cache
    manager and returns the persisted-RDD count to its pre-query
    value.  A released cache still recomputes correctly; a released
    checkpoint cannot be re-read, so only the cache case re-collects.
    ``merge_upsert`` owns its checkpoint and frees it itself."""
    from wire_spark.catalog import load_registry
    from wire_spark.operators.upsert import merge_upsert, write_initial
    from wire_spark.queries._util import release_tracked_caches

    release_tracked_caches()  # isolate from earlier tests in the session
    cm = spark._jsparkSession.sharedState().cacheManager()
    cm.clearCache()
    assert cm.isEmpty()
    held = spark.sparkContext._jsc.sc().getPersistentRDDs
    reg = load_registry()

    cases = [
        ("tcloseness_audit", "cache"),  # the class x bucket grid
        ("graph_kcore_peel", "checkpoint"),  # per-round truncation
        ("dedup_components_star", "checkpoint"),  # the star operator
        ("robust_outliers_mad", "checkpoint"),  # median tiers
        ("preference_bt_strength", "checkpoint"),  # contest pairs
    ]
    for name, kind in cases:
        n0 = held().size()
        df = reg[name].fn(spark, sf_dir)
        before = df.collect()
        if kind == "cache":
            assert not cm.isEmpty(), name  # the cache is live after the action
        else:
            assert held().size() > n0, name  # checkpoints are live

        assert release_tracked_caches() >= 1, name
        assert cm.isEmpty(), name  # nothing left pinned in storage memory
        assert held().size() == n0, name

        if kind == "cache":
            assert sorted(map(tuple, df.collect())) == sorted(map(tuple, before))
            assert cm.isEmpty()  # recompute, no re-pin

    path = str(tmp_path / "kv")
    write_initial(spark.range(20).select(F.col("id").alias("k")), path, "k",
                  n_buckets=4)
    n0 = held().size()
    merge_upsert(spark, path, spark.range(15, 25).select(F.col("id").alias("k")),
                 "k", n_buckets=4)
    assert held().size() == n0
    assert release_tracked_caches() == 0  # nothing left for a caller to free
