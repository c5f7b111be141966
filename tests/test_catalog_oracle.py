"""The main correctness gate: every catalog query with an oracle must
match DuckDB at sf0.001 and again at sf0.01, on row count, schema and
values, and its sf0.001 plan must hold no CartesianProduct."""

from __future__ import annotations

import os

import pytest

from wire_spark.catalog import load_registry
from wire_spark.oracle import compare_query, duckdb_connection
from wire_spark.plans import formatted_plan
from wire_spark.queries._util import release_tracked_caches

REGISTRY = load_registry()
_WITH_ORACLE = sorted(name for name, q in REGISTRY.items() if q.oracle is not None)


@pytest.fixture(scope="module")
def con(sf_dir):
    return duckdb_connection(sf_dir)


@pytest.mark.parametrize("name", _WITH_ORACLE)
def test_oracle_parity(spark, con, sf_dir, name):
    q = REGISTRY[name]
    built = []

    def build(spark, sf_dir):
        built.append(q.fn(spark, sf_dir))
        return built[-1]

    res = compare_query(spark, con, name, build, q.oracle, sf_dir)
    assert res.ok, str(res)
    # A plain CartesianProduct (both sides unbounded, no broadcast) is
    # never an acceptable plan at 100 TB; deliberate tiny-side cross
    # joins compile to BroadcastNestedLoopJoin via their hints.
    assert "CartesianProduct" not in formatted_plan(built[0])


@pytest.fixture(scope="module")
def sf01_dir(sf_dir):
    return os.path.join(os.path.dirname(sf_dir), "sf0.01")


@pytest.fixture(scope="module")
def con01(sf01_dir):
    return duckdb_connection(sf01_dir)


@pytest.mark.parametrize("name", _WITH_ORACLE)
def test_oracle_parity_sf0_01(spark, con01, sf01_dir, name):
    q = REGISTRY[name]
    try:
        res = compare_query(spark, con01, name, q.fn, q.oracle, sf01_dir)
    finally:
        # sf0.01 caches would otherwise pile up in the shared test session
        release_tracked_caches()
    assert res.ok, str(res)


def test_registry_nonempty():
    assert len(REGISTRY) >= 25


def test_no_hugeint_or_decimal_oracle_outputs(con):
    """DuckDB sum() over integers yields HUGEINT (int128) and bare
    decimal literals yield DECIMAL — both render differently from
    Spark's bigint/double in the driver's value-hash even when the
    values are equal (the round-3/4 hash-mismatch family). Every
    integer aggregate in an oracle must be CAST(... AS BIGINT) and
    every decimal expression CAST to DOUBLE. This mirrors the
    runtime gate (wire_spark.oracle._unsafe_types) so a new offender
    fails statically, not per-compare.
    """
    offenders = {}
    for name in _WITH_ORACLE:
        rel = con.sql(REGISTRY[name].oracle)
        bad = [
            f"{c}:{t}"
            for c, t in zip(rel.columns, rel.types)
            if "HUGEINT" in str(t).upper() or "DECIMAL" in str(t).upper()
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, f"oracles with driver-unsafe output types: {offenders}"


def test_entry_contract(spark):
    import __spark_entry__ as entry_mod

    df = entry_mod.entry(spark)
    assert df.count() > 0
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 25


def test_register_rejects_cross_module_name_collision():
    """A second registration of an existing name from a DIFFERENT
    function must raise (silent overwrite let import order pick the
    winner); re-registering the same function (module reload) stays
    idempotent."""
    import pytest

    from wire_spark.catalog import REGISTRY, register

    assert "q1_pricing_summary" in REGISTRY
    original = REGISTRY["q1_pricing_summary"]
    with pytest.raises(ValueError, match="collision"):
        @register("q1_pricing_summary")
        def q1_pricing_summary(spark, sf_dir):  # same name, new def
            raise AssertionError("never runs")
    assert REGISTRY["q1_pricing_summary"] is original  # untouched

    # idempotent path: same (module, qualname) re-registers cleanly
    fn = original.fn
    register("q1_pricing_summary", oracle=original.oracle,
             doc=original.doc, bench=original.bench)(fn)
    assert REGISTRY["q1_pricing_summary"].fn is fn


def test_degenerate_empty_input_parity(spark, sf_dir, tmp_path):
    """Empty-corpus cross-engine agreement for the queries that once
    diverged on it (Spark ANSI DIVIDE_BY_ZERO vs DuckDB NULL-banding,
    the no-groupBy all-NULL sentinel row, oracle-side log2(0)) — the
    guards must keep both engines emitting identical rows when every
    table is empty."""
    import duckdb

    from wire_spark.engine import load_table

    tables = ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"]
    empty = str(tmp_path / "sf_empty")
    for t in tables:
        load_table(spark, sf_dir, t).limit(0).coalesce(1) \
            .write.mode("overwrite").parquet(f"{empty}/{t}.parquet")
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{empty}/{t}.parquet/*.parquet')")
    reg = load_registry()
    once_diverged = [
        "events_ab_ztest", "events_srm_check", "events_ab_power_mde",
        "events_funnel_conversion", "events_funnel_3step",
        "referential_integrity_audit", "orders_ks_test",
        "bloom_join_prune",
    ]
    for name in once_diverged:
        sdf = reg[name].fn(spark, empty)
        scols = sorted(sdf.columns)
        srows = sorted([tuple(r[c] for c in scols) for r in sdf.collect()],
                       key=repr)
        res = con.execute(reg[name].oracle)
        oc = [d[0] for d in res.description]
        idx = sorted(range(len(oc)), key=lambda i: oc[i])
        orows = sorted([tuple(row[i] for i in idx)
                        for row in res.fetchall()], key=repr)
        assert scols == sorted(oc), name
        assert srows == orows, (name, srows, orows)


def test_degenerate_one_row_parity(spark, sf_dir, tmp_path):
    """One-row-corpus cross-engine agreement for the queries whose
    variance/share denominators once hit Spark-ANSI DIVIDE_BY_ZERO
    there (n-1 terms, zero-width histograms, single-class AUC) —
    the nullif guards must NULL-band exactly like DuckDB."""
    import duckdb

    from wire_spark.engine import load_table

    tables = ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"]
    one = str(tmp_path / "sf_one")
    for t in tables:
        df = load_table(spark, sf_dir, t)
        df.orderBy(df.columns[0]).limit(1).coalesce(1) \
            .write.mode("overwrite").parquet(f"{one}/{t}.parquet")
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{one}/{t}.parquet/*.parquet')")
    reg = load_registry()
    once_diverged = ["events_drift_audit", "quantile_histogram_sketch",
                     "model_auc_rank", "events_linear_trend"]
    for name in once_diverged:
        sdf = reg[name].fn(spark, one)
        scols = sorted(sdf.columns)
        srows = sorted([tuple(r[c] for c in scols) for r in sdf.collect()],
                       key=repr)
        res = con.execute(reg[name].oracle)
        oc = [d[0] for d in res.description]
        idx = sorted(range(len(oc)), key=lambda i: oc[i])
        orows = sorted([tuple(row[i] for i in idx)
                        for row in res.fetchall()], key=repr)
        assert scols == sorted(oc), name
        assert srows == orows, (name, srows, orows)
