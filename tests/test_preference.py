"""Semantic tests for the preference-analytics family
(queries/preference.py): full plain-Python recomputation of the
contest derivation, the Wilson lower bound, and both Bradley-Terry
minorize-maximize steps over collected sf0.001 rows.  The
cross-engine value gate is tests/test_catalog_oracle.py; these check
the STATISTICS are the right numbers, not merely engine-consistent.
"""

from __future__ import annotations

import math
from collections import defaultdict

from wire_spark.catalog import load_registry
from wire_spark.engine import load_table

REG = load_registry()


def _contests(spark, sf_dir):
    """Replay the shared contest derivation in plain Python:
    (order, brand) revenue in integer cents, higher revenue wins,
    ties dropped.  Returns {(b1, b2): [n, w1]} with b1 < b2."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_extendedprice").collect()
    parts = {r.p_partkey: r.p_brand
             for r in load_table(spark, sf_dir, "part")
             .select("p_partkey", "p_brand").collect()}
    rev: dict = defaultdict(int)
    for r in li:
        rev[(r.l_orderkey, parts[r.l_partkey])] += math.floor(
            r.l_extendedprice * 100.0)
    by_order: dict = defaultdict(list)
    for (ok, brand), v in rev.items():
        by_order[ok].append((brand, v))
    pair: dict = defaultdict(lambda: [0, 0])
    for brands in by_order.values():
        brands.sort()
        for a in range(len(brands)):
            for b in range(a + 1, len(brands)):
                (b1, r1), (b2, r2) = brands[a], brands[b]
                if r1 == r2:
                    continue
                p = pair[(b1, b2)]
                p[0] += 1
                p[1] += 1 if r1 > r2 else 0
    return pair


def test_wilson_matches_direct_formula(spark, sf_dir):
    pair = _contests(spark, sf_dir)
    want = {}
    for (b1, b2), (n, w1) in pair.items():
        if n < 5:
            continue
        p = float(w1) / float(n)
        nd = float(n)
        wl = ((p + 3.8416 / (2.0 * nd)
               - 1.96 * math.sqrt((p * (1.0 - p) + 3.8416 / (4.0 * nd))
                                  / nd))
              / (1.0 + 3.8416 / nd))
        want[(b1, b2)] = (n, w1, w1 * 1000000 // n,
                          math.floor(wl * 1000000.0))
    rows = REG["preference_winrate_wilson"].fn(spark, sf_dir).collect()
    assert rows, "no qualifying pairs at sf0.001"
    for r in rows:
        assert want[(r.b1, r.b2)] == (
            r.n_contests, r.wins_b1, r.winrate_1e6, r.wilson_low_1e6)
    # the LIMIT 30 head must be the true top of the replay ranking
    order = sorted(want.items(), key=lambda kv: (-kv[1][3], kv[0]))
    assert [(r.b1, r.b2) for r in rows] == [k for k, _ in order[:30]]
    # the bound is a LOWER bound: strictly below the point estimate
    for r in rows:
        assert r.wilson_low_1e6 < r.winrate_1e6


def test_bradley_terry_two_mm_steps_exact(spark, sf_dir):
    """Replay both integer MM steps: s1 = 2e6*W div N, then
    d2 = sum_j floor(n_ij * 1e12 / max(s1_i + s1_j, 1)) and
    s2 = floor(W * 1e12 / d2) — Python ints are arbitrary precision,
    so this is the DECIMAL(38,0) arithmetic exactly."""
    pair = _contests(spark, sf_dir)
    wins: dict = defaultdict(int)
    contests: dict = defaultdict(int)
    neighbors: dict = defaultdict(list)  # i -> [(j, n_ij)]
    for (b1, b2), (n, w1) in pair.items():
        wins[b1] += w1
        wins[b2] += n - w1
        contests[b1] += n
        contests[b2] += n
        neighbors[b1].append((b2, n))
        neighbors[b2].append((b1, n))
    s1 = {b: 2000000 * wins[b] // contests[b] for b in contests}
    want = {}
    for b in contests:
        d2 = sum(n * 10 ** 12 // max(s1[b] + s1[j], 1)
                 for j, n in neighbors[b])
        want[b] = (wins[b], contests[b], wins[b] * 10 ** 12 // d2)
    rows = REG["preference_bt_strength"].fn(spark, sf_dir).collect()
    assert len(rows) == len(want)
    for r in rows:
        assert want[r.brand] == (r.wins, r.contests, r.bt_1e6)
    # output ordering: strength desc, brand asc
    key = [( -r.bt_1e6, r.brand) for r in rows]
    assert key == sorted(key)
    # schedule adjustment is real: step-2 strengths must not be a
    # monotone rescale of raw win rate (otherwise the second MM step
    # added nothing) — check at least one rank inversion vs winrate
    wr = {b: (wins[b], contests[b]) for b in contests}
    by_bt = sorted(want, key=lambda b: -want[b][2])
    by_wr = sorted(want, key=lambda b: -(wr[b][0] * 10 ** 12 // wr[b][1]))
    assert by_bt != by_wr, (
        "BT ranking identical to raw win-rate ranking — suspicious "
        "for schedule-adjusted strengths on unbalanced schedules"
    )


def test_bt_edge_quotient_survives_big_n(spark):
    """The per-edge MM quotient n * 1e12 // max(s1_i + s1_j, 1) must
    stay exact past n ~ 9.2e6 with a zero-floored divisor — the
    regime the greatest() guard exists for.  Spark's `div` returns
    BIGINT and silently WRAPS there (measured: 2e19 came back as
    1553255926290448384 with ANSI on), so the query keeps the floor
    division in DECIMAL as (a - a % b) / b; this pins the fixed
    expression against the arbitrary-precision Python value and the
    wrap value specifically (preference.py)."""
    n, s = 20_000_000, 0
    df = spark.createDataFrame([(n, s, s)], "n long, s1_i long, s1_j long")
    df.createOrReplaceTempView("bt_edge_big_n")
    got = spark.sql(
        "SELECT CAST(("
        " (CAST(n AS DECIMAL(38,0)) * 1000000000000"
        "  - CAST(n AS DECIMAL(38,0)) * 1000000000000"
        "    % greatest(s1_i + s1_j, 1))"
        " / greatest(s1_i + s1_j, 1)"
        ") AS DECIMAL(38,0)) AS q FROM bt_edge_big_n"
    ).collect()[0].q
    want = n * 10 ** 12 // max(s + s, 1)
    assert int(got) == want
    assert int(got) != 1553255926290448384  # the int64 wrap artifact
