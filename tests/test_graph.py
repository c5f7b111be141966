"""Connected components: transitivity, chains, and singleton pairs."""

from __future__ import annotations

from wire_spark.operators.graph import connected_components


def test_components_chain_and_islands(spark):
    # chain 1-2-3 (transitive), island 5-6, cycle 8-9-1 merging into
    # the first component through vertex 1
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 9), (9, 1)], ["src", "dst"]
    )
    got = {r.id: r.comp for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 8: 1, 9: 1, 5: 5, 6: 5}


def test_components_converges_on_long_chain(spark):
    # a 12-vertex path needs multiple propagation rounds
    edges = spark.createDataFrame([(i, i + 1) for i in range(12)], ["src", "dst"])
    got = {r.id: r.comp for r in connected_components(edges).collect()}
    assert got == {i: 0 for i in range(13)}


def test_components_deep_path_logarithmic_rounds(spark):
    """A 200-hop path at the DEFAULT max_iter=20: plain hash-min would
    need ~200 rounds and (pre-r12) returned silently wrong labels once
    the cap hit — the bigclique sweep caught it on a 125-doc near-dup
    chain of graph diameter ~62.  Pointer jumping makes the per-round
    reach double, so 20 rounds cover diameter ~2^20; non-convergence
    now raises instead of returning."""
    n = 200
    edges = spark.createDataFrame([(i, i + 1) for i in range(n)], ["src", "dst"])
    got = {r.id: r.comp for r in connected_components(edges).collect()}
    assert got == {i: 0 for i in range(n + 1)}


def test_components_raises_rather_than_wrong_labels(spark):
    """If the round budget genuinely cannot cover the diameter, the
    operator must fail loudly, never return a partial labeling."""
    import pytest

    edges = spark.createDataFrame([(i, i + 1) for i in range(40)], ["src", "dst"])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=2)


def test_components_reliable_checkpoint_path(spark, tmp_path):
    """A checkpoint dir on the session engages reliable df.checkpoint()
    (cluster-safe lineage truncation): the labeling is identical to
    the local path, the checkpoint data lands in that dir, and the
    operator leaves the session's dir as it found it."""
    import glob
    import os

    sc = spark.sparkContext
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 20)], ["src", "dst"]
    )
    local = {r.id: r.comp for r in connected_components(edges).collect()}
    ckpt = str(tmp_path / "ckpt")
    sc.setCheckpointDir(ckpt)
    try:
        before = sc.getCheckpointDir()
        reliable = {r.id: r.comp for r in connected_components(edges).collect()}
        assert sc.getCheckpointDir() == before
        assert glob.glob(os.path.join(ckpt, "*", "rdd-*"))
    finally:
        # Spark has no public unset; without it every later test in the
        # session would silently switch to reliable checkpoints
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            getattr(getattr(sc._jvm, "scala.None$"), "MODULE$"))
    assert sc.getCheckpointDir() is None
    assert reliable == local == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20}


def test_star_components_matches_label_prop(spark):
    from wire_spark.operators.graph import connected_components_star

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 9), (9, 1), (20, 20)], ["src", "dst"]
    )
    got = {r.id: r.comp for r in connected_components_star(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 8: 1, 9: 1, 5: 5, 6: 5, 20: 20}


def test_star_components_deep_path_logarithmic_rounds(spark):
    """A path graph of depth >> 5: label propagation needs O(depth)
    rounds; large-star/small-star must finish the same labeling well
    inside a logarithmic round budget (max_iter=10 for 200 hops)."""
    from wire_spark.operators.graph import connected_components_star

    n = 200
    edges = spark.createDataFrame([(i, i + 1) for i in range(n)], ["src", "dst"])
    got = {r.id: r.comp for r in connected_components_star(edges, max_iter=10).collect()}
    assert got == {i: 0 for i in range(n + 1)}


def test_star_components_random_graphs_property(spark):
    """Property: on seeded random graphs, star CC == brute-force
    union-find ground truth."""
    import random

    from wire_spark.operators.graph import connected_components_star

    for seed in (7, 23, 99):
        rng = random.Random(seed)
        n = 60
        edge_list = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(70)
        ]
        # ground truth: union-find
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edge_list:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        seen = {v for e in edge_list for v in e}
        truth = {v: find(v) for v in seen}
        edges = spark.createDataFrame(edge_list, ["src", "dst"])
        got = {r.id: r.comp for r in connected_components_star(edges).collect()}
        assert got == truth, f"seed={seed}"


def _sym(spark, pairs):
    import pyspark.sql.functions as F

    e = spark.createDataFrame(pairs, ["src", "dst"])
    return e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


def test_pagerank_uniform_weights_reduce_to_unweighted(spark):
    # floor(r*w / (k*w)) == floor(r/k): any constant weight must give
    # bit-identical ranks to the unweighted form
    import pyspark.sql.functions as F

    from wire_spark.operators.graph import pagerank_fixed

    edges = _sym(spark, [(1, 2), (2, 3), (3, 4), (4, 1), (2, 4)])
    plain = {r.node: r.r for r in pagerank_fixed(edges, iterations=3).collect()}
    weighted = {
        r.node: r.r
        for r in pagerank_fixed(
            edges.withColumn("w", F.lit(7)), iterations=3, weight="w"
        ).collect()
    }
    assert plain == weighted


def test_pagerank_all_seeds_equals_global(spark):
    # personalization over the FULL vertex set is exactly global
    # PageRank (teleport mass spread over all nodes either way)
    import pyspark.sql.functions as F

    from wire_spark.operators.graph import pagerank_fixed

    edges = _sym(spark, [(1, 2), (2, 3), (3, 1), (3, 4)])
    all_nodes = edges.select(F.col("src").alias("node")).distinct()
    global_pr = {r.node: r.r for r in pagerank_fixed(edges, iterations=3).collect()}
    ppr = {
        r.node: r.r
        for r in pagerank_fixed(edges, iterations=3, seeds=all_nodes).collect()
    }
    assert global_pr == ppr


def test_pagerank_personalized_mass_concentrates_near_seed(spark):
    # two disconnected triangles; seeding only one of them must leave
    # every node of the other triangle at rank ~0 (pure damping decay
    # of a zero start), and seed-side nodes strictly above them
    from wire_spark.operators.graph import pagerank_fixed

    edges = _sym(spark, [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (12, 10)])
    seeds = spark.createDataFrame([(1,)], ["node"])
    got = {r.node: r.r for r in pagerank_fixed(edges, iterations=3, seeds=seeds).collect()}
    far_side = {got[10], got[11], got[12]}
    assert far_side == {0}                       # no path from the seed
    assert min(got[1], got[2], got[3]) > 0       # seed side holds all mass


def test_pagerank_seeds_outside_graph_are_ignored_or_rejected(spark):
    # teleport mass divides over seeds IN the graph only: a seed with
    # no edges can neither hold nor spread rank; counting it would
    # silently leak mass. An empty intersection is an error, not an
    # all-zero result.
    import pytest
    from wire_spark.operators.graph import pagerank_fixed

    edges = _sym(spark, [(1, 2), (2, 3), (3, 1)])
    in_graph = spark.createDataFrame([(1,)], ["node"])
    mixed = spark.createDataFrame([(1,), (999,)], ["node"])  # 999 absent
    only_in = {r.node: r.r for r in pagerank_fixed(edges, iterations=2,
                                                   seeds=in_graph).collect()}
    with_ghost = {r.node: r.r for r in pagerank_fixed(edges, iterations=2,
                                                      seeds=mixed).collect()}
    assert only_in == with_ghost  # ghost seed changes nothing

    all_ghosts = spark.createDataFrame([(999,)], ["node"])
    with pytest.raises(ValueError, match="no seed appears"):
        pagerank_fixed(edges, iterations=2, seeds=all_ghosts)
