"""Iterative graph operators: connected components via min-label
propagation, and via alternating large-star/small-star rounds.

Needed for FULL near-duplicate clustering: pairwise dup edges form
clusters only under transitive closure (a~b, b~c => {a,b,c}), which no
single join can compute. Two algorithms, same shuffle primitives:

- ``connected_components`` — min-label propagation: every vertex
  takes the min label among itself and its neighbors until fixpoint.
  O(diameter) rounds, one join + one min-agg per round. The right
  choice for near-dup clusters (cliques-ish, diameter 2-3).
- ``connected_components_star`` — alternating large-star/small-star
  (Kiveris et al., "Connected Components in MapReduce and Beyond",
  SoCC'14): pointer-doubling-style star collapses that converge in
  O(log n) rounds INDEPENDENT of diameter — the scale path for
  chain-shaped graphs (e.g. near-dup edges from sliding-window crawl
  snapshots) where label propagation would need thousands of rounds.

Scale notes: per round: one or two shuffles on vertex id. Lineage is
truncated per round with ``materialize`` or the plan grows
exponentially; the session's checkpoint dir decides between reliable
checkpoints (a dir is configured: survives executor loss, required on
a cluster) and executor-local ones (no dir).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wire_spark.queries._util import materialize


#: hash-min rounds before pointer jumping engages: real dedup/identity
#: graphs converge within this (near-clique components), so they never
#: pay the jump's extra labels-relation join; adversarial chains
#: escalate to O(log diameter) rounds afterwards.
_JUMP_AFTER = 4


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
) -> DataFrame:
    """Return (id, comp) where comp = min vertex id reachable from id.

    ``edges`` is an undirected edge list (any orientation); isolated
    vertices absent from it are absent from the output.

    Convergence: plain hash-min (label <- min over self + neighbors)
    needs O(diameter) rounds, and the r12 ``bigclique`` sweep built a
    125-doc near-dup chain whose 0.8-Jaccard graph has diameter ~62 —
    the capped plain form returned silently wrong labels.  Rounds
    after ``_JUMP_AFTER`` therefore add one pointer-jumping step
    (label <- label's label), which makes the traveled distance
    roughly DOUBLE per round: total rounds are O(log diameter) and
    the default ``max_iter=20`` covers diameters ~2^16.  The jump is
    an extra join over the labels relation, so it is NOT run during
    the first rounds: real dedup/identity graphs are near-clique
    (diameter <= ~4) and converge before jumping starts, paying
    nothing — only adversarial chain shapes escalate.  If the loop
    exhausts ``max_iter`` without converging the operator raises
    instead of returning a wrong answer.

    Per-round lineage truncation goes through ``materialize``: the
    session's checkpoint dir decides between RELIABLE checkpoints
    (a dir is configured: survives executor loss, required on a real
    cluster) and executor-local ones (no dir: fine for single-JVM
    runs, lost on executor death).  The checkpoints are tracked, so
    the caller frees them with ``release_tracked_caches()`` after
    its last action on the result.
    """
    # Materialize the raw edge list BEFORE symmetrizing: the
    # union's two branches are separate copies of the ``edges``
    # plan and Spark performs no cross-branch common-subtree
    # elimination, so an expensive upstream edge derivation (a
    # shingle-verify join, a banded LSH pipeline) would execute
    # twice inside the symmetrize job. One narrow persist makes
    # it run exactly once.
    raw = materialize(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    )
    sym = materialize(
        raw.union(raw.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
    )
    labels = (
        sym.select(F.col("a").alias("id")).distinct().withColumn("comp", F.col("id"))
    )
    for rnd in range(max_iter):
        neighbor_labels = (
            sym.join(labels, sym.b == labels.id)
            .select(F.col("a").alias("id"), F.col("comp"))
        )
        # the round's one aggregation carries BOTH the new label
        # (min over self + neighbors) and the previous label (the
        # self row is tagged), so convergence below is a narrow
        # scan of this already-materialized relation — not the
        # extra shuffle join per round it used to be (each avoided
        # job also saves a scheduler round-trip on a real cluster)
        stepped = (
            labels.withColumn("is_self", F.lit(True))
            .unionByName(neighbor_labels.withColumn("is_self", F.lit(False)))
            .groupBy("id")
            .agg(
                F.min("comp").alias("comp"),
                F.min(F.when(F.col("is_self"), F.col("comp"))).alias("old_comp"),
            )
        )
        if rnd >= _JUMP_AFTER:
            # pointer jump: every label value is itself a vertex
            # id (labels start as ids and min() only ever selects
            # an existing label), so chase one level — comp <-
            # comp's comp — which halves the label-tree height and
            # makes the remaining round count logarithmic in graph
            # diameter.  Left join + coalesce keeps the row even
            # if a label's vertex were somehow absent (defensive;
            # inner would drop the vertex).  Skipped for the first
            # _JUMP_AFTER rounds — see the docstring.
            #
            # stepped is materialized BEFORE the self-join: the
            # join's two inputs are the same union+groupBy
            # subtree, and without persistence Spark executes the
            # round's dominant shuffle/aggregation twice per jump
            # round (AQE exchange reuse is an optimization, not a
            # guarantee).
            stepped = materialize(stepped)
            hop = stepped.select(
                F.col("id").alias("jid"), F.col("comp").alias("jcomp")
            )
            stepped = stepped.join(hop, stepped.comp == hop.jid, "left").select(
                "id",
                F.least(
                    F.col("comp"), F.coalesce("jcomp", F.col("comp"))
                ).alias("comp"),
                "old_comp",
            )
        # lazy: the convergence count below is the round's single
        # next action — it materializes the checkpoint and checks
        # convergence in ONE job instead of two.  The count must
        # be UNBOUNDED: a limit(1) count executes incrementally
        # (first partition, then more), leaving the partitions it
        # never touched uncached — and every later round would
        # recompute them through the whole lazy-checkpoint chain
        # (measured: 2.1 s -> 11.5 s before this guard).
        new_labels = materialize(stepped, eager=False)
        changed = (
            new_labels.filter(F.col("comp") != F.col("old_comp")).count()
        )
        labels = new_labels.select("id", "comp")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge within {max_iter} "
            "rounds — raise max_iter (rounds past the first "
            f"{_JUMP_AFTER} double the distance labels travel, so the "
            "default budget covers diameter ~2^16)"
        )
    return labels


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components via alternating large-star/small-star
    rounds (Kiveris et al., SoCC'14): returns (id, comp) with
    comp = min vertex id in the component, for every vertex appearing
    in ``edges`` (self-loop-only vertices included, comp = id).

    Each round halves-or-better the tree height, so convergence is
    O(log n) rounds regardless of graph diameter — use this over
    ``connected_components`` when components can be long chains.
    Round shape: large-star = one symmetrize + groupBy(min) + join;
    small-star = one groupBy(min) + join; both shuffle on vertex id
    only, candidate sets bounded by vertex degree.

    Vertex ids must be orderable (the component id is the min);
    checkpointing and release match ``connected_components``.
    """
    # Materialize the raw edge list ONCE before deriving verts and
    # the canonical edge set: ``verts``'s union references the
    # ``edges`` plan in two branches and ``e`` in a third, and
    # Spark performs no cross-branch common-subtree elimination —
    # an expensive upstream edge derivation (the banded MinHash
    # pipeline) would execute three times. One narrow persist
    # makes it run exactly once; verts then derives from the
    # checkpointed rows, so it no longer needs its own persist.
    raw = materialize(
        edges.select(F.col(src).alias("x"), F.col(dst).alias("y"))
    )
    verts = (
        raw.select(F.col("x").alias("id"))
        .union(raw.select(F.col("y").alias("id")))
        .distinct()
    )
    # canonical undirected edge list (u > v), self-loops dropped
    e = materialize(
        raw.filter(F.col("x") != F.col("y"))
        .select(
            F.greatest("x", "y").alias("u"), F.least("x", "y").alias("v")
        )
        .distinct()
    )
    from pyspark.sql import Window as W

    w_u = W.partitionBy("u")
    cnt_e = -1  # unknown until a round counts it; forces round 1 on
    for _ in range(max_iter):
        # large-star: every neighbor w > n links to min(N(n) ∪ {n}).
        # The per-key min is a WINDOW over the same key the old
        # groupBy+join pair shuffled on: one exchange of sym per
        # half-round instead of two (the groupBy's partial-agg
        # subtree differs from the join input's, so AQE could not
        # reuse that exchange — guide §2.4 "two operations keyed
        # the same way can share one exchange").
        sym = e.select("u", "v").union(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        large = (
            sym.withColumn(
                "m", F.least(F.min("v").over(w_u), F.col("u"))
            )
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: every neighbor w <= n links to min(N≤(n) ∪ {n})
        # (canon rows have u > v, so min(v) over u is already the
        # min over the closed neighborhood)
        canon = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        joined = canon.withColumn("m", F.min("v").over(w_u))
        small = (
            joined.select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(joined.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .select(
                F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
            )
            .distinct()
        )
        # lazy: the count below materializes the round's checkpoint
        # and reads the convergence cardinality in ONE job
        new_e = materialize(small, eager=False)
        # Convergence: both relations are DISTINCT canonical edge
        # sets, so |new_e| == |e| with new_e \ e == empty implies
        # equality. Counts are remembered round-over-round (no
        # recount of e), and the exceptAll shuffle only runs on
        # count-stable rounds — during the shrinking phase (most
        # rounds) convergence costs one cheap count job, not two
        # set-difference shuffles.
        cnt_new = new_e.count()
        if cnt_new == cnt_e and new_e.exceptAll(e).limit(1).count() == 0:
            e = new_e
            break
        cnt_e, e = cnt_new, new_e
    else:
        # same contract as connected_components: never return a
        # partial labeling silently (r12 bigclique lesson)
        raise RuntimeError(
            f"connected_components_star did not converge within "
            f"{max_iter} rounds — raise max_iter"
        )
    # fixpoint: e is a union of stars (node -> component min)
    labels = e.groupBy(F.col("u").alias("id")).agg(F.min("v").alias("comp"))
    return (
        verts.join(labels, "id", "left")
        .select("id", F.coalesce("comp", F.col("id")).alias("comp"))
    )


_PR_SCALE = 1_000_000_000_000  # 1e12 fixed-point rank units
_PR_TELEPORT = _PR_SCALE * 15 // 100


def pagerank_fixed(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    weight: str | None = None,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank with damping 0.85 over a directed
    edge list, ranks in 1e12 fixed-point BIGINTs.

    Every step is integer arithmetic (contribution ``rank div
    out_degree``, damping ``(85*sum) div 100``, teleport
    ``(0.15*SCALE) div N``), so results are bit-reproducible across
    runs, partitionings, and engines — no float summation order
    anywhere. Assumes every node has out-degree >= 1 (true for
    undirected graphs fed as both directions); dangling-node mass is
    not redistributed.

    ``weight``: optional INTEGER edge-weight column; a node then
    splits its rank proportionally — contribution is
    ``(rank * w) div strength(u)``, still pure integer arithmetic
    (uniform weights reduce exactly to the unweighted form:
    floor(r*w / (k*w)) == floor(r/k)).

    ``seeds``: optional one-column (``node``) DataFrame switching to
    PERSONALIZED PageRank: the teleport mass lands only on the seed
    set (``TELEPORT div n_seeds`` each, 0 elsewhere) and the initial
    rank vector is the personalization vector (``SCALE div n_seeds``
    on seeds, 0 elsewhere) — the random surfer restarts at the seeds,
    so ranks measure proximity to them. Same integer exactness.

    Scale shape: per iteration, one shuffle of the node-sized rank
    table on the join key + one sum-agg on ``dst`` — the classic
    Pregel step as DataFrames. The edge list is referenced by every
    iteration, so its lineage is truncated ONCE up front (otherwise
    an expensive upstream edge derivation — e.g. a shingle join —
    re-executes per reference); rank lineage is truncated per
    iteration exactly like ``connected_components`` rounds, with the
    same reliable-vs-local checkpoint choice. The seed flag rides the
    node-keyed rank table (one extra tiny column), so personalization
    adds no extra shuffle. Returns ``(node, d, r)`` — out-degree
    (strength when weighted) and final fixed-point rank.

    Return-value contract: the session's checkpoint dir
    decides between reliable and local checkpoints.  With a dir
    configured every checkpoint is reliable and eager.  Without one,
    the returned DataFrame's lineage ends in the last iteration's
    LAZY local checkpoint, which is only guaranteed to materialize
    once when a single action consumes it before any multi-branch
    reuse.  All in-repo callers consume it exactly once (or
    re-persist it themselves); a new caller that fans the result into
    several branches of one job should persist it first
    (``tracked_cache`` + an action, or ``materialize``) — otherwise
    concurrent branches can race the lazy checkpoint into re-running
    the final iteration (a recompute, not a wrong answer: every step
    is deterministic integer arithmetic).  Either way the result
    reads tracked checkpoints: consume it before
    ``release_tracked_caches()``.
    """
    cols = [F.col(src).alias("src"), F.col(dst).alias("dst")]
    cols.append(
        F.col(weight).cast("long").alias("w") if weight is not None
        else F.lit(1).cast("long").alias("w")
    )
    e = materialize(edges.select(*cols))
    deg = e.groupBy(F.col("src").alias("node")).agg(
        F.sum("w").alias("d")
    )
    if seeds is None:
        nn = deg.agg(F.count(F.lit(1)).alias("n"))
        # base: per-node constant teleport t and initial rank r
        base = materialize(
            deg.crossJoin(F.broadcast(nn)).select(
                "node", "d",
                F.expr(f"CAST({_PR_TELEPORT} AS BIGINT) div n").alias("t"),
                F.expr(f"CAST({_PR_SCALE} AS BIGINT) div n").alias("r0"),
            )
        )
    else:
        sd = seeds.select(F.col(seeds.columns[0]).alias("node")).distinct()
        # teleport mass divides over seeds IN THE GRAPH only: a
        # seed with no edges can neither hold nor spread rank, so
        # counting it would silently leak (TELEPORT div n_all)
        # of mass per absent seed. Empty intersection is an error,
        # not an all-zero result.
        n_in_graph = sd.join(deg, "node", "left_semi").count()
        if n_in_graph == 0:
            raise ValueError(
                "personalized PageRank: no seed appears in the edge "
                "list — every rank would be 0/NULL; pass seeds that "
                "exist in the graph"
            )
        ns = sd.join(deg, "node", "left_semi").agg(
            F.count(F.lit(1)).alias("n")
        )
        flagged = deg.join(
            sd.withColumn("__seed", F.lit(1)), "node", "left"
        )
        base = materialize(
            flagged.crossJoin(F.broadcast(ns)).select(
                "node", "d",
                F.expr(
                    f"CASE WHEN __seed = 1 THEN CAST({_PR_TELEPORT} AS BIGINT) div n "
                    "ELSE CAST(0 AS BIGINT) END"
                ).alias("t"),
                F.expr(
                    f"CASE WHEN __seed = 1 THEN CAST({_PR_SCALE} AS BIGINT) div n "
                    "ELSE CAST(0 AS BIGINT) END"
                ).alias("r0"),
            )
        )
    ranks = base.select("node", "d", F.col("r0").alias("r"))
    for i in range(iterations):
        contrib = e.join(ranks, e.src == ranks.node).select(
            F.col("dst").alias("node"), F.expr("(r * w) div d").alias("c"),
            F.lit(None).cast("long").alias("d"),
            F.lit(None).cast("long").alias("t"),
        )
        # base rides the SAME groupBy exchange as the contribution
        # sum instead of a separate join: the old
        # ``sums.join(base, "node")`` sort-merge re-sorted both
        # node-keyed sides per iteration (guide §2.4 — share the
        # exchange two same-keyed operations need).  Both ``node``
        # key sets are unique, so inner-join semantics are exactly
        # "present on both sides": rows missing a contribution
        # (s IS NULL) or missing from base (d IS NULL) are dropped
        # just as the join dropped them — bit-identical output, and
        # the integer arithmetic is unchanged.
        merged = contrib.unionByName(
            base.select(
                "node",
                F.lit(None).cast("long").alias("c"),
                "d", "t",
            )
        )
        ranks = (
            merged.groupBy("node")
            .agg(
                F.sum("c").alias("s"),
                F.max("d").alias("d"),
                F.max("t").alias("t"),
            )
            .filter(F.col("s").isNotNull() & F.col("d").isNotNull())
            .select(
                "node", "d",
                F.expr("t + (85 * s) div 100").alias("r"),
            )
        )
        if i < iterations - 1:
            # lazy: each iteration's rank table has exactly ONE
            # consumer (the next iteration's contribution join),
            # so the checkpoint can materialize inside that job —
            # the logical plan still truncates at the call, the
            # per-iteration materialization job disappears
            ranks = materialize(ranks, eager=False)
    return ranks
