"""Graph analytics over the document near-dup graph: fixed-iteration
PageRank centrality.

Connected components (dedup.py / operators/graph.py) answers "which
docs form one dup cluster"; PageRank answers "which docs are the
HUBS of near-duplication" — the canonical pick-one-survivor signal
(keep the most central copy, drop satellites) and a second
demonstration of iterative graph compute on Spark beyond label
propagation.

Cross-engine exactness: ranks live in BIGINT fixed-point (scale
1e12). Every step is integer arithmetic — contribution is
``rank div degree`` (truncating division, identical in Spark ``div``
and DuckDB ``//`` for non-negative values), damping is
``(85 * sum) div 100``, teleport is ``(SCALE*15/100) div N`` — so
three chained iterations produce bit-identical BIGINTs in both
engines with no float in sight.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from wire_spark.catalog import register
from wire_spark.queries.dedup import _SHINGLES_CTE, _jaccard_pairs
from wire_spark.queries._util import materialize, tracked_cache

_SCALE = 1_000_000_000_000  # 1e12 fixed-point rank units
_TELEPORT = _SCALE * 15 // 100  # exact: 150_000_000_000

_PAGERANK_ORACLE = _SHINGLES_CTE + f"""
, inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT d1, d2 FROM inter
  JOIN sizes s1 ON d1 = s1.doc_id
  JOIN sizes s2 ON d2 = s2.doc_id
  WHERE i * 1.0 / (s1.n + s2.n - i) >= 0.8
), ed AS (
  SELECT d1 AS a, d2 AS b FROM pairs
  UNION ALL
  SELECT d2, d1 FROM pairs
), deg AS (
  SELECT a AS node, count(*) AS d FROM ed GROUP BY 1
), nn AS (SELECT count(*) AS n FROM deg),
r0 AS (
  SELECT node, d, CAST({_SCALE} AS BIGINT) // nn.n AS r FROM deg, nn
),
i1 AS (
  SELECT e.b AS node,
         CAST({_TELEPORT} AS BIGINT) // nn.n
           + (85 * sum(p.r // p.d)) // 100 AS r
  FROM ed e JOIN r0 p ON e.a = p.node, nn
  GROUP BY e.b, nn.n
), i1d AS (
  SELECT i1.node, deg.d, i1.r FROM i1 JOIN deg ON i1.node = deg.node
),
i2 AS (
  SELECT e.b AS node,
         CAST({_TELEPORT} AS BIGINT) // nn.n
           + (85 * sum(p.r // p.d)) // 100 AS r
  FROM ed e JOIN i1d p ON e.a = p.node, nn
  GROUP BY e.b, nn.n
), i2d AS (
  SELECT i2.node, deg.d, i2.r FROM i2 JOIN deg ON i2.node = deg.node
),
i3 AS (
  SELECT e.b AS node,
         CAST({_TELEPORT} AS BIGINT) // nn.n
           + (85 * sum(p.r // p.d)) // 100 AS r
  FROM ed e JOIN i2d p ON e.a = p.node, nn
  GROUP BY e.b, nn.n
)
SELECT i3.node AS doc_id, deg.d AS degree, CAST(i3.r AS BIGINT) AS pr_fixed
FROM i3 JOIN deg ON i3.node = deg.node
ORDER BY pr_fixed DESC, doc_id
LIMIT 50
"""


@register("graph_pagerank_neardup", oracle=_PAGERANK_ORACLE, bench=True,
          doc="3-iteration integer-exact PageRank over the >=0.8 "
              "Jaccard near-dup graph: 50 most central documents")
def graph_pagerank_neardup(spark, sf_dir):
    """PageRank (damping 0.85, 3 fixed iterations) over the
    undirected near-dup graph, ranks in 1e12 fixed-point BIGINTs so
    the oracle matches bit-for-bit.

    Scale shape: edge building is the capped-Jaccard join (cost
    bounded by the stop-shingle cap — see ``_jaccard_pairs``; at
    100 TB swap in the LSH edge set exactly as
    ``dedup_components_lsh`` does, the iteration code is edge-source
    agnostic). Each iteration is one shuffle on the node key of a
    node-sized rank table joined to the edge list — the classic
    Pregel-as-DataFrame step; 3 iterations = 3 bounded shuffles,
    never a corpus-sized pass. Every node of the undirected graph
    has degree >= 1, so there are no dangling-mass corrections to
    fold in."""
    from wire_spark.operators.graph import pagerank_fixed

    pairs = _jaccard_pairs(spark, sf_dir, 0.8).select("d1", "d2")
    edges = pairs.union(
        pairs.select(F.col("d2").alias("d1"), F.col("d1").alias("d2"))
    ).select(F.col("d1").alias("src"), F.col("d2").alias("dst"))
    ranks = pagerank_fixed(edges, iterations=3)
    return (
        ranks.select(
            F.col("node").alias("doc_id"),
            F.col("d").alias("degree"),
            F.col("r").alias("pr_fixed"),
        )
        .orderBy(F.desc("pr_fixed"), "doc_id")
        .limit(50)
    )


# --------------------------------------------------------------------
# weighted PageRank: edges carry the Jaccard similarity as weight
# --------------------------------------------------------------------

_PAGERANK_W_ORACLE = _SHINGLES_CTE + f"""
, inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT d1, d2, (i * 10000) // (s1.n + s2.n - i) AS w FROM inter
  JOIN sizes s1 ON d1 = s1.doc_id
  JOIN sizes s2 ON d2 = s2.doc_id
  WHERE i * 1.0 / (s1.n + s2.n - i) >= 0.8
), ed AS (
  SELECT d1 AS a, d2 AS b, w FROM pairs
  UNION ALL
  SELECT d2, d1, w FROM pairs
), deg AS (
  SELECT a AS node, CAST(sum(w) AS BIGINT) AS d FROM ed GROUP BY 1
), nn AS (SELECT count(*) AS n FROM deg),
r0 AS (
  SELECT node, d, CAST({_SCALE} AS BIGINT) // nn.n AS r FROM deg, nn
),
i1 AS (
  SELECT e.b AS node,
         CAST({_TELEPORT} AS BIGINT) // nn.n
           + (85 * sum((p.r * e.w) // p.d)) // 100 AS r
  FROM ed e JOIN r0 p ON e.a = p.node, nn
  GROUP BY e.b, nn.n
), i1d AS (
  SELECT i1.node, deg.d, i1.r FROM i1 JOIN deg ON i1.node = deg.node
),
i2 AS (
  SELECT e.b AS node,
         CAST({_TELEPORT} AS BIGINT) // nn.n
           + (85 * sum((p.r * e.w) // p.d)) // 100 AS r
  FROM ed e JOIN i1d p ON e.a = p.node, nn
  GROUP BY e.b, nn.n
), i2d AS (
  SELECT i2.node, deg.d, i2.r FROM i2 JOIN deg ON i2.node = deg.node
),
i3 AS (
  SELECT e.b AS node,
         CAST({_TELEPORT} AS BIGINT) // nn.n
           + (85 * sum((p.r * e.w) // p.d)) // 100 AS r
  FROM ed e JOIN i2d p ON e.a = p.node, nn
  GROUP BY e.b, nn.n
)
SELECT i3.node AS doc_id, deg.d AS strength, CAST(i3.r AS BIGINT) AS pr_fixed
FROM i3 JOIN deg ON i3.node = deg.node
ORDER BY pr_fixed DESC, doc_id
LIMIT 50
"""


@register("graph_pagerank_weighted", oracle=_PAGERANK_W_ORACLE, bench=True,
          doc="similarity-weighted integer-exact PageRank over the "
              "near-dup graph: rank splits proportional to Jaccard "
              "fixed-point edge weights")
def graph_pagerank_weighted(spark, sf_dir):
    """Weighted PageRank: each edge carries the pair's Jaccard
    similarity as a 1e4 fixed-point integer weight, so a document
    spreads its rank in proportion to HOW similar each neighbor is
    (a 0.95 near-identical copy pulls more centrality than a 0.80
    borderline one) — the survivor-selection signal weighted by
    evidence strength.

    Integer exactness extends to the weights: w = (i*10000) div
    union-size is computed in the integer domain on both engines
    (never by re-scaling the truncated float ratio), strength =
    sum(w), contribution = (r*w) div strength — all BIGINT, so the
    three iterations stay bit-identical cross-engine.

    Scale shape: identical to ``graph_pagerank_neardup`` (same edge
    generator, same per-iteration node-keyed shuffle); the weight is
    one extra BIGINT column on the edge list. Reference parity: the
    reference has no graph tier at all (SURVEY §2.6) — this extends
    the engine along the LLM-pipeline axis."""
    from wire_spark.operators.graph import pagerank_fixed

    # cached: the self-union's two branches project differently, so
    # without the cache the shingle join can materialize twice
    pairs = tracked_cache(
        _jaccard_pairs(spark, sf_dir, 0.8, with_weight=True)
        .select("d1", "d2", "w1e4")
    )
    edges = pairs.union(
        pairs.select(F.col("d2").alias("d1"), F.col("d1").alias("d2"), "w1e4")
    ).select(F.col("d1").alias("src"), F.col("d2").alias("dst"),
             F.col("w1e4").alias("w"))
    ranks = pagerank_fixed(edges, iterations=3, weight="w")
    return (
        ranks.select(
            F.col("node").alias("doc_id"),
            F.col("d").alias("strength"),
            F.col("r").alias("pr_fixed"),
        )
        .orderBy(F.desc("pr_fixed"), "doc_id")
        .limit(50)
    )


# --------------------------------------------------------------------
# personalized PageRank: teleport restarts at a seed set
# --------------------------------------------------------------------

_PAGERANK_P_ORACLE = _SHINGLES_CTE + f"""
, inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT d1, d2 FROM inter
  JOIN sizes s1 ON d1 = s1.doc_id
  JOIN sizes s2 ON d2 = s2.doc_id
  WHERE i * 1.0 / (s1.n + s2.n - i) >= 0.8
), ed AS (
  SELECT d1 AS a, d2 AS b FROM pairs
  UNION ALL
  SELECT d2, d1 FROM pairs
), deg AS (
  SELECT a AS node, count(*) AS d FROM ed GROUP BY 1
), ns AS (SELECT count(*) AS n FROM deg WHERE node % 17 = 0),
base AS (
  SELECT node, d,
         CASE WHEN node % 17 = 0 THEN CAST({_TELEPORT} AS BIGINT) // ns.n
              ELSE CAST(0 AS BIGINT) END AS t,
         CASE WHEN node % 17 = 0 THEN CAST({_SCALE} AS BIGINT) // ns.n
              ELSE CAST(0 AS BIGINT) END AS r
  FROM deg, ns
),
i1 AS (
  SELECT e.b AS node, sum(p.r // p.d) AS s
  FROM ed e JOIN base p ON e.a = p.node GROUP BY e.b
), i1d AS (
  SELECT b.node, b.d, b.t, b.t + (85 * i1.s) // 100 AS r
  FROM i1 JOIN base b ON i1.node = b.node
),
i2 AS (
  SELECT e.b AS node, sum(p.r // p.d) AS s
  FROM ed e JOIN i1d p ON e.a = p.node GROUP BY e.b
), i2d AS (
  SELECT b.node, b.d, b.t, b.t + (85 * i2.s) // 100 AS r
  FROM i2 JOIN base b ON i2.node = b.node
),
i3 AS (
  SELECT e.b AS node, sum(p.r // p.d) AS s
  FROM ed e JOIN i2d p ON e.a = p.node GROUP BY e.b
), i3d AS (
  SELECT b.node, b.d, b.t + (85 * i3.s) // 100 AS r
  FROM i3 JOIN base b ON i3.node = b.node
)
SELECT node AS doc_id, d AS degree, CAST(r AS BIGINT) AS ppr_fixed,
       node % 17 = 0 AS is_seed
FROM i3d
ORDER BY ppr_fixed DESC, doc_id
LIMIT 50
"""


@register("graph_pagerank_personalized", oracle=_PAGERANK_P_ORACLE, bench=True,
          doc="personalized (seed-restart) integer-exact PageRank: "
              "proximity of every near-dup-graph document to the "
              "doc_id%17=0 seed set")
def graph_pagerank_personalized(spark, sf_dir):
    """Personalized PageRank: the random surfer restarts only at the
    deterministic seed set (doc_id % 17 = 0 among graph nodes), so
    ranks measure each document's graph proximity TO those seeds —
    the "find everything near this known-bad cluster" primitive
    (contamination spread, takedown propagation, dup-cluster audit
    from a confirmed exemplar).

    Integer exactness: the seed flag only changes the per-node
    teleport/initial-rank constants (TELEPORT div n_seeds on seeds,
    0 elsewhere); every iteration step stays BIGINT-exact, so the
    oracle's unrolled three iterations match bit-for-bit.

    Scale shape: identical per-iteration cost to the global variant —
    the personalization rides the node-keyed rank table as one extra
    constant column (operators/graph.py::pagerank_fixed seeds=);
    no additional shuffle. Zero-rank nodes still emit zero
    contributions rather than being pruned, keeping the output shape
    oracle-checkable; a production run chasing only the reachable
    frontier would add ``filter(r > 0)`` before the edge join."""
    from wire_spark.operators.graph import pagerank_fixed

    # cached: both the edge list handed to pagerank AND the seed set
    # derive from the pair relation — without the cache the expensive
    # shingle join would execute twice (once per consumer)
    pairs = tracked_cache(
        _jaccard_pairs(spark, sf_dir, 0.8).select("d1", "d2"))
    edges = pairs.union(
        pairs.select(F.col("d2").alias("d1"), F.col("d1").alias("d2"))
    ).select(F.col("d1").alias("src"), F.col("d2").alias("dst"))
    seeds = edges.select(F.col("src").alias("node")).distinct().filter(
        F.col("node") % 17 == 0
    )
    ranks = pagerank_fixed(edges, iterations=3, seeds=seeds)
    return (
        ranks.select(
            F.col("node").alias("doc_id"),
            F.col("d").alias("degree"),
            F.col("r").alias("ppr_fixed"),
            (F.col("node") % 17 == 0).alias("is_seed"),
        )
        .orderBy(F.desc("ppr_fixed"), "doc_id")
        .limit(50)
    )


# --------------------------------------------------------------------
# triangle count + local clustering coefficient
# --------------------------------------------------------------------

_TRIANGLE_ORACLE = _SHINGLES_CTE + """
, inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT d1, d2 FROM inter
  JOIN sizes s1 ON d1 = s1.doc_id
  JOIN sizes s2 ON d2 = s2.doc_id
  WHERE i * 1.0 / (s1.n + s2.n - i) >= 0.8
), ed AS (
  SELECT d1 AS a, d2 AS b FROM pairs
  UNION ALL
  SELECT d2, d1 FROM pairs
), deg AS (
  SELECT a AS node, count(*) AS d FROM ed GROUP BY 1
), tri AS (
  SELECT e1.d1 AS x, e1.d2 AS y, e2.d2 AS z
  FROM pairs e1
  JOIN pairs e2 ON e2.d1 = e1.d1 AND e2.d2 > e1.d2
  JOIN pairs e3 ON e3.d1 = e1.d2 AND e3.d2 = e2.d2
), tcnt AS (
  SELECT node, CAST(count(*) AS BIGINT) AS t
  FROM (
    SELECT x AS node FROM tri
    UNION ALL SELECT y FROM tri
    UNION ALL SELECT z FROM tri
  )
  GROUP BY node
)
SELECT deg.node AS doc_id, deg.d AS degree,
       coalesce(tcnt.t, CAST(0 AS BIGINT)) AS n_triangles,
       CASE WHEN deg.d >= 2
            THEN (2 * coalesce(tcnt.t, CAST(0 AS BIGINT)) * 10000)
                   // (deg.d * (deg.d - 1))
            ELSE CAST(0 AS BIGINT) END AS lcc_1e4
FROM deg LEFT JOIN tcnt ON deg.node = tcnt.node
ORDER BY doc_id
"""


@register("graph_triangle_count", oracle=_TRIANGLE_ORACLE, bench=True,
          doc="degree-oriented triangle count + local clustering "
              "coefficient over the near-dup graph")
def graph_triangle_count(spark, sf_dir):
    """Per-node triangle count and local clustering coefficient over
    the >=0.8 Jaccard near-dup graph. High-LCC nodes sit inside tight
    dup cliques (template families); low-LCC high-degree nodes are
    hubs bridging otherwise-unrelated near-dups — the two populations
    need different curation treatment (drop the clique satellites,
    inspect the bridges).

    Scale shape: the classic degree-orientation trick — every edge is
    oriented from its lower-(degree, id) endpoint, wedges are
    enumerated only at the tail, and the closing edge is one hash
    join. Wedge count is sum(out-degree^2) with out-degree bounded by
    O(sqrt(|E|)) on any graph, so a viral million-member dup cluster
    costs |E|^1.5, never degree^2 at the hub. The oracle enumerates
    the same triangle set via id-ordering (x<y<z); orientation
    changes the enumeration order only, not the set. LCC is exact
    integer fixed-point: (2*t*10000) div (d*(d-1)).
    """
    # eagerly materialized: FOUR consumers (degree, orientation join x2,
    # closing-edge probe) fan out from this relation, and a lazy cache
    # races — concurrent branches of the same job can each recompute
    # the expensive shingle join before the cache is populated
    pairs = materialize(_jaccard_pairs(spark, sf_dir, 0.8).select("d1", "d2"))
    ed = pairs.union(pairs.select(F.col("d2").alias("d1"),
                                  F.col("d1").alias("d2")))
    deg = ed.groupBy(F.col("d1").alias("node")).agg(
        F.count(F.lit(1)).alias("d"))
    p = (
        pairs
        .join(deg.select(F.col("node").alias("d1"), F.col("d").alias("deg1")), "d1")
        .join(deg.select(F.col("node").alias("d2"), F.col("d").alias("deg2")), "d2")
    )
    fwd = (F.col("deg1") < F.col("deg2")) | (
        (F.col("deg1") == F.col("deg2")) & (F.col("d1") < F.col("d2")))
    # node-sized; wedge join reads it twice
    oriented = materialize(p.select(
        F.when(fwd, F.col("d1")).otherwise(F.col("d2")).alias("src"),
        F.when(fwd, F.col("d2")).otherwise(F.col("d1")).alias("dst"),
        # carry the head's orientation key so the wedge join can order
        # its two heads without re-joining degrees
        F.when(fwd, F.col("deg2")).otherwise(F.col("deg1")).alias("ddst"),
    ))
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    wedges = e1.join(
        e2,
        (F.col("e1.src") == F.col("e2.src"))
        & ((F.col("e1.ddst") < F.col("e2.ddst"))
           | ((F.col("e1.ddst") == F.col("e2.ddst"))
              & (F.col("e1.dst") < F.col("e2.dst")))),
    ).select(
        F.col("e1.src").alias("x"),
        F.col("e1.dst").alias("v"),
        F.col("e2.dst").alias("w"),
    )
    closing = oriented.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    tri = wedges.join(closing, ["v", "w"])
    nodes = (
        tri.select(F.col("x").alias("node"))
        .union(tri.select(F.col("v").alias("node")))
        .union(tri.select(F.col("w").alias("node")))
    )
    tcnt = nodes.groupBy("node").agg(F.count(F.lit(1)).alias("t"))
    return (
        deg.join(tcnt, "node", "left")
        .select(
            F.col("node").alias("doc_id"),
            F.col("d").alias("degree"),
            F.coalesce(F.col("t"), F.lit(0).cast("long")).alias("n_triangles"),
        )
        .withColumn(
            "lcc_1e4",
            F.expr("CASE WHEN degree >= 2 THEN (2 * n_triangles * 10000) "
                   "div (degree * (degree - 1)) ELSE CAST(0 AS BIGINT) END"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------
# centrality-based survivor selection: components x PageRank
# --------------------------------------------------------------------

_SURVIVOR_CENTRAL_ORACLE = (_SHINGLES_CTE + f"""
, inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT d1, d2 FROM inter
  JOIN sizes s1 ON d1 = s1.doc_id
  JOIN sizes s2 ON d2 = s2.doc_id
  WHERE i * 1.0 / (s1.n + s2.n - i) >= 0.8
), edc AS (
  SELECT d1 AS a, d2 AS b FROM pairs
  UNION SELECT d2, d1 FROM pairs
  UNION SELECT d1, d1 FROM pairs
  UNION SELECT d2, d2 FROM pairs
), reach AS (
  SELECT a, b FROM edc
  UNION
  SELECT r.a, e.b FROM reach r JOIN edc e ON r.b = e.a
), comp AS (
  SELECT a AS doc_id, min(b) AS component_id FROM reach GROUP BY a
), ed AS (
  SELECT d1 AS a, d2 AS b FROM pairs
  UNION ALL
  SELECT d2, d1 FROM pairs
), deg AS (
  SELECT a AS node, count(*) AS d FROM ed GROUP BY 1
), nn AS (SELECT count(*) AS n FROM deg),
r0 AS (
  SELECT node, d, CAST({_SCALE} AS BIGINT) // nn.n AS r FROM deg, nn
),
i1 AS (
  SELECT e.b AS node,
         CAST({_TELEPORT} AS BIGINT) // nn.n
           + (85 * sum(p.r // p.d)) // 100 AS r
  FROM ed e JOIN r0 p ON e.a = p.node, nn
  GROUP BY e.b, nn.n
), i1d AS (
  SELECT i1.node, deg.d, i1.r FROM i1 JOIN deg ON i1.node = deg.node
),
i2 AS (
  SELECT e.b AS node,
         CAST({_TELEPORT} AS BIGINT) // nn.n
           + (85 * sum(p.r // p.d)) // 100 AS r
  FROM ed e JOIN i1d p ON e.a = p.node, nn
  GROUP BY e.b, nn.n
), i2d AS (
  SELECT i2.node, deg.d, i2.r FROM i2 JOIN deg ON i2.node = deg.node
),
i3 AS (
  SELECT e.b AS node,
         CAST({_TELEPORT} AS BIGINT) // nn.n
           + (85 * sum(p.r // p.d)) // 100 AS r
  FROM ed e JOIN i2d p ON e.a = p.node, nn
  GROUP BY e.b, nn.n
), ranked AS (
  SELECT comp.component_id, comp.doc_id, i3.r,
         row_number() OVER (PARTITION BY comp.component_id
                            ORDER BY i3.r DESC, comp.doc_id) AS rn,
         count(*) OVER (PARTITION BY comp.component_id) AS n_members
  FROM comp JOIN i3 ON comp.doc_id = i3.node
)
SELECT component_id, doc_id AS survivor_doc_id, n_members,
       CAST(r AS BIGINT) AS survivor_pr
FROM ranked WHERE rn = 1
ORDER BY component_id
""").replace("WITH w AS", "WITH RECURSIVE w AS", 1)


@register("dedup_survivors_central", oracle=_SURVIVOR_CENTRAL_ORACLE,
          bench=True,
          doc="centrality-based survivor selection: per near-dup "
              "cluster, keep the highest-PageRank member")
def dedup_survivors_central(spark, sf_dir):
    """The full survivor-selection pipeline composed end-to-end:
    near-dup edges -> transitive clusters (min-label propagation) ->
    PageRank centrality -> per-cluster survivor = the most central
    member (tiebreak min doc_id). "Keep the hub copy" beats "keep
    min id" when satellites are partial or decayed copies: the hub
    is the version everything else resembles most.

    Both iterative operators consume the SAME cached edge relation —
    the expensive Jaccard edge generation runs once, clustering and
    ranking reuse it (lineage-truncated inside each operator). Final
    assembly is one node-keyed join plus a per-component
    WindowGroupLimit — all shuffles stay node-sized. At 100 TB the
    edge source swaps to the LSH generator exactly as
    ``dedup_components_lsh`` does; everything downstream is
    unchanged."""
    from wire_spark.operators.graph import connected_components, pagerank_fixed
    from pyspark.sql import Window as W

    pairs = tracked_cache(
        _jaccard_pairs(spark, sf_dir, 0.8).select("d1", "d2"))
    comps = connected_components(pairs, src="d1", dst="d2")
    edges = pairs.union(
        pairs.select(F.col("d2").alias("d1"), F.col("d1").alias("d2"))
    ).select(F.col("d1").alias("src"), F.col("d2").alias("dst"))
    ranks = pagerank_fixed(edges, iterations=3)
    joined = comps.join(ranks, comps.id == ranks.node).select(
        F.col("comp").alias("component_id"),
        F.col("id").alias("doc_id"),
        F.col("r"),
    )
    w = W.partitionBy("component_id")
    ranked = joined.select(
        "component_id", "doc_id", "r",
        F.row_number().over(
            w.orderBy(F.desc("r"), F.asc("doc_id"))
        ).alias("rn"),
        F.count(F.lit(1)).over(w).alias("n_members"),
    )
    return (
        ranked.filter(F.col("rn") == 1)
        .select(
            "component_id",
            F.col("doc_id").alias("survivor_doc_id"),
            "n_members",
            F.col("r").alias("survivor_pr"),
        )
        .orderBy("component_id")
    )


# --------------------------------------------------------------------
# k-core peeling: 3 rounds of degree-2 deletion
# --------------------------------------------------------------------

_KCORE_ORACLE = _SHINGLES_CTE + """
, inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT d1, d2 FROM inter
  JOIN sizes s1 ON d1 = s1.doc_id
  JOIN sizes s2 ON d2 = s2.doc_id
  WHERE i * 1.0 / (s1.n + s2.n - i) >= 0.8
), e0 AS (
  SELECT d1 AS a, d2 AS b FROM pairs
  UNION ALL
  SELECT d2, d1 FROM pairs
), dg0 AS (SELECT a AS node, count(*) AS d FROM e0 GROUP BY 1),
k1 AS (SELECT node FROM dg0 WHERE d >= 2),
e1 AS (
  SELECT e.a, e.b FROM e0 e
  JOIN k1 x ON e.a = x.node JOIN k1 y ON e.b = y.node
), dg1 AS (SELECT a AS node, count(*) AS d FROM e1 GROUP BY 1),
k2 AS (SELECT node FROM dg1 WHERE d >= 2),
e2 AS (
  SELECT e.a, e.b FROM e1 e
  JOIN k2 x ON e.a = x.node JOIN k2 y ON e.b = y.node
), dg2 AS (SELECT a AS node, count(*) AS d FROM e2 GROUP BY 1),
k3 AS (SELECT node FROM dg2 WHERE d >= 2),
e3 AS (
  SELECT e.a, e.b FROM e2 e
  JOIN k3 x ON e.a = x.node JOIN k3 y ON e.b = y.node
), dg3 AS (SELECT a AS node, CAST(count(*) AS BIGINT) AS d FROM e3 GROUP BY 1)
SELECT node AS doc_id, d AS core_degree
FROM dg3 ORDER BY doc_id
"""


@register("graph_kcore_peel", oracle=_KCORE_ORACLE, bench=True,
          doc="2-core peeling (3 rounds) over the near-dup graph: "
              "degrees after iterative removal of degree-1 nodes")
def graph_kcore_peel(spark, sf_dir):
    """Three rounds of 2-core peeling over the near-dup graph:
    repeatedly delete nodes of degree < 2 and recount. What survives
    is the clique-ish template mass (the dup families worth batch
    treatment); what peels away is tree-like incidental similarity.
    Peeling is the third iteration pattern in the graph family —
    monotone DELETION (state shrinks every round), vs label
    propagation's fixpoint and PageRank's fixed-step value flow.

    Cross-engine exactness: degrees are integer counts and the
    delete set is a threshold filter, so the unrolled oracle matches
    exactly. Scale shape: each round is one degree groupBy plus two
    semi-join-shaped filters, all keyed on the node id — cost
    shrinks monotonically with the surviving edge set, and lineage
    is truncated per round (``materialize``) exactly like the other
    iterative operators; a production run would loop until the
    deleted count hits zero instead of a fixed 3 rounds.
    """
    edges = materialize(_jaccard_pairs(spark, sf_dir, 0.8).select("d1", "d2"))
    e = edges.union(edges.select(F.col("d2").alias("d1"),
                                 F.col("d1").alias("d2"))) \
        .select(F.col("d1").alias("a"), F.col("d2").alias("b"))
    # Each peel round keeps edge (a, b) iff deg(a) >= 2 AND deg(b) >= 2.
    # ``e`` is symmetric every round (the keep condition is symmetric,
    # so deleting (x, y) also deletes (y, x)), which makes BOTH
    # endpoint degrees window counts over e itself: partitionBy("a")
    # counts deg(a) directly and partitionBy("b") counts rows where
    # the node appears as head — equal to its degree by symmetry.
    # This replaces the old groupBy(a) + two semi-joins (deg shuffle
    # + e shuffled by a and by b for the joins) with exactly two
    # shuffles of e and no join per round (guide §2.4 — a window
    # keyed like the aggregation shares its exchange).
    w_a, w_b = W.partitionBy("a"), W.partitionBy("b")
    for _ in range(3):
        e = materialize(  # per-round lineage truncation
            e.withColumn("da", F.count(F.lit(1)).over(w_a))
            .withColumn("db", F.count(F.lit(1)).over(w_b))
            .filter((F.col("da") >= 2) & (F.col("db") >= 2))
            .select("a", "b")
        )
    final = e.groupBy(F.col("a").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("core_degree"))
    return final.orderBy("doc_id")
