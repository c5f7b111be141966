"""Query catalog: every operator exposed through the driver contract.

Each entry pairs a Spark implementation ``fn(spark, sf_dir) ->
DataFrame`` with an equivalent ANSI-SQL oracle string runnable by
DuckDB over the same parquet tables (or ``None`` for ops that are not
SQL-expressible — the driver then records a weaker rows-only check).

Column names are part of the contract: the driver's comparator sorts
columns by name and hashes values, so the Spark result and the oracle
must agree on every output column name AND value. All float aggregates
are rounded identically on both sides (sums to 2 dp, ratios/avgs to
4-6 dp) so IEEE summation-order noise cannot flip the hash.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

#: name -> (spark fn, oracle sql or None)
REGISTRY: dict[str, "CatalogQuery"] = {}

_QUERY_MODULES = (
    "wire_spark.queries.relational",
    "wire_spark.queries.windows",
    "wire_spark.queries.events",
    "wire_spark.queries.kv",
    "wire_spark.queries.text",
    "wire_spark.queries.dedup",
    "wire_spark.queries.similarity",
    "wire_spark.queries.extras",
    "wire_spark.queries.tpch",
    "wire_spark.queries.extras2",
    "wire_spark.queries.extras3",
    "wire_spark.queries.extras4",
    "wire_spark.queries.sampling",
    "wire_spark.queries.curation",
    "wire_spark.queries.cdc_queries",
    "wire_spark.queries.clustering",
    "wire_spark.queries.text2",
    "wire_spark.queries.diagnostics",
    "wire_spark.queries.sketches",
    "wire_spark.queries.features",
    "wire_spark.queries.langid",
    "wire_spark.queries.text3",
    "wire_spark.queries.paths",
    "wire_spark.queries.graphq",
    "wire_spark.queries.extras5",
    "wire_spark.queries.search",
    "wire_spark.queries.governance",
    "wire_spark.queries.splits",
    "wire_spark.queries.curation2",
    "wire_spark.queries.stats",
    "wire_spark.queries.experiment",
    "wire_spark.queries.timeseries",
    "wire_spark.queries.preference",
    "wire_spark.queries.variant_ingest",
)


@dataclass
class CatalogQuery:
    name: str
    fn: QueryFn
    oracle: str | None
    doc: str = ""
    bench: bool = field(default=False)  # include in bench.py headline set


def register(name: str, oracle: str | None = None, doc: str = "", bench: bool = False):
    """Decorator registering a catalog query.

    Duplicate names raise: a silent overwrite would let module import
    order decide which implementation the driver checks (nearly
    happened in round 8 — a second ``events_changepoint_cusum`` in a
    different module shadowed one of the pair with no error).

    Construction-time-job convention: ``fn(spark,
    sf_dir)`` is NOT guaranteed to be a free, plan-only call.  A
    registered query may legitimately run Spark jobs while BUILDING
    its DataFrame — driver-side collects that re-enter the plan as
    literals (``text_langid_trigram_trained``'s trained profile,
    ``bloom_join_prune``'s bitmap), iterative loops with
    per-round materialization (the connected-components/PageRank/
    Lloyd families), and eager caches ahead of multi-branch fan-out.
    Harness code must therefore time construction + action together
    (bench.py times both) and must not call ``fn`` speculatively where a
    job is unacceptable; plan-only tooling acknowledges this
    (``python -m wire_spark run NAME --explain`` prints the FINAL
    DataFrame's plan, after any construction-time loops have run).
    """

    def deco(fn: QueryFn) -> QueryFn:
        prev = REGISTRY.get(name)
        # idempotent re-registration of the SAME function (module
        # reloaded in one process) is fine; a DIFFERENT function
        # under an existing name is the collision bug. Identity is
        # (module, qualname) — qualname alone would treat two
        # same-named defs in different modules as equal, which is
        # exactly the r8 near-miss shape.
        if prev is not None and (
            prev.fn.__module__, prev.fn.__qualname__
        ) != (fn.__module__, fn.__qualname__):
            raise ValueError(
                f"catalog query name collision: {name!r} already "
                f"registered by {prev.fn.__module__}.{prev.fn.__qualname__}"
            )
        REGISTRY[name] = CatalogQuery(name=name, fn=fn, oracle=oracle, doc=doc, bench=bench)
        return fn

    return deco


def load_registry() -> dict[str, CatalogQuery]:
    """Import all query modules and return the registry, in
    registration order."""
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
    return dict(REGISTRY)
