"""Compare catalog queries with their DuckDB oracles at a given SF.

Usage:
    python tools/verify_edited.py <sf_dir>                 # every oracle-backed query
    python tools/verify_edited.py <sf_dir> name [name ...] # only these

Pointed at the sf0.1 tables with no names, it is the full-registry
bit-identity check at sf0.1.  Exit 0 iff every checked query matches.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from wire_spark.catalog import load_registry  # noqa: E402
from wire_spark.engine import get_spark  # noqa: E402
from wire_spark.oracle import compare_query, duckdb_connection  # noqa: E402
from wire_spark.queries._util import release_tracked_caches  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1]
    registry = load_registry()
    names = sys.argv[2:] or [n for n, q in registry.items() if q.oracle is not None]
    unknown = [n for n in names if n not in registry]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        sys.exit(2)
    spark = get_spark("wire-spark-verify-edited")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb_connection(sf_dir)
    n_fail = 0
    for name in names:
        q = registry[name]
        if q.oracle is None:
            print(f"[SKIP] {name}: no oracle")
            continue
        try:
            res = compare_query(spark, con, name, q.fn, q.oracle, sf_dir)
        except Exception as e:
            print(f"[FAIL] {name}: EXCEPTION {e}")
            n_fail += 1
            continue
        finally:
            # free this query's caches and checkpoints before the next
            release_tracked_caches()
        print(str(res), flush=True)
        if not res.ok:
            n_fail += 1
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
