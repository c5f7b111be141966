"""CLI entry: the reference's daemon/CLI surface (cmd/main.go analog).

Usage:
    python -m wire_spark serve [--port 4001] [--sf-dir DIR]
        start the rqlite-style HTTP service (wire_spark/api.py)
    python -m wire_spark execute "SET k v" ["DELETE k" ...]
        run write statements against a session-local store
    python -m wire_spark query "GET k" [--associative]
        run read statements, print QueryRows JSON
    python -m wire_spark bench [NAME ...]
        profile catalog queries (same as bench.py; all bench queries
        when no NAME is given)
    python -m wire_spark list [--filter SUBSTR]
        list the catalog's registered queries with their one-liners
    python -m wire_spark run NAME [--sf-dir DIR] [--limit N] [--explain]
        run one catalog query, print rows as JSON lines (or, with
        --explain, its formatted physical plan)
    python -m wire_spark maintain compact PATH [--target-mb N] [--sort-by c1,c2]
    python -m wire_spark maintain expire PATH COL KEEP_FROM
        table maintenance (operators/maintenance.py)
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="wire_spark")
    sub = parser.add_subparsers(dest="cmd", required=True)

    p_serve = sub.add_parser("serve", help="start the HTTP service")
    p_serve.add_argument("--port", type=int, default=4001)

    p_exec = sub.add_parser("execute", help="run write statements")
    p_exec.add_argument("statements", nargs="+")

    p_query = sub.add_parser("query", help="run read statements")
    p_query.add_argument("statements", nargs="+")
    p_query.add_argument("--associative", action="store_true")

    p_bench = sub.add_parser("bench", help="profile catalog queries")
    p_bench.add_argument("names", nargs="*",
                         help="queries to profile (default: every bench query)")

    p_list = sub.add_parser("list", help="list catalog queries")
    p_list.add_argument("--filter", default="", help="substring filter")

    p_run = sub.add_parser("run", help="run one catalog query")
    p_run.add_argument("name")
    p_run.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    p_run.add_argument("--limit", type=int, default=0,
                       help="print at most N rows (0 = all)")
    p_run.add_argument("--explain", action="store_true",
                       help="print the formatted physical plan instead")

    p_maint = sub.add_parser("maintain", help="table maintenance")
    maint_sub = p_maint.add_subparsers(dest="maint_cmd", required=True)
    p_compact = maint_sub.add_parser("compact")
    p_compact.add_argument("path")
    p_compact.add_argument("--target-mb", type=int, default=128)
    p_compact.add_argument("--sort-by", default="",
                           help="comma-separated clustering columns")
    p_expire = maint_sub.add_parser("expire")
    p_expire.add_argument("path")
    p_expire.add_argument("partition_col")
    p_expire.add_argument("keep_from")

    args = parser.parse_args(argv)

    if args.cmd == "bench":
        import bench  # repo-root harness

        bench.main(args.names)
        return 0

    if args.cmd == "list":
        from wire_spark.catalog import load_registry

        for name, q in load_registry().items():
            if args.filter.lower() in name.lower():
                line = {"name": name, "doc": q.doc,
                        "oracle": q.oracle is not None, "bench": q.bench}
                print(json.dumps(line))
        return 0

    # no-Spark paths first: the unknown-query error and pure-filesystem
    # retention should not pay multi-second JVM startup
    if args.cmd == "run":
        from wire_spark.catalog import load_registry

        reg = load_registry()
        if args.name not in reg:
            close = [n for n in reg if args.name.lower() in n.lower()]
            print(json.dumps({"error": f"unknown query {args.name!r}",
                              "did_you_mean": close[:5]}), file=sys.stderr)
            return 2
    if args.cmd == "maintain" and args.maint_cmd == "expire":
        from wire_spark.operators.maintenance import expire_partitions

        dropped = expire_partitions(
            args.path, args.partition_col, args.keep_from
        )
        print(json.dumps({"path": args.path, "dropped": dropped}))
        return 0

    from wire_spark.engine import get_spark

    spark = get_spark("wire-spark-cli")

    if args.cmd == "run":
        df = reg[args.name].fn(spark, args.sf_dir)
        if args.explain:
            from wire_spark.plans import formatted_plan

            print(formatted_plan(df))
            return 0
        rows = df.limit(args.limit).collect() if args.limit else df.collect()
        from wire_spark.queries._util import release_tracked_caches

        release_tracked_caches()
        for r in rows:
            print(json.dumps(r.asDict(recursive=True), default=str))
        return 0

    if args.cmd == "maintain":  # only 'compact' reaches here
        from wire_spark.operators.maintenance import compact_files

        n = compact_files(
            spark, args.path,
            target_file_bytes=args.target_mb * 1024 * 1024,
            sort_within_by=(
                args.sort_by.split(",") if args.sort_by else None
            ),
        )
        print(json.dumps({"path": args.path, "files_after": n}))
        return 0

    if args.cmd == "serve":
        from wire_spark.api import WireService

        svc = WireService(spark)
        port = svc.serve(args.port)
        print(f"wire-spark service listening on http://127.0.0.1:{port}", flush=True)
        try:
            import threading

            threading.Event().wait()  # serve until interrupted
        except KeyboardInterrupt:
            svc.shutdown()
        return 0

    from wire_spark.kv import KVStore

    kv = KVStore(spark)
    if args.cmd == "execute":
        results = [vars(kv.execute(s)) for s in args.statements]
        print(json.dumps({"results": results}))
        return 0
    if args.cmd == "query":
        out = []
        for s in args.statements:
            try:
                out.append(kv.query(s).to_json_dict(associative=args.associative))
            except Exception as e:
                out.append({"error": str(e)})
        print(json.dumps({"results": out}))
        return 0
    return 1


if __name__ == "__main__":
    sys.exit(main())
