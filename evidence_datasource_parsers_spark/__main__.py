"""CLI front-end — the reference's per-parser argparse surface, unified.

Every reference parser is a CLI module (``python modules/ClinGen.py
--input … --output …``); here one entry point drives the catalog:

    python -m evidence_datasource_parsers_spark list
    python -m evidence_datasource_parsers_spark run q01_pricing_summary \
        --sf-dir /root/testdata/sf0.01 [--output out.json.gz] [--explain]
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="evidence_datasource_parsers_spark")
    sub = parser.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list catalog queries")

    run = sub.add_parser("run", help="run a catalog query")
    run.add_argument("query")
    run.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    run.add_argument("--output", help="write gzip JSON-lines here")
    run.add_argument("--explain", action="store_true")
    run.add_argument("--limit", type=int, default=20)

    args = parser.parse_args(argv)

    from evidence_datasource_parsers_spark.plans import CATALOG

    if args.cmd == "list":
        for name, q in sorted(CATALOG.items()):
            oracle = "oracle" if q.oracle else "rows-only"
            print(f"{name}\t{oracle}\t{','.join(q.tags)}")
        return 0

    if args.query not in CATALOG:
        print(f"unknown query {args.query!r}; try 'list'", file=sys.stderr)
        return 2

    from evidence_datasource_parsers_spark.session import get_spark

    spark = get_spark("cli")
    spark.sparkContext.setLogLevel("ERROR")
    df = CATALOG[args.query].builder(spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
    if args.output:
        from evidence_datasource_parsers_spark.sources.sinks import (
            write_evidence_strings,
        )

        write_evidence_strings(df, args.output)
        print(f"wrote {args.output}")
    else:
        df.show(args.limit, truncate=False)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
