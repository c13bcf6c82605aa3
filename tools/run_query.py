"""Run any registered gated query from the command line.

The batch twin of tools/run_pipeline.py for the analytics surface: a
reference user who ran ad-hoc Cypher over the Neo4j graph
(/root/reference README usage) gets the same ad-hoc entry point over
this engine's 160+ gated queries — list them, run one, print/save the
result, optionally show the physical plan or cross-check against the
DuckDB oracle twin (the same protocol as tools/gate_check.py, one
query at a time).

Usage:
  spark-submit tools/run_query.py --list
  spark-submit tools/run_query.py graph_pagerank /root/testdata/sf0.01 \
      --limit 20 --explain
  spark-submit tools/run_query.py mad_anomaly /root/testdata/sf0.01 \
      --oracle-check --out /tmp/mad.parquet
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("query", nargs="?", help="registered query name")
    p.add_argument(
        "sf_dir", nargs="?", default="/root/testdata/sf0.01",
        help="directory holding the parquet tables",
    )
    p.add_argument("--list", action="store_true", help="list query names")
    p.add_argument("--limit", type=int, default=20, help="rows to print")
    p.add_argument(
        "--explain", action="store_true", help="print the physical plan"
    )
    p.add_argument(
        "--oracle-check", action="store_true",
        help="also run the DuckDB oracle twin and compare (gate protocol)",
    )
    p.add_argument("--out", help="write full result as parquet here")
    p.add_argument("--cpus", type=int, default=8)
    args = p.parse_args(argv)

    from gfftoneo4j_spark.queries import ORACLE, QUERIES

    if args.list or not args.query:
        for name in QUERIES:
            print(name)
        return 0
    if args.query not in QUERIES:
        print(f"unknown query {args.query!r} (see --list)", file=sys.stderr)
        return 2

    from gfftoneo4j_spark.session import get_spark

    spark = get_spark(
        app=f"run-query-{args.query}", cpus=args.cpus,
        shuffle_partitions=args.cpus,
    )
    t0 = time.time()
    df = QUERIES[args.query](spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
    rows = df.limit(args.limit).collect()
    header = df.columns
    print("\t".join(header))
    for r in rows:
        print("\t".join(str(v) for v in r))
    n = df.count()
    print(f"# {n} rows total, {time.time() - t0:.1f}s", file=sys.stderr)
    if args.out:
        df.write.mode("overwrite").parquet(args.out)
        print(f"# wrote {args.out}", file=sys.stderr)
    if args.oracle_check:
        if args.query not in ORACLE:
            print("# no oracle twin registered", file=sys.stderr)
            return 3
        sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
        import duckdb

        from gate_check import TABLES, value_hash

        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM"
                f" '{args.sf_dir}/{t}.parquet'"
            )
        res = con.execute(ORACLE[args.query])
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
        srows = [tuple(r) for r in df.collect()]
        ok = (
            len(srows) == len(drows)
            and sorted(df.columns) == sorted(dcols)
            and value_hash(df.columns, srows) == value_hash(dcols, drows)
        )
        print(f"# oracle check: {'PASS' if ok else 'FAIL'}", file=sys.stderr)
        return 0 if ok else 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
