"""Local replica of the driver's correctness gate.

Runs every __spark_entry__.queries() entry on Spark and its
oracle_sql() twin on DuckDB at the given sf dir, comparing row count,
sorted column names, and an order-insensitive value hash (values
normalized: floats rounded to 9 dp, timestamps to ISO strings).

Usage: python tools/gate_check.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import decimal
import hashlib
import math
import os
import sys
import time
from datetime import datetime

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_val(v):
    if v is None:
        return "\0"
    if isinstance(v, decimal.Decimal):
        # mirror the driver: decimals normalize like floats so DECIMAL
        # renderings ("1.50" vs "1.5") can't diverge the hash
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{round(v, 9):.9f}"
    if isinstance(v, datetime):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_val(x) for x in v) + "]"
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x01".join(norm_val(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from gfftoneo4j_spark.session import get_spark

    spark = get_spark(
        app="gate-check",
        cpus=8,
        shuffle_partitions=8,
        extra={"spark.ui.showConsoleProgress": "false"},
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"OK?  {name}: rows-only ({len(srows)} rows, no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            continue
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rows {len(srows)} vs {len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols {sorted(scols)} vs {sorted(dcols)}")
        if not problems:
            hs, hd = value_hash(scols, srows), value_hash(dcols, drows)
            if hs != hd:
                problems.append(f"hash {hs} vs {hd}")
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)} [{time.time()-t0:.1f}s]")
            failures.append(name)
            # show sample diff
            sset = {tuple(map(norm_val, r)) for r in srows}
            dset = {tuple(map(norm_val, r)) for r in drows}
            for lbl, diff in (("spark-only", sset - dset), ("duck-only", dset - sset)):
                for row in list(diff)[:3]:
                    print(f"    {lbl}: {row}")
        else:
            print(f"PASS {name} ({len(srows)} rows) [{time.time()-t0:.1f}s]")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
