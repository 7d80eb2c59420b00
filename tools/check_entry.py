"""Local replica of the driver's correctness gate: run every queries() entry
at a given SF against its oracle_sql() in DuckDB and compare row count,
column names, and order-insensitive values. A query with no oracle passes if
it runs, and kg_triples_pr only if its precision and recall are >= 0.95.

Usage: python tools/check_entry.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys

import duckdb

sys.path.insert(0, ".")

import __spark_entry__ as entrymod  # noqa: E402
from llm_review_aggregation_spark.session import get_spark  # noqa: E402

PR_GATE = 0.95  # north rule: triple precision and recall
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    return str(v)


def _norm_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in idx) for r in rows]
    return sorted(out)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(cpus=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oq = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"{name}: SPARK ERROR {type(e).__name__}: {e}")
            failures += 1
            continue
        if name not in oq:
            # kg_triples_pr carries the triple P/R gate as data
            low = [r for r in (dict(zip(scols, r)) for r in srows)
                   if min(r.get("precision", 1.0), r.get("recall", 1.0)) < PR_GATE]
            if low:
                print(f"{name}: P/R BELOW {PR_GATE} {low}")
                failures += 1
            else:
                print(f"{name}: rows-only ({len(srows)} rows) OK")
            continue
        try:
            cur = con.execute(oq[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as e:
            print(f"{name}: ORACLE ERROR {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        if sorted(scols) != sorted(ocols):
            print(f"{name}: SCHEMA MISMATCH spark={sorted(scols)} oracle={sorted(ocols)}")
            failures += 1
            continue
        if len(srows) != len(orows):
            print(f"{name}: ROWCOUNT MISMATCH spark={len(srows)} oracle={len(orows)}")
            failures += 1
            continue
        sn = _norm_rows(scols, srows)
        on = _norm_rows(ocols, orows)
        if sn != on:
            diffs = [(a, b) for a, b in zip(sn, on) if a != b][:3]
            print(f"{name}: VALUE MISMATCH ({len([1 for a,b in zip(sn,on) if a!=b])} rows) e.g. {diffs}")
            failures += 1
            continue
        print(f"{name}: OK ({len(srows)} rows)")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
