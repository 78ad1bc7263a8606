"""Local replica of the driver's correctness gate: run each queries()
entry on Spark and its oracle_sql() twin on DuckDB over the same parquet
tables; compare row count, column names, and an order-insensitive value
hash. Usage:

    PYTHONPATH=. python tools/check_oracle.py [sf_dir] [name ...]

The last two lines are `failures: N` and `wall_s: S`, the run's wall
time from session start to stop, so board runs compare across commits.
"""

from __future__ import annotations

import sys
import time

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                vals.append(f"{v:.6f}")
            elif v is None:
                vals.append("NULL")
            else:
                vals.append(str(v))
        out.append("\x1f".join(vals))
    out.sort()
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    start = time.perf_counter()

    from paddleocr_spark.tuning import cpus, local_session

    spark = local_session(cpus(), "check_oracle")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
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
            failures += 1
            continue
        if name not in oracles:
            print(f"OK?  {name}: rows={len(srows)} (no oracle, rows-only) "
                  f"[{time.time()-t0:.1f}s]")
            continue
        try:
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        status = []
        if sorted(scols) != sorted(ocols):
            status.append(f"cols spark={sorted(scols)} oracle={sorted(ocols)}")
        if len(srows) != len(orows):
            status.append(f"rows spark={len(srows)} oracle={len(orows)}")
        if not status:
            a = canon(srows, scols)
            b = canon(orows, ocols)
            if a != b:
                diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
                status.append(f"values differ, e.g. {diff}")
        if status:
            failures += 1
            print(f"FAIL {name}: {'; '.join(status)} [{time.time()-t0:.1f}s]")
        else:
            print(f"PASS {name}: rows={len(srows)} [{time.time()-t0:.1f}s]")
    spark.stop()
    print("failures:", failures)
    print(f"wall_s: {time.perf_counter() - start:.1f}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
