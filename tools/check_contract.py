"""Driver-style correctness check: run every queries() entry on Spark and
its oracle_sql() on DuckDB over the same parquet, compare row count, schema
arity and an order-insensitive value hash.

Usage: python tools/check_contract.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if v != v:
            return "nan"
        return f"{v:.10g}"
    return str(v)


def value_hash(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from palladian_spark.session import get_spark

    spark = get_spark("contract-check")

    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        sdf = fn(spark, sf_dir)
        srows = sdf.collect()
        scols = sdf.columns
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"{name:28s} rows={len(srows):8d}  (no oracle — rows-only)  "
                  f"spark={t_spark:.1f}s")
            continue
        t0 = time.time()
        ores = con.execute(oracles[name])
        orows = ores.fetchall()
        ocols = [d[0] for d in ores.description]
        t_duck = time.time() - t0
        sh = value_hash([tuple(r) for r in srows], scols)
        oh = value_hash(orows, ocols)
        ok = (len(srows) == len(orows) and sorted(scols) == sorted(ocols)
              and sh == oh)
        status = "OK " if ok else "FAIL"
        print(f"{name:28s} {status} spark_rows={len(srows):8d} "
              f"oracle_rows={len(orows):8d} hash={'=' + sh if sh == oh else sh + '!=' + oh}"
              f" spark={t_spark:.1f}s duck={t_duck:.1f}s")
        if not ok:
            failures += 1
            if sorted(scols) != sorted(ocols):
                print(f"  spark cols:  {sorted(scols)}")
                print(f"  oracle cols: {sorted(ocols)}")
    print("FAILURES:", failures)
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
