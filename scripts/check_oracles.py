"""Local stand-in for the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB over the same parquet dir,
compare row count + column names + order-insensitive value hash.

Usage: python scripts/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

# the tables the registered queries read
TABLES = ["documents"]


def normalize(rows, cols):
    """Order-insensitive canonical form: sort columns by name, stringify
    floats via repr of rounded value, sort rows."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 6)
                if v == int(v):
                    v = int(v)
            vals.append(str(v))
        out.append("\x1f".join(vals))
    out.sort()
    return out


def main():
    import duckdb

    import __spark_entry__ as entrymod
    from kgforge.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    spark = get_spark("check-oracles", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            spark_cols = [c.lower() for c in df.columns]
            spark_rows = [tuple(r) for r in df.collect()]
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {e}")
            continue
        try:
            res = con.sql(oracles[name])
            duck_cols = [c.lower() for c in res.columns]
            duck_rows = res.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        status = []
        if len(spark_rows) != len(duck_rows):
            status.append(f"rowcount {len(spark_rows)} vs {len(duck_rows)}")
        if sorted(spark_cols) != sorted(duck_cols):
            status.append(f"schema {sorted(spark_cols)} vs {sorted(duck_cols)}")
        if not status:
            a = normalize(spark_rows, spark_cols)
            b = normalize(duck_rows, duck_cols)
            if a != b:
                diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
                status.append(f"values differ, e.g. {diff}")
        if status:
            failures.append(name)
            print(f"FAIL  {name}: {'; '.join(status)}")
        else:
            print(f"OK    {name} ({len(spark_rows)} rows)")

    n_checked = len([n for n in qs if not only or n in only])
    print(f"\n{n_checked - len(failures)}/{n_checked} queries consistent")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
