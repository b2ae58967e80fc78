"""Emulate the driver's correctness gate: run every __spark_entry__ query on
Spark and its oracle on DuckDB at a given sf, compare row count + schema +
order-insensitive values.

Usage: python tools/check_oracles.py [sf_dir] [query ...]

The session runs on local[SPARK_GRAFT_CPUS] (see session.get_spark); set it
to the host's core count, e.g. SPARK_GRAFT_CPUS=$(nproc).
"""

from __future__ import annotations

import math
import sys

import duckdb

sys.path.insert(0, "/root/repo")

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 6)
                if v == -0.0:
                    v = 0.0
            if isinstance(v, (list, tuple)):
                v = tuple(
                    round(x, 6) if isinstance(x, float) else x for x in v
                )
            if hasattr(v, "isoformat"):
                v = v.isoformat()
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=repr)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e
    from grepai_spark.session import get_spark

    # same core count as the tests: local[SPARK_GRAFT_CPUS], named up front
    spark = get_spark("oracle-check")
    print(f"master={spark.sparkContext.master}")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs, os_ = e.queries(), e.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            if name not in os_:
                print(f"{name:24s} rows-only: {len(srows)} rows (no oracle)")
                continue
            cur = con.execute(os_[name])
            dcols = [d[0] for d in cur.description]
            drows = cur.fetchall()
            ok_count = len(srows) == len(drows)
            ok_cols = sorted(scols) == sorted(dcols)
            a, b = normalize(srows, scols), normalize(drows, dcols)
            ok_vals = a == b
            status = "OK" if (ok_count and ok_cols and ok_vals) else "FAIL"
            print(
                f"{name:24s} {status} rows={len(srows)}/{len(drows)} "
                f"cols={'OK' if ok_cols else (scols, dcols)} vals={'OK' if ok_vals else 'MISMATCH'}"
            )
            if status == "FAIL":
                failures.append(name)
                if not ok_vals and ok_count and ok_cols:
                    diff = [
                        (x, y) for x, y in zip(a, b) if x != y
                    ][:3]
                    for x, y in diff:
                        print(f"  spark: {x}\n  duck : {y}")
                elif not ok_count:
                    sa, sb = set(map(repr, a)), set(map(repr, b))
                    print("  only-spark:", list(sa - sb)[:2])
                    print("  only-duck :", list(sb - sa)[:2])
        except Exception as ex:
            failures.append(name)
            print(f"{name:24s} ERROR {type(ex).__name__}: {str(ex)[:300]}")
    spark.stop()
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("all oracle checks passed")


if __name__ == "__main__":
    main()
