"""Local replica of the driver's correctness gate.

Runs every queries() entry on Spark at sf0.01 and the matching oracle_sql()
in DuckDB on the same parquet, compares row count, column names, and an
order-insensitive value multiset (columns sorted by name, floats as-is
since both sides round explicitly).

Usage: python tools/check_oracle.py [sf_dir] [name ...] [--extra]

Exits 0 when every selected check passes, 1 when one fails and 2 when a
requested name is not a query (with --extra, extra_queries() count too).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in idx:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 6)
            vals.append(repr(v))
        out.append("|".join(vals))
    return sorted(out)


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--extra"]
    with_extra = "--extra" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import __spark_entry__ as mod
    from librecatastro_spark.session import get_spark

    qs, oracles = mod.queries(), mod.oracle_sql()
    if with_extra:
        qs = {**qs, **mod.extra_queries()}
    unknown = sorted(only - set(qs))
    if unknown:
        # nothing would run for these names: fail instead of "passing"
        print(f"unknown query names: {unknown}")
        return 2
    spark = get_spark("check_oracle", cores=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        sdf = fn(spark, sf_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"  {name:32s} rows={len(srows):6d} (rows-only, no oracle) {t_spark:5.1f}s")
            continue
        t0 = time.time()
        res = con.sql(oracles[name])
        ocols = [d[0] for d in res.description]
        orows = [tuple(r) for r in res.fetchall()]
        t_duck = time.time() - t0
        ok_cols = sorted(scols) == sorted(ocols)
        sn, on_ = norm_rows(scols, srows), norm_rows(ocols, orows)
        ok_rows = sn == on_
        status = "OK  " if (ok_cols and ok_rows) else "FAIL"
        print(f"  {name:32s} {status} rows={len(srows):6d}/{len(orows):6d} "
              f"cols={'ok' if ok_cols else f'{scols} vs {ocols}'} "
              f"spark={t_spark:4.1f}s duck={t_duck:4.1f}s")
        if not (ok_cols and ok_rows):
            failed.append(name)
            diff_a = [x for x in sn if x not in set(on_)][:3]
            diff_b = [x for x in on_ if x not in set(sn)][:3]
            print(f"    spark-only: {diff_a}")
            print(f"    duck-only : {diff_b}")
    if failed:
        print(f"FAILED: {failed}")
        return 1
    print("all oracle checks passed")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
