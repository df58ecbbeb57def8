"""Local stand-in for the driver's correctness gate: run every
queries() entry on Spark and its oracle_sql() on DuckDB at sf0.01,
compare row counts, column names, and values (columns sorted by name,
rows sorted). Usage: python tools/selfcheck_entry.py [names...]"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def main():
    import duckdb

    import __spark_entry__ as E
    from pdf_parser_spark.session import get_spark

    sf_dir = "/root/testdata/sf0.01"
    only = set(sys.argv[1:])

    spark = get_spark("selfcheck", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, oracles = E.queries(), E.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
            # release operator-held caches (d2/d3 shingle projections)
            # so the 27-query session doesn't accumulate pinned storage
            from pdf_parser_spark.operators.dedup import release_shingle_caches

            release_shingle_caches()
        except Exception as ex:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {ex}")
            continue
        if name not in oracles:
            print(f"OK-   {name}: rows-only ({len(sdf)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as ex:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {ex}")
            continue

        cols_s, cols_o = sorted(sdf.columns), sorted(odf.columns)
        if cols_s != cols_o:
            failures.append(name)
            print(f"FAIL  {name}: columns {cols_s} vs {cols_o}")
            continue
        if len(sdf) != len(odf):
            failures.append(name)
            print(f"FAIL  {name}: rowcount {len(sdf)} vs {len(odf)}")
            continue
        a = sdf[cols_s].sort_values(cols_s).reset_index(drop=True)
        b = odf[cols_s].sort_values(cols_s).reset_index(drop=True)
        mismatch = None
        for c in cols_s:
            av, bv = a[c].tolist(), b[c].tolist()
            for i, (x, y) in enumerate(zip(av, bv)):
                eq = (
                    (x == y)
                    or (x is None and y is None)
                    or (
                        isinstance(x, float)
                        and isinstance(y, float)
                        and (math.isnan(x) and math.isnan(y) or x == y)
                    )
                )
                if not eq:
                    mismatch = (c, i, x, y)
                    break
            if mismatch:
                break
        if mismatch:
            failures.append(name)
            print(f"FAIL  {name}: col {mismatch[0]} row {mismatch[1]}: {mismatch[2]!r} vs {mismatch[3]!r}")
        else:
            print(f"OK    {name}: {len(sdf)} rows match ({time.time()-t0:.1f}s)")

    print(f"\n{len(failures)} failures: {failures}" if failures else "\nALL OK")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
