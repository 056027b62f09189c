#!/usr/bin/env python3
"""Local simulation of the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` twin on DuckDB at
sf0.01, compare row counts, schemas (by sorted column name) and values.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

# the checkout this script lives in, not whichever one is installed
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from geonames_rdf_spark.session import get_spark  # noqa: E402

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"


def main() -> int:
    spark = get_spark(master="local[16]")
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

    qs, oq = entrymod.queries(), entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        try:
            sdf = fn(spark, SF).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"{name}: SPARK ERROR {e}")
            failures += 1
            continue
        if name not in oq:
            print(f"{name}: rows={len(sdf)} (no oracle — rows-only)")
            continue
        try:
            ddf = con.execute(oq[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"{name}: ORACLE ERROR {str(e)[:300]}")
            failures += 1
            continue
        cols_s, cols_d = sorted(sdf.columns), sorted(ddf.columns)
        if cols_s != cols_d:
            print(f"{name}: COLUMN MISMATCH {cols_s} vs {cols_d}")
            failures += 1
            continue
        if len(sdf) != len(ddf):
            print(f"{name}: ROWCOUNT {len(sdf)} vs {len(ddf)}")
            failures += 1
            continue
        s = sdf[cols_s].copy()
        d = ddf[cols_s].copy()
        for c in cols_s:  # normalize to comparable dtypes
            s[c] = s[c].where(s[c].notna(), None).map(lambda v: "<NULL>" if v is None else str(v))
            d[c] = d[c].where(d[c].notna(), None).map(lambda v: "<NULL>" if v is None else str(v))
        s = s.sort_values(cols_s).reset_index(drop=True)
        d = d.sort_values(cols_s).reset_index(drop=True)
        try:
            pd.testing.assert_frame_equal(s, d)
            print(f"{name}: OK rows={len(s)}")
        except AssertionError as e:
            print(f"{name}: VALUE MISMATCH {str(e)[:300]}")
            failures += 1
    spark.stop()
    return failures


if __name__ == "__main__":
    sys.exit(main())
