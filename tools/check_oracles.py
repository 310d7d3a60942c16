#!/usr/bin/env python
"""Run selected (or all) queries() entries side-by-side with their DuckDB
oracles at a given sf dir and report row/schema/value-hash matches — the
local twin of the driver's CORRECTNESS gate, for fast iteration."""

from __future__ import annotations

import sys
from pathlib import Path

_REPO = Path(__file__).resolve().parents[1]
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def main() -> None:
    import duckdb
    import pandas as pd

    import __spark_entry__ as e
    from search_engine_spark.session import get_spark

    sf_dir = "/root/testdata/sf0.01"
    names = sys.argv[1:] or None

    spark = get_spark("oracle-check", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if Path(p).exists():
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )

    qs, oracles = e.queries(), e.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if names and name not in names:
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"{name}: (no oracle, skipped)")
            continue
        sdf = fn(spark, sf_dir).toPandas()
        odf = con.execute(sql).df()
        cols = sorted(sdf.columns)
        ok_schema = cols == sorted(odf.columns)
        ok_rows = len(sdf) == len(odf)
        ok_vals = False
        if ok_schema and ok_rows:
            a = sdf[cols].sort_values(cols, ignore_index=True)
            b = odf[cols].sort_values(cols, ignore_index=True)
            try:
                pd.testing.assert_frame_equal(a, b, check_dtype=False)
                ok_vals = True
            except AssertionError as ex:
                print(f"  diff: {str(ex)[:300]}")
        status = "PASS" if (ok_schema and ok_rows and ok_vals) else "FAIL"
        if status == "FAIL":
            failures += 1
        print(f"{name}: {status} (rows {len(sdf)}/{len(odf)}, "
              f"schema={'ok' if ok_schema else cols})")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
