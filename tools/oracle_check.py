"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` counterpart on DuckDB over the same parquet tables,
then compares row count, column names, and values (columns sorted by
name, rows sorted by all columns — order-insensitive, like the
driver's value-hash). Exit non-zero if any declared oracle mismatches.

Usage: python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import atexit
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def duck_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # DRIVER-STRICT value rendering: int64 and float64 render
    # distinctly (8753 vs 8753.0). Collapsing integral floats to int
    # strings is exactly the leniency that let the r2 scalar_math
    # CEIL/FLOOR LONG-vs-DOUBLE drift ship unverified — never do it.
    def render(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "<NULL>"
        if isinstance(v, bool):
            return str(v)
        if isinstance(v, float):
            return repr(float(v))
        return str(v)

    out = df.map(render)
    return out.sort_values(by=list(out.columns), ignore_index=True)


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    errs = []
    if sorted(sdf.columns) != sorted(odf.columns):
        errs.append(f"columns: spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
        return errs
    if len(sdf) != len(odf):
        errs.append(f"rowcount: spark={len(sdf)} oracle={len(odf)}")
    a, b = normalize(sdf), normalize(odf)
    if len(a) == len(b) and not a.equals(b):
        neq = (a != b).any(axis=1)
        idx = list(a.index[neq])[:3]
        for i in idx:
            errs.append(f"row {i}: spark={a.loc[i].to_dict()} oracle={b.loc[i].to_dict()}")
    return errs


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from pyspark.sql import SparkSession

    # the index catalog entries store member tables under fixed names:
    # a warehouse of this run's own keeps concurrent gate runs apart
    warehouse = tempfile.mkdtemp(prefix="gate-warehouse-")
    atexit.register(shutil.rmtree, warehouse, True)

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("oracle-check")
        .config("spark.sql.warehouse.dir", warehouse)
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    import __spark_entry__ as e

    qs = e.queries()
    oracles = e.oracle_sql()
    con = duck_conn(sf_dir)

    from quasar_destination_h2_spark import cache

    n_pass = n_fail = n_rowsonly = 0
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"FAIL  {name}: spark raised {type(ex).__name__}: {ex}")
            n_fail += 1
            failed.append(name)
            continue
        finally:
            # drop operator-level persisted intermediates between
            # queries — the long-lived sweep session would otherwise
            # accumulate MEMORY_AND_DISK partitions without bound
            cache.release()
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} rows (no oracle)")
            n_rowsonly += 1
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as ex:
            print(f"FAIL  {name}: oracle raised {type(ex).__name__}: {ex}")
            n_fail += 1
            failed.append(name)
            continue
        errs = compare(name, sdf, odf)
        if errs:
            print(f"FAIL  {name}:")
            for er in errs:
                print(f"      {er}")
            n_fail += 1
            failed.append(name)
        else:
            print(f"ok    {name}: {len(sdf)} rows")
            n_pass += 1

    print(f"\n{n_pass} ok, {n_rowsonly} rows-only, {n_fail} failed")
    if failed:
        print("failed:", " ".join(failed))
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
