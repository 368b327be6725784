"""Local replica of the driver's correctness gate: run every
__spark_entry__ query on Spark and its DuckDB oracle at sf0.01, compare
row count, schema (column names) and order-insensitive value hash."""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def value_hash(df: pd.DataFrame) -> str:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].astype(str)
    rows = sorted("|".join(r) for r in df.itertuples(index=False))
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def main(sf_dir: str, only: list[str]) -> int:
    from pyspark.sql import SparkSession

    import __spark_entry__ as e

    spark = (SparkSession.builder.master(f"local[{os.cpu_count() or 1}]")
             .appName("oracle-check")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.driver.host", "127.0.0.1")
             .config("spark.driver.bindAddress", "127.0.0.1")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * "
                f"FROM '{sf_dir}/{t}.parquet'")

    qs, oq = e.queries(), e.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            failures += 1
            continue
        if name not in oq:
            print(f"rows-only {name}: {len(sdf)} rows "
                  f"({time.time() - t0:.1f}s)")
            if len(sdf) == 0:
                print(f"  WARN {name}: zero rows")
            continue
        try:
            odf = con.sql(oq[name]).df()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {ex}")
            failures += 1
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rows {len(sdf)} != {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"schema {sorted(sdf.columns)} != "
                            f"{sorted(odf.columns)}")
        elif value_hash(sdf) != value_hash(odf):
            problems.append("value-hash mismatch")
        if problems:
            failures += 1
            print(f"FAIL {name}: {'; '.join(problems)}")
            if "value-hash mismatch" in ";".join(problems):
                m = sdf.merge(odf, how="outer", indicator=True,
                              on=list(sorted(sdf.columns)))
                diff = m[m["_merge"] != "both"]
                print(diff.head(6).to_string())
        else:
            print(f"OK   {name}: {len(sdf)} rows "
                  f"({time.time() - t0:.1f}s)")
    spark.stop()
    return failures


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    sys.exit(1 if main(sf, sys.argv[2:]) else 0)
