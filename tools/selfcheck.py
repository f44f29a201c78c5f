"""Self-check harness mimicking the driver's correctness gate.

Runs every registry query on Spark AND its DuckDB oracle at a given sf dir,
compares row count, column names/order-insensitive values (sorted columns,
sorted rows), with exact equality after the registry's own rounding rules.

Usage: python tools/selfcheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd


def load_duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings".split()
    ):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def canonical(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def compare(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"row count: spark={len(spark_pdf)} duck={len(duck_pdf)}")
    sc, dc = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if sc != dc:
        problems.append(f"columns: spark={sc} duck={dc}")
        return problems
    if problems:
        return problems
    a, b = canonical(spark_pdf), canonical(duck_pdf)
    # dtype strictness: the driver may compare schemas exactly; catch
    # int32-vs-int64 (e.g. Spark row_number vs DuckDB row_number) locally
    for c in a.columns:
        da, db = str(a[c].dtype), str(b[c].dtype)
        if da != db and not (len(a) == 0):
            problems.append(f"dtype {c}: spark={da} duck={db}")
    if problems:
        return problems
    for c in a.columns:
        av, bv = a[c].tolist(), b[c].tolist()
        for i, (x, y) in enumerate(zip(av, bv)):
            same = (
                (x is None and y is None)
                or (isinstance(x, float) and isinstance(y, float) and (x == y or (math.isnan(x) and math.isnan(y))))
                or str(x) == str(y)
            )
            if not same:
                problems.append(f"col {c} row {i}: spark={x!r} duck={y!r}")
                if len(problems) > 5:
                    return problems
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    from query_engine_spark.session import get_spark
    from query_engine_spark import registry

    spark = get_spark("selfcheck")
    con = load_duck(sf_dir)
    from query_engine_spark.llmdata import clear_llmdata_cache

    n_pass = n_fail = 0
    for name, spec in registry.REGISTRY.items():
        if only and name not in only:
            continue
        clear_llmdata_cache()
        t0 = time.time()
        try:
            sdf = spec.fn(spark, sf_dir).toPandas()
        except Exception:
            print(f"FAIL {name}: spark error\n{traceback.format_exc()}")
            n_fail += 1
            continue
        if spec.oracle is None:
            ok = len(sdf) > 0
            print(f"{'ROWS' if ok else 'FAIL'} {name}: rows={len(sdf)} ({time.time()-t0:.1f}s, no oracle)")
            n_pass += ok
            n_fail += not ok
            continue
        try:
            ddf = con.execute(spec.oracle).df()
        except Exception:
            print(f"FAIL {name}: duckdb error\n{traceback.format_exc()}")
            n_fail += 1
            continue
        problems = compare(sdf, ddf)
        if problems:
            n_fail += 1
            print(f"FAIL {name} ({time.time()-t0:.1f}s): " + "; ".join(problems[:6]))
        else:
            n_pass += 1
            print(f"PASS {name}: rows={len(sdf)} ({time.time()-t0:.1f}s)")
    print(f"\n{n_pass} passed, {n_fail} failed")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
