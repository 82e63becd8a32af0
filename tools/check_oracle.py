"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark at sf0.01 and the matching
``oracle_sql()`` on DuckDB over the same parquet, then compares row count,
schema width, and order-insensitive values. Exact comparison (no tolerance)
— the suite is designed for bit-identical results.

Usage: PYTHONPATH=/root/repo python tools/check_oracle.py [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

# override for off-scale verification:
# CHECK_SF_DIR=/root/testdata/sf0.1 python tools/check_oracle.py
SF_DIR = os.environ.get("CHECK_SF_DIR", "/root/testdata/sf0.01")
#: the tables the suite's oracles read
TABLES = ["lineitem", "events"]


def duck_connection():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'",
        )
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"row count: spark={len(spark_pdf)} duck={len(duck_pdf)}")
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        problems.append(
            f"columns: spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}",
        )
    if problems:
        return problems
    a, b = canon(spark_pdf), canon(duck_pdf)
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        # The driver's value hash is representation-sensitive: an int64 Spark
        # column vs a float64 oracle column (DuckDB HUGEINT promotion) fails
        # there even when values are numerically equal — so fail it here too.
        if {av.dtype.kind, bv.dtype.kind} == {"i", "f"}:
            problems.append(
                f"col {c}: dtype-class mismatch spark={av.dtype} duck={bv.dtype} "
                "(DuckDB HUGEINT->float64 promotion? CAST the aggregate to BIGINT)",
            )
            continue
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            eq = (av == bv) | (pd.isna(av) & pd.isna(bv))
        else:
            eq = av == bv
        bad = ~np.asarray(eq, dtype=bool)
        if bad.any():
            i = int(np.argmax(bad))
            problems.append(
                f"col {c}: {int(bad.sum())}/{len(a)} mismatches, first at row {i}: "
                f"spark={av[i]!r} duck={bv[i]!r}",
            )
    return problems


def main():
    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entrymod
    from sed_spark.session import get_spark

    only = set(sys.argv[1:])
    spark = get_spark(app_name="check-oracle")
    con = duck_connection()
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()

    # the driver's CORRECTNESS record folds a bounded 50-row window; a
    # 51st suite row silently ships with no hard cross-engine signal
    # (round-7 verdict: correlated_subqueries fell off the end)
    if len(qs) > 50:
        print(
            f"WARNING: suite registers {len(qs)} queries but the driver "
            "CORRECTNESS window records only 50 — rows past the window get "
            "NO verified signal. Fold new shapes into existing rows.",
        )

    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spark_pdf = fn(spark, SF_DIR).toPandas()
        except Exception as exc:
            print(f"FAIL {name}: spark error: {type(exc).__name__}: {str(exc)[:200]}")
            n_fail += 1
            continue
        t1 = time.time()
        if name not in oracles:
            print(f"PASS {name} (rows-only: {len(spark_pdf)} rows, {t1-t0:.1f}s)")
            n_pass += 1
            continue
        try:
            duck_pdf = con.execute(oracles[name]).fetchdf()
        except Exception as exc:
            print(f"FAIL {name}: duckdb error: {type(exc).__name__}: {str(exc)[:200]}")
            n_fail += 1
            continue
        problems = compare(name, spark_pdf, duck_pdf)
        if problems:
            n_fail += 1
            print(f"FAIL {name} ({t1-t0:.1f}s):")
            for p in problems:
                print(f"    {p}")
        else:
            n_pass += 1
            print(f"PASS {name} ({len(spark_pdf)} rows, {t1-t0:.1f}s)")
    print(f"\n{n_pass} passed, {n_fail} failed")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
