"""Local mirror of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB over the same parquet
tables, compare row count, column names, and order-insensitive values.

Usage: python scripts/check_parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from geomatics_geotk_spark.session import get_spark  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(name: str, spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> list[str]:
    errs = []
    if len(spark_pdf) != len(oracle_pdf):
        errs.append(f"rowcount spark={len(spark_pdf)} oracle={len(oracle_pdf)}")
    sc, oc = sorted(spark_pdf.columns), sorted(oracle_pdf.columns)
    if sc != oc:
        errs.append(f"columns spark={sc} oracle={oc}")
        return errs
    if errs:
        return errs
    # dtype-KIND mismatch (int vs float) before normalization: the driver
    # hashes values in their native dtype domain, so a DuckDB HUGEINT →
    # float64 column vs Spark bigint hash-mismatches even when every value
    # is equal (the curation_funnel r3 red row).  normalize() below would
    # hide it — flag it here so the local gate matches the driver's.
    for c in sorted(spark_pdf.columns):
        ka = spark_pdf[c].dtype.kind
        kb = oracle_pdf[c].dtype.kind
        num = {"i", "u", "f"}
        if ka in num and kb in num and (ka == "f") != (kb == "f"):
            errs.append(
                f"col {c}: dtype-kind mismatch spark={spark_pdf[c].dtype} "
                f"oracle={oracle_pdf[c].dtype} (driver hash domain differs "
                "even if values equal — CAST the oracle column)"
            )
    s, o = normalize(spark_pdf), normalize(oracle_pdf)
    for c in s.columns:
        a, b = s[c], o[c]
        if pd.api.types.is_float_dtype(a):
            eq = (a == b) | (a.isna() & b.isna())
            if not eq.all():
                i = (~eq).idxmax()
                diffs = int((~eq).sum())
                errs.append(
                    f"col {c}: {diffs} mismatches, e.g. row {i}: "
                    f"spark={a[i]!r} oracle={b[i]!r} "
                    f"(ulp-ish: {abs(a[i]-b[i]) if not (math.isnan(a[i]) or math.isnan(b[i])) else 'nan'})"
                )
        else:
            eq = (a == b) | (a.isna() & b.isna())
            if not eq.all():
                i = (~eq).idxmax()
                errs.append(
                    f"col {c}: {int((~eq).sum())} mismatches, e.g. row {i}: "
                    f"spark={a[i]!r} oracle={b[i]!r}"
                )
    return errs


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = get_spark("parity-check")
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            spark_pdf = sdf.toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        try:
            oracle_pdf = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: oracle error: {e}")
            n_fail += 1
            continue
        errs = compare(name, spark_pdf, oracle_pdf)
        if errs:
            n_fail += 1
            print(f"FAIL {name} ({len(spark_pdf)} vs {len(oracle_pdf)} rows):")
            for e in errs:
                print(f"     {e}")
        else:
            print(f"ok   {name}: {len(spark_pdf)} rows match ({time.time()-t0:.1f}s)")
    print(f"\n{'ALL OK' if n_fail == 0 else f'{n_fail} FAILURES'}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
