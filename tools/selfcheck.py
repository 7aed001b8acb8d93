"""Self-check harness: the registry's DuckDB-oracle comparison.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB over the same parquet, then compares
row count, column names, and values (rows sorted, order-insensitive).
``tests/test_oracle_parity.py`` runs the same comparison in pytest;
this script is for other data directories and for checking a subset.

Usage:  python tools/selfcheck.py [--sf-dir /root/testdata/sf0.01] [names...]

Exit code 0 iff every checked query matches. Reports both a strict
(bit-exact) and a tolerant (1e-9 relative on floats) verdict so FP
drift that a strict value-hash would flag is visible.
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from f1_realtime_data_pipeline_spark.session import TABLE_NAMES, get_spark  # noqa: E402


def duckdb_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name and rows by all columns (order-insensitive)."""
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort", na_position="last")
    return df.reset_index(drop=True)


def compare(name: str, spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> list[str]:
    problems: list[str] = []
    if len(spark_df) != len(oracle_df):
        problems.append(f"rowcount spark={len(spark_df)} oracle={len(oracle_df)}")
    s_cols, o_cols = sorted(spark_df.columns), sorted(oracle_df.columns)
    if s_cols != o_cols:
        problems.append(f"columns spark={s_cols} oracle={o_cols}")
        return problems
    if problems:
        return problems
    s, o = normalize(spark_df), normalize(oracle_df)
    for col in s.columns:
        sv, ov = s[col], o[col]
        if pd.api.types.is_float_dtype(sv) or pd.api.types.is_float_dtype(ov):
            sv_f = pd.to_numeric(sv, errors="coerce").astype(float)
            ov_f = pd.to_numeric(ov, errors="coerce").astype(float)
            both_nan = sv_f.isna() & ov_f.isna()
            exact = (sv_f == ov_f) | both_nan
            if not exact.all():
                close = both_nan.copy()
                for i in (~exact).to_numpy().nonzero()[0]:
                    a, b = sv_f.iloc[i], ov_f.iloc[i]
                    close.iloc[i] = (
                        not (math.isnan(a) or math.isnan(b))
                        and math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
                    )
                n_bad = int((~(exact | close)).sum())
                n_drift = int((close & ~exact).sum())
                if n_bad:
                    i = (~(exact | close)).to_numpy().nonzero()[0][0]
                    problems.append(
                        f"col {col}: {n_bad} value mismatches "
                        f"(e.g. {sv_f.iloc[i]!r} vs {ov_f.iloc[i]!r})"
                    )
                elif n_drift:
                    problems.append(
                        f"col {col}: WARNING {n_drift} rows differ only by FP drift "
                        f"(<1e-9) — may still trip a strict value-hash"
                    )
        else:
            sa = sv.astype(str)
            oa = ov.astype(str)
            bad = (sa != oa) & ~(sv.isna() & ov.isna())
            if bad.any():
                i = bad.to_numpy().nonzero()[0][0]
                problems.append(
                    f"col {col}: {int(bad.sum())} value mismatches "
                    f"(e.g. {sv.iloc[i]!r} vs {ov.iloc[i]!r})"
                )
    return problems


def failures(problems: list[str]) -> list[str]:
    """The problems that fail a match: all but the FP-drift warnings."""
    return [p for p in problems if not p.startswith("col") or "WARNING" not in p]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = args.names or list(qs)

    spark = get_spark("selfcheck")
    con = duckdb_con(args.sf_dir)

    failed: list[str] = []
    for name in names:
        if name not in qs:
            print(f"[skip] {name}: not in queries()")
            continue
        t0 = time.time()
        try:
            sdf = qs[name](spark, args.sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"[FAIL] {name}: spark error: {e}")
            failed.append(name)
            continue
        if name not in oracles:
            print(f"[rows-only] {name}: {len(sdf)} rows ({time.time() - t0:.1f}s)")
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"[FAIL] {name}: duckdb error: {e}")
            failed.append(name)
            continue
        problems = compare(name, sdf, odf)
        hard = failures(problems)
        status = "OK" if not hard else "FAIL"
        warn = len(problems) - len(hard)
        print(
            f"[{status}] {name}: {len(sdf)} rows ({time.time() - t0:.1f}s)"
            + (f" [{warn} FP-drift warning(s)]" if warn else "")
        )
        for p in problems:
            print(f"    - {p}")
        if hard:
            failed.append(name)

    print(f"\n{len(names) - len(failed)}/{len(names)} queries match")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
