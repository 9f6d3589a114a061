"""Local stand-in for the driver's correctness gate.

Runs every queries() entry at sf0.01 on Spark AND its oracle_sql() on
DuckDB over the same parquet, then compares row count + order-insensitive
values under sorted column names — approximating CORRECTNESS_r{N}.json.

Usage: python tools/selfcheck.py [--sf SF_DIR] [-k substr[,substr...]]

-k keeps the queries whose name contains any of the comma-separated
substrings, so one JVM checks a family: -k td_neardup,td_cut,td_compact
"""

from __future__ import annotations

import argparse
import sys
import time
import traceback

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, ".")

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def duck_con(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pd.api.types.is_datetime64_any_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("datetime64[us]").astype(str)
        elif pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
    if len(pdf):
        pdf = pdf.sort_values(list(pdf.columns), kind="mergesort").reset_index(drop=True)
    return pdf


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    if len(got) != len(want):
        return f"row count {len(got)} != {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    g, w = normalize(got.copy()), normalize(want.copy())
    for c in g.columns:
        gv, wv = g[c], w[c]
        if pd.api.types.is_float_dtype(gv) and pd.api.types.is_float_dtype(wv):
            both_nan = gv.isna() & wv.isna()
            eq = (gv == wv) | both_nan
            if not eq.all():
                diff = (gv - wv).abs().max()
                close = np.isclose(gv.fillna(0), wv.fillna(0), rtol=0, atol=1e-9).all()
                return f"col {c}: float mismatch max|Δ|={diff} (atol1e-9 close={close})"
        else:
            gs, ws = gv.astype(str), wv.astype(str)
            if not (gs == ws).all():
                i = (gs != ws).idxmax()
                return f"col {c}: first mismatch row {i}: {gs[i]!r} != {ws[i]!r}"
    return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument(
        "-k", default="",
        help="comma-separated substrings; keep queries whose name contains any",
    )
    ap.add_argument("--skip-pipeline", action="store_true")
    args = ap.parse_args()
    keys = [k for k in args.k.split(",") if k]

    import __spark_entry__ as entry_mod
    from illumio_spark.session import build_session

    spark = build_session(app_name="selfcheck", master="local[16]", shuffle_partitions=16)
    con = duck_con(args.sf)

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    # driver-window guard: every registered query must land inside the
    # driver's 50-entry correctness gate, priority queries first
    names = list(qs)
    assert len(names) <= entry_mod.DRIVER_WINDOW, f"{len(names)} > driver window"
    assert names[: len(entry_mod.PRIORITY)] == entry_mod.PRIORITY, "priority order broken"
    print(f"registry: {len(names)} queries (window {entry_mod.DRIVER_WINDOW}), priority-first OK")
    n_pass = n_fail = n_rowsonly = 0
    failures = []
    for name, fn in qs.items():
        if keys and not any(k in name for k in keys):
            continue
        if args.skip_pipeline and name.startswith("pipeline_"):
            continue
        t0 = time.time()
        try:
            got = fn(spark, args.sf).toPandas()
        except Exception:
            print(f"FAIL  {name}: SPARK ERROR\n{traceback.format_exc()}")
            n_fail += 1
            failures.append(name)
            continue
        if name in oracles:
            try:
                want = con.execute(oracles[name]).df()
            except Exception:
                print(f"FAIL  {name}: DUCKDB ERROR\n{traceback.format_exc()}")
                n_fail += 1
                failures.append(name)
                continue
            err = compare(got, want)
            dt = time.time() - t0
            if err:
                print(f"FAIL  {name} ({dt:.1f}s): {err}")
                n_fail += 1
                failures.append(name)
            else:
                print(f"pass  {name} ({dt:.1f}s, {len(got)} rows)")
                n_pass += 1
        else:
            dt = time.time() - t0
            print(f"rows  {name} ({dt:.1f}s, {len(got)} rows)")
            n_rowsonly += 1

    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    if failures:
        print("failures:", ", ".join(failures))
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
