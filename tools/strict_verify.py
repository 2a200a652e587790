"""Pre-flight the driver's correctness gate locally.

Runs every in-window queries() entry (plus extras with --all) against its
DuckDB oracle at a given sf dir, mimicking the driver's compare: row
count, sorted-column schema, and value parity on row-sorted frames.

Usage:  python tools/strict_verify.py [sf_dir] [--all] [names...]
"""

import sys
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

# this checkout's code, wherever it lives
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import __spark_entry__ as E  # noqa: E402
from paradump_spark.session import get_session  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        dt = str(df[c].dtype)
        if dt.startswith("datetime64") and "," not in dt:
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object and len(df):
            head = df[c].dropna().head(5)
            if len(head) and all(type(v).__name__ == "date" for v in head):
                df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
    # NO TypeError fallback: the driver's canonicalizer sorts EVERY
    # column and dies on unsortable cells (list/ndarray); round 10
    # shipped a red driver row (video_near_dup, CORRECTNESS_r10)
    # because this preflight silently tolerated what the driver
    # cannot.  Mirror the driver exactly — an unsortable output
    # column must fail HERE first.
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def _values_equal(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    if a.shape != b.shape or list(a.columns) != list(b.columns):
        return False
    for c in a.columns:
        av, bv = a[c], b[c]
        if np.issubdtype(av.dtype, np.floating) or np.issubdtype(bv.dtype, np.floating):
            if not np.allclose(av.astype(float).fillna(0), bv.astype(float).fillna(0),
                               rtol=1e-9, atol=1e-12, equal_nan=False):
                return False
            if not (av.isna() == bv.isna()).all():
                return False
        else:
            if not (av.fillna("\0N") == bv.fillna("\0N")).all() if av.dtype == object else not av.equals(bv):
                return False
    return True


def main():
    args = [a for a in sys.argv[1:]]
    run_all = "--all" in args
    args = [a for a in args if a != "--all"]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.01"
    names = [a for a in args if "/" not in a]

    spark = get_session()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qmap = dict(E.queries())
    omap = dict(E.oracle_sql())
    if run_all:
        qmap.update(E.extra_queries())
        omap.update(E.extra_oracle_sql())
    if names:
        qmap = {k: v for k, v in qmap.items() if k in names}

    n_pass = n_rows_only = n_fail = 0
    for name, fn in qmap.items():
        try:
            spdf = fn(spark, sf_dir).toPandas()
            if name not in omap:
                print(f"{name:32s} ROWS-ONLY ({len(spdf)} rows)")
                n_rows_only += 1
                continue
            opdf = con.execute(omap[name]).df()
            a, b = _canon(spdf), _canon(opdf)
            rows = len(a) == len(b)
            schema = list(a.columns) == list(b.columns)
            vals = _values_equal(a, b) if rows and schema else False
            ok = rows and schema and vals
            n_pass += ok
            n_fail += not ok
            tag = "PASS" if ok else f"FAIL rows={rows} schema={schema} vals={vals} ({len(a)} vs {len(b)})"
            print(f"{name:32s} {tag}")
            if not ok and rows and schema:
                for c in a.columns:
                    col_ok = _values_equal(a[[c]], b[[c]])
                    if not col_ok:
                        print(f"    col {c}: spark={a[c].head(3).tolist()} oracle={b[c].head(3).tolist()}"
                              f" dtypes {a[c].dtype}/{b[c].dtype}")
            elif not ok and not schema:
                print(f"    spark cols={list(a.columns)}")
                print(f"    oracle cols={list(b.columns)}")
        except Exception as ex:  # noqa: BLE001
            n_fail += 1
            print(f"{name:32s} ERROR {type(ex).__name__}: {ex}")
    print(f"\n{n_pass} pass, {n_rows_only} rows-only, {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
