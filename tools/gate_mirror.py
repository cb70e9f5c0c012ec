#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on a VANILLA SparkSession
(the driver does not use ``session.get_spark``) at sf0.01, runs the
matching ``oracle_sql()`` in DuckDB over the same parquet files, and
compares row count, schema (column names), and exact values with columns
sorted by name — the same contract as CORRECTNESS_r{N}.json.

Usage:  python tools/gate_mirror.py [--sf-dir DIR] [query ...]
(no query args = all). ``--sf-dir`` points the sweep at an alternative
fixture — e.g. the adversarial-unicode copy built by
tools/unicode_fixture.py — so Spark-vs-DuckDB divergences on non-ASCII
case-fold edges (Java full case mapping vs utf8proc 1:1) surface
locally instead of on driver data. Exit 0 = all green.
"""

from __future__ import annotations

import argparse
import importlib.util
import sys
import traceback
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

REPO = Path(__file__).resolve().parent.parent
SF_DIR = "/root/testdata/sf0.01"
sys.path.insert(0, str(REPO))
from stream2segment_spark.schema import TESTDATA_TABLES as TABLES  # noqa: E402


def _load_entry():
    sys.path.insert(0, str(REPO))
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", REPO / "__spark_entry__.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(sdf, duck_df: pd.DataFrame) -> str | None:
    left = _normalize(sdf.toPandas())
    right = _normalize(duck_df)
    if len(left) != len(right):
        return f"rows {len(left)} != {len(right)}"
    if list(left.columns) != list(right.columns):
        return f"schema {list(left.columns)} != {list(right.columns)}"
    for c in left.columns:
        la, ra = left[c].to_numpy(), right[c].to_numpy()
        if la.dtype.kind == "f" or ra.dtype.kind == "f":
            # int-on-one-side / float-on-the-other is NOT green: the
            # driver's value hash is dtype/format-sensitive ("3000" vs
            # "3000.0"), so a numeric-equal pair still hash-mismatches.
            # Root-caused in r6: corpus_token_mix's oracle emitted a
            # bare DuckDB HUGEINT window sum (pandas float64) against
            # Spark int64 — rows/schema matched, hash failed.
            if {la.dtype.kind, ra.dtype.kind} == {"f", "i"}:
                return (f"dtype divergence col={c}: spark {la.dtype} vs "
                        f"oracle {ra.dtype} (driver value-hash would differ)")
            la, ra = la.astype(float), ra.astype(float)
            eq = (la == ra) | (np.isnan(la) & np.isnan(ra))
        else:
            ls, rs = left[c].astype(str), right[c].astype(str)
            eq = (ls == rs) | (left[c].isna() & right[c].isna()).to_numpy()
        if not eq.all():
            i = int(np.argmin(eq))
            return f"value mismatch col={c} row={i}: {la[i]!r} != {ra[i]!r}"
    return None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=SF_DIR)
    ap.add_argument("queries", nargs="*", help="entries to check (all)")
    args = ap.parse_args()
    mod = _load_entry()
    qs, osql = mod.queries(), mod.oracle_sql()
    # an unmatched operand must be an ERROR, never a silent 0/0-green
    # exit (a typo'd entry name would otherwise report the gate as
    # passing when nothing was checked); argparse rejects unknown flags
    unknown = [a for a in args.queries if a not in qs]
    if unknown:
        print(f"unknown query argument(s): {unknown}", file=sys.stderr)
        return 2
    names = [n for n in qs if not args.queries or n in args.queries]

    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "8")
             # pinned like the driver (and plan_audit): on a non-UTC
             # host, toPandas() renders TimestampType in session-local
             # tz and every timestamp entry would falsely FAIL against
             # DuckDB's UTC view
             .config("spark.sql.session.timeZone", "UTC")
             .appName("gate_mirror").getOrCreate())

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf_dir}/{t}.parquet')")

    failed = []
    for name in names:
        try:
            sdf = qs[name](spark, args.sf_dir)
            if name not in osql:
                print(f"{name:28s} NO_ORACLE rows={sdf.count()}")
                continue
            err = compare(sdf, con.execute(osql[name]).df())
        except Exception:
            err = traceback.format_exc().strip().splitlines()[-1]
        if err:
            failed.append(name)
            print(f"{name:28s} FAIL  {err}")
        else:
            print(f"{name:28s} ok")
    spark.stop()
    print(f"\n{len(names) - len(failed)}/{len(names)} green")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
