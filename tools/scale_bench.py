#!/usr/bin/env python3
"""Scale-proof bench: run the heavy query family at sf0.1 and at a
synthetic 10x replication of it, and report per-query scaling exponents
(alpha in t ~ n^alpha; alpha <= ~1 means the plan scales linearly).

The 10x dataset replicates documents / embeddings / events with
disjoint ids; every copy's document TOKENS get a per-copy suffix so
cross-copy shingles never match (each copy keeps sf0.1's internal
duplicate structure — the dup RATE stays constant, the honest scaling
setup for dedup operators). Dimension-like tables (customer = the
station side of the spatial join, TPC-H dims) stay at 1x: at 100 TB the
event/doc stream grows, the station list does not.

Usage: python tools/scale_bench.py [--factor 10] [--queries a,b,...]
[--scale-tables t,...]. Writes the scaled data under
/tmp/s2s_scale<factor>/ and the per-query alpha report to stdout.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import shutil
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
HEAVY = ("dedup_minhash_lsh", "dedup_ngram_jaccard", "corpus_substring_dup",
         "funclib_spectra", "cluster_kmeans", "spatial_join_traveltime")
# lineitem AND orders are fact-like too (the measure columns
# agg_corr_matrix scans; the candidate/existing sides of the download
# diff). Both replicate with the SAME order-key offset (their key
# domains coincide, so max+1 offsets stay consistent and scaled
# lineitem rows never dangle against orders — a dangling fact side
# would understate join-scaling alphas). Real dims (TPC-H dims,
# customer as the station side) stay 1x — at 100 TB the fact stream
# grows, the station list does not.
SCALED_TABLES = ("documents", "embeddings", "events", "lineitem",
                 "orders")
ID_COLS = {"documents": "doc_id", "embeddings": "vec_id",
           "events": "event_id", "lineitem": "l_orderkey",
           "orders": "o_orderkey", "part": "p_partkey"}
# canonical list lives in schema.TESTDATA_TABLES (imported in main
# after the sys.path insert); this module-level mirror is resolved there
ALL_TABLES: tuple[str, ...] = ()


def _all_tables() -> tuple[str, ...]:
    global ALL_TABLES
    if not ALL_TABLES:
        from stream2segment_spark.schema import TESTDATA_TABLES
        ALL_TABLES = tuple(TESTDATA_TABLES)
    return ALL_TABLES


def build_scaled(spark, factor: int, out_dir: str,
                 extra_scaled: tuple[str, ...] = ()) -> None:
    """``extra_scaled`` promotes normally-dim tables (e.g. ``part`` for
    the source_routing channel list) into the replicated set — station/
    channel lists DO grow in an EIDA-wide routing table, unlike TPC-H
    dims."""
    from pyspark.sql import functions as F

    from stream2segment_spark.schema import load_table
    os.makedirs(out_dir, exist_ok=True)
    scaled = tuple(SCALED_TABLES) + tuple(extra_scaled)
    missing = [t for t in extra_scaled if t not in ID_COLS]
    if missing:
        raise ValueError(
            f"--scale-tables entries without a known id column: {missing} "
            f"(add them to ID_COLS)")
    for name in _all_tables():
        if name in scaled:
            continue
        src, dst = f"{SF_BASE}/{name}.parquet", f"{out_dir}/{name}.parquet"
        # ALWAYS refresh the dim copy: a table that moved between the
        # scaled and dim sets across runs (--scale-tables) would
        # otherwise silently reuse the previous run's replicated copy
        # as the "1x dim" and corrupt every alpha touching it
        if os.path.exists(dst):
            (shutil.rmtree if os.path.isdir(dst) else os.remove)(dst)
        (shutil.copytree if os.path.isdir(src) else shutil.copyfile)(
            src, dst)
    # lineitem/orders must shift by the SAME offset or copy i's lineitem
    # rows would reference copy j's orders: use the shared key-domain max
    order_off = max(
        load_table(spark, SF_BASE, "orders")
        .agg(F.max("o_orderkey")).collect()[0][0],
        load_table(spark, SF_BASE, "lineitem")
        .agg(F.max("l_orderkey")).collect()[0][0]) + 1
    for name in scaled:
        df = load_table(spark, SF_BASE, name)
        idc = ID_COLS[name]
        if name in ("lineitem", "orders"):
            off = order_off
        else:
            off = df.agg(F.max(idc)).collect()[0][0] + 1
        copies = []
        for i in range(factor):
            c = df.withColumn(idc, F.col(idc) + i * off)
            if name == "documents":
                # EVERY copy gets a fixed-width per-copy token suffix
                # (copy 0 included): equal-length suffixes make
                # cross-copy token equality imply equal copy index, so
                # collisions like 'xq1'(copy 0) == 'x'+'q1'(copy 1) are
                # impossible; in-copy dup structure stays intact
                c = c.withColumn("text", F.regexp_replace(
                    "text", r"([A-Za-z0-9]+)", rf"$1q{i:03d}"))
            if name == "events" and i > 0 and "user_id" in df.columns:
                c = c.withColumn("user_id", F.col("user_id") + i * 10_000_000)
            copies.append(c)
        functools.reduce(lambda a, b: a.unionByName(b), copies) \
            .write.mode("overwrite").parquet(f"{out_dir}/{name}.parquet")


_ENTRY_MOD = None


def _entry_mod():
    # cached: the old per-run() re-exec re-ran the module body (asserts,
    # sys.path mutation) twice per invocation
    global _ENTRY_MOD
    if _ENTRY_MOD is None:
        import importlib.util
        spec = importlib.util.spec_from_file_location(
            "__spark_entry__", REPO / "__spark_entry__.py")
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        _ENTRY_MOD = mod
    return _ENTRY_MOD


def run(spark, sf_dir: str, names) -> dict[str, float]:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from bench import entry_runs
    qs = _entry_mod().queries()
    out = {}
    for n in names:
        # row count via observe() on the TIMED run: a separate count()
        # would re-execute every query under aggregate pruning (a
        # different plan), doubling tool runtime at scale (r6 ADVICE)
        obs = Observation(f"rows_{n}")
        (sec,) = entry_runs(
            spark, lambda s, d: qs[n](s, d).observe(
                obs, F.count(F.lit(1)).alias("n")), sf_dir, 1)
        out[n] = {"sec": round(sec, 2), "rows": obs.get["n"]}
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--queries", default=",".join(HEAVY))
    ap.add_argument("--scale-tables", default="",
                    help="comma-list of extra tables to replicate")
    args = ap.parse_args()
    names = [q for q in args.queries.split(",") if q]
    extra = tuple(t for t in args.scale_tables.split(",") if t)

    from stream2segment_spark.session import get_spark
    spark = get_spark(app_name="scale-bench")
    scaled_dir = f"/tmp/s2s_scale{args.factor}"
    build_scaled(spark, args.factor, scaled_dir, extra_scaled=extra)

    base = run(spark, SF_BASE, names)
    big = run(spark, scaled_dir, names)
    import math
    report = {}
    for n in names:
        t1, t10 = base[n]["sec"], big[n]["sec"]
        alpha = math.log(max(t10, 1e-3) / max(t1, 1e-3)) / math.log(
            args.factor)
        report[n] = {"sec_1x": t1, f"sec_{args.factor}x": t10,
                     "rows_1x": base[n]["rows"],
                     f"rows_{args.factor}x": big[n]["rows"],
                     "alpha": round(alpha, 2)}
    print(json.dumps(report, indent=1))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
