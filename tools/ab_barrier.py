#!/usr/bin/env python3
"""Interleaved same-session A/B of functions/plan.opt_barrier over
catalog entries (r10 optimization round): arms alternate the module's
DISABLED flag per pass — query functions rebuild their plans on every
call, so one JVM serves both arms back to back and host load bursts
hit both arms alike. A fixed-size control workload runs between
alternations so residual drift is visible.

Usage:  python tools/ab_barrier.py [--alternations N] [--runs N] entry...
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--alternations", type=int, default=3)
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("entries", nargs="+")
    args = ap.parse_args()

    import stream2segment_spark.functions.plan as PLAN
    from stream2segment_spark.queries_catalog import queries
    from stream2segment_spark.schema import TESTDATA_TABLES, load_table
    from stream2segment_spark.session import get_spark

    spark = get_spark(app_name="ab-barrier")
    qs = queries()
    for name in TESTDATA_TABLES:
        load_table(spark, args.sf_dir, name).count()
    import pandas as pd  # noqa: F401
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def _warm(s):
        return s

    par = spark.sparkContext.defaultParallelism
    (spark.range(0, par * 4, 1, par).select(_warm("id"))
     .write.format("noop").mode("overwrite").save())

    def control() -> float:
        t0 = time.perf_counter()
        (spark.range(0, 20_000_000, 1, 32)
         .select((F.xxhash64("id") % 997).alias("k"),
                 F.shiftright(F.xxhash64("id", F.lit(1)), 32).alias("v"))
         .groupBy("k").agg(F.sum("v"), F.avg("v"), F.count(F.lit(1)))
         .write.format("noop").mode("overwrite").save())
        return time.perf_counter() - t0

    results: dict[str, dict[str, list[float]]] = {
        e: {"on": [], "off": []} for e in args.entries}
    try:
        for alt in range(args.alternations):
            print(f"-- alternation {alt}  control={control():.3f}s",
                  flush=True)
            # arm order flips per alternation: a decaying host burst
            # would otherwise systematically charge the first arm
            arms = (("on", False), ("off", True))
            if alt % 2:
                arms = arms[::-1]
            for arm, disabled in arms:
                PLAN.DISABLED = disabled
                for entry in args.entries:
                    best = float("inf")
                    for _ in range(args.runs):
                        t0 = time.perf_counter()
                        qs[entry](spark, args.sf_dir).write.format("noop") \
                            .mode("overwrite").save()
                        best = min(best, time.perf_counter() - t0)
                    spark.catalog.clearCache()
                    results[entry][arm].append(best)
                    print(f"   {entry:34s} {arm:3s} {best:8.3f}s",
                          flush=True)
    finally:  # an interrupted arm must not leave the barrier off
        PLAN.DISABLED = False
    print(f"-- final control={control():.3f}s")
    for entry in args.entries:
        on, off = results[entry]["on"], results[entry]["off"]
        print(f"{entry:34s} on(min)={min(on):7.3f}  off(min)={min(off):7.3f}"
              f"  ratio={min(on) / min(off):5.2f}  on={on}  off={off}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
