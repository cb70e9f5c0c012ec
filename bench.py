#!/usr/bin/env python3
"""Benchmark harness: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...},
"sf": ...}.

Per-query time = full plan execution including the parquet scan, measured
with a count-style action that materializes every row (no driver collect
of the payload).

This module is also the one measurement core of the tools that time
catalog entries (``tools/ab.py``, ``tools/scale_bench.py``): they import
:func:`warm_up`, :func:`control_run` and :func:`entry_runs` from here.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))


def warm_up(spark, sf_dir: str) -> None:
    """Session warm-up, not counted: touch every table once (JVM +
    catalog), then spawn the Python-worker pool."""
    from pyspark.sql import functions as F

    from stream2segment_spark.schema import TESTDATA_TABLES, load_table
    for name in TESTDATA_TABLES:
        load_table(spark, sf_dir, name).count()

    # Python-worker warmup: several catalog queries run pandas UDFs on
    # defaultParallelism partitions; spawning that many workers (each
    # importing numpy/pandas/pyarrow) costs ~10-30 s once per session
    # and would otherwise land inside whichever UDF query runs first —
    # a session cost, not a query cost, so pay it here.
    import pandas as pd  # noqa: F401  (workers import it on spawn)

    @F.pandas_udf("long")
    def _warm(s):
        return s

    @F.pandas_udf("long")
    def _warm2(s):
        return s

    # two CHAINED udfs: a task evaluating k chained udfs holds k workers
    # at once, so this spawns the full 2 x parallelism worker pool
    par = spark.sparkContext.defaultParallelism
    (spark.range(0, par * 4, 1, par)
     .select(_warm("id").alias("a")).select(_warm2(F.col("a") + 1))
     .write.format("noop").mode("overwrite").save())


def control_run(spark, n_runs: int) -> float:
    """Best of ``n_runs`` of a fixed-size synthetic workload, constant
    regardless of sf: a codegen'd hash aggregation over spark.range (20M
    rows, 32 partitions, xxhash64 keys/values). Its time is a direct
    probe of this host's throughput during THIS run, so cross-round
    artifact comparisons can normalize the uniform host-load component
    out per-artifact instead of inferring it from the median catalog
    ratio (tools/bench_compare.py consumes it)."""
    from pyspark.sql import functions as F
    best = float("inf")
    for _ in range(n_runs):
        t0 = time.perf_counter()
        # shiftright(hash, 32) bounds |v| <= 2^31 so the 20M-row sum
        # stays far under int64 (ANSI mode overflows on raw hashes)
        (spark.range(0, 20_000_000, 1, 32)
         .select((F.xxhash64("id") % 997).alias("k"),
                 F.shiftright(F.xxhash64("id", F.lit(1)), 32).alias("v"))
         .groupBy("k")
         .agg(F.sum("v").alias("s"), F.avg("v").alias("a"),
              F.count(F.lit(1)).alias("c"))
         .write.format("noop").mode("overwrite").save())
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)


def entry_runs(spark, query, sf_dir: str, n_runs: int) -> list[float]:
    """Wall times of ``n_runs`` runs of one catalog entry (``query(spark,
    sf_dir) -> DataFrame``); the best of them is the entry's time. Each
    run rebuilds the plan and materializes every output row through the
    noop sink, no driver collect of the payload."""
    times = []
    for _ in range(n_runs):
        t0 = time.perf_counter()
        query(spark, sf_dir).write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    # queries that persist() intermediates leave them cached after
    # returning; drop them BETWEEN entries so 50 entries don't
    # accumulate block-manager garbage (GC pressure on later entries).
    # Not between runs of the same entry: best-of-N deliberately
    # measures the warm steady state.
    spark.catalog.clearCache()
    return times


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = -1.0   # non-numeric suffix (e.g. /tmp/sf_unicode fixtures)

    from stream2segment_spark.queries_catalog import queries
    from stream2segment_spark.session import get_spark

    spark = get_spark(app_name="bench")
    qs = queries()
    warm_up(spark, sf_dir)

    # min of N runs per query: single-JVM local mode has large run-to-run
    # noise (GC, JIT warmup, Python-worker churn); the min is the standard
    # low-variance estimator of a query's actual cost. 3 runs, because a
    # GC storm spans seconds and can hit two consecutive runs of the same
    # query (observed: a 2s query reading 16s under min-of-2).
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    control_pre = control_run(spark, n_runs)
    timings = {name: round(min(entry_runs(spark, qs[name], sf_dir, n_runs)),
                           4)
               for name in sorted(qs)}
    control_post = control_run(spark, n_runs)
    total = round(sum(timings.values()), 4)
    # Artifact-robustness line (r10, VERDICT r9 ask #6): a COMPACT
    # summary printed before the full per-query line, so a capture that
    # truncates the (multi-KB) full line still carries the round's
    # total and control. Additive only — the full line below stays the
    # LAST line and is unchanged in shape, so existing parsers that
    # read the final line keep working; the summary duplicates values,
    # it never replaces them. Its metric name does not extend the full
    # line's, so a grep for "total_query_wall_sec" finds one line.
    print(json.dumps({
        "metric": "summary_total_query_wall_sec",
        "value": total,
        "unit": "sec",
        "control": min(control_pre, control_post),
        "control_spread": [control_pre, control_post],
        "n_queries": len(timings),
        "sf": sf,
    }))
    # "control" sits BEFORE "queries" so a tail-truncated artifact (the
    # driver has recorded those) still carries it. min(pre, post): the
    # host component this run could have run at; the spread shows drift.
    print(json.dumps({
        "metric": "total_query_wall_sec",
        "value": total,
        "unit": "sec",
        "control": min(control_pre, control_post),
        "control_spread": [control_pre, control_post],
        "queries": timings,
        "sf": sf,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
