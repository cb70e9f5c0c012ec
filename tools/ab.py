#!/usr/bin/env python3
"""Time catalog entries with bench.py's warm-up, best-of-N timer and
control workload; with ``--conf KEY --a VAL --b VAL``, as a same-session
A/B of one runtime SQL conf.

Query functions rebuild their plans on every call, so one JVM serves
both arms back to back and host-load bursts hit both alike. The arm
order flips on every alternation, so a decaying burst does not always
charge the same arm; the control runs between alternations so residual
drift shows. The conf gets its earlier value back however the run ends.

Usage:  python tools/ab.py [--runs N] [--alternations N] [--sf-dir DIR]
                           [--conf KEY --a VAL --b VAL] entry [entry ...]
"""

from __future__ import annotations

import argparse
import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from bench import control_run, entry_runs, warm_up  # noqa: E402


def schedule(arms: list, alternations: int) -> list[list]:
    """The arm order of each alternation: as given, then reversed, and
    so on."""
    return [arms[::-1] if alt % 2 else arms for alt in range(alternations)]


def run(spark, entries: list[str], sf_dir: str, runs: int,
        alternations: int, conf: str | None = None,
        values: tuple[str, ...] = ()) -> dict[str, dict[str, list[float]]]:
    """Time ``entries`` per arm on the :func:`schedule`; returns
    {entry: {arm: [run seconds, ...]}}, an arm being a value of ``conf``
    (or ``"tree"`` without one)."""
    from stream2segment_spark.queries_catalog import queries
    qs = queries()
    arms = list(values) if conf else ["tree"]
    results = {e: {a: [] for a in arms} for e in entries}
    prior = spark.conf.get(conf, None) if conf else None
    try:
        for alt, order in enumerate(schedule(arms, alternations)):
            print(f"-- alternation {alt}  control="
                  f"{control_run(spark, 1):.3f}s", flush=True)
            for arm in order:
                if conf:
                    spark.conf.set(conf, arm)
                for entry in entries:
                    times = entry_runs(spark, qs[entry], sf_dir, runs)
                    results[entry][arm] += times
                    print(f"   {entry:34s} {arm:>8s} "
                          f"{' '.join(f'{t:8.3f}' for t in times)}",
                          flush=True)
    finally:
        if conf and prior is None:
            spark.conf.unset(conf)
        elif conf:
            spark.conf.set(conf, prior)
    return results


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")),
                    help="timed runs per entry and arm in each alternation")
    ap.add_argument("--alternations", type=int, default=None,
                    help="passes over the arms (default: 1 with one arm, "
                         "2 with two)")
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--conf", help="runtime SQL conf the two arms set")
    ap.add_argument("--a", help="the conf's value in arm a")
    ap.add_argument("--b", help="the conf's value in arm b")
    ap.add_argument("entries", nargs="+")
    args = ap.parse_args()
    given = [v is not None for v in (args.conf, args.a, args.b)]
    if any(given) and not all(given) or args.conf and args.a == args.b:
        ap.error("--conf takes two different values, --a and --b")

    from stream2segment_spark.queries_catalog import queries
    unknown = [e for e in args.entries if e not in queries()]
    if unknown:
        ap.error(f"unknown entries: {unknown}")

    from stream2segment_spark.session import get_spark
    spark = get_spark(app_name="ab")
    warm_up(spark, args.sf_dir)
    values = (args.a, args.b) if args.conf else ()
    alternations = args.alternations or (2 if args.conf else 1)
    results = run(spark, args.entries, args.sf_dir, args.runs, alternations,
                  args.conf, values)
    print(f"-- final control={control_run(spark, 1):.3f}s")
    for entry, arms in results.items():
        best = {arm: min(times) for arm, times in arms.items()}
        line = "  ".join(f"{arm}(min)={t:7.3f}" for arm, t in best.items())
        if args.conf:
            line += f"  ratio={best[args.a] / best[args.b]:5.2f}"
        print(f"{entry:34s} {line}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
