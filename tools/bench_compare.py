#!/usr/bin/env python3
"""Compare two bench JSON artifacts (driver BENCH_r{N}.json or local
BENCH_local_r{N}.json) per entry and flag regressions.

Host-load noise inflates totals up to ~2x uniformly (see NOTES.md), so
the comparison normalizes by the MEDIAN ratio across common entries
first: a real per-entry regression stands out from the uniform-load
fingerprint, which a raw ratio cannot distinguish.

Usage: python tools/bench_compare.py OLD.json NEW.json [--flag 1.5]
Exit 1 if any entry's load-normalized ratio exceeds the flag threshold.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys


METRIC = "total_query_wall_sec"  # bench.py's full per-entry line


def _full_result(text: str) -> dict:
    """The object of bench.py's full line, picked by an exact metric-name
    match (a captured stdout also holds the compact summary line), else
    the whole file: a one-line local artifact or the driver's wrapper."""
    for line in text.splitlines():
        try:
            obj = json.loads(line)
        except ValueError:
            continue
        if isinstance(obj, dict) and obj.get("metric") == METRIC:
            return obj
    return json.loads(text)


def load(path: str) -> tuple[dict[str, float], float | None]:
    with open(path) as fh:
        d = _full_result(fh.read())
    qs = d.get("queries")
    control = d.get("control")
    if not isinstance(qs, dict):          # driver truncated-tail fallback
        import re
        tail = d.get("tail", "")
        # only the full line's keys: a tail long enough to reach back to
        # the summary line must not read its fields as entries
        full = re.search(r'"metric":\s*"%s"' % METRIC, tail)
        pairs = re.findall(r'"(\w+)":\s*([0-9.]+)',
                           tail[full.start():] if full else tail)
        qs = {k: float(v) for k, v in pairs
              if k not in ("n", "rc", "cpus", "sf", "value", "control")}
        if control is None:               # control sits in the tail too
            ctl = [v for k, v in pairs if k == "control"]
            control = ctl[0] if ctl else None
    return ({k: float(v) for k, v in qs.items()},
            float(control) if control is not None else None)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--flag", type=float, default=1.5,
                    help="load-normalized ratio that flags a regression")
    args = ap.parse_args()
    (old, old_ctl), (new, new_ctl) = load(args.old), load(args.new)
    common = sorted(set(old) & set(new))
    if not common:
        print("no common entries")
        return 1
    ratios = {k: new[k] / old[k] for k in common
              if old[k] > 0 and new[k] > 0}
    if not ratios:
        print("no comparable entries (all zero/sub-resolution timings)")
        return 1
    med = statistics.median(ratios.values()) or 1.0
    # When both artifacts carry the fixed-size control workload, its
    # ratio is a DIRECT per-artifact host-throughput measurement —
    # prefer it to the median inference (the median conflates genuine
    # broad code changes, e.g. a tokenizer-fold cost on 18 entries,
    # with host load; the control cannot).
    if old_ctl is not None and new_ctl is not None and old_ctl > 0 \
            and new_ctl > 0:
        norm_base = new_ctl / old_ctl
        print(f"control {old_ctl:.2f} -> {new_ctl:.2f} s "
              f"(host component {norm_base:.2f}; "
              f"median catalog ratio {med:.2f})")
    else:
        norm_base = med
        n_missing = sum(c is None for c in (old_ctl, new_ctl))
        print(f"no usable control in "
              f"{'either' if n_missing == 2 else 'one'} artifact; "
              "normalizing by median catalog ratio")
    med = norm_base
    print(f"{len(common)} common entries; normalizing ratio {med:.2f} "
          f"(uniform-load component)  old-only={sorted(set(old)-set(new))} "
          f"new-only={sorted(set(new)-set(old))}")
    flagged = []
    for k in sorted(ratios, key=lambda k: -ratios[k] / med):
        norm = ratios[k] / med
        mark = " <-- REGRESSION" if norm > args.flag and new[k] > 0.5 else ""
        if mark or norm > 1.2:
            print(f"{k:30s} {old[k]:7.2f} -> {new[k]:7.2f}  "
                  f"raw {ratios[k]:5.2f}  norm {norm:5.2f}{mark}")
        if mark:
            flagged.append(k)
    print(f"\n{len(flagged)} flagged (norm ratio > {args.flag}, "
          f"new time > 0.5 s)")
    return 1 if flagged else 0


if __name__ == "__main__":
    sys.exit(main())
