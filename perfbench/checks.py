"""Output checks for every timed pass. Each returns a list of problems
(empty = correct) and reads outputs with pyarrow, so checking adds no
Spark jobs to the status store."""

from __future__ import annotations

import math
from collections import Counter

from perfbench import gen


def _pairs(segments) -> list[tuple[int, int]]:
    return list(zip(segments.column("channel_id").to_pylist(),
                    segments.column("event_id").to_pylist()))


def check_download(inputs: gen.DownloadInputs, segments, incr: bool,
                   before=None) -> list[str]:
    """``segments``: the stored segments table after the pass; ``before``:
    the table after the full pass (required when ``incr``)."""
    problems = []
    pairs = _pairs(segments)
    expected = inputs.pairs_incr if incr else inputs.pairs
    if len(pairs) != len(set(pairs)):
        problems.append("duplicate (channel_id, event_id)")
    ids = segments.column("id").to_pylist()
    if len(ids) != len(set(ids)):
        problems.append("duplicate segment id")
    if set(pairs) != set(expected):
        problems.append(f"{len(set(pairs) ^ set(expected))} candidate pairs "
                        "differ from the plan")
    codes = segments.column("download_code").to_pylist()
    got = Counter(codes)
    want = inputs.expected_codes(incr)
    if got != want:
        problems.append(f"per-code counts {dict(got)} != plan {dict(want)}")
    wrong = sum(1 for (c, e), code in zip(pairs, codes)
                if code != gen.planned_code(inputs.seed, c, e))
    if wrong:
        problems.append(f"{wrong} rows carry another code than planned")
    if not incr:
        if set(segments.column("download_id").to_pylist()) != {1}:
            problems.append("full pass rows not stamped download_id 1")
        return problems
    old = {p: (i, code, data, did) for p, i, code, data, did in zip(
        _pairs(before), *(before.column(c).to_pylist() for c in
                          ("id", "download_code", "data", "download_id")))}
    now = {p: (i, code, data, did) for p, i, code, data, did in zip(
        pairs, *(segments.column(c).to_pylist() for c in
                 ("id", "download_code", "data", "download_id")))}
    moved = sum(1 for p, row in old.items() if now.get(p, (None,))[0] != row[0])
    if moved:
        problems.append(f"{moved} stored segment ids changed")
    touched = sum(1 for p, row in old.items()
                  if row[1] == 200 and now.get(p) != row)
    if touched:
        problems.append(f"{touched} untouched 200 rows changed")
    new_dids = {now[p][3] for p in now if p not in old}
    if new_dids - {2}:
        problems.append(f"new rows stamped {sorted(new_dids)}, not 2")
    return problems


def _same(a, b) -> bool:
    if a is None or b is None:
        return a is b
    if isinstance(a, float) or isinstance(b, float):
        return (math.isinf(a) and a == b) or math.isclose(
            a, b, rel_tol=1e-9, abs_tol=1e-12)
    return a == b


def check_process(out, expected_ids: frozenset,
                  reference: dict[int, dict]) -> list[str]:
    """``out``: the written output table; ``expected_ids``: the selected
    segments the pyfunc does not skip; ``reference``: segment id -> the
    row the pyfunc computes in plain Python (a seeded sample)."""
    problems = []
    ids = out.column("segment_db_id").to_pylist()
    if len(ids) != len(expected_ids):
        problems.append(f"{len(ids)} rows != {len(expected_ids)} expected")
    if len(ids) != len(set(ids)):
        problems.append("duplicate segment_db_id")
    if set(ids) != expected_ids:
        problems.append(f"{len(set(ids) ^ expected_ids)} segment ids "
                        "differ from the selection plan")
    rows = {r["segment_db_id"]: r for r in out.to_pylist()
            if r["segment_db_id"] in reference}
    missing = set(reference) - set(rows)
    if missing:
        problems.append(f"{len(missing)} sampled segments missing")
    bad = [i for i in rows
           if not all(_same(rows[i][f], v) for f, v in reference[i].items())]
    if bad:
        problems.append(f"{len(bad)} sampled feature rows differ from the "
                        f"plain-Python pyfunc (e.g. segment {bad[0]})")
    return problems


def check_curate(funnel: dict, first_funnel: dict, output_rows: int
                 ) -> list[str]:
    """One pass: its funnel must equal the run's first funnel of the same
    kind, and its output must hold the funnel's output count."""
    problems = []
    if funnel != first_funnel:
        problems.append(f"funnel {funnel} != first pass {first_funnel}")
    if output_rows != funnel.get("output"):
        problems.append(f"{output_rows} output rows != funnel "
                        f"{funnel.get('output')}")
    if not funnel.get("output"):
        problems.append("empty output")
    return problems


def check_curate_union(incr_ids: set, union_ids: set,
                       batch2_ids: set) -> list[str]:
    """The incremental survivors must equal a full rerun over the union,
    restricted to the second batch."""
    want = union_ids & batch2_ids
    if incr_ids != want:
        return [f"incremental survivors differ from the full rerun on "
                f"{len(incr_ids ^ want)} documents"]
    return []
