"""Tests of the benchmark itself (no Spark session):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
from collections import Counter
from pathlib import Path

import pyarrow as pa
import pytest

from perfbench import checks, gen, transport
from perfbench.run import END_TO_END, layer_metrics
from perfbench.statusstore import parse_metric_value
from perfbench.trace import Span, self_times

ROOT = Path(__file__).resolve().parent.parent
SMALL_DL = dict(n_events=8, n_stations=6)


# ------------------------------------------------------------ determinism

def test_same_seed_same_inputs_other_seed_other_inputs():
    a, b = gen.download_inputs(1, **SMALL_DL), gen.download_inputs(1, **SMALL_DL)
    assert a == b
    assert a.events_text != gen.download_inputs(2, **SMALL_DL).events_text

    p1, p2 = gen.process_inputs(1, 60), gen.process_inputs(1, 60)
    for name in ("events", "channels", "stations", "segments",
                 "segments_new"):
        assert getattr(p1, name).equals(getattr(p2, name))
    assert p1.written_ids == p2.written_ids
    assert not p1.segments.equals(gen.process_inputs(2, 60).segments)

    c1, c2 = gen.curate_inputs(1, 40), gen.curate_inputs(1, 40)
    assert c1.batch1.equals(c2.batch1) and c1.batch2.equals(c2.batch2)
    assert not c1.batch1.equals(gen.curate_inputs(2, 40).batch1)


def test_transport_serves_the_plan():
    from stream2segment_spark.sources.mseed import unpack_blob
    seen = Counter()
    for cha in range(1, 40):
        for ev in range(1, 6):
            url = f"{transport.base_url(7)}?cha={cha}&ev={ev}"
            data, code = transport.serve(url, None)
            planned = gen.planned_code(7, cha, ev)
            seen[planned] += 1
            if planned == 404:
                assert (data, code) == (None, 404)
            elif planned == gen.DECODE_ERR_CODE:
                assert (data, code) == (gen.UNDECODABLE_BLOB, 200)
            else:
                assert code == 200
                assert unpack_blob(data)[0]["n_samples"] == gen.DL_SAMPLES
    assert set(seen) == {404, gen.DECODE_ERR_CODE, 200}


# ------------------------------------------------------------------ checks

def _stored_segments(inputs: gen.DownloadInputs, incr: bool) -> pa.Table:
    """The segments table a correct download writes."""
    pairs = inputs.pairs_incr if incr else inputs.pairs
    n_old = len(inputs.pairs)
    return pa.table({
        "id": list(range(1, len(pairs) + 1)),
        "channel_id": [c for c, _ in pairs],
        "event_id": [e for _, e in pairs],
        "download_code": [gen.planned_code(inputs.seed, c, e)
                          for c, e in pairs],
        "data": [None if gen.planned_code(inputs.seed, c, e) == 404
                 else gen.served_blob(inputs.seed, c, e) for c, e in pairs],
        "download_id": [1 if i < n_old else 2 for i in range(len(pairs))],
    })


def _replace(table: pa.Table, col: str, row: int, value) -> pa.Table:
    values = table.column(col).to_pylist()
    values[row] = value
    return table.set_column(table.schema.get_field_index(col), col,
                            pa.array(values, table.schema.field(col).type))


def test_download_check_passes_and_catches_corruption():
    inputs = gen.download_inputs(3, **SMALL_DL)
    full = _stored_segments(inputs, incr=False)
    incr = _stored_segments(inputs, incr=True)
    assert checks.check_download(inputs, full, incr=False) == []
    assert checks.check_download(inputs, incr, incr=True, before=full) == []

    ok_row = full.column("download_code").to_pylist().index(200)
    corrupted = {
        "duplicate row": pa.concat_tables([full, full.slice(0, 1)]),
        "dropped row": full.slice(1),
        "flipped code": _replace(full, "download_code", ok_row, 404),
        "wrong stamp": _replace(full, "download_id", 0, 2),
    }
    for what, table in corrupted.items():
        assert checks.check_download(inputs, table, incr=False), what
    incr_corrupted = {
        "moved id": _replace(incr, "id", 0, 10_000),
        "touched 200 row": _replace(incr, "data", ok_row, b"x"),
        "new row stamped 1": _replace(incr, "download_id",
                                      incr.num_rows - 1, 1),
    }
    for what, table in incr_corrupted.items():
        assert checks.check_download(inputs, table, incr=True,
                                     before=full), what


def test_process_check_passes_and_catches_corruption():
    ids = frozenset({3, 5, 8})
    reference = {5: {"seed_id": "XX.T1..HHZ", "n_samples": 2000,
                     "snr": 12.5, "mag": None}}
    rows = [{"segment_db_id": i, "seed_id": "XX.T1..HHZ", "n_samples": 2000,
             "snr": 12.5, "mag": None} for i in sorted(ids)]
    good = pa.Table.from_pylist(rows)
    assert checks.check_process(good, ids, reference) == []

    bad_feature = [dict(r, snr=12.6) if r["segment_db_id"] == 5 else r
                   for r in rows]
    corrupted = {
        "feature": pa.Table.from_pylist(bad_feature),
        "dropped row": pa.Table.from_pylist(rows[:2]),
        "duplicate row": pa.Table.from_pylist(rows + rows[:1]),
        "foreign id": pa.Table.from_pylist(
            rows[:2] + [dict(rows[2], segment_db_id=99)]),
    }
    for what, table in corrupted.items():
        assert checks.check_process(table, ids, reference), what


def test_curate_checks_catch_corruption():
    funnel = {"input": 10, "filtered": 8, "exact_dedup": 7,
              "near_dedup": 6, "output": 6}
    assert checks.check_curate(funnel, funnel, 6) == []
    assert checks.check_curate(dict(funnel, near_dedup=5), funnel, 6)
    assert checks.check_curate(funnel, funnel, 5)
    assert checks.check_curate_union({11, 12}, {1, 11, 12}, {11, 12, 13}) == []
    assert checks.check_curate_union({11, 13}, {1, 11, 12}, {11, 12, 13})


# ------------------------------------------------------------------ tracing

def test_self_time_on_hand_built_tree():
    # root [0, 10] with children a [1, 4] and b [3, 6] (overlapping, so
    # together they cover [1, 6]); a has one child [2, 3]
    spans = [Span(0, "root", None, "r", 0.0, 10.0),
             Span(1, "a", 0, "r", 1.0, 4.0),
             Span(2, "b", 0, "r", 3.0, 6.0),
             Span(3, "a1", 1, "r", 2.0, 3.0)]
    assert self_times(spans) == pytest.approx(
        {0: 5.0, 1: 2.0, 2: 3.0, 3: 1.0})


def test_parse_metric_value():
    assert parse_metric_value("1,234") == 1234
    assert parse_metric_value("12.5 KiB") == 12.5 * 1024
    assert parse_metric_value(
        "total (min, med, max (stageId: taskId))\n"
        "39.6 KiB (13.2 KiB, 13.2 KiB, 13.2 KiB (stage 3.0: task 6))"
    ) == pytest.approx(39.6 * 1024)


def test_benchmark_json_matches_the_runner():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = {w["name"] for w in spec["workloads"]}
    assert [m["name"] for m in spec["end_to_end"]] == [n for n, _ in END_TO_END]
    assert {m["name"]: (m["unit"], m["better"])
            for m in spec["per_layer"]} == layer_metrics(names)
