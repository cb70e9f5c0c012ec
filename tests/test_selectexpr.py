"""Selection-expression compiler tests — the Spark analogue of the
reference's tests/process/test_sqlevalexpr.py: grammar unit tests plus
whole-query cross-checks against a DuckDB oracle on the synthetic seismic
tables (FIXTURES.md corpus)."""

from __future__ import annotations

from datetime import datetime

import pytest

from stream2segment_spark.selectexpr import exprquery, parsevals, split
from tests.conftest import assert_same_result

# --------------------------------------------------------------------------
# Grammar unit tests (reference: sqlevalexpr.py:312-403 semantics)
# --------------------------------------------------------------------------


@pytest.mark.parametrize("expr,op,rest", [
    ("<=5", "<=", "5"),
    (">= 5", ">=", "5"),
    ("==5", "=", "5"),
    ("!=5", "!=", "5"),
    ("<5", "<", "5"),
    (">5", ">", "5"),
    ("=5", "=", "5"),
    ("5", "=", "5"),
    ("hello world", "=", "hello world"),
    ("[1, 5]", "closed", "1  5"),
    ("(1, 5)", "open", "1  5"),
    ("[1, 5)", "rightopen", "1  5"),
    ("(1, 5]", "leftopen", "1  5"),
    ("]1, 5]", "leftopen", "1  5"),
    ("]1, 5[", "open", "1  5"),
])
def test_split(expr, op, rest):
    got_op, got_rest = split(expr)
    assert got_op == op
    assert got_rest.split() == rest.split()


def test_split_invalid():
    with pytest.raises(ValueError):
        split("[1, 2, 3]")
    with pytest.raises(ValueError):
        split("")


def test_parsevals():
    assert parsevals(int, "4 null 5 6") == [4, None, 5, 6]
    assert parsevals(float, "4.5 NULL") == [4.5, None]
    assert parsevals(bool, "true false True FALSE") == [True, False, True, False]
    assert parsevals(str, '"a b" c null') == ["a b", "c", None]
    assert parsevals(datetime, "2021-01-01T00:30:00") == [datetime(2021, 1, 1, 0, 30)]
    # a datetime containing a space must be quoted (values are shlex-split)
    assert parsevals(datetime, "'2021-01-01 00:30:00'") == [datetime(2021, 1, 1, 0, 30)]


# --------------------------------------------------------------------------
# Whole-query oracle tests
# --------------------------------------------------------------------------

SEG_COLS = ("s.id, s.event_id, s.channel_id, s.datacenter_id, s.download_id, "
            "s.data_seed_id, s.event_distance_deg, s.data, s.download_code, "
            "s.start_time, s.arrival_time, s.end_time, s.sample_rate, "
            "s.maxgap_numsamples, s.request_start, s.request_end, s.queryauth")

CASES = {
    "default_selection": (
        {"has_valid_data": "true", "maxgap_numsamples": "(-0.5, 0.5)"},
        f"""SELECT {SEG_COLS} FROM segments s
            WHERE (s.data IS NOT NULL AND octet_length(s.data) > 0
                   AND s.download_code IS NOT NULL AND s.download_code != -2)
              AND (s.maxgap_numsamples > -0.5 AND s.maxgap_numsamples < 0.5)"""),
    "dotted_join_magnitude_channel": (
        {"event.magnitude": "[4, 5)", "channel.channel": "HHZ"},
        f"""SELECT {SEG_COLS} FROM segments s
            JOIN events e ON s.event_id = e.id
            JOIN channels c ON s.channel_id = c.id
            WHERE e.magnitude >= 4 AND e.magnitude < 5 AND c.channel = 'HHZ'"""),
    "missing_data_and_inventory": (
        {"missing_data_ratio": "<0.1", "station.has_inventory": "true"},
        f"""SELECT {SEG_COLS} FROM segments s
            JOIN channels c ON s.channel_id = c.id
            JOIN stations st ON c.station_id = st.id
            WHERE (1.0 - (epoch(s.end_time) - epoch(s.start_time)) /
                         (epoch(s.request_end) - epoch(s.request_start))) < 0.1
              AND (st.inventory_xml IS NOT NULL AND octet_length(st.inventory_xml) > 0)"""),
    "event_time_interval": (
        {"event.time": "(2021-02-01T00:00:00, 2021-06-30T23:59:59)"},
        f"""SELECT {SEG_COLS} FROM segments s
            JOIN events e ON s.event_id = e.id
            WHERE e.time > TIMESTAMP '2021-02-01 00:00:00'
              AND e.time < TIMESTAMP '2021-06-30 23:59:59'"""),
    "band_instrument_and_id": (
        {"channel.band_instrument_code": "HH", "id": "<100"},
        f"""SELECT {SEG_COLS} FROM segments s
            JOIN channels c ON s.channel_id = c.id
            WHERE substr(c.channel, 1, 2) = 'HH' AND s.id < 100"""),
    "notin_and_distance_km": (
        {"download_code": "!=204 404", "event_distance_km": "<500"},
        f"""SELECT {SEG_COLS} FROM segments s
            WHERE s.download_code NOT IN (204, 404)
              AND s.event_distance_deg * (2.0*6371*pi()/360.0) < 500"""),
    "in_list": (
        {"download_code": "200 204"},
        f"SELECT {SEG_COLS} FROM segments s WHERE s.download_code IN (200, 204)"),
    "null_equality": (
        {"data": "null"},
        f"SELECT {SEG_COLS} FROM segments s WHERE s.data IS NULL"),
    "not_null": (
        {"end_time": "!=null"},
        f"SELECT {SEG_COLS} FROM segments s WHERE s.end_time IS NOT NULL"),
    "classlabels_count": (
        {"classlabels_count": ">0"},
        f"""SELECT {SEG_COLS} FROM segments s
            WHERE (SELECT count(*) FROM class_labellings cl
                   WHERE cl.segment_id = s.id) > 0"""),
    "seed_id_coalesce": (
        {"seed_id": "GE.ST05..HHZ"},
        f"""SELECT {SEG_COLS} FROM segments s
            JOIN channels c ON s.channel_id = c.id
            JOIN stations st ON c.station_id = st.id
            WHERE coalesce(s.data_seed_id,
                           concat_ws('.', st.network, st.station,
                                     c.location, c.channel)) = 'GE.ST05..HHZ'"""),
    "m2m_classes": (
        {"classes.label": "Ok LowS2N"},
        f"""SELECT {SEG_COLS} FROM segments s
            JOIN class_labellings cl ON cl.segment_id = s.id
            JOIN classes c ON cl.class_id = c.id
            WHERE c.label IN ('Ok', 'LowS2N')"""),
    "duration_sec": (
        {"duration_sec": ">=300"},
        f"""SELECT {SEG_COLS} FROM segments s
            WHERE (epoch(s.end_time) - epoch(s.start_time)) >= 300"""),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_exprquery_oracle(name, seismic_dfs, seismic_duck, seismic_graph_full):
    conditions, sql = CASES[name]
    got = exprquery(seismic_graph_full, seismic_dfs, "segments", conditions)
    assert_same_result(got, seismic_duck.sql(sql))


def test_exprquery_orderby(seismic_dfs, seismic_duck, seismic_graph_full):
    """orderby resolves dotted attrs and adds joins too (ref :217-230);
    compare as ordered lists of ids."""
    got = exprquery(
        seismic_graph_full, seismic_dfs, "segments",
        {"has_data": "true"},
        orderby=[("event_distance_deg", "asc"), ("id", "desc")],
    ).select("id").toPandas()["id"].tolist()
    want = seismic_duck.sql(
        """SELECT id FROM segments
           WHERE data IS NOT NULL AND octet_length(data) > 0
           ORDER BY event_distance_deg ASC, id DESC""").df()["id"].tolist()
    assert got == want


def test_exprquery_empty_expression_skipped(seismic_dfs, seismic_graph_full):
    df = exprquery(seismic_graph_full, seismic_dfs, "segments",
                   {"download_code": ""})
    assert df.count() == seismic_dfs["segments"].count()


def test_exprquery_bad_attr(seismic_dfs, seismic_graph_full):
    with pytest.raises(KeyError):
        exprquery(seismic_graph_full, seismic_dfs, "segments",
                  {"nosuch.attr": ">0"})


def test_bool_garbage_raises_not_true(seismic_dfs, seismic_graph_full):
    """'0', 'no' or typos must raise, not silently compile to TRUE."""
    from stream2segment_spark.selectexpr import exprquery
    for bad in ("0", "no", "ture"):
        with pytest.raises(ValueError, match="boolean"):
            exprquery(seismic_graph_full, seismic_dfs, "segments",
                      {"has_valid_data": bad})


@pytest.mark.parametrize("conditions", [
    {"channel.channel": "HHZ", "station.network": "GE"},
    {"station.network": "GE", "channel.channel": "HHZ"},
])
def test_shared_hop_joins_channels_once(conditions, seismic_dfs, seismic_duck,
                                        seismic_graph_full):
    """``channel`` and the first hop of ``station`` are one join on
    channels: in either order the plan holds two joins (channels,
    stations), and the rows still match the oracle."""
    got = exprquery(seismic_graph_full, seismic_dfs, "segments", conditions)
    plan = got._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Join Inner") == 2, plan
    assert_same_result(got, seismic_duck.sql(
        f"""SELECT {SEG_COLS} FROM segments s
            JOIN channels c ON s.channel_id = c.id
            JOIN stations st ON c.station_id = st.id
            WHERE c.channel = 'HHZ' AND st.network = 'GE'"""))
