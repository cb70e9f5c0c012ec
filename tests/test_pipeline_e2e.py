"""End-to-end download-pipeline test (SURVEY §3.2): FDSN text in, upserted
segments table + response stats out, with a deterministic injected
transport — the Spark twin of the reference's mocked-HTTP
tests/download/test_download.py."""

from __future__ import annotations

import inspect
import threading
import time
from datetime import datetime, timezone

import numpy as np
import pytest
from pyspark.sql import functions as F

from stream2segment_spark.pipeline import (
    _concurrently, download_pipeline, stations_of)
from stream2segment_spark.sources.mseed import encode_record

EV1_T = "2021-06-01T12:00:00"
EV2_T = "2021-06-02T00:00:00"

EVENT_LINES = [
    "#id|time|lat|lon|depth|auth|cat|contrib|cid|magtype|mag|magauth|loc",
    f"ev1|{EV1_T}|10.0|20.0|15.0|a|c|ct|ci|ML|5.0|ma|loc1",
    f"ev1|{EV1_T}|10.0|20.0|15.0|a|c|ct|ci|ML|5.0|ma|loc1",  # dup: keep first
    f"ev2|{EV2_T}|-30.0|50.0|30.0|a|c|ct|ci|ML|6.0|ma|loc2",
]

_CH = "|0.0|0.0|0.0|0.0|sensor|1.0|1.0|M/S|{sr}|2000-01-01T00:00:00|"
CHANNEL_LINES = [
    "#net|sta|loc|cha|lat|lon|elev|depth|azi|dip|sensor|scale|sfreq|sunits|sr|start|end",
    "GE|STA1||HHZ|10.5|20.5" + _CH.format(sr="100.0"),
    "GE|STA1||HHN|10.5|20.5" + _CH.format(sr="100.0"),
    "GE|STA1||LHZ|10.5|20.5" + _CH.format(sr="1.0"),    # below rate floor
    "GE|STA1||HHE|10.5|20.5" + _CH.format(sr="100.0"),  # conflict dup ->
    "GE|STA1||HHE|10.5|20.5" + _CH.format(sr="100.0"),  # both dropped
    "GE|STA2||HHZ|-30.5|50.5" + _CH.format(sr="100.0"),
    "GE|STA2||HHN|-30.5|50.5" + _CH.format(sr="100.0"),
]

SEG_SCHEMA = ("id long, channel_id long, event_id long, "
              "event_distance_deg double, request_start timestamp, "
              "request_end timestamp, download_code int, data binary, "
              "sample_rate double, maxgap_numsamples double, "
              "start_time timestamp, end_time timestamp")


def _mock_transport(url: str, body):
    cha = int(url.split("cha=")[1].split("&")[0])
    if cha == 1:
        return b"not miniseed at all" * 4, 200      # decodes to error -> -2
    if cha == 3:
        return None, 404
    t0 = datetime(2021, 6, 2, 0, 0, 0, tzinfo=timezone.utc)
    data = encode_record("GE", "STA2", "", "HHZ", t0, 100.0,
                         np.arange(20, dtype=np.int64), encoding=3)
    return data, 200


@pytest.fixture(scope="module")
def result(spark):
    event_lines = spark.createDataFrame([(l,) for l in EVENT_LINES], "value string")
    channel_lines = spark.createDataFrame([(l,) for l in CHANNEL_LINES], "value string")
    existing_events = spark.createDataFrame(
        [(7, "ev2")], "id long, event_id string")
    existing_channels = spark.createDataFrame(
        [], "id long, network string, station string, location string, "
            "channel string, start_time timestamp")
    t1 = datetime(2021, 6, 1, 12, 0, 0)
    existing_segments = spark.createDataFrame(
        [(100, 2, 8, 0.7, datetime(2021, 6, 1, 11, 59), datetime(2021, 6, 1, 12, 2),
          200, b"\x01", 100.0, 0.0, t1, t1),
         (101, 1, 8, 0.7, datetime(2021, 6, 1, 11, 59), datetime(2021, 6, 1, 12, 2),
          404, None, None, None, None, None)],
        SEG_SCHEMA)
    return download_pipeline(
        spark, event_lines, channel_lines,
        existing_events, existing_channels, existing_segments,
        transport=_mock_transport,
        minmag=3, maxmag=7, minmag_radius=1, maxmag_radius=5,
        min_sample_rate=50.0)


def test_events_synced(result):
    ev = {r["event_id"]: r["id"] for r in result["events"].collect()}
    assert ev == {"ev2": 7, "ev1": 8}   # stored keeps id; new gets max+1


def test_channels_filtered_and_synced(result):
    ch = sorted((r["station"], r["channel"], r["id"])
                for r in result["channels"].collect())
    # LHZ dropped by rate floor; HHE conflict pair dropped entirely
    assert ch == [("STA1", "HHN", 1), ("STA1", "HHZ", 2),
                  ("STA2", "HHN", 3), ("STA2", "HHZ", 4)]


def test_candidates_and_retry_diff(result):
    cands = {(r["channel_id"], r["event_id"])
             for r in result["candidates"].collect()}
    assert cands == {(1, 8), (2, 8), (3, 7), (4, 7)}
    todo = {(r["channel_id"], r["event_id"]) for r in result["todo"].collect()}
    assert todo == {(1, 8), (3, 7), (4, 7)}   # (2,8) is stored 200, unchanged


def test_segments_upserted(result):
    rows = {(r["channel_id"], r["event_id"]): r
            for r in result["segments"].collect()}
    assert len(rows) == 4
    assert rows[(2, 8)]["download_code"] == 200      # untouched
    assert rows[(2, 8)]["id"] == 100
    assert rows[(1, 8)]["download_code"] == -2       # garbage -> decode error
    assert rows[(1, 8)]["id"] == 101                 # kept its stored id
    assert rows[(3, 7)]["download_code"] == 404
    ok = rows[(4, 7)]
    assert ok["download_code"] == 200
    assert ok["sample_rate"] == 100.0
    assert ok["maxgap_numsamples"] == 0.0
    assert ok["start_time"] == datetime(2021, 6, 2, 0, 0, 0)
    assert {rows[(3, 7)]["id"], ok["id"]} == {102, 103}  # fresh max+1..


def test_stats(result):
    stats = {r["code"]: r["n"] for r in result["stats"].collect()}
    assert stats == {"-2": 1, "404": 1, "200": 1}


def test_channels_cross_datacenter_routing(spark):
    """A7 wired end-to-end: a natural key claimed by TWO datacenters
    survives for the datacenter the routing service routes it to; an
    unroutable cross-datacenter claim and a same-datacenter duplicate
    both drop (reference channels.py:428-545)."""
    from stream2segment_spark.pipeline import ingest_channels
    from stream2segment_spark.sources.routing import parse_routing_response

    dc1 = "http://dc1.invalid/fdsnws/dataselect/1/query"
    dc2 = "http://dc2.invalid/fdsnws/dataselect/1/query"
    rules = parse_routing_response(
        f"{dc1}\nGE * * HH? 2000-01-01T00:00:00\n")
    hdr = "#net|sta|loc|cha|lat|lon|elev|depth|azi|dip|sensor|scale|sfreq|sunits|sr|start|end"
    mk = lambda sta, cha: f"GE|{sta}||{cha}|1.0|2.0" + _CH.format(sr="100.0")
    lines = [
        (hdr, dc1),
        (mk("STA1", "HHZ"), dc1),   # claimed by dc1 AND dc2 -> routed: dc1
        (mk("STA1", "HHZ"), dc2),
        (mk("STA1", "BHZ"), dc1),   # cross-dc, no routing match -> dropped
        (mk("STA1", "BHZ"), dc2),
        (mk("STA2", "HHN"), dc2),   # single claim -> kept
        (mk("STA3", "HHE"), dc1),   # same-dc duplicate -> dropped
        (mk("STA3", "HHE"), dc1),
    ]
    channel_lines = spark.createDataFrame(lines, "value string, dc string")
    existing = spark.createDataFrame(
        [], "id long, network string, station string, location string, "
            "channel string, start_time timestamp")
    out = ingest_channels(channel_lines, existing,
                          datacenter_col="dc", routing_rules=rules)
    got = sorted((r["station"], r["channel"]) for r in out.collect())
    assert got == [("STA1", "HHZ"), ("STA2", "HHN")]


def test_plan_reads_fdsn_text_once(spark, tmp_path):
    """Plan shape of the download chain: none of the ingested dims, the
    candidates or the segments plan still holds a text-file scan, so
    every downstream action reads one materialization instead of
    re-parsing the FDSN text and re-running dedup and id-sync."""
    import re
    (tmp_path / "events.txt").write_text("\n".join(EVENT_LINES))
    (tmp_path / "channels.txt").write_text("\n".join(CHANNEL_LINES))
    out = download_pipeline(
        spark,
        spark.read.text(str(tmp_path / "events.txt")),
        spark.read.text(str(tmp_path / "channels.txt")),
        spark.createDataFrame([], "id long, event_id string"),
        spark.createDataFrame(
            [], "id long, network string, station string, location string, "
                "channel string, start_time timestamp"),
        spark.createDataFrame([], SEG_SCHEMA),
        transport=_mock_transport, min_sample_rate=50.0)

    def optimized(df):
        return df._jdf.queryExecution().optimizedPlan()

    text_scan = re.compile(r"Relation \[[^\]]*\] text")
    for name in ("events", "channels", "candidates", "segments"):
        plan = optimized(out[name]).toString()
        assert not text_scan.search(plan), f"{name} re-reads FDSN text"
    # the scan pattern does match a plan that reads the text directly
    assert text_scan.search(optimized(
        spark.read.text(str(tmp_path / "events.txt"))).toString())
    assert out["segments"].count() == 4



def _executed_nodes(spark, fn) -> list[str]:
    """The descriptions of every plan node of the SQL executions that
    ``fn()`` runs (their final adaptive plans), read from Spark's SQL
    status store."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        bus.waitUntilEmpty()
        execs = store.executionsList()
        return [execs.apply(i) for i in range(execs.size())]

    before = max((e.executionId() for e in executions()), default=-1)
    fn()
    nodes = []
    for e in executions():
        if e.executionId() > before:
            graph = store.planGraph(e.executionId()).allNodes()
            nodes += [graph.apply(i).desc() for i in range(graph.size())]
    return nodes


def test_ingest_events_reads_text_once(spark, tmp_path):
    """Plan-shape sentinel for id-sync: ``ingest_events`` over a text file,
    then materialized, scans the file once and range-partitions once,
    with no nested-loop join, whether the stored events table is missing
    (first download) or holds rows. Every execution counts, the eager
    ones inside id-sync included."""
    from stream2segment_spark import cli
    from stream2segment_spark.pipeline import ingest_events
    (tmp_path / "events.txt").write_text("\n".join(EVENT_LINES))
    missing = cli._table(spark, {"warehouse": str(tmp_path / "wh")},
                         "events")
    stored = spark.createDataFrame([(7, "ev2"), (3, "old")],
                                   "id long, event_id string")
    for existing, want in ((missing, {"ev1": 1, "ev2": 2}),
                           (stored, {"ev1": 8, "ev2": 7})):
        out = []
        nodes = _executed_nodes(spark, lambda: out.append(ingest_events(
            spark.read.text(str(tmp_path / "events.txt")), existing)
            .localCheckpoint(eager=True)))
        assert sum(d.startswith("FileScan text") for d in nodes) == 1
        assert sum("rangepartitioning" in d for d in nodes) <= 1
        assert not any("BroadcastNestedLoopJoin" in d for d in nodes)
        assert {r["event_id"]: r["id"] for r in out[0].collect()} == want

def test_segments_plan_runs_no_decode(result, spark):
    """The miniSEED metrics are decoded inside the ``fetched`` checkpoint:
    the returned segments plan (skip-unchanged and id-sync included)
    holds no Python UDF evaluation."""
    from stream2segment_spark.sources.mseed import unpack_mseed_udf

    def executed(df):
        return df._jdf.queryExecution().executedPlan().toString()

    assert "ArrowEvalPython" not in executed(result["segments"])
    # the pattern does match a frame that runs the decode
    blobs = spark.createDataFrame([(b"x",)], "data binary")
    assert "ArrowEvalPython" in executed(
        blobs.select(unpack_mseed_udf()(F.col("data"))))


def test_stations_one_row_per_key(spark):
    """Two channels of one station that disagree on end_time (and
    lat/lon) give ONE station row: NULL end_time wins over a date, else
    the latest; lat/lon from the lowest channel id. A station selection
    then returns each segment once."""
    from stream2segment_spark import cli
    from stream2segment_spark.selectexpr import exprquery

    t0, t1, t2 = (datetime(2000, 1, 1), datetime(2010, 1, 1),
                  datetime(2012, 1, 1))
    channels = spark.createDataFrame(
        [(1, "GE", "STA1", "", "HHZ", 10.5, 20.5, t0, t1),
         (2, "GE", "STA1", "", "HHN", 10.6, 20.6, t0, None),
         (3, "GE", "STA2", "", "HHZ", 11.0, 21.0, t0, t1),
         (4, "GE", "STA2", "", "HHN", 11.1, 21.1, t0, t2)],
        "id long, network string, station string, location string, "
        "channel string, latitude double, longitude double, "
        "start_time timestamp, end_time timestamp")
    stations = stations_of(channels)
    got = sorted((r.station, r.latitude, r.end_time)
                 for r in stations.collect())
    assert got == [("STA1", 10.5, None), ("STA2", 11.0, t2)]

    segments = spark.createDataFrame(
        [(100, 1, 1), (101, 2, 1), (102, 4, 1)],
        "id long, channel_id long, event_id long")
    events = spark.createDataFrame([(1, "ev1")], "id long, event_id string")
    dfs = {"segments": segments, "events": events,
           "channels": channels, "stations": stations}
    sel = exprquery(cli._warehouse_graph(dfs), dfs, "segments",
                    {"station.network": "GE"})
    assert sorted(r.id for r in sel.collect()) == [100, 101, 102]


def test_concurrently_gives_each_thread_its_own_properties(spark):
    """Every thread of pipeline._concurrently starts from the caller's
    local properties (its job group), and what one action sets on its
    thread (a SQL execution id, a description) does not show in the
    other's: one shared copy would let a finishing action reset the
    execution id under one still running."""
    sc = spark.sparkContext
    both_set = threading.Barrier(2, timeout=60)

    def branch(tag):
        def run():
            sc.setLocalProperty("s2s.test.branch", tag)
            both_set.wait()
            return (sc.getLocalProperty("s2s.test.branch"),
                    sc.getLocalProperty("spark.jobGroup.id"))
        return run

    sc.setJobGroup("concurrently-props", "test")
    try:
        got = _concurrently(spark, branch("a"), branch("b"))
    finally:
        sc._jsc.clearJobGroup()
    assert got == [("a", "concurrently-props"), ("b", "concurrently-props")]
    assert sc.getLocalProperty("s2s.test.branch") is None


def test_concurrently_names_callers_line(spark):
    """The SQL executions of concurrent actions name the program line that
    started them (``<thunk> at <caller file>:<line>``) in the status
    store, not the thread pool or a JVM frame; once the section ends, an
    action on the calling thread is named by PySpark as before."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()

    def descriptions(after):
        bus.waitUntilEmpty()
        execs = store.executionsList()
        return {e.executionId(): e.description() for e in
                (execs.apply(i) for i in range(execs.size()))
                if e.executionId() > after}

    def collect_rows():
        return spark.range(50).groupBy(F.col("id") % 3).count().collect()

    def count_rows():
        return spark.range(20).count()

    before = max(descriptions(-1), default=-1)
    line = inspect.currentframe().f_lineno + 1
    _concurrently(spark, collect_rows, count_rows)
    where = f"{__file__}:{line}"
    got = descriptions(before)
    assert set(got.values()) == {f"collect_rows at {where}",
                                 f"count_rows at {where}"}
    mark = max(got)
    line = inspect.currentframe().f_lineno + 1
    spark.range(3).collect()
    assert list(descriptions(mark).values()) == [
        f"collect at {__file__}:{line}"]


def test_concurrently_raises_after_every_action_ends(spark):
    """Results come back in argument order; a failed action's exception
    is raised only once the others have finished."""
    ended = []

    def slow():
        time.sleep(0.3)
        ended.append("slow")
        return spark.range(3).count()

    def fails():
        raise LookupError("no such table")

    assert _concurrently(spark, slow, lambda: "b") == [3, "b"]
    ended.clear()
    with pytest.raises(LookupError):
        _concurrently(spark, fails, slow)
    assert ended == ["slow"]


def test_concurrently_without_pinned_threads(spark, monkeypatch):
    """With pinned-thread mode off, PySpark's inheritable_thread_target
    returns its argument (here the session) unchanged: the actions still
    run, unwrapped."""
    from stream2segment_spark import pipeline
    monkeypatch.setattr(pipeline, "inheritable_thread_target",
                        lambda f=None: f)
    assert _concurrently(spark, lambda: 1, lambda: 2) == [1, 2]
