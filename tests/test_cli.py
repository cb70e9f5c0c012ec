"""CLI end-to-end: download -> dl-stats -> show -> process on a temp
warehouse, driving ``cli.main`` in-process with the same deterministic
transport the pipeline e2e test uses (the reference's mocked-HTTP CLI
tests are the model)."""

from __future__ import annotations

import sys
import threading
from datetime import datetime, timezone
from pathlib import Path

import numpy as np
import pytest
import yaml

from stream2segment_spark import cli

EV_T = "2021-06-01T12:00:00"
EVENT_LINES = [
    "#id|time|lat|lon|depth|auth|cat|contrib|cid|magtype|mag|magauth|loc",
    f"evA|{EV_T}|10.0|20.0|15.0|a|c|ct|ci|ML|5.0|ma|loc1",
]
_CH = "|0.0|0.0|0.0|0.0|sensor|1.0|1.0|M/S|{sr}|2000-01-01T00:00:00|"
CHANNEL_LINES = [
    "#net|sta|loc|cha|lat|lon|elev|depth|azi|dip|sensor|scale|sfreq|sunits|sr|start|end",
    "GE|STA1||HHZ|10.5|20.5" + _CH.format(sr="100.0"),
    "GE|STA1||LHZ|10.5|20.5" + _CH.format(sr="1.0"),  # below the rate floor
]


def transport_ok(url: str, body):
    t0 = datetime(2021, 6, 1, 12, 0, 30, tzinfo=timezone.utc)
    from stream2segment_spark.sources.mseed import encode_record
    data = encode_record("GE", "STA1", "", "HHZ", t0, 100.0,
                         np.cumsum(np.arange(40, dtype=np.int64) % 7),
                         encoding=11)
    return data, 200


@pytest.fixture(scope="module")
def warehouse(tmp_path_factory, spark):
    tmp = tmp_path_factory.mktemp("cli")
    (tmp / "events.txt").write_text("\n".join(EVENT_LINES))
    (tmp / "channels.txt").write_text("\n".join(CHANNEL_LINES))
    cfg = {
        "warehouse": str(tmp / "wh"),
        "events_file": str(tmp / "events.txt"),
        "channels_file": str(tmp / "channels.txt"),
        "search_radius": {"minmag": 3, "maxmag": 7,
                          "minmag_radius": 1, "maxmag_radius": 5},
        "min_sample_rate": 50.0,
        "timespan": [60, 120],
        "transport": "tests.test_cli:transport_ok",
        # reference -r1..-r6 retry policy, threaded through the diff
        "retry": {"retry_url_err": True, "retry_204": True},
    }
    cfg_path = tmp / "cfg.yaml"
    cfg_path.write_text(yaml.safe_dump(cfg))
    # make 'tests.test_cli' importable from the executor-side dotted path
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    return tmp, cfg_path


def test_download_writes_warehouse_and_prints_stats(warehouse, capsys):
    tmp, cfg_path = warehouse
    assert cli.main(["download", "-c", str(cfg_path)]) == 0
    out = capsys.readouterr().out
    assert "TOTAL" in out and "COLUMNS DETAILS" in out and "OK" in out
    for t in ("events", "channels", "stations", "segments"):
        assert (tmp / "wh" / f"{t}.parquet").exists()


def test_dl_stats_renders_table(warehouse, capsys):
    _, cfg_path = warehouse
    assert cli.main(["dl-stats", "-c", str(cfg_path)]) == 0
    out = capsys.readouterr().out
    assert "TOTAL" in out and "OK" in out


GUI_MODULE = '''
import numpy as np
from stream2segment_spark.plots import segment_plot

@segment_plot(label="envelope")
def env(samples, delta):
    return np.abs(samples)

@segment_plot()
def first_diff(samples, delta):
    return np.diff(samples, prepend=samples[:1])
'''


def test_show_custom_plot_module(warehouse, capsys, tmp_path):
    """'s2s show -p gui.py': @segment_plot functions become extra plot
    columns in the rendered report."""
    _, cfg_path = warehouse
    gui_py = tmp_path / "gui.py"
    gui_py.write_text(GUI_MODULE)
    out_html = tmp_path / "custom.html"
    assert cli.main(["show", "-c", str(cfg_path), "-o", str(out_html),
                     "-p", str(gui_py)]) == 0
    html = out_html.read_text()
    assert "envelope" in html and "first_diff" in html
    assert "cumulative" not in html  # customs REPLACE the builtin set


def test_show_writes_html_report(warehouse, capsys, tmp_path):
    _, cfg_path = warehouse
    out_html = tmp_path / "report.html"
    assert cli.main(["show", "-c", str(cfg_path), "-o", str(out_html)]) == 0
    html = out_html.read_text()
    assert "<svg" in html and "GE.STA1..HHZ" in html


def seg_peak(segment, config):
    from stream2segment_spark.sources.mseed import unpack_blob
    recs = unpack_blob(bytes(segment.data))
    return {"peak": float(np.abs(np.asarray(recs[0]["samples"])).max()),
            "code": int(segment.download_code)}


seg_peak.output_schema = "peak double, code long"


def test_process_runs_pyfunc_over_warehouse(warehouse, capsys):
    _, cfg_path = warehouse
    assert cli.main([
        "process", "-c", str(cfg_path),
        "-p", "tests.test_cli:seg_peak"]) == 0
    out = capsys.readouterr().out
    assert "'peak':" in out and "'code': 200" in out


def test_process_dotted_and_derived_selection(warehouse, capsys, tmp_path):
    """The process command accepts the FULL reference selection grammar:
    dotted relationship paths (event.magnitude, station.network — joined
    by the selection compiler over the warehouse graph) and derived
    attributes (has_valid_data)."""
    tmp, cfg_path = warehouse
    cfg = yaml.safe_load(cfg_path.read_text())
    cfg["segments_selection"] = {
        "event.magnitude": "[4, 6]",       # fixture event has mag 5.0
        "station.network": "GE",
        "has_valid_data": "true",
    }
    sel_cfg = tmp_path / "sel.yaml"
    sel_cfg.write_text(yaml.safe_dump(cfg))
    assert cli.main(["process", "-c", str(sel_cfg),
                     "-p", "tests.test_cli:seg_peak"]) == 0
    out = capsys.readouterr().out
    assert "'code': 200" in out

    # a non-matching dotted predicate selects nothing
    cfg["segments_selection"] = {"event.magnitude": "[8, 9]"}
    sel_cfg.write_text(yaml.safe_dump(cfg))
    assert cli.main(["process", "-c", str(sel_cfg),
                     "-p", "tests.test_cli:seg_peak"]) == 0
    assert "'code'" not in capsys.readouterr().out


def test_process_append_skips_done_segments(warehouse, capsys, tmp_path):
    """'s2s process --append -o out': a re-run with the same selection
    processes nothing new; output row count and ids are unchanged."""
    import csv
    import glob

    _, cfg_path = warehouse
    out = tmp_path / "peaks.csv"

    def rows():
        got = []
        for part in glob.glob(str(out) + "/*.csv"):
            with open(part, newline="") as fh:
                got.extend(list(csv.DictReader(fh)))
        return got

    assert cli.main(["process", "-c", str(cfg_path), "--append",
                     "-p", "tests.test_cli:seg_peak",
                     "-o", str(out)]) == 0
    first = rows()
    assert first
    assert cli.main(["process", "-c", str(cfg_path), "--append",
                     "-p", "tests.test_cli:seg_peak",
                     "-o", str(out)]) == 0
    second = rows()
    assert len(second) == len(first)
    ids = [r["segment_db_id"] for r in second]
    assert len(ids) == len(set(ids))


def seg_dims(segment, config):
    return {"magnitude": segment.event.magnitude,
            "channel": segment.channel.channel,
            "network": segment.station.network}


seg_dims.output_schema = "magnitude double, channel string, network string"
# the fixture's one segment: event evA (mag 5.0) on GE.STA1..HHZ
DIMS_ROW = {"magnitude": 5.0, "channel": "HHZ", "network": "GE"}


def test_process_pyfunc_reads_event_channel_station(warehouse, capsys,
                                                    tmp_path):
    """'s2s process' hands the pyfunc the segment with its event, channel
    and station over a download-written warehouse, even when the
    selection names none of them."""
    import ast

    tmp, cfg_path = warehouse
    cfg = yaml.safe_load(cfg_path.read_text())
    cfg["segments_selection"] = {}
    sel_cfg = tmp_path / "sel.yaml"
    sel_cfg.write_text(yaml.safe_dump(cfg))
    assert cli.main(["process", "-c", str(sel_cfg),
                     "-p", "tests.test_cli:seg_dims"]) == 0
    rows = [ast.literal_eval(line) for line in
            capsys.readouterr().out.splitlines() if line.startswith("{")]
    assert [{k: r[k] for k in DIMS_ROW} for r in rows] == [DIMS_ROW]


def test_process_library_over_cli_warehouse(warehouse, spark, tmp_path):
    """The library ``process()`` runs over the download CLI's warehouse
    layout (stations keyed by ``station_id``, not ``id``), with the
    reference's default selection, and writes what it returns."""
    import pandas as pd

    from stream2segment_spark.process import process

    tmp, _ = warehouse
    cfg = {"warehouse": str(tmp / "wh")}
    dfs = {name: cli._table(spark, cfg, name)
           for name in ("segments", "events", "channels", "stations")}
    out = str(tmp_path / "dims.parquet")
    got = process(cli._warehouse_graph(dfs), dfs, seg_dims,
                  seg_dims.output_schema, outfile=out).toPandas()
    assert got.drop(columns="segment_db_id").to_dict("records") == [DIMS_ROW]
    written = pd.read_parquet(out)
    assert written.segment_db_id.tolist() == got.segment_db_id.tolist()


def test_process_pass_job_counts(warehouse, spark, tmp_path):
    """The fixed Spark work of an 's2s process' pass, counted with the
    status tracker. A full pass runs at most 8 jobs: the four table reads,
    the three dim broadcasts and the write. An append pass runs at most 10:
    it adds the broadcast of the ids the output holds and the checkpoint
    before the write. Those ids are read with the writer contract's
    schema (no footer job) and not deduplicated (no shuffle job)."""
    _, cfg_path = warehouse
    cfg = yaml.safe_load(cfg_path.read_text())
    out = str(tmp_path / "peaks.parquet")
    sc = spark.sparkContext

    def jobs(group: str, append: bool) -> int:
        sc.setJobGroup(group, group)
        try:
            assert cli.cmd_process(spark, cfg, "tests.test_cli:seg_peak",
                                   out, append=append) == 0
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs("process-full", append=False) <= 8
    assert jobs("process-incr", append=True) <= 10


def test_uri_warehouse_download_twice_then_process(warehouse, tmp_path,
                                                   capsys):
    """A warehouse given as a ``file://`` URI is the same warehouse as its
    path: the second download finds the first one's tables and skips
    every unchanged segment, the execution rows land in the warehouse,
    and 's2s process' reads the stored segments."""
    import ast

    import pandas as pd

    from stream2segment_spark import warehouse as wh
    cfg = {**_fresh_cfg(warehouse, tmp_path),
           "warehouse": (tmp_path / "wh").as_uri(), "segments_selection": {}}
    assert cfg["warehouse"].startswith("file:///")
    cfg_path = tmp_path / "cfg.yaml"
    cfg_path.write_text(yaml.safe_dump(cfg))
    for _ in range(2):
        assert cli.main(["download", "-c", str(cfg_path)]) == 0
    capsys.readouterr()
    first, _ = (r["id"] for r in wh.resolve_downloads(str(tmp_path / "wh")))
    segs = pd.read_parquet(tmp_path / "wh" / "segments.parquet")
    assert len(segs) == 1 and segs.download_id.tolist() == [first]
    assert cli.main(["process", "-c", str(cfg_path),
                     "-p", "tests.test_cli:seg_dims"]) == 0
    rows = [ast.literal_eval(line) for line in
            capsys.readouterr().out.splitlines() if line.startswith("{")]
    assert [{k: r[k] for k in DIMS_ROW} for r in rows] == [DIMS_ROW]


def test_export_db_uri_warehouse(tmp_path, capsys):
    """'s2s export-db' finds the tables of a ``file://`` warehouse."""
    from stream2segment_spark import warehouse as wh
    wh.record_download(str(tmp_path / "wh"), "log", "cfg: 1")
    cfg = tmp_path / "cfg.yaml"
    cfg.write_text(yaml.safe_dump({"warehouse": (tmp_path / "wh").as_uri()}))
    assert cli.main(["export-db", "-c", str(cfg),
                     "-o", str(tmp_path / "out.sqlite")]) == 0
    assert "downloads: 1 row(s)" in capsys.readouterr().out


def test_layout_cli_uri_outdir(spark, tmp_path, capsys):
    """'s2s layout -o file:///...' writes the layout and reads its
    per-file key ranges back."""
    import json
    src = str(tmp_path / "in.parquet")
    spark.range(100).write.parquet(src)
    assert cli.main(["layout", "-i", src, "-o", (tmp_path / "out").as_uri(),
                     "--key", "id", "--files", "2"]) == 0
    ivals = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    (lo0, hi0), (lo1, hi1) = sorted((int(r["min"]), int(r["max"]))
                                    for r in ivals)
    assert lo0 == 0 and hi0 < lo1 and hi1 == 99


def test_download_into_other_scheme_raises_first(warehouse, spark, tmp_path,
                                                 monkeypatch):
    """Driver-side warehouse I/O takes paths and ``file:`` URIs only: a
    download into ``hdfs://`` raises a ValueError naming the scheme
    before anything is written, so no local directory named after the
    URI appears."""
    monkeypatch.chdir(tmp_path)
    cfg = {**_fresh_cfg(warehouse, tmp_path),
           "warehouse": "hdfs://localhost:9/wh"}
    with pytest.raises(ValueError, match="'hdfs' scheme"):
        cli.cmd_download(spark, cfg)
    assert not any(p.name.startswith("hdfs") for p in tmp_path.iterdir())


def transport_with_inventory(url: str, body):
    if "level=response" in url:  # station service -> XML inventory
        return b"<FDSNStationXML>GE.STA1</FDSNStationXML>", 200
    return transport_ok(url, body)


def test_download_with_inventory(spark, tmp_path, capsys):
    """'inventory: true': station XML is fetched (only for stations with
    data, from the station endpoint) and stored on the stations table."""
    (tmp_path / "events.txt").write_text("\n".join(EVENT_LINES))
    (tmp_path / "channels.txt").write_text("\n".join(CHANNEL_LINES))
    cfg = {
        "warehouse": str(tmp_path / "wh"),
        "events_file": str(tmp_path / "events.txt"),
        "channels_file": str(tmp_path / "channels.txt"),
        "dataselect_url": "http://dc.example.org/fdsnws/dataselect/1/query",
        "inventory": True,
        "search_radius": {"minmag": 3, "maxmag": 7,
                          "minmag_radius": 1, "maxmag_radius": 5},
        "min_sample_rate": 50.0,
        "timespan": [60, 120],
        "transport": "tests.test_cli:transport_with_inventory",
    }
    cfg_path = tmp_path / "cfg.yaml"
    cfg_path.write_text(yaml.safe_dump(cfg))
    assert cli.main(["download", "-c", str(cfg_path)]) == 0
    capsys.readouterr()
    sta = spark.read.parquet(str(tmp_path / "wh" / "stations.parquet"))
    rows = {r["station"]: r["inventory_xml"] for r in sta.collect()}
    assert bytes(rows["STA1"]) == b"<FDSNStationXML>GE.STA1</FDSNStationXML>"


def test_download_with_traveltimes(spark, tmp_path, capsys):
    """'traveltimes:' config: request windows derive from the interpolated
    arrival time (reference stationsearch.py:136-144) instead of the event
    origin time."""
    from stream2segment_spark.operators.spatial import load_tt_grid
    (tmp_path / "events.txt").write_text("\n".join(EVENT_LINES))
    (tmp_path / "channels.txt").write_text("\n".join(CHANNEL_LINES))
    cfg = {
        "warehouse": str(tmp_path / "wh"),
        "events_file": str(tmp_path / "events.txt"),
        "channels_file": str(tmp_path / "channels.txt"),
        "search_radius": {"minmag": 3, "maxmag": 7,
                          "minmag_radius": 1, "maxmag_radius": 5},
        "min_sample_rate": 50.0,
        "timespan": [60, 120],
        "transport": "tests.test_cli:transport_ok",
        "traveltimes": "uniform:5.0",
    }
    cfg_path = tmp_path / "cfg.yaml"
    cfg_path.write_text(yaml.safe_dump(cfg))
    assert cli.main(["download", "-c", str(cfg_path)]) == 0
    capsys.readouterr()
    seg = spark.read.parquet(str(tmp_path / "wh" / "segments.parquet")) \
        .select("event_distance_deg", "request_start").collect()
    assert seg
    grid = load_tt_grid("uniform:5.0")
    ev_t = datetime.fromisoformat(EV_T).replace(tzinfo=timezone.utc)
    for r in seg:
        tt = float(grid.interp(np.array([15.0]),  # fixture event depth_km
                               np.array([r["event_distance_deg"]]))[0])
        assert tt > 10.0  # a real shift, not the no-op fallback
        expect = ev_t.timestamp() + tt - 60.0
        got = r["request_start"].replace(tzinfo=timezone.utc).timestamp()
        assert abs(got - expect) < 1e-3


ISF_EVENTS = """\
DATA_TYPE BULLETIN IMS1.0:short
Event  600516 Greece
   Date       Time        Err   RMS Latitude Longitude  Smaj  Smin  Az Depth   Err Ndef Nsta Gap  mdist  Mdist Qual   Author      OrigID
2021/06/01 12:00:00.00   0.50  1.20  10.0000   20.0000  10.0   8.0  90  15.0   2.0   50   40 100   0.50  10.00 m i uk  ISC       12345678

Magnitude  Err Nsta Author      OrigID
mb     5.0 0.2   25 ISC       12345678

STOP
"""


def test_download_from_isf_bulletin(spark, tmp_path, capsys):
    """events_file may be an ISF bulletin (format-sniffed like the
    reference): the download chain runs identically, ending with the ISF
    event stored and its segments fetched."""
    (tmp_path / "events.isf").write_text(ISF_EVENTS)
    (tmp_path / "channels.txt").write_text("\n".join(CHANNEL_LINES))
    cfg = {
        "warehouse": str(tmp_path / "wh"),
        "events_file": str(tmp_path / "events.isf"),
        "channels_file": str(tmp_path / "channels.txt"),
        "search_radius": {"minmag": 3, "maxmag": 7,
                          "minmag_radius": 1, "maxmag_radius": 5},
        "min_sample_rate": 50.0,
        "timespan": [60, 120],
        "transport": "tests.test_cli:transport_ok",
    }
    cfg_path = tmp_path / "cfg.yaml"
    cfg_path.write_text(yaml.safe_dump(cfg))
    assert cli.main(["download", "-c", str(cfg_path)]) == 0
    capsys.readouterr()
    ev = spark.read.parquet(str(tmp_path / "wh" / "events.parquet"))
    row = ev.collect()[0]
    assert row["event_id"] == "600516"
    assert row["magnitude"] == pytest.approx(5.0)
    segs = spark.read.parquet(str(tmp_path / "wh" / "segments.parquet"))
    assert segs.count() >= 1


def test_multi_datacenter_download(spark, tmp_path, capsys):
    """channels_file as a {dataselect_url: path} mapping (EIDA
    federation): each channel is fetched from its own datacenter, routing
    rules resolve a cross-datacenter claim, and segments / dl-stats carry
    the per-datacenter attribution."""
    dc1 = "http://dc1.example.org/fdsnws/dataselect/1/query"
    dc2 = "http://dc2.example.org/fdsnws/dataselect/1/query"
    (tmp_path / "events.txt").write_text("\n".join(EVENT_LINES))
    hdr = CHANNEL_LINES[0]
    sta1 = "GE|STA1||HHZ|10.5|20.5" + _CH.format(sr="100.0")
    sta2 = "GE|STA2||HHZ|10.6|20.6" + _CH.format(sr="100.0")
    # STA1 is claimed by BOTH datacenters -> routing must pick dc1
    (tmp_path / "ch1.txt").write_text("\n".join([hdr, sta1]))
    (tmp_path / "ch2.txt").write_text("\n".join([hdr, sta1, sta2]))
    (tmp_path / "routing.txt").write_text(
        f"{dc1}\nGE STA1 * HHZ\n\n{dc2}\nGE STA2 * HHZ\n")
    cfg = {
        "warehouse": str(tmp_path / "wh"),
        "events_file": str(tmp_path / "events.txt"),
        "channels_file": {dc1: str(tmp_path / "ch1.txt"),
                          dc2: str(tmp_path / "ch2.txt")},
        "routing_file": str(tmp_path / "routing.txt"),
        "search_radius": {"minmag": 3, "maxmag": 7,
                          "minmag_radius": 1, "maxmag_radius": 5},
        "min_sample_rate": 50.0,
        "timespan": [60, 120],
        "transport": "tests.test_cli:transport_ok",
    }
    cfg_path = tmp_path / "cfg.yaml"
    cfg_path.write_text(yaml.safe_dump(cfg))
    assert cli.main(["download", "-c", str(cfg_path)]) == 0
    capsys.readouterr()

    segs = spark.read.parquet(str(tmp_path / "wh" / "segments.parquet"))
    per_dc = {r["datacenter"]: r["n"] for r in
              segs.groupBy("datacenter").count()
              .withColumnRenamed("count", "n").collect()}
    assert per_dc == {dc1: 1, dc2: 1}  # STA1 routed to dc1, STA2 on dc2

    assert cli.main(["dl-stats", "-c", str(cfg_path)]) == 0
    out = capsys.readouterr().out
    assert "dc1.example.org" in out and "dc2.example.org" in out

    # idempotent re-run over the datacenter-carrying warehouse schema:
    # everything skips unchanged, attribution intact
    assert cli.main(["download", "-c", str(cfg_path)]) == 0
    capsys.readouterr()
    segs2 = spark.read.parquet(str(tmp_path / "wh" / "segments.parquet"))
    per_dc2 = {r["datacenter"]: r["n"] for r in
               segs2.groupBy("datacenter").count()
               .withColumnRenamed("count", "n").collect()}
    assert per_dc2 == per_dc
    from stream2segment_spark import warehouse as wh
    assert len(wh.resolve_downloads(str(tmp_path / "wh"))) == 2


def test_download_records_execution(warehouse, spark):
    """download stamped segments with the execution id and appended a
    downloads row carrying the printed report + the yaml config."""
    tmp, _ = warehouse
    from stream2segment_spark import warehouse as wh
    rows = wh.resolve_downloads(str(tmp / "wh"))
    assert len(rows) >= 1
    assert "TOTAL" in rows[-1]["log"]
    assert "events_file" in rows[-1]["config"]
    segs = spark.read.parquet(str(tmp / "wh" / "segments.parquet"))
    assert "download_id" in segs.columns
    assert segs.filter("download_id IS NULL").count() == 0


def _fresh_cfg(warehouse, tmp_path) -> dict:
    """The module fixture's download config over an empty warehouse."""
    _, cfg_path = warehouse
    return {**yaml.safe_load(cfg_path.read_text()),
            "warehouse": str(tmp_path / "wh")}


def _mark_job(spark, group: str) -> int:
    """Run one trivial job in job group ``group``; return its id."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    sc.parallelize([0], 1).count()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    (job,) = sc.statusTracker().getJobIdsForGroup(group)
    return job


def test_download_jobs_keep_callers_job_group(warehouse, spark, tmp_path,
                                              capsys):
    """Every job a download pass starts, those of its concurrent ingest
    and writes included, carries the caller's job group (jobs started on
    a plain thread would carry none): cancelling the group cancels the
    whole pass, and per-group accounting sees all of it."""
    cfg = _fresh_cfg(warehouse, tmp_path)
    sc = spark.sparkContext
    try:
        start = _mark_job(spark, "dl-group-start")
        sc.setJobGroup("dl-group", "download pass")
        assert cli.cmd_download(spark, cfg) == 0
        end = _mark_job(spark, "dl-group-end")
    finally:
        sc._jsc.clearJobGroup()
    capsys.readouterr()
    in_group = set(sc.statusTracker().getJobIdsForGroup("dl-group"))
    assert in_group and in_group == set(range(start + 1, end))


class _ChannelsDown(Exception):
    pass


def test_download_branch_failure_surfaces(warehouse, spark, tmp_path,
                                          monkeypatch):
    """A failing ingest branch raises its own exception out of
    cmd_download once the other branch has ended: no table is written
    and no helper thread outlives the call."""
    from stream2segment_spark import pipeline

    def down(*args, **kwargs):
        raise _ChannelsDown("station service unreachable")

    monkeypatch.setattr(pipeline, "ingest_channels", down)
    cfg = _fresh_cfg(warehouse, tmp_path)
    before = set(threading.enumerate())
    with pytest.raises(_ChannelsDown):
        cli.cmd_download(spark, cfg)
    assert not list((tmp_path / "wh").glob("*.parquet"))
    assert [t for t in threading.enumerate() if t not in before] == []


def test_dl_summary_lists_executions(warehouse, capsys):
    _, cfg_path = warehouse
    assert cli.main(["dl-summary", "-c", str(cfg_path)]) == 0
    out = capsys.readouterr().out
    assert "run_time" in out and "segments" in out
    # the one recorded execution shows a nonzero segment count
    lines = [ln for ln in out.splitlines()[1:] if ln.strip()]
    assert lines and int(lines[-1].split()[-2]) > 0  # segments column


def test_second_download_is_skip_only(warehouse, spark, capsys):
    """Re-running the same download skips every unchanged segment, so a
    second execution row appears but owns no segments (download_id = the
    execution that last WROTE the row — reference skip-unchanged
    semantics)."""
    tmp, cfg_path = warehouse
    from stream2segment_spark import warehouse as wh
    before = spark.read.parquet(str(tmp / "wh" / "segments.parquet"))
    n_before = before.count()
    assert cli.main(["download", "-c", str(cfg_path)]) == 0
    capsys.readouterr()
    rows = wh.resolve_downloads(str(tmp / "wh"))
    assert len(rows) == 2
    segs = spark.read.parquet(str(tmp / "wh" / "segments.parquet"))
    assert segs.count() == n_before
    assert segs.filter(f"download_id = {rows[-1]['id']}").count() == 0
    assert segs.filter(f"download_id = {rows[0]['id']}").count() == n_before


def transport_legacy(url: str, body):
    if "cha=1&" in url:  # channel 1 serves no data: a stable 204
        return None, 204
    return transport_ok(url, body)


def test_download_over_legacy_warehouse(spark, tmp_path, capsys):
    """A warehouse written before segments carried download_id: a new
    download stamps only the rows it rewrites. Rows it re-fetches but
    skips as unchanged, and rows it does not re-fetch, stay NULL —
    adopting them would let `db-drop -did` delete segments this
    execution never wrote."""
    from pyspark.sql import functions as F

    from stream2segment_spark import warehouse as wh
    (tmp_path / "events.txt").write_text("\n".join(EVENT_LINES))
    (tmp_path / "channels.txt").write_text("\n".join(CHANNEL_LINES + [
        "GE|STA1||HHN|10.5|20.5" + _CH.format(sr="100.0"),
        "GE|STA1||HHE|10.5|20.5" + _CH.format(sr="100.0")]))
    cfg = {
        "warehouse": str(tmp_path / "wh"),
        "events_file": str(tmp_path / "events.txt"),
        "channels_file": str(tmp_path / "channels.txt"),
        "search_radius": {"minmag": 3, "maxmag": 7,
                          "minmag_radius": 1, "maxmag_radius": 5},
        "min_sample_rate": 50.0,
        "timespan": [60, 120],
        "transport": "tests.test_cli:transport_legacy",
    }
    assert cli.cmd_download(spark, cfg) == 0
    path = str(tmp_path / "wh" / "segments.parquet")
    first = {r["channel_id"]: r["download_code"]
             for r in spark.read.parquet(path).collect()}
    assert first == {1: 204, 2: 200, 3: 200}
    # turn it into a legacy table: no download_id column, and channel 2
    # stored as an undecodable body (-2), which the retry policy re-fetches
    legacy = (spark.read.parquet(path).drop("download_id")
              .withColumn("download_code",
                          F.when(F.col("channel_id") == 2, F.lit(-2))
                           .otherwise(F.col("download_code")))
              .localCheckpoint(eager=True))
    legacy.write.mode("overwrite").parquet(path)

    assert cli.cmd_download(spark, cfg) == 0
    capsys.readouterr()
    did = wh.resolve_downloads(str(tmp_path / "wh"))[-1]["id"]
    got = {r["channel_id"]: (r["download_code"], r["download_id"])
           for r in spark.read.parquet(path).collect()}
    assert got == {1: (204, None),   # re-fetched, unchanged: skipped
                   2: (200, did),    # re-fetched and rewritten
                   3: (200, None)}   # stored 200: not re-fetched


def test_dl_log_and_config_print_latest(warehouse, capsys):
    _, cfg_path = warehouse
    assert cli.main(["dl-log", "-c", str(cfg_path)]) == 0
    assert "TOTAL" in capsys.readouterr().out
    assert cli.main(["dl-config", "-c", str(cfg_path)]) == 0
    assert "events_file" in capsys.readouterr().out
    # explicit index / id selection
    assert cli.main(["dl-config", "-c", str(cfg_path), "0"]) == 0
    assert "warehouse" in capsys.readouterr().out


def test_db_classlabel_crud(warehouse, capsys):
    _, cfg_path = warehouse
    assert cli.main(["db-classlabel", "-c", str(cfg_path),
                     "--add", "LowS2N", "low signal-to-noise"]) == 0
    assert "LowS2N (low signal-to-noise)" in capsys.readouterr().out
    assert cli.main(["db-classlabel", "-c", str(cfg_path),
                     "--rename", "LowS2N", "BadSNR", ""]) == 0
    out = capsys.readouterr().out
    assert "BadSNR (low signal-to-noise)" in out and "LowS2N" not in out
    assert cli.main(["db-classlabel", "-c", str(cfg_path),
                     "--delete", "BadSNR"]) == 0
    assert "None" in capsys.readouterr().out
    # renaming a missing label fails cleanly
    assert cli.main(["db-classlabel", "-c", str(cfg_path),
                     "--rename", "nope", "x", ""]) == 1


def test_init_writes_templates(tmp_path, capsys):
    out = tmp_path / "tpl"
    assert cli.main(["init", str(out)]) == 0
    assert (out / "download.yaml").exists()
    assert (out / "process.yaml").exists()
    assert (out / "paramtable.py").exists()
    import yaml as _yaml
    cfg = _yaml.safe_load((out / "download.yaml").read_text())
    assert "warehouse" in cfg and "search_radius" in cfg


def test_db_drop_removes_execution_and_segments(warehouse, spark, capsys):
    """LAST in the module: consumes the shared warehouse's downloads."""
    tmp, cfg_path = warehouse
    from stream2segment_spark import warehouse as wh
    rows = wh.resolve_downloads(str(tmp / "wh"))
    args = ["db-drop", "-c", str(cfg_path)]
    for r in rows:
        args += ["-did", str(r["id"])]
    assert cli.main(args) == 0
    out = capsys.readouterr().out
    for r in rows:
        assert f"id={r['id']}: DELETED" in out
    assert wh.resolve_downloads(str(tmp / "wh")) == []
    segs = spark.read.parquet(str(tmp / "wh" / "segments.parquet"))
    assert segs.count() == 0
    # unknown id errors without touching anything
    assert cli.main(["db-drop", "-c", str(cfg_path), "-did", "999"]) == 1


def test_curate_cli_full_funnel(spark, tmp_path, capsys):
    """'s2s curate' end-to-end with every optional stage on: curated
    parquet written, one funnel JSON line on stdout, counts consistent."""
    import json

    out = tmp_path / "curated"
    rc = cli.main([
        "curate", "-i", "/root/testdata/sf0.001/documents.parquet",
        "-o", str(out), "--languages", "en,und", "--min-quality", "0",
        "--min-tokens", "1", "--neardup-threshold", "0.5",
        "--line-max-df", "3", "--mix-col", "source",
        "--pack-budget", "256", "--pack-shards", "4"])
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["input"] >= stats["filtered"] >= stats["exact_dedup"] \
        >= stats["near_dedup"] >= stats["output"] > 0
    cur = spark.read.parquet(str(out / "curated.parquet"))
    assert {"doc_id", "split", "source", "shard", "chunk_id"} <= set(
        cur.columns)
    assert cur.count() == stats["output"]


def test_curate_cli_missing_columns(spark, tmp_path, capsys):
    bad = tmp_path / "bad.parquet"
    spark.range(3).write.parquet(str(bad))      # no doc_id/text columns
    rc = cli.main(["curate", "-i", str(bad), "-o", str(tmp_path / "o"),
                   "--mix-col", "source"])
    assert rc == 2
    err = capsys.readouterr().err
    assert "doc_id" in err and "text" in err and "source" in err


def test_search_cli(spark, capsys):
    """'s2s search': one JSON line per hit, ranked per term, values
    matching the operator run directly."""
    import json

    rc = cli.main(["search", "-i",
                   "/root/testdata/sf0.001/documents.parquet",
                   "-q", "join scan", "-k", "3"])
    assert rc == 0
    lines = [json.loads(l) for l in
             capsys.readouterr().out.strip().splitlines()]
    assert lines and {l["term"] for l in lines} == {"join", "scan"}
    for term in ("join", "scan"):
        sub = [l for l in lines if l["term"] == term]
        assert [l["rank"] for l in sub] == [1, 2, 3]
        assert all(a["score"] >= b["score"] for a, b in zip(sub, sub[1:]))
    from stream2segment_spark.operators.search import search_topk
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    direct = {(r["term"], r["rank"]): r["doc_id"]
              for r in search_topk(docs, "doc_id", "text",
                                   ["join", "scan"], k=3).collect()}
    assert {(l["term"], l["rank"]): l["doc_id"]
            for l in lines} == direct


def test_search_cli_semantic_curate_mode(tmp_path, capsys):
    """'s2s curate --neardup-mode semantic' runs end-to-end from the CLI."""
    import json

    out = tmp_path / "sem"
    rc = cli.main([
        "curate", "-i", "/root/testdata/sf0.001/documents.parquet",
        "-o", str(out), "--languages", "en,und", "--min-quality", "0",
        "--min-tokens", "1", "--neardup-mode", "semantic"])
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["exact_dedup"] >= stats["near_dedup"] > 0


def test_bpe_train_cli(tmp_path, capsys):
    """'s2s bpe-train': merges JSON written in training order."""
    import json

    out = tmp_path / "merges.jsonl"
    rc = cli.main(["bpe-train", "-i",
                   "/root/testdata/sf0.001/documents.parquet",
                   "-o", str(out), "-n", "5"])
    assert rc == 0
    lines = [json.loads(l) for l in out.read_text().splitlines()]
    assert len(lines) == 5
    assert all({"left", "right", "count"} <= set(l) for l in lines)
    # counts are non-increasing is NOT guaranteed by BPE (merges create
    # new frequent pairs), but every count is positive
    assert all(l["count"] > 0 for l in lines)
    assert "trained 5 merge(s)" in capsys.readouterr().out
    rc = cli.main(["bpe-train", "-i",
                   "/root/testdata/sf0.001/documents.parquet",
                   "-o", str(out), "--text-col", "nope"])
    assert rc == 2


def test_bpe_train_cli_bad_merges(tmp_path, capsys):
    rc = cli.main(["bpe-train", "-i",
                   "/root/testdata/sf0.001/documents.parquet",
                   "-o", str(tmp_path / "m.jsonl"), "-n", "0"])
    assert rc == 2
    assert "--merges" in capsys.readouterr().err


def test_bpe_train_cli_batched(tmp_path):
    import json

    out = tmp_path / "m.jsonl"
    rc = cli.main(["bpe-train", "-i",
                   "/root/testdata/sf0.001/documents.parquet",
                   "-o", str(out), "-n", "8", "--batch", "4"])
    assert rc == 0
    lines = [json.loads(l) for l in out.read_text().splitlines()]
    assert len(lines) == 8


def test_lm_train_score_cli_lifecycle(tmp_path, capsys, spark):
    """lm-train -> lm-score against the saved model equals self-scoring
    on the same corpus; model/file errors exit 2 with messages."""
    model_dir = tmp_path / "lm"
    rc = cli.main(["lm-train", "-i",
                   "/root/testdata/sf0.001/documents.parquet",
                   "-o", str(model_dir)])
    assert rc == 0
    assert "trained order-2 LM" in capsys.readouterr().out
    out_model = tmp_path / "scored_model"
    rc = cli.main(["lm-score", "-i",
                   "/root/testdata/sf0.001/documents.parquet",
                   "-m", str(model_dir), "-o", str(out_model)])
    assert rc == 0
    out_self = tmp_path / "scored_self"
    rc = cli.main(["lm-score", "-i",
                   "/root/testdata/sf0.001/documents.parquet",
                   "-o", str(out_self)])
    assert rc == 0
    a = {r["doc_id"]: (r["n_trans"], r["lm_score"])
         for r in spark.read.parquet(str(out_model)).collect()}
    b = {r["doc_id"]: (r["n_trans"], r["lm_score"])
         for r in spark.read.parquet(str(out_self)).collect()}
    assert a == b and len(a) > 0
    # bad model dir -> 2
    rc = cli.main(["lm-score", "-i",
                   "/root/testdata/sf0.001/documents.parquet",
                   "-m", str(tmp_path / "nope"), "-o", str(out_self)])
    assert rc == 2
    assert "cannot load model" in capsys.readouterr().err
    # missing text col -> 2
    rc = cli.main(["lm-train", "-i",
                   "/root/testdata/sf0.001/documents.parquet",
                   "-o", str(model_dir), "--text-col", "nope"])
    assert rc == 2
    # order-3: trigram model saved and auto-detected on score; scoring
    # against the saved model equals order-3 self-scoring
    tri_dir = tmp_path / "lm3"
    rc = cli.main(["lm-train", "-i",
                   "/root/testdata/sf0.001/documents.parquet",
                   "-o", str(tri_dir), "--order", "3"])
    assert rc == 0
    out_tri = tmp_path / "scored_tri"
    rc = cli.main(["lm-score", "-i",
                   "/root/testdata/sf0.001/documents.parquet",
                   "-m", str(tri_dir), "-o", str(out_tri)])
    assert rc == 0
    assert "mean sb_score" in capsys.readouterr().out
    out_tri_self = tmp_path / "scored_tri_self"
    rc = cli.main(["lm-score", "-i",
                   "/root/testdata/sf0.001/documents.parquet",
                   "-o", str(out_tri_self), "--order", "3"])
    assert rc == 0
    t1 = {r["doc_id"]: (r["n_trans"], r["sb_score"])
          for r in spark.read.parquet(str(out_tri)).collect()}
    t2 = {r["doc_id"]: (r["n_trans"], r["sb_score"])
          for r in spark.read.parquet(str(out_tri_self)).collect()}
    assert t1 == t2 and len(t1) > 0


def test_lm_score_replays_model_tokenizer(tmp_path, capsys, spark):
    """lm-score must score with the tokenizer recorded in the model's
    meta.json, not the CLI default: a unicode-trained model scored with
    the ascii tokenizer sees every CJK token as OOV (silent mis-score).
    Pinned by scoring a CJK corpus against a unicode-trained model and
    matching the direct unicode-mode scoring."""
    from pyspark.sql import functions as F  # noqa: F401
    from stream2segment_spark.functions.lm import lm_transition_scores
    corpus = tmp_path / "cjk.parquet"
    texts = ["東京 大阪 東京 京都", "東京 大阪 名古屋", "大阪 東京 大阪"]
    spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)],
        "doc_id long, text string").write.parquet(str(corpus))
    model_dir = tmp_path / "lm_uni"
    rc = cli.main(["lm-train", "-i", str(corpus), "-o", str(model_dir),
                   "--tokenizer", "unicode"])
    assert rc == 0
    out = tmp_path / "scored"
    rc = cli.main(["lm-score", "-i", str(corpus), "-m", str(model_dir),
                   "-o", str(out)])
    assert rc == 0
    got = {r["doc_id"]: (r["n_trans"], r["lm_score"])
           for r in spark.read.parquet(str(out)).collect()}
    docs = spark.read.parquet(str(corpus))
    want = {r["doc_id"]: (r["n_trans"], r["lm_score"])
            for r in lm_transition_scores(
                docs, "doc_id", "text", tokenizer="unicode").collect()}
    assert got == want
    # the ascii default would see ZERO transitions on pure-CJK text —
    # proves the recorded mode is load-bearing, not a pass-through
    assert any(n > 0 for n, _ in got.values())


def test_bpe_apply_cli_roundtrip(tmp_path, capsys, spark):
    """train -> apply lifecycle: the applied segmentation concatenates
    back to the tokenized text, and errors are argued, not raised."""
    merges = tmp_path / "m.jsonl"
    out = tmp_path / "seg"
    rc = cli.main(["bpe-train", "-i",
                   "/root/testdata/sf0.001/documents.parquet",
                   "-o", str(merges), "-n", "6", "--collect-vocab"])
    assert rc == 0
    rc = cli.main(["bpe-apply", "-i",
                   "/root/testdata/sf0.001/documents.parquet",
                   "-m", str(merges), "-o", str(out)])
    assert rc == 0
    assert "subword token(s) with 6 merge(s)" in capsys.readouterr().out
    import pyspark.sql.functions as SF
    seg = spark.read.parquet(str(out))
    assert set(seg.columns) == {"doc_id", "tokens", "n_tokens"}
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
    # concatenated subwords == the lowercased alnum stream of the text
    joined = (seg.join(docs, "doc_id")
              .select(SF.concat_ws("", "tokens").alias("got"),
                      SF.regexp_replace(SF.lower(SF.coalesce("text",
                                                             SF.lit(""))),
                                        "[^a-z0-9]+", "").alias("want")))
    assert joined.filter("got != want").count() == 0
    # bad merge file -> exit 2 with a message
    bad = tmp_path / "bad.jsonl"
    bad.write_text("{not json\n")
    rc = cli.main(["bpe-apply", "-i",
                   "/root/testdata/sf0.001/documents.parquet",
                   "-m", str(bad), "-o", str(out)])
    assert rc == 2
    assert "merge table" in capsys.readouterr().err
    # missing column -> exit 2
    rc = cli.main(["bpe-apply", "-i",
                   "/root/testdata/sf0.001/documents.parquet",
                   "-m", str(merges), "-o", str(out), "--text-col", "nope"])
    assert rc == 2


def test_bpe_train_cli_collect_vocab(tmp_path, capsys):
    """--collect-vocab trains the exact canonical sequence with the
    in-memory merge loop; incompatible with --batch > 1."""
    import json

    out = tmp_path / "m.jsonl"
    rc = cli.main(["bpe-train", "-i",
                   "/root/testdata/sf0.001/documents.parquet",
                   "-o", str(out), "-n", "5", "--collect-vocab"])
    assert rc == 0
    fast_lines = [json.loads(l) for l in out.read_text().splitlines()]
    rc = cli.main(["bpe-train", "-i",
                   "/root/testdata/sf0.001/documents.parquet",
                   "-o", str(out), "-n", "5"])
    assert rc == 0
    canon_lines = [json.loads(l) for l in out.read_text().splitlines()]
    assert fast_lines == canon_lines
    rc = cli.main(["bpe-train", "-i",
                   "/root/testdata/sf0.001/documents.parquet",
                   "-o", str(out), "-n", "4", "--collect-vocab",
                   "--batch", "2"])
    assert rc == 2
    assert "--collect-vocab" in capsys.readouterr().err


def test_isf_phases_cli(tmp_path, capsys, spark):
    """'s2s isf-phases': bulletin in -> structured phases parquet out."""
    from tests.test_sources_misc import ISF_SUBBLOCKS
    bulletin = tmp_path / "bull.txt"
    bulletin.write_text(ISF_SUBBLOCKS)
    out = tmp_path / "phases"
    rc = cli.main(["isf-phases", "-i", str(bulletin), "-o", str(out)])
    assert rc == 0
    assert "extracted 2 phase pick(s)" in capsys.readouterr().out
    df = spark.read.parquet(str(out))
    assert {r["sta"] for r in df.collect()} == {"MOX", "APE"}
    rc = cli.main(["isf-phases", "-i", str(tmp_path / "nope.txt"),
                   "-o", str(out)])
    assert rc == 2


def test_export_jsonl_end_to_end(spark, tmp_path):
    import gzip as gz
    import json
    import os

    from stream2segment_spark.cli import main as cli_main

    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(i, f"text {i}", i * 2) for i in range(20)],
        "doc_id long, text string, extra long").write.parquet(src)
    out = str(tmp_path / "jsonl")
    rc = cli_main(["export-jsonl", "-i", src, "-o", out,
                   "--columns", "doc_id,text", "--shards", "3", "--gzip"])
    assert rc == 0
    parts = [f for f in os.listdir(out) if f.startswith("part-")]
    assert len(parts) == 3 and all(f.endswith(".gz") for f in parts)
    rows = []
    for f in parts:
        with gz.open(os.path.join(out, f), "rt") as fh:
            rows += [json.loads(line) for line in fh]
    assert len(rows) == 20
    assert all(set(r) == {"doc_id", "text"} for r in rows)
    assert sorted(r["doc_id"] for r in rows) == list(range(20))
    # bad column diagnosed
    assert cli_main(["export-jsonl", "-i", src, "-o", out,
                     "--columns", "nope"]) == 2
    assert cli_main(["export-jsonl", "-i", src, "-o", out,
                     "--shards", "0"]) == 2


def test_compact_and_skew_cli(spark, tmp_path, capsys):
    import json
    import os

    from stream2segment_spark.cli import main as cli_main

    src = str(tmp_path / "many.parquet")
    df = spark.createDataFrame(
        [(i, "hot" if i % 10 else f"k{i}") for i in range(1000)],
        "id long, key string")
    df.repartition(50).write.parquet(src)   # 50 tiny files
    assert sum(1 for f in os.listdir(src) if f.endswith(".parquet")) == 50

    out = str(tmp_path / "compacted")
    rc = cli_main(["compact", "-i", src, "-o", out, "--target-mb", "256"])
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["files"] == 1              # tiny table -> one file
    assert spark.read.parquet(out).count() == 1000

    rc = cli_main(["skew", "-i", src, "--key", "key", "--top", "3"])
    assert rc == 0
    sk = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert sk["rows"] == 1000
    assert sk["top"][0]["key"] == "hot"     # 900 of 1000 rows
    assert sk["top1_share"] == 0.9
    assert cli_main(["skew", "-i", src, "--key", "nope"]) == 2


def test_compact_cli_uri_paths(spark, tmp_path, capsys):
    """``file://`` input and output: the input size and the output file
    count are read through the path's Hadoop FileSystem, not ``os``."""
    import json
    import os

    from stream2segment_spark.cli import main as cli_main

    src = tmp_path / "many.parquet"
    spark.range(1000).repartition(8).write.parquet(str(src))
    size = sum(os.path.getsize(src / f) for f in os.listdir(src)
               if f.endswith(".parquet"))
    out = tmp_path / "compacted"
    rc = cli_main(["compact", "-i", src.as_uri(), "-o", out.as_uri()])
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats == {"input_bytes": size, "files": 1}
    assert spark.read.parquet(str(out)).count() == 1000


def test_cli_sql(spark, tmp_path, capsys):
    import json

    from pyspark.sql import Row

    from stream2segment_spark.cli import main
    d = tmp_path / "tables"
    d.mkdir()
    spark.createDataFrame([Row(k=i, v=i * 10) for i in range(5)]) \
        .write.parquet(str(d / "t.parquet"))
    rc = main(["sql", "SELECT k, v FROM t WHERE k >= 3 ORDER BY k",
               "-i", str(d)])
    assert rc == 0
    lines = [json.loads(l) for l in
             capsys.readouterr().out.strip().splitlines()]
    assert lines == [{"k": 3, "v": 30}, {"k": 4, "v": 40}]


def test_cli_sql_uri_dir(spark, tmp_path, capsys):
    """A ``file://`` table directory is listed through its Hadoop
    FileSystem: each <name>.parquet under it becomes view <name>."""
    import json

    d = tmp_path / "tables"
    spark.range(5).selectExpr("id AS k").write.parquet(str(d / "t.parquet"))
    rc = cli.main(["sql", "SELECT count(*) AS n FROM t", "-i", d.as_uri()])
    assert rc == 0
    assert json.loads(capsys.readouterr().out.strip()) == {"n": 5}


def test_cli_sql_derived_views_on_testdata(capsys):
    import json

    from stream2segment_spark.cli import main
    from tests.conftest import SF_DIR_SMOKE
    rc = main(["sql", "SELECT count(*) AS n FROM events", "-i",
               SF_DIR_SMOKE])
    assert rc == 0
    out = [json.loads(l) for l in
           capsys.readouterr().out.strip().splitlines()]
    assert out[0]["n"] > 0


def test_cli_sql_no_tables(tmp_path, capsys):
    from stream2segment_spark.cli import main
    assert main(["sql", "SELECT 1", "-i", str(tmp_path)]) == 2


def test_cli_explain(capsys):
    from stream2segment_spark.cli import main
    rc = main(["explain", "selection_predicates"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "Physical Plan" in out and "Scan parquet" in out


def test_cli_explain_unknown_entry(capsys):
    from stream2segment_spark.cli import main
    assert main(["explain", "no_such_entry"]) == 2
    assert "unknown entry" in capsys.readouterr().err


PREPROCESS_ONLY_MODULE = """
from stream2segment_spark.plots import segment_preprocess

@segment_preprocess
def squared(samples, delta):
    return samples * samples
"""


def test_show_preprocess_only_module_keeps_default_plots(
        warehouse, capsys, tmp_path):
    """A -p module with ONLY @segment_preprocess (no @segment_plot) must
    keep the default trace/cumulative/spectrum plot set in the static
    report (it used to silently narrow the report to one plot), and the
    preprocess function must reach the interactive viewer wiring."""
    _, cfg_path = warehouse
    # populate the warehouse (idempotent upsert) so the test also runs
    # standalone, not only after the module's download test
    assert cli.main(["download", "-c", str(cfg_path)]) == 0
    capsys.readouterr()
    gui_py = tmp_path / "pre.py"
    gui_py.write_text(PREPROCESS_ONLY_MODULE)
    out_html = tmp_path / "pre.html"
    assert cli.main(["show", "-c", str(cfg_path), "-o", str(out_html),
                     "-p", str(gui_py)]) == 0
    html = out_html.read_text()
    assert "cumulative" in html and "spectrum" in html

    # the serve wiring gets the preprocess hook (construct the app the
    # way cmd_show_serve does, without binding a port)
    import importlib.util as ilu
    from stream2segment_spark.cli import _decoded_selection, _load_cfg
    from stream2segment_spark.showserver import ShowApp
    from pyspark.sql import SparkSession
    spark = SparkSession.getActiveSession()
    cfg = _load_cfg(str(cfg_path))
    decoded, plots_kwargs = _decoded_selection(spark, cfg, str(gui_py))
    assert plots_kwargs.get("preprocess_fn") is not None
    assert "plots" not in plots_kwargs   # default plot set preserved
    app = ShowApp(decoded, preprocess_fn=plots_kwargs["preprocess_fn"])
    raw = app.segment_data(0)
    pp = app.segment_data(0, preprocessed=True)
    assert pp["plots"]["trace"]["y"] != raw["plots"]["trace"]["y"]


def test_cli_lsh_tune_plan_only(capsys):
    import json

    from stream2segment_spark.cli import main
    rc = main(["lsh-tune", "--threshold", "0.5", "--n-perm", "32"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip())
    assert out["bands"] * out["rows_per_band"] <= 32
    assert 0 < out["p_at_threshold"] < 1
    assert main(["lsh-tune", "--threshold", "1.5"]) == 2


def test_cli_lsh_tune_with_pairs(spark, tmp_path, capsys):
    import json

    from pyspark.sql import Row

    from stream2segment_spark.cli import main
    p = tmp_path / "pairs.parquet"
    spark.createDataFrame(
        [Row(id_a=1, id_b=2, jaccard=0.9),
         Row(id_a=1, id_b=3, jaccard=0.2)]).write.parquet(str(p))
    rc = main(["lsh-tune", "--threshold", "0.5", "--n-perm", "64",
               "--banded", "--pairs", str(p)])
    assert rc == 0
    lines = [json.loads(l) for l in
             capsys.readouterr().out.strip().splitlines()]
    assert lines[0]["bands"] * lines[0]["rows_per_band"] == 64
    buckets = {l["bucket"]: l for l in lines[1:]}
    assert set(buckets) == {2, 9}
    assert buckets[9]["n_pairs"] == 1


def test_curate_cli_containment_bestfit_dsir(spark, tmp_path, capsys):
    """The r9 funnel additions from the CLI: containment near-dedup,
    best-fit packing, DSIR selection — plus their flag validation."""
    import json

    src = "/root/testdata/sf0.001/documents.parquet"
    tgt = str(tmp_path / "target.parquet")
    spark.read.parquet(src).filter("doc_id % 5 = 0") \
        .select("doc_id", "text").write.parquet(tgt)
    out = tmp_path / "cbd"
    rc = cli.main([
        "curate", "-i", src, "-o", str(out),
        "--languages", "en,und", "--min-quality", "0",
        "--min-tokens", "1", "--neardup-mode", "containment",
        "--pack-budget", "64", "--pack-bestfit", "--pack-shards", "4",
        "--dsir-target", tgt, "--dsir-k", "12"])
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["near_dedup"] > 0
    cur = spark.read.parquet(str(out / "curated.parquet"))
    assert cur.count() == 12 and {"shard", "bin_id"} <= set(cur.columns)
    # flag validation: dsir pair, bestfit needs budget
    assert cli.main(["curate", "-i", src, "-o", str(out),
                     "--dsir-target", tgt]) == 2
    assert cli.main(["curate", "-i", src, "-o", str(out),
                     "--pack-bestfit"]) == 2
