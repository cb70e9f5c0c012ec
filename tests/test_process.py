"""Processing-engine tests — the Spark analogue of the reference's
tests/process/test_processing.py: selection -> pyfunc -> writer, SkipSegment
semantics, abort-on-error, multi-row returns, append mode, imap."""

from __future__ import annotations

import glob

import pandas as pd
import pytest
from pyspark.sql import functions as F

from stream2segment_spark.process import (
    SegmentView, SkipSegment, imap, process, process_df)


def seg_duration_func(segment: SegmentView, config: dict):
    """A paramtable-style pyfunc: uses base columns, joined dims and config."""
    if segment.download_code == 204:
        raise SkipSegment("no content")
    dur = (segment.end_time - segment.start_time).total_seconds() \
        if segment.end_time is not None and segment.start_time is not None else None
    return {
        "duration": dur,
        "magnitude": segment.event.magnitude,
        "channel_code": segment.channel.channel,
        "network": segment.station.network,
        "scaled": (segment.event_distance_deg or 0.0) * config["scale"],
    }


SCHEMA = ("duration double, magnitude double, channel_code string, "
          "network string, scaled double")


def test_process_end_to_end(seismic_dfs, seismic_graph_full, seismic_duck):
    out = process(
        seismic_graph_full, seismic_dfs, seg_duration_func, SCHEMA,
        segments_selection={"has_valid_data": "true"},
        config={"scale": 2.0}).toPandas()
    want = seismic_duck.sql("""
        SELECT s.id FROM segments s
        WHERE s.data IS NOT NULL AND octet_length(s.data) > 0
          AND s.download_code IS NOT NULL AND s.download_code NOT IN (-2, 204)
    """).df()
    assert sorted(out.segment_db_id) == sorted(want.id)
    assert list(out.columns)[0] == "segment_db_id"
    # spot-check one row against the oracle
    row = out.iloc[0]
    oracle = seismic_duck.sql(f"""
        SELECT e.magnitude, c.channel, st.network,
               s.event_distance_deg * 2.0 AS scaled
        FROM segments s JOIN events e ON s.event_id = e.id
        JOIN channels c ON s.channel_id = c.id
        JOIN stations st ON c.station_id = st.id
        WHERE s.id = {int(row.segment_db_id)}""").df().iloc[0]
    assert row.magnitude == oracle.magnitude
    assert row.channel_code == oracle.channel
    assert row.network == oracle.network
    assert row.scaled == pytest.approx(oracle.scaled)


def test_skipsegment_collected_not_fatal(seismic_dfs, seismic_graph_full):
    segs = seismic_dfs["segments"].limit(50)

    def f(seg, cfg):
        if seg.id % 2 == 0:
            raise SkipSegment("even id")
        return {"x": float(seg.id)}

    res = process_df(segs, f, "x double", collect_errors=True).toPandas()
    assert len(res) == 50
    errs = res[res.s2s_error.notna()]
    assert set(errs.segment_db_id) == {r for r in res.segment_db_id if r % 2 == 0}
    assert (errs.s2s_error == "even id").all()
    ok = res[res.s2s_error.isna()]
    assert (ok.x == ok.segment_db_id).all()


def test_non_skip_exception_aborts(seismic_dfs):
    def f(seg, cfg):
        raise RuntimeError("boom")

    with pytest.raises(Exception, match="boom"):
        process_df(seismic_dfs["segments"].limit(5), f, "x double").collect()


def test_multirow_return_is_flatmap(seismic_dfs):
    def f(seg, cfg):
        return [{"k": 1}, {"k": 2}]

    res = process_df(seismic_dfs["segments"].limit(10), f, "k long").toPandas()
    assert len(res) == 20
    assert sorted(res.k.unique()) == [1, 2]


def test_none_return_drops_row(seismic_dfs):
    def f(seg, cfg):
        return {"k": 1} if seg.id <= 3 else None

    res = process_df(seismic_dfs["segments"].filter(F.col("id") <= 10),
                     f, "k long").toPandas()
    assert sorted(res.segment_db_id) == [1, 2, 3]


def test_append_mode(tmp_path, seismic_dfs, seismic_graph_full):
    out = str(tmp_path / "results.parquet")

    def f(seg, cfg):
        return {"v": float(seg.id)}

    first = process(seismic_graph_full, seismic_dfs, f, "v double",
                    segments_selection={"id": "<=100"}, outfile=out)
    n1 = len(pd.read_parquet(out))
    assert n1 == first.count() == 100
    # second run with a wider selection only processes the remainder
    process(seismic_graph_full, seismic_dfs, f, "v double",
            segments_selection={"id": "<=150"}, outfile=out, append=True)
    final = pd.read_parquet(out)
    assert sorted(final.segment_db_id) == list(range(1, 151))
    assert final.segment_db_id.is_unique


def test_append_mode_uri_outfile(tmp_path, seismic_dfs, seismic_graph_full):
    """An outfile given as a URI is found on append: the second call keeps
    the first call's rows and adds only the new ids."""
    out = (tmp_path / "out.parquet").as_uri()
    assert out.startswith("file:///")

    def run(selection, tag):
        process(seismic_graph_full, seismic_dfs,
                lambda seg, cfg: {"run": tag}, "run string",
                segments_selection={"id": selection}, outfile=out,
                append=True)

    run("<=100", "first")
    run("<=150", "second")
    final = pd.read_parquet(tmp_path / "out.parquet")
    assert final.segment_db_id.is_unique
    assert sorted(final.segment_db_id) == list(range(1, 151))
    runs = dict(zip(final.segment_db_id, final.run))
    assert {runs[i] for i in range(1, 101)} == {"first"}
    assert {runs[i] for i in range(101, 151)} == {"second"}


def _plan_graphs(spark, fn) -> list:
    """The plan graphs (final adaptive plans) of every SQL execution that
    ``fn()`` runs, read from Spark's SQL status store."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()

    def ids():
        bus.waitUntilEmpty()
        execs = store.executionsList()
        return [execs.apply(i).executionId() for i in range(execs.size())]

    before = max(ids(), default=-1)
    fn()
    return [store.planGraph(i) for i in ids() if i > before]


def _side_of(graph, start) -> list:
    """The nodes from ``start`` up to (not including) the first join
    above it: the join side that ``start`` feeds."""
    nodes = {n.id(): n for n in
             (graph.allNodes().apply(i)
              for i in range(graph.allNodes().size()))}
    parent = {e.fromId(): e.toId() for e in
              (graph.edges().apply(i) for i in range(graph.edges().size()))}
    side, node = [], start
    while "Join" not in node.name():
        side.append(node)
        node = nodes[parent[node.id()]]
    return side


def test_append_reads_done_ids_without_shuffle(tmp_path, spark, seismic_dfs,
                                               seismic_graph_full):
    """Plan-shape sentinel for append mode: the already-processed side of
    the anti join is one schema-given column scan of the output, with no
    aggregate and no shuffle exchange (no distinct) before the join."""
    out = str(tmp_path / "results.parquet")

    def f(seg, cfg):
        return {"v": float(seg.id)}

    process(seismic_graph_full, seismic_dfs, f, "v double",
            segments_selection={"id": "<=100"}, outfile=out)
    graphs = _plan_graphs(spark, lambda: process(
        seismic_graph_full, seismic_dfs, f, "v double",
        segments_selection={"id": "<=150"}, outfile=out, append=True))
    scans = [(g, n) for g in graphs
             for n in (g.allNodes().apply(i)
                       for i in range(g.allNodes().size()))
             if n.desc().startswith("FileScan parquet [segment_db_id#")]
    assert len(scans) == 1
    graph, scan = scans[0]
    assert "ReadSchema: struct<segment_db_id:bigint>" in scan.desc()
    side = [n.name() for n in _side_of(graph, scan)]
    assert "HashAggregate" not in side and "Exchange" not in side, side
    assert sorted(pd.read_parquet(out).segment_db_id) == list(range(1, 151))


def test_csv_writer_contract(tmp_path, seismic_dfs, seismic_graph_full):
    out = str(tmp_path / "results.csv")

    def f(seg, cfg):
        return {"v": float(seg.id), "w": "s"}

    process(seismic_graph_full, seismic_dfs, f, "v double, w string",
            segments_selection={"id": "<=5"}, outfile=out)
    files = glob.glob(f"{out}/*.csv")
    assert files
    header = open(files[0]).readline().strip().split(",")
    assert header[0] == "segment_db_id"


def test_imap(seismic_dfs, seismic_graph_full):
    def f(seg, cfg):
        return {"v": float(seg.id)}

    rows = list(imap(seismic_graph_full, seismic_dfs, f, "v double",
                     segments_selection={"id": "<=7"}))
    assert len(rows) == 7
    assert {r["segment_db_id"] for r in rows} == set(range(1, 8))
