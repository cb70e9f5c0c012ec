"""Command-line surface — the reference's ``s2s`` CLI (cli.py: download /
process / show / dl stats) re-expressed over the Spark engine.

The "database" is a WAREHOUSE directory of parquet tables (events,
stations, channels, segments) — the dburl analogue; every command reads
and writes it with plain ``spark.read/write.parquet`` so any other Spark
(or DuckDB) consumer can open the same tables.

Commands (YAML config, reference-style key names where they map 1:1):

- ``download -c cfg.yaml``  — the §3.2 chain end-to-end: FDSN event +
  channel text (files or URLs) -> parse/filter/dedup/id-sync -> spatial
  join -> diff vs stored segments -> fetch -> miniSEED decode -> upsert;
  prints the per-code response summary.
- ``process -c cfg.yaml -p file.py:func -o out``  — the §3.1 pyfunc
  engine over the warehouse with the reference's selection semantics.
- ``show -c cfg.yaml -o report.html [-p gui.py]``  — the server-less GUI
  analogue: decode selected segments, render the standalone HTML plot
  report; ``-p`` loads user ``@segment_plot`` functions (the reference's
  gui-module hook).
- ``dl-stats -c cfg.yaml [--html]``  — the 's2s dl stats' table (code
  columns ordered/titled per the reference policy).
- ``init OUTDIR``  — editable template files ('s2s init',
  reference cli.py:294).
- ``dl-summary / dl-log / dl-config [-did N] [indices]``  — download-
  execution inspection over the ``downloads`` bookkeeping table
  (reference download/db/inspection/main.py; indices are run-time
  ordered, 0=oldest, -1=latest).
- ``db-drop -did N``  — delete executions + their segments
  ('s2s db drop', reference download/db/management.py).
- ``db-classlabel --add L D / --rename OLD NEW D / --delete L``  —
  class-label CRUD ('s2s db classlabel').

Config keys for ``download``: ``warehouse``, ``events_file``,
``channels_file``, ``dataselect_url``, ``min_sample_rate``,
``search_radius: {minmag,maxmag,minmag_radius,maxmag_radius}``,
``timespan: [lead_sec, lag_sec]``, and ``transport`` (dotted
``module:callable`` — the injectable HTTP layer of sources.fetch; omit
for the stdlib default. Tests inject a deterministic one, like the
reference's mocked-HTTP download tests).
"""

from __future__ import annotations

import argparse
import importlib
import os
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_EMPTY_SCHEMAS = {
    "events": "id long, event_id string",
    "stations": ("station_id long, network string, station string, "
                 "latitude double, longitude double, "
                 "start_time timestamp, end_time timestamp"),
    "channels": ("id long, network string, station string, location string, "
                 "channel string, start_time timestamp"),
    "segments": ("id long, channel_id long, event_id long, "
                 "event_distance_deg double, request_start timestamp, "
                 "request_end timestamp, download_code int, data binary, "
                 "sample_rate double, maxgap_numsamples double, "
                 "start_time timestamp, end_time timestamp"),
}


def _load_cfg(path: str) -> dict:
    import yaml
    with open(path, encoding="utf-8") as fh:
        cfg = yaml.safe_load(fh) or {}
    if "warehouse" not in cfg:
        raise SystemExit("config needs a 'warehouse' directory")
    return cfg


def _table(spark: SparkSession, cfg: dict, name: str) -> DataFrame:
    path = os.path.join(cfg["warehouse"], f"{name}.parquet")
    if os.path.exists(path):
        return spark.read.parquet(path)
    return spark.createDataFrame([], _EMPTY_SCHEMAS[name])


def _write(df: DataFrame, cfg: dict, name: str) -> None:
    df.write.mode("overwrite").parquet(
        os.path.join(cfg["warehouse"], f"{name}.parquet"))


def _dotted(spec: str):
    mod, _, attr = spec.partition(":")
    return getattr(importlib.import_module(mod), attr)


def _lines(spark: SparkSession, source: str) -> DataFrame:
    return spark.read.text(source)  # local path, glob or hadoop-visible URL


def _event_lines(spark: SparkSession, source: str) -> DataFrame:
    """FDSN pipe-text lines from the events source. A local ISF bulletin
    (first line starts with 'DATA_TYPE ' — the reference's format sniff,
    download/modules/events.py:171-176) is parsed driver-side (event
    catalogs are driver-grain, exactly like the reference streaming the
    ISC response) and re-serialized into the S1 pipe-text layout."""
    if os.path.isfile(source):
        with open(source, encoding="utf-8", errors="replace") as fh:
            head = fh.readline()
            if head.startswith("DATA_TYPE "):
                from stream2segment_spark.sources.fdsn import (
                    EVENT_COLS, to_fdsn_lines)
                from stream2segment_spark.sources.isf import isf_to_fdsn_rows
                rows = isf_to_fdsn_rows(head + fh.read())
                ddl = ", ".join(
                    f"{n} {'double' if t == 'double' else 'string'}"
                    for n, t in EVENT_COLS)
                df = (spark.createDataFrame(rows, ddl)
                      .withColumn("time", F.to_timestamp("time")))
                return to_fdsn_lines(df, EVENT_COLS)
    return _lines(spark, source)


def cmd_download(spark: SparkSession, cfg: dict, cfg_text: str = "") -> int:
    import yaml

    from stream2segment_spark import warehouse as wh
    from stream2segment_spark.pipeline import (
        download_pipeline, fetch_inventories, stations_of)
    from stream2segment_spark.reporting import render_text

    radius = cfg.get("search_radius", {})
    lead, lag = cfg.get("timespan", [60.0, 120.0])
    transport = _dotted(cfg["transport"]) if cfg.get("transport") else None
    # channels_file: one path/glob, or a {dataselect_url: path} mapping —
    # the EIDA-federation case: each datacenter's station text is tagged
    # with its endpoint, cross-datacenter claims resolve via cfg routing
    # rules, and every segment is fetched from (and stamped with) its
    # channel's own datacenter
    ch_src = cfg["channels_file"]
    dc_kwargs: dict = {}
    if isinstance(ch_src, dict):
        from functools import reduce
        tagged = [_lines(spark, path).withColumn("__dc", F.lit(dc))
                  for dc, path in sorted(ch_src.items())]
        channel_lines = reduce(lambda a, b: a.unionByName(b), tagged)
        routing = None
        if cfg.get("routing_file"):  # EIDA routing-service text format
            from stream2segment_spark.sources.routing import (
                parse_routing_response)
            with open(cfg["routing_file"], encoding="utf-8") as fh:
                routing = parse_routing_response(fh.read())
        dc_kwargs = {"datacenter_col": "__dc", "keep_datacenter": True,
                     "routing_rules": routing}
    else:
        channel_lines = _lines(spark, ch_src)
    # travel-time enrichment (reference stationsearch.py:136-144: the
    # download always derives arrival_time from a named TT model): config
    # key `traveltimes` = npz table path or 'uniform:<v_km_s>'; without it
    # the request window falls back to the event origin time
    tt_udf = None
    if cfg.get("traveltimes"):
        from stream2segment_spark.operators.spatial import (
            load_tt_grid, travel_time_udf)
        tt_udf = travel_time_udf(spark, load_tt_grid(cfg["traveltimes"]))
    # this execution's id, stamped on the segments it writes (the stored
    # ones keep theirs; see download_pipeline)
    did = wh._next_id(wh.read_small(cfg["warehouse"], "downloads"))
    out = download_pipeline(
        spark,
        _event_lines(spark, cfg["events_file"]),
        channel_lines,
        _table(spark, cfg, "events"),
        _table(spark, cfg, "channels"),
        _table(spark, cfg, "segments"),
        transport=transport,
        tt_udf=tt_udf,
        minmag=radius.get("minmag", 3.0),
        maxmag=radius.get("maxmag", 7.0),
        minmag_radius=radius.get("minmag_radius", 1.0),
        maxmag_radius=radius.get("maxmag_radius", 5.0),
        window_lead_sec=float(lead), window_lag_sec=float(lag),
        base_url=cfg.get("dataselect_url", "http://dataselect.invalid/query"),
        min_sample_rate=cfg.get("min_sample_rate"),
        retry=cfg.get("retry"),
        download_id=did,
        **dc_kwargs,
    )
    # events and channels come back checkpointed (download_pipeline
    # materializes them at ingest), and stations derive from that
    # checkpoint; segments are derived from the stored segments table,
    # so materialize them BEFORE the write overwrites it
    out["segments"] = out["segments"].localCheckpoint(eager=True)
    stations = stations_of(out["channels"])
    if cfg.get("inventory"):  # 's2s download -i': station XML inventories
        station_url = cfg.get(
            "station_url",
            cfg.get("dataselect_url",
                    "http://dataselect.invalid/query")
            .replace("/dataselect/", "/station/"))
        stations = fetch_inventories(
            stations, out["channels"], out["segments"],
            base_url=station_url, transport=transport)
    for name in ("events", "channels", "segments"):
        _write(out[name], cfg, name)
    _write(stations, cfg, "stations")
    stats = out["segments"].select(
        F.lit("all").alias("row"),
        F.col("download_code").alias("code")).groupBy("row", "code") \
        .agg(F.count("*").alias("n"))
    report = render_text(stats)
    print(report)
    wh.record_download(cfg["warehouse"], log_text=report,
                       config_text=cfg_text or yaml.safe_dump(cfg), did=did)
    return 0


def _warehouse_graph(dfs):
    """Join graph over the STORED warehouse tables, with every reference
    hybrid property attached so selection strings accept derived
    attributes and dotted paths ('event.magnitude', 'station.network',
    'has_valid_data', ...).

    Two layouts exist: the download CLI writes denormalized channels
    (natural key columns, stations joined by network/station/start_time),
    while an ``import-db``'d warehouse keeps the reference's normalized
    shape (channels carry ``station_id`` -> stations.id, the reference's
    own foreign keys). Detect by the channel columns."""
    from stream2segment_spark.columns import register_seismic_derived
    from stream2segment_spark.schema import (
        Hop, Relationship, SchemaGraph, Table)
    sta_key = ("network", "station", "start_time")
    normalized = "station_id" in dfs["channels"].columns \
        and "network" not in dfs["channels"].columns
    if normalized:
        cha_key = ("station_id", "location", "channel")
        cha_sta_hops = (Hop("stations", ("station_id",), ("id",)),)
    else:
        cha_key = ("network", "station", "location", "channel", "start_time")
        cha_sta_hops = (Hop("stations", sta_key, sta_key),)
    tables = {
        "events": Table("events", dfs["events"].schema, ("event_id",)),
        "stations": Table("stations", dfs["stations"].schema, sta_key),
        "channels": Table(
            "channels", dfs["channels"].schema, cha_key,
            relationships={
                "station": Relationship("station", cha_sta_hops),
            }),
        "segments": Table(
            "segments", dfs["segments"].schema, ("channel_id", "event_id"),
            relationships={
                "event": Relationship(
                    "event", (Hop("events", ("event_id",), ("id",)),)),
                "channel": Relationship(
                    "channel", (Hop("channels", ("channel_id",), ("id",)),)),
                "station": Relationship(
                    "station",
                    (Hop("channels", ("channel_id",), ("id",)),
                     *cha_sta_hops)),
            }),
    }
    return register_seismic_derived(SchemaGraph(tables))


def cmd_process(spark: SparkSession, cfg: dict, pyfunc_spec: str,
                outfile: str | None, append: bool = False) -> int:
    import importlib.util as ilu

    from stream2segment_spark.process import process

    path, _, attr = pyfunc_spec.rpartition(":")
    if path.endswith(".py"):  # a file path: import by location
        spec = ilu.spec_from_file_location("__s2s_pyfunc__", path)
        mod = ilu.module_from_spec(spec)
        spec.loader.exec_module(mod)
        func = getattr(mod, attr)
    else:
        func = _dotted(pyfunc_spec)
    schema = cfg.get("output_schema") or getattr(func, "output_schema", None)
    if not schema:
        raise SystemExit("need 'output_schema' in config or on the function")
    # the library engine over the warehouse: the full reference selection
    # grammar (flat, derived and dotted attributes), the pyfunc sees the
    # segment with its event, channel and station, and '--append -o out'
    # processes only the segments 'out' does not hold yet
    dfs = {name: _table(spark, cfg, name)
           for name in ("segments", "events", "channels", "stations")}
    result = process(_warehouse_graph(dfs), dfs, func, schema,
                     cfg.get("segments_selection") or {},
                     config=cfg.get("config"), outfile=outfile,
                     append=append)
    if not outfile:
        for row in result.toLocalIterator():
            print(row.asDict())
    return 0


def _decoded_selection(spark: SparkSession, cfg: dict,
                       plot_module: str | None):
    """Shared by cmd_show / cmd_show_serve: apply the config's segment
    selection, decode the waveforms, and load user plot producers."""
    from stream2segment_spark.sources.mseed import unpack_mseed_udf

    plots_kwargs: dict = {}
    if plot_module:  # 's2s show -p gui.py': user-defined plot functions
        import importlib.util as ilu

        from stream2segment_spark.plots import (
            collect_custom_producers, collect_custom_specs,
            collect_preprocess)
        spec = ilu.spec_from_file_location("__s2s_gui__", plot_module)
        mod = ilu.module_from_spec(spec)
        spec.loader.exec_module(mod)
        specs = collect_custom_specs(mod)
        pre_fn = collect_preprocess(mod)
        if not specs and pre_fn is None:
            raise SystemExit(f"{plot_module} defines no @segment_plot "
                             "or @segment_preprocess functions")
        plots_kwargs = {"preprocess_fn": pre_fn}
        if specs:  # a preprocess-only module keeps the default plot set
            plots_kwargs.update(
                extra_producers=collect_custom_producers(mod),
                extra_specs=specs,
                plots=("trace", *specs))

    # the same selection grammar as process (the reference GUI shows the
    # config's selected segments), then the has-data floor
    from stream2segment_spark.selectexpr import exprquery
    dfs = {name: _table(spark, cfg, name)
           for name in ("segments", "events", "channels", "stations")}
    segs = exprquery(_warehouse_graph(dfs), dfs, "segments",
                     cfg.get("segments_selection") or {})
    segs = segs.filter(
        F.col("data").isNotNull() & (F.octet_length("data") > 0))
    decoded = (segs.withColumn(
        "ms", F.element_at(unpack_mseed_udf()(F.col("data")), 1))
        .filter(F.col("ms.error").isNull())
        .select("id", F.col("ms.samples").alias("samples"),
                (F.lit(1.0) / F.col("ms.sample_rate")).alias("delta"),
                F.col("ms.seed_id").alias("seed_id")))
    return decoded, plots_kwargs


def cmd_show(spark: SparkSession, cfg: dict, outfile: str,
             max_segments: int, plot_module: str | None = None) -> int:
    from stream2segment_spark.report import write_segment_report

    decoded, plots_kwargs = _decoded_selection(spark, cfg, plot_module)
    # the static report always renders the raw view; preprocess is a
    # per-request toggle of the interactive server only
    report_kwargs = {k: v for k, v in plots_kwargs.items()
                     if k in ("extra_producers", "plots")}
    n = write_segment_report(decoded, outfile, title=cfg.get(
        "title", "segment report"), max_segments=max_segments,
        label_cols=("seed_id",), **report_kwargs)
    print(f"wrote {n} segment(s) to {outfile}")
    return 0


def cmd_show_serve(spark: SparkSession, cfg: dict, port: int,
                   plot_module: str | None = None,
                   annotator: str | None = None) -> int:
    """'s2s show --serve': the reference GUI's interactive loop (browse
    segments, view plots, hand-label classes) over a local stdlib HTTP
    server — see stream2segment_spark.showserver."""
    from stream2segment_spark.showserver import ShowApp, serve

    decoded, plots_kwargs = _decoded_selection(spark, cfg, plot_module)

    def _reselect(conditions: dict):
        # live selection (reference set_selection): same decode path
        # under the NEW conditions
        cfg2 = dict(cfg, segments_selection=conditions)
        return _decoded_selection(spark, cfg2, None)[0]

    app = ShowApp(decoded, warehouse=cfg["warehouse"],
                  annotator=annotator,
                  plots=plots_kwargs.get(
                      "plots", ("trace", "cumulative", "spectrum")),
                  extra_producers=plots_kwargs.get("extra_producers"),
                  extra_specs=plots_kwargs.get("extra_specs"),
                  preprocess_fn=plots_kwargs.get("preprocess_fn"),
                  select_fn=_reselect)
    serve(app, port=port)
    return 0


def cmd_dl_stats(spark: SparkSession, cfg: dict, as_html: bool) -> int:
    from stream2segment_spark.reporting import (
        render_html, render_text, stats_by_code)
    segs = _table(spark, cfg, "segments")
    if "datacenter" not in segs.columns:  # single-datacenter warehouse
        segs = segs.withColumn(
            "datacenter", F.lit(cfg.get("dataselect_url", "all")))
    else:
        segs = segs.withColumn(
            "datacenter", F.coalesce("datacenter", F.lit("unknown")))
    stats = stats_by_code(segs)
    print(render_html(stats) if as_html else render_text(stats))
    return 0


def cmd_dl_summary(spark: SparkSession, cfg: dict, dids, indices) -> int:
    """'s2s dl summary': one line per download execution — id, run time,
    segment count and OK count (download/db/inspection/main.py summary)."""
    from stream2segment_spark import warehouse as wh
    rows = wh.resolve_downloads(cfg["warehouse"], dids, indices)
    segs = _table(spark, cfg, "segments")
    per: dict[int, tuple[int, int]] = {}
    if "download_id" in segs.columns:
        per = {r["download_id"]: (r["n"], r["ok"]) for r in
               segs.groupBy("download_id").agg(
                   F.count("*").alias("n"),
                   F.count(F.when(F.col("download_code")
                                  .between(200, 299), 1)).alias("ok"))
               .collect()}
    print(f"{'id':>4}  {'run_time':<26}  {'segments':>8}  {'ok':>8}")
    for r in rows:
        n, ok = per.get(r["id"], (0, 0))
        print(f"{r['id']:>4}  {str(r['run_time']):<26}  {n:>8}  {ok:>8}")
    return 0


def cmd_dl_text(cfg: dict, dids, indices, field: str) -> int:
    """'s2s dl log' / 's2s dl config': print the stored log / YAML config
    of the selected execution(s) (default: the latest, index -1)."""
    from stream2segment_spark import warehouse as wh
    if not dids and not indices:
        indices = [-1]
    rows = wh.resolve_downloads(cfg["warehouse"], dids, indices)
    for r in rows:
        if len(rows) > 1:
            print(f"--- download id={r['id']} run_time={r['run_time']} ---")
        print(r[field] or "")
    return 0


def cmd_db_drop(spark: SparkSession, cfg: dict, dids) -> int:
    """'s2s db drop': delete download executions and their segments."""
    from stream2segment_spark import warehouse as wh
    try:
        counts = wh.drop_downloads(spark, cfg["warehouse"], list(dids))
    except KeyError as exc:
        print(str(exc))
        return 1
    for did, n in counts.items():
        print(f"Download id={did}: DELETED ({n} associated segments deleted)")
    return 0


def cmd_db_classlabel(cfg: dict, add, rename, delete) -> int:
    """'s2s db classlabel': add/rename/delete class labels."""
    from stream2segment_spark import warehouse as wh
    try:
        labels = wh.classlabels(
            cfg["warehouse"],
            add={a[0]: a[1] for a in (add or ())},
            rename={r[0]: (r[1], r[2] or None) for r in (rename or ())},
            delete=list(delete or ()))
    except KeyError as exc:
        print(str(exc))
        return 1
    print("Done. Current class labels on the database:")
    if not labels:
        print("None")
    for label, desc in labels.items():
        print(f"{label} ({desc})")
    return 0


def cmd_import_db(spark, cfg: dict, dburl: str) -> int:
    """'s2s import-db': one-shot migration of a reference SQLite/Postgres
    database into the parquet warehouse (sources/dbimport.py)."""
    from stream2segment_spark.sources.dbimport import import_db

    counts = import_db(spark, dburl, cfg["warehouse"])
    if not counts:
        print(f"no stream2segment tables found in {dburl}")
        return 1
    print(f"imported into '{cfg['warehouse']}':")
    for name, n in counts.items():
        print(f"  {name}: {n} row(s)")
    return 0


def cmd_export_db(cfg: dict, outfile: str) -> int:
    """'s2s export-db': write the parquet warehouse to a reference-layout
    SQLite database (sinks/dbexport.py) — e.g. to browse Spark-processed
    data in the reference's GUI."""
    from stream2segment_spark.sinks.dbexport import export_sqlite

    counts = export_sqlite(cfg["warehouse"], outfile)
    if not counts:
        print(f"no warehouse tables found in {cfg['warehouse']}")
        return 1
    print(f"exported to '{outfile}':")
    for name, n in counts.items():
        print(f"  {name}: {n} row(s)")
    return 0


_INIT_DOWNLOAD_YAML = """\
# stream2segment-spark download configuration.
# Edit and run: python -m stream2segment_spark download -c download.yaml
warehouse: ./warehouse          # parquet warehouse directory (the dburl analogue)
events_file: ./events.txt       # FDSN event text: path, glob or URL
channels_file: ./channels.txt   # FDSN station text (channel level)
# ... or one file per datacenter (EIDA federation) + routing rules:
# channels_file:
#   http://dc1.example.org/fdsnws/dataselect/1/query: ./dc1_channels.txt
#   http://dc2.example.org/fdsnws/dataselect/1/query: ./dc2_channels.txt
# routing_file: ./routing.txt   # EIDA routing-service text format
dataselect_url: http://service.example.org/fdsnws/dataselect/1/query
min_sample_rate: 50.0           # drop channels below this rate (Hz)
search_radius:                  # magnitude-dependent station search radius
  minmag: 3.0
  maxmag: 7.0
  minmag_radius: 1.0            # degrees at minmag
  maxmag_radius: 5.0            # degrees at maxmag
timespan: [60, 120]             # seconds before/after the arrival time
# transport: mymodule:fetch     # injectable HTTP callable (tests/mocking)
"""

_INIT_PROCESS_YAML = """\
# stream2segment-spark processing configuration.
# Edit and run:
#   python -m stream2segment_spark process -c process.yaml \\
#       -p paramtable.py:main -o output.csv
warehouse: ./warehouse
segments_selection:             # reference selection-string grammar
  maxgap_numsamples: '(-0.5, 0.5)'
  sample_rate: '>= 50'
output_schema: 'segment_db_id long, snr double'  # columns pyfunc returns
config: {}                      # dict passed through to the pyfunc
"""


def cmd_tt_create(spark, model_spec: str, outfile: str, phase: str,
                  tol: float, maxdepth: float, maxdist: float) -> int:
    """'s2s tt-create': build a travel-time npz table from a 1-D velocity
    model (reference ttcreator.py:419-572, obspy-free — grid rows are a
    distributed Spark job; see traveltimes.py for the ray theory)."""
    from stream2segment_spark.traveltimes import (
        VelocityModel1D, compute_grid, demo_model, save_npz)

    if model_spec == "demo":
        model = demo_model()
    else:
        model = VelocityModel1D.from_csv(
            model_spec, column="vs" if phase.upper() == "S" else "vp")
    depths, dists, grid = compute_grid(
        model, tt_errtol=tol, max_source_depth_km=maxdepth,
        max_dist_deg=maxdist, spark=spark)
    save_npz(outfile, depths, dists, grid, model.name, phase.upper(), tol)
    print(f"wrote {outfile}: {grid.shape[0]} source depths x "
          f"{grid.shape[1]} distances (model={model.name}, phase={phase}, "
          f"tol={tol}s)")
    return 0


def cmd_curate(spark, infile: str, outdir: str, languages: str,
               min_quality: float, min_tokens: int, max_tokens: int,
               neardup_threshold: float, neardup_mode: str,
               line_max_df, max_dup_frac, cut_dup_substrings, mix_col,
               mix_alpha: float, pack_budget, pack_shards: int,
               semantic_k: int | None = None,
               min_lm_score: float | None = None,
               c4_rules: bool = False,
               gopher_rules: "bool | str" = False,
               gopher_repetition: bool = False,
               benchmark: str | None = None,
               max_contam_frac: float = 0.0,
               neardup_keep: str = "first",
               domain_cap: int | None = None,
               domain_col: str = "source",
               tokenizer: str = "ascii",
               langid_mode: str = "heuristic",
               multilingual_stopwords: bool = False,
               against: str | None = None,
               against_signatures: str | None = None,
               write_signatures: bool = False,
               html_extract: bool = False,
               nfc_normalize: bool = False,
               classifier: str | None = None,
               min_classifier_score: float = 0.5,
               pack_bestfit: bool = False,
               dsir_target: str | None = None,
               dsir_k: int | None = None,
               audit: bool = False) -> int:
    """'s2s curate': the corpus-curation funnel (beyond-reference,
    examples/corpus_pipeline.curate_corpus) as a CLI: documents parquet
    in -> curated parquet + one funnel JSON line on stdout."""
    import json

    from stream2segment_spark.examples.corpus_pipeline import curate_corpus

    def _stopword_tables():
        from stream2segment_spark.functions.text import STOPWORDS_BY_LANG
        return STOPWORDS_BY_LANG

    docs = spark.read.parquet(infile)
    need = {"doc_id", "text"} | ({mix_col} if mix_col else set()) \
        | ({domain_col} if domain_cap is not None else set())
    missing = need - set(docs.columns)
    if missing:
        print(f"error: {infile} lacks required column(s) "
              f"{sorted(missing)} (has: {sorted(docs.columns)})",
              file=sys.stderr)
        return 2
    # signature chaining (incremental curation at scale): the persisted
    # MinHash table lets every later --against batch skip re-tokenizing
    # the existing corpus (funnel scale contract — batch cost tracks
    # the new batch, not the corpus)
    if (write_signatures or against_signatures) \
            and neardup_mode != "minhash":
        print("error: --write-signatures/--against-signatures require "
              "--neardup-mode minhash (signatures exist only on the "
              "MinHash path)", file=sys.stderr)
        return 2
    if against_signatures is not None and against is None:
        print("error: --against-signatures requires --against (it is "
              "the signature table OF the existing corpus)",
              file=sys.stderr)
        return 2
    if write_signatures and against is not None \
            and against_signatures is None:
        print("error: --write-signatures with --against needs "
              "--against-signatures to produce the chained table "
              "(run the first batch with --write-signatures and pass "
              "its signatures.parquet here)", file=sys.stderr)
        return 2
    against_sig_df = None
    if against_signatures is not None:
        against_sig_df = spark.read.parquet(against_signatures)
        sig_missing = {"doc_id", "minhash"} - set(against_sig_df.columns)
        if sig_missing:
            print(f"error: {against_signatures} lacks required "
                  f"column(s) {sorted(sig_missing)} (has: "
                  f"{sorted(against_sig_df.columns)})", file=sys.stderr)
            return 2
    if (dsir_target is None) != (dsir_k is None):
        print("error: --dsir-target and --dsir-k go together",
              file=sys.stderr)
        return 2
    if pack_bestfit and pack_budget is None:
        print("error: --pack-bestfit needs --pack-budget",
              file=sys.stderr)
        return 2
    dsir_df = None
    if dsir_target is not None:
        dsir_df = spark.read.parquet(dsir_target)
        d_missing = {"doc_id", "text"} - set(dsir_df.columns)
        if d_missing:
            print(f"error: {dsir_target} lacks required column(s) "
                  f"{sorted(d_missing)} (has: {sorted(dsir_df.columns)})",
                  file=sys.stderr)
            return 2
    sig_frames: list = []
    persists: list = []
    clf_kwargs: dict = {}
    if classifier is not None:
        from stream2segment_spark.operators.classifier import (
            classifier_gate_kwargs, load_classifier)
        # load_classifier validates shape (weights a non-empty number
        # list, positive scales); classifier_gate_kwargs validates the
        # feature recipe and threads dim/n/seed/tokenizer/scales into
        # the funnel — both raise ValueError -> the exit-2 diagnostic
        # (the guard itself is library-level now, ADVICE r7)
        try:
            model = load_classifier(classifier)
        except (OSError, ValueError) as exc:
            print(f"error: cannot load classifier {classifier!r}: "
                  f"{exc}", file=sys.stderr)
            return 2
        try:
            clf_kwargs = classifier_gate_kwargs(
                model, min_score=min_classifier_score)
        except ValueError as exc:
            print(f"error: classifier {classifier!r}: {exc}",
                  file=sys.stderr)
            return 2
    curated, funnel = curate_corpus(
        docs,
        languages=tuple(s for s in languages.split(",") if s),
        c4_rules=c4_rules, gopher_rules=gopher_rules,
        gopher_repetition=gopher_repetition,
        benchmark=(spark.read.parquet(benchmark)
                   if benchmark is not None else None),
        max_contam_frac=max_contam_frac,
        min_quality=min_quality, token_band=(min_tokens, max_tokens),
        neardup_threshold=neardup_threshold, neardup_mode=neardup_mode,
        neardup_keep=neardup_keep, domain_cap=domain_cap,
        domain_col=domain_col, semantic_k=semantic_k,
        line_max_df=line_max_df, max_dup_frac=max_dup_frac,
        min_lm_score=min_lm_score,
        cut_dup_substrings=cut_dup_substrings,
        mix_strata_col=mix_col, mix_alpha=mix_alpha,
        pack_budget=pack_budget, pack_shards=pack_shards,
        pack_mode=("bestfit" if pack_bestfit else "greedy"),
        dsir_target=dsir_df, dsir_k=dsir_k,
        persists=persists, tokenizer=tokenizer,
        langid_mode=langid_mode,
        stopword_tables=(_stopword_tables() if multilingual_stopwords
                         else None),
        against=(spark.read.parquet(against) if against is not None
                 else None),
        against_signatures=against_sig_df,
        signatures=(sig_frames if write_signatures else None),
        html_extract=html_extract,
        nfc_normalize=nfc_normalize,
        audit=audit, **clf_kwargs)
    out = os.path.join(outdir, "curated.parquet")
    # One materialization: the write warms curated's cache, the funnel
    # counts then hit the persisted stage frames instead of re-running
    # the whole un-persisted pipeline per crossJoined count, and the
    # output count comes from the cache rather than a parquet re-read.
    curated = curated.persist()
    try:
        curated.write.mode("overwrite").parquet(out)
        if write_signatures and sig_frames:
            # survivors' signatures (the funnel signed every doc that
            # entered near-dedup; losers' rows are dropped here), plus
            # the existing table when chaining — the result is the
            # complete signature table of the curated corpus, ready to
            # be the NEXT batch's --against-signatures. Writing reuses
            # curated's cache; the old table is a parquet passthrough.
            sig_out = sig_frames[0].join(curated.select("doc_id"),
                                         "doc_id", "left_semi")
            if against_sig_df is not None:
                sig_out = sig_out.unionByName(
                    against_sig_df.select("doc_id", "minhash"))
            sig_out.write.mode("overwrite").parquet(
                os.path.join(outdir, "signatures.parquet"))
        stats = funnel.collect()[0].asDict()
        stats["output"] = curated.count()
        print(json.dumps(stats))
    finally:
        for frame in [curated, *persists]:
            frame.unpersist()
    return 0


def cmd_export_jsonl(spark, infile: str, outdir: str,
                     columns: str | None, shards: int | None,
                     gzip: bool) -> int:
    """'s2s export-jsonl': parquet -> JSON-lines shards. Pure sink: the
    write is distributed (one shard per partition; --shards pays one
    round-robin repartition for an exact count), so at 100 TB this is a
    map-only format conversion."""
    df = spark.read.parquet(infile)
    if columns:
        cols = [c for c in columns.split(",") if c]
        missing = set(cols) - set(df.columns)
        if missing:
            print(f"error: {infile} lacks column(s) {sorted(missing)} "
                  f"(has: {sorted(df.columns)})", file=sys.stderr)
            return 2
        df = df.select(*cols)
    if shards is not None:
        if shards <= 0:
            print("error: --shards must be positive", file=sys.stderr)
            return 2
        df = df.repartition(shards)
    w = df.write.mode("overwrite")
    if gzip:
        w = w.option("compression", "gzip")
    w.json(outdir)
    return 0


def cmd_corr(spark, infile: str, cols: str, scale: int,
             group_by: str | None, method: str = "long") -> int:
    """'s2s corr': exact single-pass correlation matrix
    (operators/stats.corr_matrix_exact) of the given numeric columns,
    optionally per group; one JSON line per pair on stdout."""
    import json as _json

    from stream2segment_spark.operators.stats import corr_matrix_exact
    df = spark.read.parquet(infile)
    names = [c for c in cols.split(",") if c]
    gcols = [c for c in (group_by or "").split(",") if c]
    missing = [c for c in names + gcols if c not in df.columns]
    if missing or len(names) < 2:
        print(f"error: need >= 2 existing columns; missing={missing}",
              file=sys.stderr)
        return 2
    out = corr_matrix_exact(df, {c: scale for c in names}, gcols,
                            method=method)
    for r in out.collect():
        print(_json.dumps(r.asDict(), default=str))
    return 0


def cmd_lsh_tune(threshold: float, n_perm: int, banded: bool,
                 fp_weight: float, fn_weight: float,
                 pairs: str | None = None,
                 jaccard_col: str = "jaccard", spark=None) -> int:
    """'s2s lsh-tune': the MinHash-LSH design decision as a command —
    one JSON line with the chosen (bands, rows) and its S-curve FP/FN
    mass (pure driver-side math), then, with ``--pairs``, one line per
    similarity decile of the MEASURED expected-candidate curve
    (operators/lsh_tuning.lsh_tuning_curve) so the plan is validated
    against the corpus's own similarity structure before a full run."""
    import json as _json

    from stream2segment_spark.operators.lsh_tuning import (
        lsh_error_rates, lsh_plan, lsh_plan_banded, lsh_tuning_curve)
    try:
        if banded:
            b, r = lsh_plan_banded(threshold, n_perm, fp_weight, fn_weight)
        else:
            b, r = lsh_plan(threshold, n_perm, fp_weight, fn_weight)
    except ValueError as exc:
        print(f"error: {exc}", file=sys.stderr)
        return 2
    fp, fn = lsh_error_rates(threshold, b, r)
    print(_json.dumps({
        "bands": b, "rows_per_band": r,
        "p_at_threshold": round(1.0 - (1.0 - threshold ** r) ** b, 6),
        "fp_mass": round(fp, 6), "fn_mass": round(fn, 6)}))
    if pairs is not None:
        df = spark.read.parquet(pairs)
        if jaccard_col not in df.columns:
            print(f"error: column {jaccard_col!r} not in {pairs}",
                  file=sys.stderr)
            return 2
        curve = lsh_tuning_curve(df, jaccard_col, b=b, r=r)
        for row in curve.orderBy("bucket").collect():
            print(_json.dumps(row.asDict()))
    return 0


def cmd_media_probe(spark, infile: str, content_col: str,
                    id_col: str, outfile: str | None, limit: int) -> int:
    """'s2s media-probe': parse image/audio/video container headers of
    a binary column (multimodal.probe_media_udf + probe_video_udf —
    scan-stage Arrow UDFs, no codecs); writes parquet or prints JSON
    rows. Rows an image/audio probe can't identify fall through to the
    video probe, so one command covers all three modalities."""
    import json as _json

    from stream2segment_spark import multimodal as MM
    df = spark.read.parquet(infile)
    missing = [c for c in (content_col, id_col) if c not in df.columns]
    if missing:
        print(f"error: {infile} lacks column(s) {missing}",
              file=sys.stderr)
        return 2
    blob = F.col(content_col)
    out = df.select(
        F.col(id_col),
        MM.probe_media_udf()(blob).alias("media"),
        MM.probe_video_udf()(blob).alias("video"))
    out = out.select(
        id_col,
        F.coalesce("media.media_type", "video.media_type")
        .alias("media_type"),
        "media.width", "media.height", "media.n_channels",
        "media.sample_rate", "media.bit_depth",
        "video.duration_sec", "video.n_tracks", "video.n_frames",
        "media.n_bytes",
        F.when(F.col("media.media_type").isNotNull()
               | F.col("video.media_type").isNotNull(), F.lit(None))
         .otherwise(F.col("media.error")).alias("error"))
    if outfile:
        out.write.mode("overwrite").parquet(outfile)
        print(_json.dumps({"written": outfile}))
        return 0
    for r in out.limit(limit).collect():
        print(_json.dumps(r.asDict(), default=str))
    return 0


def cmd_validate(spark, infile: str, rules_path: str) -> int:
    """'s2s validate': assert a JSON rule contract over a parquet table
    (operators/validate.validate_table, one aggregation pass); prints
    one JSON line per rule and exits 1 if any rule failed (the CI
    gate shape), 2 on a bad contract."""
    import json as _json

    from stream2segment_spark.operators.validate import validate_table
    with open(rules_path) as fh:
        rules = _json.load(fh)
    df = spark.read.parquet(infile)
    try:
        report = validate_table(df, rules).collect()
    except ValueError as exc:
        print(f"error: {exc}", file=sys.stderr)
        return 2
    for r in report:
        print(_json.dumps(r.asDict(), default=str))
    return 0 if all(r["ok"] for r in report) else 1


def cmd_hist(spark, infile: str, col: str, bins: int, quantiles: str,
             lo: float | None, hi: float | None,
             group_by: str | None) -> int:
    """'s2s hist': equi-width histogram sketch + quantile estimates of a
    numeric column (operators/sketch.hist_sketch |> hist_quantiles).
    Range comes from --lo/--hi or one min/max pre-pass (two scans
    total — still the bounded-state path; an exact percentile would
    sort the table). One JSON line per (group, quantile)."""
    import json as _json

    from stream2segment_spark.operators.sketch import (
        hist_quantiles, hist_sketch)
    df = spark.read.parquet(infile)
    gcols = [c for c in (group_by or "").split(",") if c]
    missing = [c for c in [col] + gcols if c not in df.columns]
    if missing:
        print(f"error: {infile} lacks column(s) {missing}",
              file=sys.stderr)
        return 2
    try:
        qs = tuple(float(q) for q in quantiles.split(",") if q)
    except ValueError:
        print(f"error: bad --quantiles {quantiles!r}", file=sys.stderr)
        return 2
    if lo is None or hi is None:
        r = df.agg(F.min(F.col(col).cast("double")),
                   F.max(F.col(col).cast("double"))).first()
        lo = lo if lo is not None else r[0]
        hi = hi if hi is not None else r[1]
    if lo is None or hi is None or not hi > lo:
        print(f"error: degenerate range [{lo}, {hi}] for {col!r}",
              file=sys.stderr)
        return 2
    h = hist_sketch(df, col, lo, hi, bins, gcols)
    out = hist_quantiles(h, qs, lo, hi, bins, gcols)
    for r in out.orderBy(*gcols, "q").collect():
        print(_json.dumps(r.asDict(), default=str))
    return 0


def cmd_ingest_wet(spark, inpath: str, outfile: str,
                   keep_bad: bool) -> int:
    """'s2s ingest-wet': WARC/WET archive(s) -> documents parquet
    (doc_id = first 15 md5 hex digits of the URI as BIGINT — stable
    across re-crawls; text, uri, fetch timestamp, byte length). Records
    failing the Content-Length cross-check are dropped unless
    --keep-bad. Scan-stage parse (sources/wet.py), one map-only job."""
    from stream2segment_spark.sources.wet import read_wet
    docs = read_wet(spark, inpath)
    if not keep_bad:
        docs = docs.where(F.col("len_ok"))
    out = docs.select(
        F.conv(F.substring(F.md5("uri"), 1, 15), 16, 10).cast("long")
        .alias("doc_id"),
        "text", "uri", F.col("warc_date").alias("fetched_at"),
        F.col("content_length").alias("n_bytes"), "len_ok")
    out.write.mode("overwrite").parquet(outfile)
    import json as _json
    n = spark.read.parquet(outfile).count()
    print(_json.dumps({"written": outfile, "records": n}))
    return 0


def cmd_classify(spark, infile: str, outfile: str, id_col: str,
                 label_col: str, vec_col: str | None, text_col: str | None,
                 iters: int, lr: float,
                 weights_out: str | None = None,
                 tokenizer: str = "ascii") -> int:
    """'s2s classify': train operators/classifier.train_linear_classifier
    on a labeled parquet (vector features, or hash-n-gram embeddings of
    a text column) and write (id, label, score, pred) parquet plus one
    JSON line with the training accuracy and final weights.
    ``--weights-out`` persists the model (weights + quantization grid +
    the feature recipe) for later inference: the curate funnel's
    ``--classifier`` gate and score_with_weights consume it."""
    import json

    from pyspark.sql import functions as F

    from stream2segment_spark.operators.classifier import (
        save_classifier, train_linear_classifier)

    if (vec_col is None) == (text_col is None):
        print("error: pass exactly one of --vec-col / --text-col",
              file=sys.stderr)
        return 2
    df = spark.read.parquet(infile)
    need = {id_col, label_col, vec_col or text_col}
    missing = need - set(df.columns)
    if missing:
        print(f"error: {infile} lacks column(s) {sorted(missing)} "
              f"(has: {sorted(df.columns)})", file=sys.stderr)
        return 2
    if weights_out is not None:
        out_dir = os.path.dirname(weights_out) or "."
        if not os.path.isdir(out_dir):
            print(f"error: --weights-out directory {out_dir!r} does "
                  f"not exist", file=sys.stderr)
            return 2
    feat_meta: dict = {"features": "vector", "vec_col": vec_col}
    if text_col is not None:
        from stream2segment_spark.functions.embeddings import (
            hashed_ngram_embeddings)
        # the recipe inference must replay to reproduce the features —
        # ONE set of values feeds both the embedding call and the
        # persisted meta (no hand-synced literals)
        recipe = {"dim": 64, "n": 3, "seed": "emb"}
        emb = hashed_ngram_embeddings(
            df.select(id_col, text_col), text_col, id_col,
            tokenizer=tokenizer, **recipe)
        df = df.select(id_col, label_col).join(emb, id_col)
        vec_col = "embedding"
        feat_meta = {"features": "hashed_ngram", **recipe,
                     "tokenizer": tokenizer}
    scored, weights = train_linear_classifier(
        df, id_col, vec_col, label_col, iters=iters, lr=lr)
    scored = scored.persist()
    try:
        scored.write.mode("overwrite").parquet(outfile)
        acc = scored.select(F.avg(
            (F.col("pred") == F.col(label_col)).cast("double"))
            .alias("a")).collect()[0]["a"]
        print(json.dumps({"rows": scored.count(),
                          "train_accuracy": round(acc, 4),
                          "weights": weights}))
        if weights_out is not None:
            try:
                save_classifier(weights, weights_out, meta=feat_meta)
            except OSError as exc:
                # stats (incl. weights) already printed — the training
                # run is not lost; argue the save failure
                print(f"error: cannot save weights to "
                      f"{weights_out!r}: {exc}", file=sys.stderr)
                return 2
    finally:
        scored.unpersist()
    return 0


def cmd_dsir_select(spark, infile: str, target: str, outfile: str,
                    id_col: str, text_col: str, k: int, buckets: int,
                    mode: str, method: str, temperature: float,
                    tokenizer: str = "ascii") -> int:
    """'s2s dsir-select': DSIR importance resampling (functions/dsir.py
    — Xie et al. 2023). Scores every document of the raw parquet
    against the hashed-n-gram profile of the TARGET parquet and writes
    the selected (id, dsir_score) rows plus one JSON summary line.
    ``--mode ratio`` is the bit-portable integer contract; ``--mode
    log`` the paper's log-ratio weights; ``--method gumbel`` samples
    proportionally to exp(score/T) instead of taking the top-k."""
    import json

    from stream2segment_spark.functions.dsir import dsir_pipeline

    raw = spark.read.parquet(infile)
    tgt = spark.read.parquet(target)
    for name, df in (("raw", raw), ("target", tgt)):
        missing = {id_col, text_col} - set(df.columns)
        if missing:
            print(f"error: {name} parquet lacks column(s) "
                  f"{sorted(missing)} (has: {sorted(df.columns)})",
                  file=sys.stderr)
            return 2
    # receive the pipeline's cached frames and release them once the
    # write has materialized (ADVICE r9: without this a long-lived
    # session leaks the persisted feature/count frames) — the same
    # pattern as cmd_curate's persists handling
    persists: list = []
    out = dsir_pipeline(raw, tgt, id_col, text_col, k, buckets=buckets,
                        mode=mode, method=method,
                        temperature=temperature, tokenizer=tokenizer,
                        persists=persists)
    try:
        out.write.mode("overwrite").parquet(outfile)
    finally:
        for frame in persists:
            frame.unpersist()
    n = spark.read.parquet(outfile).count()
    print(json.dumps({"selected": n, "k": k, "mode": mode,
                      "method": method, "buckets": buckets}))
    return 0


def cmd_init(outdir: str) -> int:
    """'s2s init': write editable template files to OUTDIR."""
    import shutil

    os.makedirs(outdir, exist_ok=True)
    here = os.path.dirname(__file__)
    written = []
    for name, content in (("download.yaml", _INIT_DOWNLOAD_YAML),
                          ("process.yaml", _INIT_PROCESS_YAML)):
        path = os.path.join(outdir, name)
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(content)
        written.append(name)
    src = os.path.join(here, "examples", "paramtable.py")
    shutil.copyfile(src, os.path.join(outdir, "paramtable.py"))
    written.append("paramtable.py")
    print(f"{len(written)} file(s) written in '{outdir}':")
    for name in written:
        print(f"  {name}")
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="s2s-spark", description="stream2segment on Spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("init", help="write template config files")
    p.add_argument("outdir")
    for name in ("download", "process", "show", "dl-stats", "dl-summary",
                 "dl-log", "dl-config", "db-drop", "db-classlabel"):
        p = sub.add_parser(name)
        p.add_argument("-c", "--config", required=True)
        if name == "process":
            p.add_argument("-p", "--pyfunc", required=True,
                           help="module:attr or file.py:attr")
            p.add_argument("-o", "--outfile")
            p.add_argument("--append", action="store_true",
                           help="process only segments absent from the "
                                "output (K3 incremental mode)")
        if name == "show":
            p.add_argument("-o", "--outfile")
            p.add_argument("-p", "--plot-module",
                           help="python file with @segment_plot functions")
            p.add_argument("--max-segments", type=int, default=200)
            p.add_argument("--serve", action="store_true",
                           help="run the interactive viewer (JSON API + "
                                "browser page) instead of writing HTML")
            p.add_argument("--port", type=int, default=8080)
            p.add_argument("--annotator",
                           help="recorded on hand-written class labels")
        if name == "dl-stats":
            p.add_argument("--html", action="store_true")
        if name in ("dl-summary", "dl-log", "dl-config"):
            p.add_argument("-did", "--download-id", type=int,
                           action="append", default=[])
            p.add_argument("indices", nargs="*", type=int,
                           help="run-time-ordered indices (0=oldest, "
                                "-1=latest)")
        if name == "db-drop":
            p.add_argument("-did", "--download-id", type=int,
                           action="append", required=True)
        if name == "db-classlabel":
            p.add_argument("--add", nargs=2, action="append",
                           metavar=("LABEL", "DESCRIPTION"))
            p.add_argument("--rename", nargs=3, action="append",
                           metavar=("OLD", "NEW", "NEW_DESCRIPTION"))
            p.add_argument("--delete", action="append", metavar="LABEL")
    p = sub.add_parser(
        "import-db",
        help="import an existing stream2segment SQLite/Postgres database "
             "into the parquet warehouse")
    p.add_argument("-c", "--config", required=True,
                   help="config with the target 'warehouse' directory")
    p.add_argument("-d", "--dburl", required=True,
                   help="sqlite file path, sqlite:///path, or a "
                        "postgresql:// / jdbc: URL")
    p = sub.add_parser(
        "export-db",
        help="write the parquet warehouse to a stream2segment SQLite "
             "database (reference schema; readable by the reference GUI)")
    p.add_argument("-c", "--config", required=True,
                   help="config with the source 'warehouse' directory")
    p.add_argument("-o", "--outfile", required=True,
                   help="output .sqlite path (must not exist)")
    p = sub.add_parser(
        "tt-create",
        help="build a travel-time npz table from a 1-D velocity model "
             "(depth_km,vp_km_s[,vs_km_s] csv, or 'demo')")
    p.add_argument("-m", "--model", required=True,
                   help="velocity model csv path, or 'demo'")
    p.add_argument("-o", "--outfile", required=True, help="output .npz")
    p.add_argument("-p", "--phase", default="P", choices=["P", "S", "p", "s"])
    p.add_argument("-t", "--tolerance", type=float, default=0.5,
                   help="max linear-interpolation error in seconds")
    p.add_argument("--maxdepth", type=float, default=700.0)
    p.add_argument("--maxdist", type=float, default=180.0)
    p.add_argument("--local", action="store_true",
                   help="compute on the driver (no Spark job)")
    p = sub.add_parser(
        "curate",
        help="run the corpus-curation funnel on a documents parquet "
             "(filter -> dedup -> near-dedup -> split [-> line-dedup/"
             "mix/pack]; beyond-reference)")
    p.add_argument("-i", "--infile", required=True,
                   help="input parquet with doc_id/text columns")
    p.add_argument("-o", "--outdir", required=True)
    p.add_argument("--languages", default="en",
                   help="comma-separated language allowlist")
    p.add_argument("--c4", action="store_true",
                   help="apply C4 heuristic cleaning first (Raffel et "
                        "al. 2020: keep terminal-punctuation lines with "
                        ">=5 words and no javascript; drop lorem-ipsum/"
                        "brace/blocklist pages)")
    p.add_argument("--gopher", action="store_true",
                   help="apply the Gopher document-quality rules (Rae "
                        "et al. 2021 table A1: word-count band, mean "
                        "word length, symbol/bullet/ellipsis shape, "
                        "alpha-word fraction, stopword presence)")
    p.add_argument("--gopher-multilang", action="store_true",
                   help="language-split Gopher profiles instead of the "
                        "English-only rules: word-token scripts keep "
                        "the paper's word bounds, space-free scripts "
                        "(zh/ja/ko/th) are judged on codepoint-bigram "
                        "units with per-language stopword tables "
                        "(implies --gopher)")
    p.add_argument("--gopher-repetition", action="store_true",
                   help="apply the Gopher repetition caps (top-n-gram "
                        "char fraction, dup-n-gram coverage, dup-line "
                        "fractions at the paper's thresholds)")
    p.add_argument("--min-quality", type=float, default=0.7)
    p.add_argument("--min-tokens", type=int, default=20)
    p.add_argument("--max-tokens", type=int, default=100_000)
    p.add_argument("--neardup-threshold", type=float, default=None,
                   help="default is mode-specific: 0.7 (minhash Jaccard)\n or 0.95 (cosine — unrelated same-language docs sit near 0.7-0.8)")
    p.add_argument("--neardup-mode", default="minhash",
                   choices=["minhash", "cosine", "semantic",
                            "containment"],
                   help="lexical MinHash/Jaccard, hashed-embedding "
                        "cosine near-dup, SemDeDup (k-means clusters "
                        "+ within-cluster keep-first), or asymmetric "
                        "shingle CONTAINMENT (drop excerpts/quotes "
                        "contained in a larger doc — default threshold "
                        "0.8)")
    p.add_argument("--semantic-k", type=int, default=None,
                   help="cluster count for --neardup-mode semantic "
                        "(default: corpus_size/4096, the operator's "
                        "k-grows-with-the-corpus contract)")
    p.add_argument("--line-max-df", type=int, default=None,
                   help="drop lines in more than N distinct docs")
    p.add_argument("--max-dup-frac", type=float, default=None,
                   help="drop docs whose duplicated-substring fraction "
                        "exceeds this")
    p.add_argument("--benchmark", default=None,
                   help="eval-set parquet (doc_id/text) to decontaminate "
                        "against: drop docs whose 5-shingle overlap "
                        "fraction exceeds --max-contam-frac")
    p.add_argument("--max-contam-frac", type=float, default=0.0)
    p.add_argument("--min-lm-score", type=float, default=None,
                   help="drop docs whose mean bigram-LM transition "
                        "probability (self-trained on the filtered "
                        "survivors) falls below this floor")
    p.add_argument("--cut-dup-substrings", type=int, default=None,
                   metavar="K",
                   help="CUT every cross-document duplicated run of >= K "
                        "tokens from every document (ExactSubstr removal; "
                        "text is re-joined from normalized tokens)")
    p.add_argument("--neardup-keep", default="first",
                   choices=("first", "best"),
                   help="near-dup cluster survivor policy: 'first' = "
                        "lowest id, 'best' = longest member (C4-style)")
    p.add_argument("--domain-cap", type=int, default=None, metavar="N",
                   help="keep at most N docs per --domain-col value "
                        "(deterministic md5-order anti-spam cap)")
    p.add_argument("--domain-col", default="source")
    p.add_argument("--mix-col", default=None,
                   help="stratum column for temperature rebalancing")
    p.add_argument("--mix-alpha", type=float, default=0.5)
    p.add_argument("--pack-budget", type=int, default=None,
                   help="token budget per training chunk")
    p.add_argument("--pack-shards", type=int, default=64)
    p.add_argument("--pack-bestfit", action="store_true",
                   help="best-fit-decreasing bins that never exceed "
                        "--pack-budget (truncation-free) instead of "
                        "start-offset chunks with bounded overfill")
    p.add_argument("--dsir-target", default=None, metavar="PARQUET",
                   help="target/in-domain corpus parquet: keep only the "
                        "--dsir-k survivors with the highest hashed-"
                        "n-gram importance toward its profile "
                        "(functions/dsir)")
    p.add_argument("--dsir-k", type=int, default=None,
                   help="documents to keep in the DSIR selection stage")
    p.add_argument("--tokenizer", default="ascii",
                   choices=("ascii", "unicode", "cjk"),
                   help="token mode for every token-derived stage "
                        "('unicode' keeps CJK/Cyrillic/accented tokens "
                        "alive in counts, dedup, LM and mixing; 'cjk' "
                        "additionally segments space-free scripts into "
                        "codepoint bigrams)")
    p.add_argument("--langid", default="heuristic", dest="langid_mode",
                   choices=("heuristic", "script"),
                   help="'script' labels non-Latin text by Unicode "
                        "script (zh/ja/ko/ru/el/ar/he/hi/th) so "
                        "--languages can select them; 'heuristic' is "
                        "the en/de/fr/es stopword-marker ID")
    p.add_argument("--against", default=None, metavar="PARQUET",
                   help="previously curated corpus parquet: curate "
                        "only the NEW docs incrementally — drop docs "
                        "whose fingerprint already exists and docs "
                        "that near-dup an existing doc (existing docs "
                        "always win); ids must be disjoint")
    p.add_argument("--against-signatures", default=None,
                   metavar="PARQUET",
                   help="persisted MinHash signature table of the "
                        "--against corpus (written by a previous "
                        "--write-signatures run): the existing corpus "
                        "is then never re-tokenized — the incremental "
                        "batch cost tracks the NEW batch size")
    p.add_argument("--write-signatures", action="store_true",
                   help="also write <outdir>/signatures.parquet "
                        "(doc_id, minhash) for the curated corpus, "
                        "ready to be the next batch's "
                        "--against-signatures (minhash mode only)")
    p.add_argument("--multilingual-stopwords", action="store_true",
                   help="key the quality score's stopword term by the "
                        "row's language (built-in per-language tables, "
                        "functions/text.STOPWORDS_BY_LANG) instead of "
                        "the English default")
    p.add_argument("--nfc", action="store_true", dest="nfc_normalize",
                   help="NFC-normalize text before every other stage "
                        "(composed/decomposed twins converge; use with "
                        "--tokenizer unicode/cjk)")
    p.add_argument("--html", action="store_true", dest="html_extract",
                   help="treat the text column as raw HTML: extract "
                        "plain text (drop script/style/comments, strip "
                        "tags, decode entities) before every other "
                        "stage")
    p.add_argument("--classifier", default=None,
                   help="trained model JSON from 's2s classify "
                        "--weights-out': hash-embed survivors with the "
                        "model's recorded token mode and drop docs "
                        "scoring below --min-classifier-score")
    p.add_argument("--min-classifier-score", type=float, default=0.5)
    p.add_argument("--audit", action="store_true",
                   help="add an after_<stage> survivor count to the "
                        "funnel JSON for every enabled optional stage "
                        "(costs one extra pass per stage)")
    p = sub.add_parser(
        "search",
        help="keyword search over a corpus parquet: BM25-style "
             "inverted-index scoring, top-k per query term "
             "(beyond-reference)")
    p.add_argument("-i", "--infile", default=None,
                   help="corpus parquet (needs id + text columns); "
                        "not needed when querying via --index")
    p.add_argument("-q", "--query", default="",
                   help="space-separated query terms")
    p.add_argument("-k", "--topk", type=int, default=10)
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--build-index", default=None, metavar="DIR",
                   help="materialize the full inverted index at DIR "
                        "(postings range-clustered by term + term df + "
                        "stats) and exit; later queries with --index "
                        "never re-tokenize the corpus")
    p.add_argument("--index", default=None, metavar="DIR",
                   help="query a previously built index: file-pruned "
                        "postings scan + broadcast joins")
    p.add_argument("--tokenizer", default="ascii",
                   choices=("ascii", "unicode"),
                   help="corpus tokenization for --build-index and "
                        "on-the-fly search ('unicode' keeps CJK/"
                        "Cyrillic/accented tokens); --index queries "
                        "read the mode stored in the index itself")
    p = sub.add_parser(
        "bpe-train",
        help="train a BPE merge table over a corpus parquet and write "
             "it as JSON lines (beyond-reference)")
    p.add_argument("-i", "--infile", required=True,
                   help="corpus parquet (needs a text column)")
    p.add_argument("-o", "--outfile", required=True,
                   help="output merges file (one JSON line per merge, "
                        "in training order)")
    p.add_argument("-n", "--merges", type=int, default=1000)
    p.add_argument("--batch", type=int, default=1,
                   help="merges per driver round (>1: batched variant — "
                        "top-B non-interacting pairs per recount, "
                        "O(n/B) rounds; 1 = canonical BPE order)")
    p.add_argument("--collect-vocab", action="store_true",
                   help="exact canonical merge order at real-vocab "
                        "speed: corpus pass distributed, merge loop "
                        "in-memory over the collected word-frequency "
                        "table (refuses above --max-words; "
                        "incompatible with --batch > 1)")
    p.add_argument("--max-words", type=int, default=5_000_000,
                   help="vocabulary cap for --collect-vocab")
    p.add_argument("--text-col", default="text")
    p = sub.add_parser(
        "isf-phases",
        help="extract the phase sub-blocks of an ISF bulletin (which "
             "the event converter skips, like the reference) into a "
             "structured phases parquet")
    p.add_argument("-i", "--infile", required=True,
                   help="ISF bulletin text file")
    p.add_argument("-o", "--outfile", required=True,
                   help="output parquet path")
    p = sub.add_parser(
        "lm-train",
        help="train a bigram LM (add-one smoothed) over a corpus "
             "parquet and save it as a model directory "
             "(beyond-reference)")
    p.add_argument("-i", "--infile", required=True,
                   help="corpus parquet (needs a text column)")
    p.add_argument("-o", "--outdir", required=True,
                   help="model directory (unigrams/bigrams parquet + "
                        "meta.json)")
    p.add_argument("--order", type=int, choices=(2, 3), default=2,
                   help="2: add-one bigram (lm_score); 3: stupid-"
                        "backoff trigram (sb_score)")
    p.add_argument("--text-col", default="text")
    p.add_argument("--tokenizer", default="ascii",
                   choices=("ascii", "unicode"),
                   help="token mode for training; recorded in meta.json "
                        "so lm-score replays it automatically")
    p = sub.add_parser(
        "lm-score",
        help="score a corpus parquet with a trained bigram LM (mean "
             "transition probability per document; self-trains when "
             "no --model is given) and write id + n_trans + lm_score "
             "parquet (beyond-reference)")
    p.add_argument("-i", "--infile", required=True,
                   help="corpus parquet (needs id + text columns)")
    p.add_argument("-m", "--model", default=None,
                   help="model directory from 'lm-train' (default: "
                        "self-score)")
    p.add_argument("-o", "--outfile", required=True,
                   help="output parquet path")
    p.add_argument("--order", type=int, choices=(2, 3), default=2,
                   help="self-scoring model order (ignored with "
                        "--model: the saved model's kind wins)")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--tokenizer", default="ascii",
                   choices=("ascii", "unicode"),
                   help="self-scoring token mode (ignored with --model: "
                        "the saved model's recorded mode wins — scoring "
                        "with a different tokenizer than training makes "
                        "every token OOV, a silent mis-score)")
    p = sub.add_parser(
        "compact",
        help="rewrite a parquet table into files of a target size "
             "(small-files maintenance after incremental appends)")
    p.add_argument("-i", "--infile", required=True, help="input parquet")
    p.add_argument("-o", "--outdir", required=True, help="output path")
    p.add_argument("--target-mb", type=int, default=256,
                   help="approximate output file size")
    p = sub.add_parser(
        "skew",
        help="key-skew diagnostic: top key frequencies and their share "
             "of the table, as one JSON line (the pre-flight check "
             "before keyed joins/aggs on a new column)")
    p.add_argument("-i", "--infile", required=True, help="input parquet")
    p.add_argument("--key", required=True, help="column to profile")
    p.add_argument("--top", type=int, default=10)
    p = sub.add_parser(
        "rank",
        help="weighted PageRank over an edge parquet (fixed-point "
             "integer arithmetic — deterministic across engines and "
             "partitionings; operators/graph.pagerank_quantized); "
             "writes id + rank_q + rank parquet (beyond-reference, "
             "host/domain quality signal)")
    p.add_argument("-i", "--infile", required=True,
                   help="edge parquet (src, dst [, weight])")
    p.add_argument("-o", "--outfile", required=True,
                   help="output parquet path")
    p.add_argument("--src", default="src")
    p.add_argument("--dst", default="dst")
    p.add_argument("--weight", default=None,
                   help="edge-weight column (default: unweighted)")
    p.add_argument("--iterations", type=int, default=10)
    p = sub.add_parser(
        "layout",
        help="rewrite a parquet table range-clustered by a key (sorted "
             "files with disjoint min/max footer stats, so range "
             "filters prune whole files) and print the per-file key "
             "intervals as JSON")
    p.add_argument("-i", "--infile", required=True, help="input parquet")
    p.add_argument("-o", "--outdir", required=True, help="output path")
    p.add_argument("--key", required=True,
                   help="cluster key column; pass two-to-four "
                        "comma-separated integer columns for a Z-order "
                        "(Morton) layout that prunes on EVERY listed "
                        "column (requires --domains)")
    p.add_argument("--files", type=int, required=True,
                   help="output file count (size for ~128-512 MB each)")
    p.add_argument("--domains", default=None,
                   help="Z-order only: per-column lo:hi integer domains, "
                        "comma-separated in --key order (values outside "
                        "clamp to edge cells), e.g. '0:1500000,0:200000'")
    p.add_argument("--bits", type=int, default=12,
                   help="Z-order bits per dimension (default 12)")
    p = sub.add_parser(
        "media-probe",
        help="parse image/audio/video container headers of a binary "
             "column (PNG/JPEG/GIF/WAV/MP4/AVI metadata planes, no "
             "codecs); prints JSON rows or writes parquet")
    p.add_argument("-i", "--infile", required=True, help="input parquet")
    p.add_argument("--col", default="content", dest="content_col",
                   help="binary column (default 'content')")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("-o", "--outfile", default=None,
                   help="write parquet instead of printing")
    p.add_argument("--limit", type=int, default=100,
                   help="max rows to print (ignored with -o)")
    p = sub.add_parser(
        "validate",
        help="assert a JSON data-quality contract over a parquet table "
             "(not_null_frac/min_ge/max_le/unique/allowed_values/"
             "matches per column; one aggregation pass); exit 1 on "
             "any failed rule")
    p.add_argument("-i", "--infile", required=True, help="input parquet")
    p.add_argument("-r", "--rules", required=True,
                   help='JSON file: {"col": {"rule": threshold, ...}}')
    p = sub.add_parser(
        "hist",
        help="histogram-sketch quantile estimates of a numeric column "
             "(bounded state; auto-ranges with one min/max pre-pass)")
    p.add_argument("-i", "--infile", required=True, help="input parquet")
    p.add_argument("--col", required=True, help="numeric column")
    p.add_argument("--bins", type=int, default=256)
    p.add_argument("--quantiles", default="0.25,0.5,0.75,0.95,0.99")
    p.add_argument("--lo", type=float, default=None,
                   help="range lower bound (default: min pre-pass)")
    p.add_argument("--hi", type=float, default=None,
                   help="range upper bound (default: max pre-pass)")
    p.add_argument("--group-by", default=None,
                   help="optional comma-separated grouping columns")
    p = sub.add_parser(
        "corr",
        help="exact single-pass correlation matrix of numeric columns "
             "(fixed-point co-moments: deterministic under any "
             "partitioning, unlike double accumulators)")
    p.add_argument("-i", "--infile", required=True, help="input parquet")
    p.add_argument("--cols", required=True,
                   help="comma-separated numeric columns (>= 2)")
    p.add_argument("--scale", type=int, default=6,
                   help="fixed-point decimal digits kept (default 6)")
    p.add_argument("--group-by", default=None,
                   help="optional comma-separated grouping columns")
    p.add_argument("--method", choices=("long", "decimal"),
                   default="long",
                   help="co-moment arithmetic: 'long' (fast; per-row "
                        "products must fit int64 — quantized magnitudes "
                        "up to ~3e9) or 'decimal' (unbounded)")
    p = sub.add_parser(
        "lsh-tune",
        help="choose MinHash-LSH (bands, rows) for a similarity "
             "threshold (S-curve FP/FN mass minimization; driver-side "
             "math only) and optionally validate against a parquet of "
             "exact-Jaccard pairs")
    p.add_argument("--threshold", type=float, required=True,
                   help="design similarity threshold in (0, 1)")
    p.add_argument("--n-perm", type=int, default=64,
                   help="signature size / hash budget (default 64)")
    p.add_argument("--banded", action="store_true",
                   help="constrain bands * rows == n_perm (the "
                        "minhash_neardup_pairs banding layout)")
    p.add_argument("--fp-weight", type=float, default=0.5)
    p.add_argument("--fn-weight", type=float, default=0.5)
    p.add_argument("--pairs", default=None,
                   help="optional parquet of (id_a, id_b, jaccard) "
                        "pairs: print the measured per-decile expected-"
                        "candidate curve under the chosen plan")
    p.add_argument("--jaccard-col", default="jaccard")
    p = sub.add_parser(
        "ingest-wet",
        help="ingest Common Crawl WARC/WET archive(s) into a documents "
             "parquet (scan-stage expression parse; doc_id derived from "
             "the URI md5)")
    p.add_argument("-i", "--inpath", required=True,
                   help="WET file, directory or glob")
    p.add_argument("-o", "--outfile", required=True,
                   help="output documents parquet")
    p.add_argument("--keep-bad", action="store_true",
                   help="keep records whose Content-Length cross-check "
                        "failed (default: drop)")
    p = sub.add_parser(
        "export-jsonl",
        help="export a parquet table as JSON-lines shards (the standard "
             "training-data delivery format; optional gzip, optional "
             "column selection and shard count)")
    p.add_argument("-i", "--infile", required=True, help="input parquet")
    p.add_argument("-o", "--outdir", required=True,
                   help="output directory of part-*.json[.gz] shards")
    p.add_argument("--columns", default=None,
                   help="comma-separated columns to keep (default all)")
    p.add_argument("--shards", type=int, default=None,
                   help="exact output shard count (repartition; default: "
                        "keep the input partitioning)")
    p.add_argument("--gzip", action="store_true",
                   help="gzip-compress each shard")
    p = sub.add_parser(
        "classify",
        help="train the distributed linear classifier on a labeled "
             "parquet (full-batch GD, deterministic) and write id + "
             "label + score + pred parquet; with --text-col the "
             "features are hash-n-gram embeddings of the text "
             "(beyond-reference)")
    p.add_argument("-i", "--infile", required=True,
                   help="parquet with id + label (+ vector or text)")
    p.add_argument("-o", "--outfile", required=True,
                   help="output parquet path")
    p.add_argument("--label-col", required=True,
                   help="0/1 label column to train against")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--vec-col", default=None,
                   help="array<float> feature column")
    p.add_argument("--text-col", default=None,
                   help="text column to hash-embed as features "
                        "(exactly one of --vec-col/--text-col)")
    p.add_argument("--iters", type=int, default=4)
    p.add_argument("--lr", type=float, default=0.5,
                   help="learning rate (must be a multiple of 0.25 so "
                        "the update multiply is exact)")
    p.add_argument("--weights-out", default=None,
                   help="also save the trained model (weights + "
                        "feature recipe) as JSON — 's2s curate "
                        "--classifier' consumes it")
    p.add_argument("--tokenizer", default="ascii",
                   choices=("ascii", "unicode"),
                   help="token mode for --text-col hash embeddings; "
                        "recorded in the saved model")
    p = sub.add_parser(
        "dsir-select",
        help="DSIR importance resampling: select the raw-parquet "
             "documents whose hashed-n-gram profile best matches a "
             "target parquet (beyond-reference; Xie et al. 2023)")
    p.add_argument("-i", "--infile", required=True,
                   help="raw candidate pool parquet (id + text)")
    p.add_argument("-t", "--target", required=True,
                   help="target/in-domain corpus parquet (id + text)")
    p.add_argument("-o", "--outfile", required=True,
                   help="output parquet path (id + dsir_score)")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("-k", type=int, required=True,
                   help="number of documents to select")
    p.add_argument("--buckets", type=int, default=4096,
                   help="hashed n-gram feature buckets")
    p.add_argument("--mode", default="ratio", choices=("ratio", "log"),
                   help="'ratio': integer-quantized bit-portable "
                        "scores; 'log': the paper's log-ratio weights")
    p.add_argument("--method", default="top", choices=("top", "gumbel"),
                   help="'top': deterministic top-k; 'gumbel': "
                        "Gumbel-top-k resampling (needs --mode log "
                        "scale-wise sane temperatures)")
    p.add_argument("--temperature", type=float, default=1.0,
                   help="Gumbel sampling temperature")
    p.add_argument("--tokenizer", default="ascii",
                   choices=("ascii", "unicode", "cjk"),
                   help="token mode for the n-gram features")
    p = sub.add_parser(
        "bpe-apply",
        help="segment a corpus parquet with a trained BPE merge table "
             "(from 's2s bpe-train') and write doc_id + subword tokens "
             "+ token count as parquet (beyond-reference)")
    p.add_argument("-i", "--infile", required=True,
                   help="corpus parquet (needs id + text columns)")
    p.add_argument("-m", "--merges", required=True,
                   help="merge table file written by bpe-train "
                        "(JSON lines: left/right/count)")
    p.add_argument("-o", "--outfile", required=True,
                   help="output parquet path")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p = sub.add_parser(
        "sql",
        help="run a Spark SQL statement over a directory of parquet "
             "tables (each <name>.parquet registered as view <name>; "
             "testdata-graph dirs also get the <t>_v derived-column "
             "views); prints rows as JSON lines or writes parquet")
    p.add_argument("statement", help="the SQL statement")
    p.add_argument("-i", "--indir", required=True,
                   help="directory of <name>.parquet tables")
    p.add_argument("-o", "--outfile", default=None,
                   help="write the result as parquet instead of printing")
    p.add_argument("--limit", type=int, default=100,
                   help="max rows to print (ignored with -o)")
    p = sub.add_parser(
        "explain",
        help="print the optimized + physical plan of a catalog entry "
             "(the per-operator plan-shape debugging surface)")
    p.add_argument("entry", help="catalog entry name (see queries())")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    p.add_argument("--mode", default="formatted",
                   choices=("simple", "extended", "formatted", "cost"))
    p = sub.add_parser(
        "profile",
        help="profile a parquet table: per-column nulls, typed min/max, "
             "HLL distinct estimate, top values — two jobs total "
             "(beyond-reference data-quality overview)")
    p.add_argument("-i", "--infile", required=True,
                   help="parquet table path")
    p.add_argument("--columns", default=None,
                   help="comma-separated columns (default: all)")
    p.add_argument("--top", type=int, default=3,
                   help="top-k most frequent values per column")
    p.add_argument("--emit-rules", default=None, metavar="OUT.json",
                   help="also write a data-quality contract inferred "
                        "from the observed stats (numeric min_ge/"
                        "max_le, observed not_null_frac floored to 2 "
                        "decimals) for 's2s validate' — profile once, "
                        "gate every later ingest")
    p.add_argument("--hll-m", type=int, default=256,
                   help="HLL registers (power of two; se ~ 1.04/sqrt(m))")
    p = sub.add_parser(
        "diff",
        help="diff two parquet snapshots of a corpus: per-id added/"
             "removed/changed/unchanged from one fingerprint join "
             "(beyond-reference dataset versioning)")
    p.add_argument("old", help="old snapshot parquet path")
    p.add_argument("new", help="new snapshot parquet path")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--cols", default=None,
                   help="comma-separated content columns to fingerprint "
                        "(default: all shared non-id columns)")
    p.add_argument("-o", "--outfile", default=None,
                   help="also write the per-id status table as parquet")
    p = sub.add_parser(
        "ingest",
        help="incrementally ingest parquet file drops from a landing "
             "directory into a corpus table (checkpointed exactly-once; "
             "exact dedup vs history, optional near-dedup; "
             "beyond-reference)")
    p.add_argument("-i", "--landing-dir", required=True,
                   help="directory watched for parquet drops")
    p.add_argument("-o", "--corpus", required=True,
                   help="corpus parquet path (append target)")
    p.add_argument("--schema", default="doc_id long, text string",
                   help="DDL schema of the incoming files")
    p.add_argument("--neardup-threshold", type=float, default=None,
                   help="also near-dedup each batch against all history "
                        "(MinHash signatures stored with the corpus)")
    p.add_argument("--checkpoint", default=None,
                   help="checkpoint dir (default: <corpus>__checkpoint)")
    args = ap.parse_args(argv)

    if args.cmd == "init":
        return cmd_init(args.outdir)
    if args.cmd == "tt-create":
        if args.local:
            return cmd_tt_create(None, args.model, args.outfile, args.phase,
                                 args.tolerance, args.maxdepth, args.maxdist)
        from stream2segment_spark.session import get_spark
        preexisting = SparkSession.getActiveSession() is not None
        spark = get_spark(app_name="s2s-tt-create")
        try:
            return cmd_tt_create(spark, args.model, args.outfile, args.phase,
                                 args.tolerance, args.maxdepth, args.maxdist)
        finally:
            if not preexisting:
                spark.stop()
    if args.cmd == "compact":  # no config file: all-flags command
        import json as _json
        import os as _os

        from stream2segment_spark.session import get_spark
        preexisting = SparkSession.getActiveSession() is not None
        spark = get_spark(app_name="s2s-compact")
        try:
            total = sum(
                _os.path.getsize(_os.path.join(r, f))
                for r, _, fs in _os.walk(args.infile) for f in fs
                if f.endswith(".parquet"))
            n = max(1, -(-total // (args.target_mb * 1024 * 1024)))
            df = spark.read.parquet(args.infile)
            # round-robin repartition: even file sizes, one shuffle
            df.repartition(int(n)).write.mode("overwrite") \
                .parquet(args.outdir)
            n_out = sum(1 for f in _os.listdir(args.outdir)
                        if f.endswith(".parquet"))
            print(_json.dumps({"input_bytes": total, "files": n_out}))
            return 0
        finally:
            if not preexisting:
                spark.stop()
    if args.cmd == "sql":  # no config file: all-flags command
        import glob as _glob
        import json as _json

        from stream2segment_spark.session import get_spark
        preexisting = SparkSession.getActiveSession() is not None
        spark = get_spark(app_name="s2s-sql")
        try:
            dfs = {}
            for path in sorted(_glob.glob(
                    os.path.join(args.indir, "*.parquet"))):
                name = os.path.splitext(os.path.basename(path))[0]
                from stream2segment_spark.schema import load_table
                try:
                    dfs[name] = load_table(spark, args.indir, name)
                except Exception:
                    dfs[name] = spark.read.parquet(path)
            if not dfs:
                print(f"error: no *.parquet tables in {args.indir}",
                      file=sys.stderr)
                return 2
            try:  # testdata-shaped dirs additionally get derived views
                from stream2segment_spark.schema import (
                    infer_graph_schemas, testdata_graph)
                from stream2segment_spark.sql_views import (
                    register_sql_views)
                graph = infer_graph_schemas(testdata_graph(), dfs)
                register_sql_views(spark, graph, dfs)
            except Exception:
                for name, df in dfs.items():
                    df.createOrReplaceTempView(name)
            out = spark.sql(args.statement)
            if args.outfile:
                out.write.mode("overwrite").parquet(args.outfile)
                print(_json.dumps({"written": args.outfile}))
            else:
                for r in out.limit(args.limit).collect():
                    print(_json.dumps(r.asDict(), default=str))
            return 0
        finally:
            if not preexisting:
                spark.stop()
    if args.cmd == "explain":  # no config file: all-flags command
        from stream2segment_spark import queries_catalog
        from stream2segment_spark.session import get_spark
        qs = queries_catalog.queries()
        if args.entry not in qs:
            print(f"error: unknown entry {args.entry!r} (choose from: "
                  f"{', '.join(sorted(qs))})", file=sys.stderr)
            return 2
        preexisting = SparkSession.getActiveSession() is not None
        spark = get_spark(app_name="s2s-explain")
        try:
            df = qs[args.entry](spark, args.sf_dir)
            print(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), args.mode))
            return 0
        finally:
            if not preexisting:
                spark.stop()
    if args.cmd == "profile":  # no config file: all-flags command
        import json as _json

        from stream2segment_spark.operators.profile import profile_table
        from stream2segment_spark.session import get_spark
        preexisting = SparkSession.getActiveSession() is not None
        spark = get_spark(app_name="s2s-profile")
        try:
            df = spark.read.parquet(args.infile)
            cols = args.columns.split(",") if args.columns else None
            prof = profile_table(df, cols, hll_m=args.hll_m,
                                 top_k=args.top)
            # rows bounded by n_columns * top_k — presentation collect
            rows = prof.orderBy("col_name", "top_rank").collect()
            for r in rows:
                d = r.asDict()
                d["n_distinct_est"] = round(d["n_distinct_est"], 1) \
                    if d["n_distinct_est"] is not None else None
                print(_json.dumps(d))
            if args.emit_rules:
                import math
                numeric = {f.name for f in df.schema.fields
                           if f.dataType.typeName() in
                           ("integer", "long", "short", "byte", "float",
                            "double", "decimal")}
                rules: dict = {}
                for r in rows:
                    if r["top_rank"] != 1:
                        continue
                    c, n = r["col_name"], r["n_rows"]
                    nn = (n - r["n_nulls"]) / n if n else 1.0
                    rc = {"not_null_frac": math.floor(nn * 100) / 100}
                    if c in numeric and r["min_str"] is not None:
                        rc["min_ge"] = float(r["min_str"])
                        rc["max_le"] = float(r["max_str"])
                    rules[c] = rc
                with open(args.emit_rules, "w") as fh:
                    _json.dump(rules, fh, indent=1, sort_keys=True)
                print(_json.dumps({"rules": args.emit_rules,
                                   "columns": len(rules)}))
            return 0
        finally:
            if not preexisting:
                spark.stop()
    if args.cmd == "diff":  # no config file: all-flags command
        import json as _json

        from stream2segment_spark.operators.versioning import (
            corpus_diff, diff_summary)
        from stream2segment_spark.session import get_spark
        preexisting = SparkSession.getActiveSession() is not None
        spark = get_spark(app_name="s2s-diff")
        try:
            old = spark.read.parquet(args.old)
            new = spark.read.parquet(args.new)
            cols = args.cols.split(",") if args.cols else None
            d = corpus_diff(old, new, args.id_col, cols)
            if args.outfile:
                d.write.mode("overwrite").parquet(args.outfile)
                d = spark.read.parquet(args.outfile)  # reuse, not recompute
            counts = {r["status"]: r["n_docs"]
                      for r in diff_summary(d).collect()}
            print(_json.dumps({s: int(counts.get(s, 0)) for s in
                               ("added", "removed", "changed",
                                "unchanged")}))
            return 0
        finally:
            if not preexisting:
                spark.stop()
    if args.cmd == "rank":  # no config file: all-flags command
        import json as _json

        from pyspark.sql import functions as _F

        from stream2segment_spark.operators.graph import pagerank_quantized
        from stream2segment_spark.session import get_spark
        preexisting = SparkSession.getActiveSession() is not None
        spark = get_spark(app_name="s2s-rank")
        try:
            df = spark.read.parquet(args.infile)
            need = [c for c in (args.src, args.dst, args.weight)
                    if c is not None]
            missing = [c for c in need if c not in df.columns]
            if missing:
                print(f"error: {args.infile} lacks column(s) {missing} "
                      f"(has: {sorted(df.columns)})", file=sys.stderr)
                return 2
            try:
                ranks = pagerank_quantized(
                    df, src=args.src, dst=args.dst, weight=args.weight,
                    iterations=args.iterations)
            except ValueError as exc:
                print(f"error: {exc}", file=sys.stderr)
                return 2
            out = ranks.withColumn(
                "rank", _F.round(_F.col("rank_q") / _F.lit(1e9), 9))
            out.write.mode("overwrite").parquet(args.outfile)
            back = spark.read.parquet(args.outfile)
            n, top = back.count(), back.orderBy(
                _F.col("rank_q").desc(), "id").limit(3).collect()
            print(_json.dumps({
                "nodes": n, "iterations": args.iterations,
                "top": [{"id": str(r["id"]), "rank": r["rank"]}
                        for r in top]}))
            return 0
        finally:
            if not preexisting:
                spark.stop()
    if args.cmd == "skew":  # no config file: all-flags command
        import json as _json

        from pyspark.sql import functions as _F

        from stream2segment_spark.session import get_spark
        preexisting = SparkSession.getActiveSession() is not None
        spark = get_spark(app_name="s2s-skew")
        try:
            df = spark.read.parquet(args.infile)
            if args.key not in df.columns:
                print(f"error: {args.infile} lacks column {args.key!r} "
                      f"(has: {sorted(df.columns)})", file=sys.stderr)
                return 2
            agg = (df.groupBy(args.key).count()
                   .orderBy(_F.col("count").desc(), args.key)
                   .limit(args.top).collect())
            total = df.count()
            n_keys = df.select(args.key).distinct().count()
            top = [{"key": str(r[args.key]), "count": r["count"],
                    "share": round(r["count"] / total, 4) if total else 0}
                   for r in agg]
            print(_json.dumps({
                "rows": total, "distinct_keys": n_keys,
                "top": top,
                "top1_share": top[0]["share"] if top else 0}))
            return 0
        finally:
            if not preexisting:
                spark.stop()
    if args.cmd == "layout":  # no config file: all-flags command
        import json as _json

        from stream2segment_spark.session import get_spark
        from stream2segment_spark.sinks.layout import (
            file_key_ranges, int_cell, write_range_layout,
            write_zorder_layout)
        preexisting = SparkSession.getActiveSession() is not None
        spark = get_spark(app_name="s2s-layout")
        try:
            df = spark.read.parquet(args.infile)
            keys = [k.strip() for k in args.key.split(",")]
            missing = [k for k in keys if k not in df.columns]
            if missing:
                print(f"error: {args.infile} lacks column(s) {missing} "
                      f"(has: {sorted(df.columns)})", file=sys.stderr)
                return 2
            if len(keys) == 1:
                write_range_layout(df, args.outdir, keys[0], args.files)
            else:
                if not args.domains:
                    print("error: multi-column --key needs --domains "
                          "lo:hi per column", file=sys.stderr)
                    return 2
                doms = [tuple(int(x) for x in d.split(":"))
                        for d in args.domains.split(",")]
                if len(doms) != len(keys):
                    print(f"error: {len(keys)} keys but {len(doms)} "
                          "domains", file=sys.stderr)
                    return 2
                cells = {k: int_cell(F.col(k), lo, hi, args.bits)
                         for k, (lo, hi) in zip(keys, doms)}
                write_zorder_layout(df, args.outdir, cells, args.files,
                                    bits=args.bits)
            print(_json.dumps([
                {"key": k, "file": f, "min": str(lo), "max": str(hi)}
                for k in keys
                for f, lo, hi in file_key_ranges(args.outdir, k)]))
            return 0
        finally:
            if not preexisting:
                spark.stop()
    if args.cmd == "media-probe":  # no config file: all-flags command
        from stream2segment_spark.session import get_spark
        preexisting = SparkSession.getActiveSession() is not None
        spark = get_spark(app_name="s2s-media-probe")
        try:
            return cmd_media_probe(spark, args.infile, args.content_col,
                                   args.id_col, args.outfile, args.limit)
        finally:
            if not preexisting:
                spark.stop()
    if args.cmd == "validate":  # no config file: all-flags command
        from stream2segment_spark.session import get_spark
        preexisting = SparkSession.getActiveSession() is not None
        spark = get_spark(app_name="s2s-validate")
        try:
            return cmd_validate(spark, args.infile, args.rules)
        finally:
            if not preexisting:
                spark.stop()
    if args.cmd == "hist":  # no config file: all-flags command
        from stream2segment_spark.session import get_spark
        preexisting = SparkSession.getActiveSession() is not None
        spark = get_spark(app_name="s2s-hist")
        try:
            return cmd_hist(spark, args.infile, args.col, args.bins,
                            args.quantiles, args.lo, args.hi,
                            args.group_by)
        finally:
            if not preexisting:
                spark.stop()
    if args.cmd == "corr":  # no config file: all-flags command
        from stream2segment_spark.session import get_spark
        preexisting = SparkSession.getActiveSession() is not None
        spark = get_spark(app_name="s2s-corr")
        try:
            return cmd_corr(spark, args.infile, args.cols, args.scale,
                            args.group_by, method=args.method)
        finally:
            if not preexisting:
                spark.stop()
    if args.cmd == "lsh-tune":  # no config file: all-flags command
        if args.pairs is None:  # pure driver-side math, no session
            return cmd_lsh_tune(args.threshold, args.n_perm, args.banded,
                                args.fp_weight, args.fn_weight)
        from stream2segment_spark.session import get_spark
        preexisting = SparkSession.getActiveSession() is not None
        spark = get_spark(app_name="s2s-lsh-tune")
        try:
            return cmd_lsh_tune(args.threshold, args.n_perm, args.banded,
                                args.fp_weight, args.fn_weight,
                                pairs=args.pairs,
                                jaccard_col=args.jaccard_col, spark=spark)
        finally:
            if not preexisting:
                spark.stop()
    if args.cmd == "ingest-wet":  # no config file: all-flags command
        from stream2segment_spark.session import get_spark
        preexisting = SparkSession.getActiveSession() is not None
        spark = get_spark(app_name="s2s-ingest-wet")
        try:
            return cmd_ingest_wet(spark, args.inpath, args.outfile,
                                  args.keep_bad)
        finally:
            if not preexisting:
                spark.stop()
    if args.cmd == "export-jsonl":  # no config file: all-flags command
        from stream2segment_spark.session import get_spark
        preexisting = SparkSession.getActiveSession() is not None
        spark = get_spark(app_name="s2s-export-jsonl")
        try:
            return cmd_export_jsonl(spark, args.infile, args.outdir,
                                    args.columns, args.shards, args.gzip)
        finally:
            if not preexisting:
                spark.stop()
    if args.cmd == "classify":  # no config file: all-flags command
        from stream2segment_spark.session import get_spark
        preexisting = SparkSession.getActiveSession() is not None
        spark = get_spark(app_name="s2s-classify")
        try:
            return cmd_classify(spark, args.infile, args.outfile,
                                args.id_col, args.label_col,
                                args.vec_col, args.text_col,
                                args.iters, args.lr,
                                weights_out=args.weights_out,
                                tokenizer=args.tokenizer)
        finally:
            if not preexisting:
                spark.stop()
    if args.cmd == "dsir-select":  # no config file: all-flags command
        from stream2segment_spark.session import get_spark
        preexisting = SparkSession.getActiveSession() is not None
        spark = get_spark(app_name="s2s-dsir")
        try:
            return cmd_dsir_select(spark, args.infile, args.target,
                                   args.outfile, args.id_col,
                                   args.text_col, args.k, args.buckets,
                                   args.mode, args.method,
                                   args.temperature,
                                   tokenizer=args.tokenizer)
        finally:
            if not preexisting:
                spark.stop()
    if args.cmd == "ingest":  # no config file: all-flags command
        from stream2segment_spark.session import get_spark
        from stream2segment_spark.streaming.corpus import (
            ingest_documents_stream)
        preexisting = SparkSession.getActiveSession() is not None
        spark = get_spark(app_name="s2s-ingest")
        try:
            out = ingest_documents_stream(
                spark, args.landing_dir, args.corpus, args.schema,
                checkpoint_dir=args.checkpoint,
                neardup_threshold=args.neardup_threshold)
            print(f"corpus now holds {out.count()} document(s) "
                  f"at {args.corpus}")
            return 0
        finally:
            if not preexisting:
                spark.stop()
    if args.cmd == "bpe-train":  # no config file: all-flags command
        import json

        from stream2segment_spark.functions.bpe import (
            bpe_train, bpe_train_batched, bpe_train_collected)
        from stream2segment_spark.session import get_spark
        preexisting = SparkSession.getActiveSession() is not None
        spark = get_spark(app_name="s2s-bpe-train")
        try:
            if args.merges <= 0:
                print(f"error: --merges must be positive, got "
                      f"{args.merges}", file=sys.stderr)
                return 2
            docs = spark.read.parquet(args.infile)
            if args.text_col not in docs.columns:
                print(f"error: {args.infile} lacks column "
                      f"{args.text_col!r} (has: {sorted(docs.columns)})",
                      file=sys.stderr)
                return 2
            if args.batch > 1 and args.collect_vocab:
                print("error: --collect-vocab trains in canonical order; "
                      "it is incompatible with --batch > 1",
                      file=sys.stderr)
                return 2
            if args.batch > 1:
                merges, words = bpe_train_batched(
                    docs, args.text_col, args.merges, batch=args.batch)
            elif args.collect_vocab:
                merges, words = bpe_train_collected(
                    docs, args.text_col, args.merges,
                    max_words=args.max_words)
            else:
                merges, words = bpe_train(docs, args.text_col, args.merges)
            n_words, n_syms = words.select(
                F.count("*"), F.sum(F.size("syms"))).collect()[0]
            words.unpersist()
            with open(args.outfile, "w", encoding="utf-8") as fh:
                for left, right, cnt in merges:
                    fh.write(json.dumps({"left": left, "right": right,
                                         "count": cnt}) + "\n")
            print(f"trained {len(merges)} merge(s); vocabulary "
                  f"{n_words} word(s), {n_syms or 0} symbol occurrence(s)")
            return 0
        finally:
            if not preexisting:
                spark.stop()
    if args.cmd == "isf-phases":  # no config file: all-flags command
        from stream2segment_spark.session import get_spark
        from stream2segment_spark.sources.isf import isf_phases_df
        try:
            with open(args.infile, encoding="utf-8",
                      errors="replace") as fh:
                text = fh.read()
        except OSError as exc:
            print(f"error: cannot read {args.infile!r}: {exc}",
                  file=sys.stderr)
            return 2
        preexisting = SparkSession.getActiveSession() is not None
        spark = get_spark(app_name="s2s-isf-phases")
        try:
            df = isf_phases_df(spark, text)
            df.write.mode("overwrite").parquet(args.outfile)
            n = spark.read.parquet(args.outfile).count()
            print(f"extracted {n} phase pick(s) -> {args.outfile}")
            return 0
        finally:
            if not preexisting:
                spark.stop()
    if args.cmd == "lm-train":  # no config file: all-flags command
        from stream2segment_spark.functions.lm import (
            bigram_model, save_bigram_model, save_trigram_model,
            trigram_model)
        from stream2segment_spark.session import get_spark
        preexisting = SparkSession.getActiveSession() is not None
        spark = get_spark(app_name="s2s-lm-train")
        try:
            docs = spark.read.parquet(args.infile)
            if args.text_col not in docs.columns:
                print(f"error: {args.infile} lacks column "
                      f"{args.text_col!r} (has: {sorted(docs.columns)})",
                      file=sys.stderr)
                return 2
            if args.order == 3:
                model = trigram_model(docs, args.text_col,
                                      tokenizer=args.tokenizer)
                save_trigram_model(model, args.outdir,
                                   tokenizer=args.tokenizer)
                vocab = model[3]
            else:
                model = bigram_model(docs, args.text_col,
                                     tokenizer=args.tokenizer)
                save_bigram_model(model, args.outdir,
                                  tokenizer=args.tokenizer)
                vocab = model[2]
            n_bi = model[1].count()
            print(f"trained order-{args.order} LM: vocabulary {vocab} "
                  f"word(s), {n_bi} bigram(s) -> {args.outdir}")
            return 0
        finally:
            if not preexisting:
                spark.stop()
    if args.cmd == "lm-score":  # no config file: all-flags command
        from stream2segment_spark.functions.lm import (
            lm_model_tokenizer, lm_transition_scores, load_lm_model,
            stupid_backoff_scores)
        from stream2segment_spark.session import get_spark
        preexisting = SparkSession.getActiveSession() is not None
        spark = get_spark(app_name="s2s-lm-score")
        try:
            docs = spark.read.parquet(args.infile)
            missing = [c for c in (args.id_col, args.text_col)
                       if c not in docs.columns]
            if missing:
                print(f"error: {args.infile} lacks column(s) {missing} "
                      f"(has: {sorted(docs.columns)})", file=sys.stderr)
                return 2
            kind = "trigram" if args.order == 3 else "bigram"
            model = None
            tokenizer = args.tokenizer
            if args.model is not None:
                try:
                    kind, model = load_lm_model(spark, args.model)
                    # the model's recorded mode wins: scoring with a
                    # different tokenizer than training makes every
                    # token OOV relative to the counts (lm.py:277)
                    tokenizer = lm_model_tokenizer(args.model)
                except (OSError, ValueError, KeyError) as exc:
                    print(f"error: cannot load model {args.model!r}: "
                          f"{exc}", file=sys.stderr)
                    return 2
            persists: list = []
            if kind == "trigram":
                out = stupid_backoff_scores(docs, args.id_col,
                                            args.text_col, model=model,
                                            persists=persists,
                                            tokenizer=tokenizer)
                score_col = "sb_score"
            else:
                out = lm_transition_scores(docs, args.id_col,
                                           args.text_col, model=model,
                                           tokenizer=tokenizer)
                score_col = "lm_score"
            try:
                out.write.mode("overwrite").parquet(args.outfile)
            finally:
                for frame in persists:
                    frame.unpersist()
            back = spark.read.parquet(args.outfile)
            n, mean = back.select(
                F.count("*"), F.avg(score_col)).collect()[0]
            print(f"scored {n} document(s); mean {score_col} "
                  f"{0.0 if mean is None else mean:.6f}")
            return 0
        finally:
            if not preexisting:
                spark.stop()
    if args.cmd == "bpe-apply":  # no config file: all-flags command
        import json

        from stream2segment_spark.functions.bpe import bpe_segment_udf
        from stream2segment_spark.session import get_spark
        try:
            with open(args.merges, encoding="utf-8") as fh:
                table = [json.loads(line) for line in fh
                         if line.strip()]
            merges = [(m["left"], m["right"], int(m.get("count", 0)))
                      for m in table]
        except (OSError, ValueError, KeyError, TypeError) as exc:
            print(f"error: cannot read merge table {args.merges!r}: "
                  f"{exc}", file=sys.stderr)
            return 2
        preexisting = SparkSession.getActiveSession() is not None
        spark = get_spark(app_name="s2s-bpe-apply")
        try:
            docs = spark.read.parquet(args.infile)
            missing = [c for c in (args.id_col, args.text_col)
                       if c not in docs.columns]
            if missing:
                print(f"error: {args.infile} lacks column(s) {missing} "
                      f"(has: {sorted(docs.columns)})", file=sys.stderr)
                return 2
            seg = bpe_segment_udf(merges)
            out = (docs.select(
                F.col(args.id_col),
                F.flatten(seg(F.col(args.text_col))).alias("tokens"))
                .withColumn("n_tokens", F.size("tokens")))
            out.write.mode("overwrite").parquet(args.outfile)
            back = spark.read.parquet(args.outfile)
            n_docs, n_toks = back.select(
                F.count("*"), F.sum("n_tokens")).collect()[0]
            print(f"segmented {n_docs} document(s), {n_toks or 0} "
                  f"subword token(s) with {len(merges)} merge(s)")
            return 0
        finally:
            if not preexisting:
                spark.stop()
    if args.cmd == "search":  # no config file: all-flags command
        import json

        from stream2segment_spark.operators.search import (
            build_search_index, index_search_topk, search_topk)
        from stream2segment_spark.session import get_spark
        terms = args.query.split()
        if not terms and not args.build_index:
            print("search: empty query", file=sys.stderr)
            return 2
        if not args.infile and not args.index:
            print("search: need -i corpus or --index DIR",
                  file=sys.stderr)
            return 2
        preexisting = SparkSession.getActiveSession() is not None
        spark = get_spark(app_name="s2s-search")
        try:
            if args.build_index:
                if not args.infile:
                    print("search: --build-index needs -i corpus",
                          file=sys.stderr)
                    return 2
                docs = spark.read.parquet(args.infile)
                build_search_index(docs, args.id_col, args.text_col,
                                   args.build_index,
                                   tokenizer=args.tokenizer)
                print(json.dumps({"index": args.build_index,
                                  "tokenizer": args.tokenizer}))
                return 0
            if args.index:
                rows = index_search_topk(spark, args.index, terms,
                                         k=args.topk).collect()
                for r in rows:
                    print(json.dumps({
                        "term": r["term"], args.id_col: r["id"],
                        "rank": r["rank"], "tf": r["tf"], "dl": r["dl"],
                        "score": round(r["score"], 6)}))
                return 0
            docs = spark.read.parquet(args.infile)
            missing = {args.id_col, args.text_col} - set(docs.columns)
            if missing:
                print(f"error: {args.infile} lacks required column(s) "
                      f"{sorted(missing)} (has: {sorted(docs.columns)})",
                      file=sys.stderr)
                return 2
            rows = search_topk(docs, args.id_col, args.text_col, terms,
                               k=args.topk,
                               tokenizer=args.tokenizer).collect()
            for r in rows:
                print(json.dumps({
                    "term": r["term"], args.id_col: r[args.id_col],
                    "rank": r["rank"], "tf": r["tf"], "dl": r["dl"],
                    "score": round(r["score"], 6)}))
            return 0
        finally:
            if not preexisting:
                spark.stop()
    if args.cmd == "curate":  # no config file: all-flags command
        from stream2segment_spark.session import get_spark
        preexisting = SparkSession.getActiveSession() is not None
        spark = get_spark(app_name="s2s-curate")
        try:
            return cmd_curate(spark, args.infile, args.outdir,
                              args.languages, args.min_quality,
                              args.min_tokens, args.max_tokens,
                              args.neardup_threshold, args.neardup_mode,
                              args.line_max_df, args.max_dup_frac,
                              args.cut_dup_substrings,
                              args.mix_col, args.mix_alpha,
                              args.pack_budget, args.pack_shards,
                              args.semantic_k, args.min_lm_score,
                              args.c4,
                              ("multilang" if args.gopher_multilang
                               else args.gopher),
                              args.gopher_repetition,
                              args.benchmark, args.max_contam_frac,
                              neardup_keep=args.neardup_keep,
                              domain_cap=args.domain_cap,
                              domain_col=args.domain_col,
                              tokenizer=args.tokenizer,
                              langid_mode=args.langid_mode,
                              multilingual_stopwords=(
                                  args.multilingual_stopwords),
                              against=args.against,
                              against_signatures=args.against_signatures,
                              write_signatures=args.write_signatures,
                              html_extract=args.html_extract,
                              nfc_normalize=args.nfc_normalize,
                              classifier=args.classifier,
                              min_classifier_score=args.min_classifier_score,
                              pack_bestfit=args.pack_bestfit,
                              dsir_target=args.dsir_target,
                              dsir_k=args.dsir_k,
                              audit=args.audit)
        finally:
            if not preexisting:
                spark.stop()
    cfg = _load_cfg(args.config)
    if args.cmd == "export-db":  # driver-side sqlite write: no session
        return cmd_export_db(cfg, args.outfile)
    if args.cmd == "db-classlabel":  # driver-side only: no session needed
        return cmd_db_classlabel(cfg, args.add, args.rename, args.delete)
    if args.cmd == "import-db" and (
            "://" not in args.dburl or args.dburl.startswith("sqlite://")):
        # sqlite is a local single-file read: no Spark session needed
        return cmd_import_db(None, cfg, args.dburl)
    if args.cmd in ("dl-log", "dl-config"):
        return cmd_dl_text(cfg, args.download_id, args.indices,
                           "log" if args.cmd == "dl-log" else "config")

    from stream2segment_spark.session import get_spark
    # only stop a session this invocation created (getOrCreate may hand us
    # a host application's session — embedding callers keep theirs)
    preexisting = SparkSession.getActiveSession() is not None
    spark = get_spark(app_name=f"s2s-{args.cmd}")
    try:
        if args.cmd == "download":
            with open(args.config, encoding="utf-8") as fh:
                cfg_text = fh.read()
            return cmd_download(spark, cfg, cfg_text)
        if args.cmd == "process":
            return cmd_process(spark, cfg, args.pyfunc, args.outfile,
                               args.append)
        if args.cmd == "show":
            if args.serve:
                return cmd_show_serve(spark, cfg, args.port,
                                      args.plot_module, args.annotator)
            if not args.outfile:
                raise SystemExit("show: -o/--outfile is required "
                                 "(or pass --serve)")
            return cmd_show(spark, cfg, args.outfile, args.max_segments,
                            args.plot_module)
        if args.cmd == "import-db":
            return cmd_import_db(spark, cfg, args.dburl)
        if args.cmd == "dl-summary":
            return cmd_dl_summary(spark, cfg, args.download_id, args.indices)
        if args.cmd == "db-drop":
            return cmd_db_drop(spark, cfg, args.download_id)
        return cmd_dl_stats(spark, cfg, args.html)
    finally:
        if not preexisting:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
