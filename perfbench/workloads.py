"""The three workloads: inputs, passes through the public entry points,
output checks, and the traced form of each pass.

``warmup`` (untimed) leaves the output of a full pass behind. A timed
round then runs ``incr_reps`` incr passes on that state (``restore`` of
a ``snapshot`` of it and ``prepare_incr`` untimed; ``incr`` timed;
``check_incr``), then ``full_reps`` full passes (``reset`` untimed;
``full`` timed; ``check_full``). Running the incr pass first means the
timed full pass does not come straight after the cold warm-up pass,
where the JVM is still warming fastest, and costs nothing extra.
``traced_pair`` runs a full and an incr pass through the layer functions
the entry point composes, one span per layer.
"""

from __future__ import annotations

import contextlib
import io
import json
import random
import shutil
import time
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import checks, gen, transport

# input sizes (curate also warms up on a smaller input)
DOWNLOAD_SIZE = dict(n_events=60, n_stations=50)
PROCESS_SIZE = dict(n_segments=2400)
CURATE_SIZE = dict(n_docs=1500)
CURATE_WARMUP = dict(n_docs=150)
SEG_PARTS = 6  # parquet files of the generated segments table
SAMPLE = 40  # driver-side layer samples (blobs, pyfunc rows)


def _quiet(fn, *args, **kwargs) -> str:
    """Call an entry point that prints its report; return the report."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = fn(*args, **kwargs)
    if rc not in (0, None):
        raise RuntimeError(f"{fn.__name__} returned {rc}: {buf.getvalue()}")
    return buf.getvalue()


def _bytes_under(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file()
               and not f.name.startswith((".", "_")))


def _read(path: Path):
    return pq.read_table(str(path))


def _materialize(df):
    return df.localCheckpoint(eager=True)


class Workload:
    name = ""
    # timed passes of each kind in one round
    full_reps = 1
    incr_reps = 1

    def __init__(self, spark, work: Path, seed: int):
        self.spark, self.work, self.seed = spark, work, seed

    def state_dir(self) -> Path:
        """What a full pass writes and an incr pass then changes."""
        raise NotImplementedError

    def snapshot(self) -> None:
        """Keep a copy of the full-pass state (untimed)."""
        snap = self.work / "snapshot"
        shutil.rmtree(snap, ignore_errors=True)
        shutil.copytree(self.state_dir(), snap)

    def restore(self) -> None:
        """Put the kept full-pass state back (untimed), so another incr
        pass starts where the first one did."""
        shutil.rmtree(self.state_dir(), ignore_errors=True)
        shutil.copytree(self.work / "snapshot", self.state_dir())

    # overridden per workload
    def generate(self) -> None: ...
    def warmup(self) -> None:
        """Untimed passes that leave a full pass's output behind."""
    def reset(self) -> None: ...
    def full(self) -> None: ...
    def prepare_incr(self) -> None: ...
    def incr(self) -> None: ...
    def check_full(self) -> list[str]: return []
    def check_incr(self) -> list[str]: return []
    def run_checks(self) -> list[str]: return []
    def items(self) -> int: return 0

    def layer_samples(self) -> dict[str, float]:
        """Driver-side per-unit costs of the mseed and pyfunc layers on a
        seeded sample (no Spark)."""
        return {}

    def traced_pair(self, tracer) -> dict[str, float]:
        """The pass pair through ``traced``, checked like a timed pair."""
        self.reset()
        out = {}
        with tracer.span("full"):
            out.update(self.traced("full", tracer))
        problems = self.check_full()
        self.prepare_incr()
        with tracer.span("incr"):
            out.update(self.traced("incr", tracer))
        problems += self.check_incr()
        if problems:
            raise RuntimeError("; ".join(problems))
        return out

    def traced(self, tag: str, tracer) -> dict[str, float]:
        """One pass (``tag`` full or incr) through the layer functions the
        entry point composes, one span per layer; its layer metrics."""
        raise NotImplementedError


# ------------------------------------------------------------------ download

class Download(Workload):
    """``cmd_download`` into an empty warehouse (full), then again with
    ~10% new events into the populated one (incr)."""
    name = "download"

    def generate(self):
        self.inputs = data = gen.download_inputs(self.seed, **DOWNLOAD_SIZE)
        gen.blob_pool(self.seed)
        inp = self.work / "in"
        inp.mkdir(parents=True)
        (inp / "events.txt").write_text(data.events_text)
        (inp / "events_incr.txt").write_text(data.events_text_incr)
        (inp / "channels.txt").write_text(data.channels_text)

    def _cfg(self, incr: bool) -> dict:
        inp = self.work / "in"
        return {
            "warehouse": str(self.work / "wh"),
            "events_file": str(inp / f"events{'_incr' if incr else ''}.txt"),
            "channels_file": str(inp / "channels.txt"),
            "search_radius": {"minmag": gen.MINMAG, "maxmag": gen.MAXMAG,
                              "minmag_radius": gen.RADIUS_DEG,
                              "maxmag_radius": gen.RADIUS_DEG},
            "timespan": [60.0, 120.0],
            "transport": "perfbench.transport:serve",
            "dataselect_url": transport.base_url(self.seed),
        }

    def _download(self, incr: bool) -> None:
        from stream2segment_spark import cli
        _quiet(cli.cmd_download, self.spark, self._cfg(incr))

    def state_dir(self):
        return self.work / "wh"

    def reset(self):
        shutil.rmtree(self.work / "wh", ignore_errors=True)

    def warmup(self):
        """One full pass on the timed input: the first pass in a JVM
        (class loading, codegen, Python worker start) costs 30-45 s
        whatever the input size. A warm-up incr pass would add another
        ~12 s to every run, which the run budget does not allow, so the
        timed incr pass is the first incr pass of the process."""
        self.reset()
        self.full()

    def full(self):
        self._download(False)

    def incr(self):
        self._download(True)

    def items(self):
        return len(self.inputs.pairs)

    def _segments(self):
        return _read(self.work / "wh" / "segments.parquet")

    def check_full(self):
        self.before = self._segments()
        return checks.check_download(self.inputs, self.before, incr=False)

    def check_incr(self):
        return checks.check_download(self.inputs, self._segments(), incr=True,
                                     before=self.before)

    def layer_samples(self):
        from stream2segment_spark.sources.mseed import unpack_blob
        rnd = random.Random(self.seed)
        blobs = [gen.served_blob(self.seed, c, e)
                 for c, e in rnd.sample(self.inputs.pairs,
                                        min(SAMPLE, len(self.inputs.pairs)))]
        return {"mseed.us_per_blob": _us_per(unpack_blob, blobs)}

    def traced(self, tag, tracer):
        """cmd_download's chain (pipeline.download_pipeline plus the
        command's bookkeeping), one layer per span."""
        from pyspark.sql import functions as F

        from stream2segment_spark import cli
        from stream2segment_spark import warehouse as wh
        from stream2segment_spark.operators.joins import (
            prepare_for_download_diff)
        from stream2segment_spark.operators.spatial import (
            merge_events_stations)
        from stream2segment_spark.operators.upsert import (
            merge_latest_wins, sync_surrogate_ids, update_skip_unchanged)
        from stream2segment_spark.pipeline import (
            MSEED_DECODE_ERR, ingest_channels, ingest_events, stations_of)
        from stream2segment_spark.reporting import render_text
        from stream2segment_spark.sources.fetch import fetch_rows
        from stream2segment_spark.sources.mseed import unpack_mseed_udf

        spark, cfg = self.spark, self._cfg(tag == "incr")
        r = cfg["search_radius"]
        lead, lag = cfg["timespan"]
        keys = ["channel_id", "event_id"]
        m = {}
        old_segments = cli._table(spark, cfg, "segments")
        existing = old_segments.drop("download_id")

        with tracer.span("ingest") as s:
            events = _materialize(ingest_events(
                cli._event_lines(spark, cfg["events_file"]),
                cli._table(spark, cfg, "events")))
            channels = _materialize(ingest_channels(
                cli._lines(spark, cfg["channels_file"]),
                cli._table(spark, cfg, "channels")))
            stations = _materialize(stations_of(channels))
            m[f"{tag}.ingest.rows_out"] = events.count() + channels.count()
        m[f"{tag}.ingest.s"] = s.duration

        with tracer.span("spatial") as s:
            ev = events.select(
                F.col("id").alias("ev_db_id"), "time", "latitude",
                "longitude", "depth_km", "magnitude")
            sta = stations.select("station_id", "network", "station",
                                  "latitude", "longitude", "start_time",
                                  "end_time")
            pairs = _materialize(merge_events_stations(
                ev, sta, r["minmag"], r["maxmag"], r["minmag_radius"],
                r["maxmag_radius"], check_epoch=True))
            cand = pairs.select(
                F.col("ev_db_id").alias("event_id"), "station_id",
                F.col("dist_deg").alias("event_distance_deg"),
                (F.col("time") - F.make_dt_interval(secs=F.lit(lead)))
                .alias("request_start"),
                (F.col("time") + F.make_dt_interval(secs=F.lit(lag)))
                .alias("request_end"))
            cha = channels.select(
                F.col("id").alias("channel_id"), "network", "station",
                "location", "channel", "start_time")
            sta_key = stations.select("station_id", "network", "station",
                                      "start_time")
            cha = cha.join(sta_key, ["network", "station", "start_time"]) \
                .select("channel_id", "station_id", "location", "channel")
            candidates = _materialize(cand.join(cha, "station_id"))
            m[f"{tag}.spatial.pairs"] = pairs.count()
        m[f"{tag}.spatial.s"] = s.duration

        with tracer.span("diff") as s:
            todo = _materialize(prepare_for_download_diff(candidates,
                                                          existing))
            n_cand = candidates.count()
            m[f"{tag}.diff.todo_frac"] = todo.count() / max(n_cand, 1)
        m[f"{tag}.diff.s"] = s.duration

        with tracer.span("fetch") as s:
            requests = todo.withColumn(
                "url", F.concat(F.lit(cfg["dataselect_url"]), F.lit("?cha="),
                                F.col("channel_id").cast("string"),
                                F.lit("&ev="),
                                F.col("event_id").cast("string")))
            fetched = _materialize(fetch_rows(
                requests, transport=transport.serve, threads=4))
            m[f"{tag}.fetch.requests"] = fetched.count()
            m[f"{tag}.fetch.non200"] = fetched.filter(
                F.col("code") != 200).count()
        m[f"{tag}.fetch.s"] = s.duration

        with tracer.span("mseed") as s:
            decoded = fetched.withColumn(
                "ms", F.element_at(unpack_mseed_udf()(F.col("data")), 1))
            new_segments = _materialize(decoded.select(
                "channel_id", "event_id", "event_distance_deg",
                "request_start", "request_end", "data",
                F.col("ms.sample_rate").alias("sample_rate"),
                F.col("ms.max_gap_overlap_ratio").alias("maxgap_numsamples"),
                F.col("ms.start_time").alias("start_time"),
                F.col("ms.end_time").alias("end_time"),
                F.when(F.col("code") != 200, F.col("code"))
                 .when(F.col("ms.error").isNotNull(),
                       F.lit(MSEED_DECODE_ERR))
                 .otherwise(F.lit(200)).alias("download_code")))
            m[f"{tag}.mseed.errors"] = new_segments.filter(
                F.col("download_code") == MSEED_DECODE_ERR).count()
        m[f"{tag}.mseed.s"] = s.duration

        with tracer.span("upsert") as s:
            changed = update_skip_unchanged(
                new_segments, existing, keys,
                compare_col=["download_code", "request_start",
                             "request_end"])
            keyed = _materialize(sync_surrogate_ids(existing, changed, keys))
            segments = merge_latest_wins(existing, keyed, keys)
            did = wh._next_id(wh.read_small(cfg["warehouse"], "downloads"))
            written = (keyed.select(*keys)
                       .withColumn("__written", F.lit(1)))
            segs = segments.join(written, keys, "left")
            if "download_id" in old_segments.columns:
                segs = segs.join(old_segments.select(
                    "id", F.col("download_id").alias("__old")), "id", "left")
            else:
                segs = segs.withColumn("__old", F.lit(None).cast("long"))
            segs = _materialize(segs.withColumn(
                "download_id", F.when(F.col("__written") == 1, F.lit(did))
                .otherwise(F.col("__old"))).drop("__written", "__old"))
            m[f"{tag}.upsert.written"] = keyed.count()
            m[f"{tag}.upsert.skipped"] = (new_segments.count()
                                          - m[f"{tag}.upsert.written"])
        m[f"{tag}.upsert.s"] = s.duration

        with tracer.span("write") as s:
            for name, df in (("events", events), ("channels", channels),
                             ("segments", segs),
                             ("stations", stations_of(channels))):
                cli._write(df, cfg, name)
            stats = segs.select(
                F.lit("all").alias("row"),
                F.col("download_code").alias("code")).groupBy("row", "code") \
                .agg(F.count("*").alias("n"))
            wh.record_download(cfg["warehouse"], log_text=render_text(stats),
                               config_text=json.dumps(cfg), did=did)
        m[f"{tag}.write.s"] = s.duration
        m[f"{tag}.write.bytes"] = _bytes_under(Path(cfg["warehouse"]))
        return m


def _us_per(fn, items) -> float:
    """Median microseconds of ``fn(item)`` over the sample (3 rounds)."""
    times = []
    for _ in range(3):
        for x in items:
            t = time.perf_counter()
            fn(x)
            times.append(time.perf_counter() - t)
    times.sort()
    return times[len(times) // 2] * 1e6


# ------------------------------------------------------------------- process

class Process(Workload):
    """``cmd_process`` with paramtable over a generated warehouse to
    parquet (full), then ``--append`` after ~10% new segments (incr)."""
    name = "process"
    # a pass takes ~3 s: three of each kind a round for a steady median
    full_reps = 3
    incr_reps = 3

    def generate(self):
        self.inputs = data = gen.process_inputs(self.seed, **PROCESS_SIZE)
        wh = self.work / "wh"
        for name in ("events", "channels", "stations", "segments"):
            (wh / f"{name}.parquet").mkdir(parents=True)
        for name in ("events", "channels", "stations"):
            pq.write_table(getattr(data, name),
                           str(wh / f"{name}.parquet" / "part-0.parquet"))
        # several part files, as a Spark write leaves them
        step = -(-data.segments.num_rows // SEG_PARTS)
        for k in range(SEG_PARTS):
            pq.write_table(data.segments.slice(k * step, step),
                           str(wh / "segments.parquet" / f"part-{k}.parquet"))
        pq.write_table(data.segments_new,
                       str(self.work / "new_segments.parquet"))
        self.cfg = {"warehouse": str(wh),
                    "segments_selection": dict(gen.PROC_SELECTION),
                    "config": data.config}
        self.out = self.work / "out.parquet"
        self._reference = None

    def _process(self, append: bool):
        from stream2segment_spark import cli
        _quiet(cli.cmd_process, self.spark, self.cfg,
               "perfbench.pyfunc:main", str(self.out),
               append=append)

    def _func(self):
        from perfbench import pyfunc
        return pyfunc.main

    def _new_part(self) -> Path:
        return Path(self.cfg["warehouse"]) / "segments.parquet" \
            / "part-new.parquet"

    def state_dir(self):
        return self.out

    def reset(self):
        shutil.rmtree(self.out, ignore_errors=True)
        self._new_part().unlink(missing_ok=True)

    def prepare_incr(self):
        shutil.copyfile(self.work / "new_segments.parquet", self._new_part())

    def warmup(self):
        """A full and an incr pass on the timed input itself: after a
        pair on a small slice the first timed passes were ~15% slower."""
        self.reset()
        self.full()
        self.snapshot()
        self.prepare_incr()
        self.incr()
        self.restore()

    def full(self):
        self._process(False)

    def incr(self):
        self._process(True)

    def items(self):
        return self.inputs.n_selected

    def _sample_ids(self) -> list[int]:
        ids = sorted(self.inputs.written_ids | self.inputs.written_ids_new)
        return random.Random(self.seed).sample(ids, min(SAMPLE, len(ids)))

    def _segment_rows(self) -> dict[int, dict]:
        segs = pa.concat_tables([self.inputs.segments,
                                 self.inputs.segments_new])
        want = set(self._sample_ids())
        return {r["id"]: r for r in segs.to_pylist() if r["id"] in want}

    def reference(self) -> dict[int, dict]:
        """Plain-Python paramtable rows for the sampled segments."""
        if self._reference is None:
            from stream2segment_spark.process import SegmentView
            func = self._func()
            self._reference = {
                i: func(SegmentView(row), self.inputs.config)
                for i, row in self._segment_rows().items()}
        return self._reference

    def _check(self, ids) -> list[str]:
        ref = {i: r for i, r in self.reference().items() if i in ids}
        return checks.check_process(_read(self.out), ids, ref)

    def check_full(self):
        return self._check(self.inputs.written_ids)

    def check_incr(self):
        return self._check(self.inputs.written_ids
                           | self.inputs.written_ids_new)

    def layer_samples(self):
        from stream2segment_spark.process import SegmentView
        from stream2segment_spark.sources.mseed import unpack_blob
        rows = list(self._segment_rows().values())
        cfg, func = self.inputs.config, self._func()
        return {
            "mseed.us_per_blob": _us_per(unpack_blob,
                                         [r["data"] for r in rows]),
            "pyfunc.us_per_segment": _us_per(
                lambda r: func(SegmentView(r), cfg), rows),
        }

    def traced(self, tag, tracer):
        """cmd_process's chain, one layer per span."""
        from pyspark.sql import functions as F

        from stream2segment_spark import cli
        from stream2segment_spark.process import _ERROR_COL, process_df
        from stream2segment_spark.selectexpr import exprquery
        from stream2segment_spark.sinks.writers import (
            already_processed_ids, write_output)

        spark, cfg, out = self.spark, self.cfg, str(self.out)
        func, append = self._func(), tag == "incr"
        m = {}
        with tracer.span("select") as s:
            dfs = {name: cli._table(spark, cfg, name)
                   for name in ("segments", "events", "channels", "stations")}
            segs = exprquery(cli._warehouse_graph(dfs), dfs, "segments",
                             cfg["segments_selection"])
            if append:
                done = already_processed_ids(spark, out)
                segs = segs.join(done.withColumnRenamed(done.columns[0], "id"),
                                 "id", "left_anti")
            segs = _materialize(segs)
            m[f"{tag}.select.rows"] = segs.count()
        m[f"{tag}.select.s"] = s.duration
        with tracer.span("process") as s:
            result = _materialize(process_df(
                segs, func, func.output_schema, config=cfg["config"],
                collect_errors=True))
            ok = F.col(_ERROR_COL).isNull()
            m[f"{tag}.process.rows_out"] = result.filter(ok).count()
            m[f"{tag}.process.skipped"] = result.filter(~ok).count()
        m[f"{tag}.process.s"] = s.duration
        with tracer.span("write") as s:
            write_output(result.filter(ok).drop(_ERROR_COL), out,
                         append=append)
        m[f"{tag}.write.s"] = s.duration
        m[f"{tag}.write.bytes"] = _bytes_under(Path(out))
        return m


# -------------------------------------------------------------------- curate

def curate_args(infile: str, outdir: str, against: str | None) -> dict:
    """``cmd_curate`` arguments: C4 + Gopher + exact + MinHash near-dedup."""
    return dict(infile=infile, outdir=outdir, languages="en",
                min_quality=0.7, min_tokens=20, max_tokens=100_000,
                neardup_threshold=0.5, neardup_mode="minhash",
                line_max_df=None, max_dup_frac=None, cut_dup_substrings=None,
                mix_col=None, mix_alpha=0.5, pack_budget=None, pack_shards=64,
                c4_rules=True, gopher_rules=True, against=against)


class Curate(Workload):
    """``cmd_curate`` over batch 1 (full), then batch 2 ``--against`` the
    batch-1 output (incr)."""
    name = "curate"

    def generate(self):
        self.inputs = gen.curate_inputs(self.seed, **CURATE_SIZE)
        self.small = gen.curate_inputs(self.seed, **CURATE_WARMUP)
        inp = self.work / "in"
        inp.mkdir(parents=True)
        for tag, data in (("", self.inputs), ("small_", self.small)):
            pq.write_table(data.batch1, str(inp / f"{tag}batch1.parquet"))
            pq.write_table(data.batch2, str(inp / f"{tag}batch2.parquet"))
        pq.write_table(pa.concat_tables([self.inputs.batch1,
                                         self.inputs.batch2]),
                       str(inp / "union.parquet"))
        self.funnels: dict[str, dict] = {}

    def _curate(self, infile: str, outdir: Path,
                against: Path | None = None) -> dict:
        from stream2segment_spark import cli
        report = _quiet(cli.cmd_curate, self.spark, **curate_args(
            str(self.work / "in" / infile), str(outdir),
            str(against / "curated.parquet") if against else None))
        return json.loads(report.strip().splitlines()[-1])

    def state_dir(self):
        return self.work / "out_full"

    def reset(self):
        for d in ("out_full", "out_incr"):
            shutil.rmtree(self.work / d, ignore_errors=True)

    def warmup(self):
        self._curate("small_batch1.parquet", self.work / "warm_full")
        self._curate("small_batch2.parquet", self.work / "warm_incr",
                     against=self.work / "warm_full")
        for d in ("warm_full", "warm_incr"):
            shutil.rmtree(self.work / d)
        self.reset()
        self.full()

    def full(self):
        self.funnel = self._curate("batch1.parquet", self.work / "out_full")

    def incr(self):
        self.funnel = self._curate("batch2.parquet", self.work / "out_incr",
                                   against=self.work / "out_full")

    def items(self):
        return self.inputs.batch1.num_rows

    def _check(self, kind: str) -> list[str]:
        first = self.funnels.setdefault(kind, self.funnel)
        rows = _read(self.work / f"out_{kind}" / "curated.parquet").num_rows
        return checks.check_curate(self.funnel, first, rows)

    def check_full(self):
        return self._check("full")

    def check_incr(self):
        return self._check("incr")

    def run_checks(self):
        """Untimed: the last incr survivors equal a full rerun over the
        union of both batches, restricted to batch 2."""
        union = self.work / "out_union"
        self._curate("union.parquet", union)
        ids = set(_read(self.work / "out_incr" / "curated.parquet")
                  .column("doc_id").to_pylist())
        union_ids = set(_read(union / "curated.parquet")
                        .column("doc_id").to_pylist())
        return checks.check_curate_union(
            ids, union_ids, set(self.inputs.batch2.column("doc_id")
                                .to_pylist()))

    def traced(self, tag, tracer):
        """cmd_curate's chain: the curate_corpus call (which already runs
        some of the funnel's stages while it builds the plan), its first
        persisted frame (C4 + Gopher + exact dedup: the program has no
        boundary between filter and exact dedup), the near-dedup
        survivors, the write, and the funnel bookkeeping after the
        write."""
        from stream2segment_spark.examples.corpus_pipeline import (
            curate_corpus)
        spark = self.spark
        outdir = self.work / f"out_{tag}"
        infile = "batch2.parquet" if tag == "incr" else "batch1.parquet"
        against = self.work / "out_full" if tag == "incr" else None
        docs = spark.read.parquet(str(self.work / "in" / infile))
        persists: list = []
        m = {}
        with tracer.span("curate.funnel") as s:
            curated, funnel = curate_corpus(
                docs, languages=("en",), c4_rules=True, gopher_rules=True,
                min_quality=0.7, token_band=(20, 100_000),
                neardup_threshold=0.5, neardup_mode="minhash",
                against=(spark.read.parquet(str(against / "curated.parquet"))
                         if against else None),
                persists=persists)
        m[f"{tag}.curate.funnel.s"] = s.duration
        try:
            with tracer.span("curate.exact") as s:
                m[f"{tag}.curate.exact.rows_out"] = persists[0].count()
            m[f"{tag}.curate.exact.s"] = s.duration
            with tracer.span("curate.neardup") as s:
                curated = curated.persist()
                m[f"{tag}.curate.neardup.rows_out"] = curated.count()
            m[f"{tag}.curate.neardup.s"] = s.duration
            with tracer.span("curate.write") as s:
                curated.write.mode("overwrite").parquet(
                    str(outdir / "curated.parquet"))
            m[f"{tag}.curate.write.s"] = s.duration
            m[f"{tag}.write.s"] = s.duration
            m[f"{tag}.write.bytes"] = _bytes_under(outdir)
            with tracer.span("curate.after_write") as s:
                self.funnel = {**funnel.collect()[0].asDict(), "output":
                               m[f"{tag}.curate.neardup.rows_out"]}
            m[f"{tag}.curate.after_write.jobs"] = s.counts.get("jobs", 0.0)
            m[f"{tag}.curate.filter.rows_out"] = self.funnel["filtered"]
        finally:
            for frame in [curated, *persists]:
                frame.unpersist()
        return m


WORKLOADS = {w.name: w for w in (Download, Process, Curate)}
