"""The download pipeline composed end-to-end (SURVEY §3.2; reference
download/main.py:193-366) as a chain of DataFrame transforms:

 events text -> parse -> dedup -> id-sync          (S1, A6, K5)
 channels text -> parse -> NSLC+rate filter ->
     conflict dedup -> id-sync                     (S1, P6/P7, A7, K5)
 events x stations spatial join + travel time      (J3, N13)
 diff vs stored segments (retry mask)              (J5, P11)
 fetch (executor thread pools, injectable HTTP)    (S4, H13)
 miniSEED decode -> per-segment metrics            (S7)
 upsert into the segments table                    (K4, H15)
 per-code response stats                           (A1/A3)

Every stage is a DataFrame -> DataFrame function from the operator
modules; this module only wires them. Each product is computed once; the
chain materializes at three points, each for a reason of its own:

- the ingested dims (``events``, ``channels``) right after id-sync: the
  spatial join, the channel-key join, ``stations_of`` and the caller's
  warehouse writes all read them, and without a checkpoint every one of
  those actions re-parses the FDSN text and re-runs dedup and id-sync;
- the ``fetched`` responses with their decoded miniSEED metrics: the HTTP
  fetch is not idempotent, so no second action may repeat dataselect
  requests or see a different transient response, and no branch below
  the checkpoint runs the decode UDF again;
- the final ``segments`` (done by the caller, ``cli.cmd_download``):
  they are derived from the stored segments table that the write then
  overwrites.

Apart from those, only the tiny max(id) aggregates inside id-sync are
collected.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stream2segment_spark.operators.dedup import exact_dedup
from stream2segment_spark.operators.joins import prepare_for_download_diff
from stream2segment_spark.operators.spatial import merge_events_stations
from stream2segment_spark.operators.upsert import (
    merge_latest_wins, sync_surrogate_ids, update_skip_unchanged)
from stream2segment_spark.sources.fdsn import (
    CHANNEL_COLS, CHANNEL_REQUIRED, EVENT_COLS, EVENT_REQUIRED,
    parse_fdsn_lines)
from stream2segment_spark.sources.fetch import fetch_rows
from stream2segment_spark.sources.mseed import unpack_mseed_udf

MSEED_DECODE_ERR = -2  # reference code for unreadable waveform data


def ingest_events(event_lines: DataFrame, existing_events: DataFrame) -> DataFrame:
    """S1+A6+K5: parse FDSN event text, drop duplicate event_ids
    (keep-first), fetch-or-create surrogate ids against the stored table."""
    ev = parse_fdsn_lines(event_lines, EVENT_COLS, EVENT_REQUIRED)
    ev = exact_dedup(ev, ["event_id"], keep="first", order=["time"])
    return sync_surrogate_ids(existing_events, ev, ["event_id"])


def ingest_channels(
    channel_lines: DataFrame,
    existing_channels: DataFrame,
    channel_like: str | None = None,
    reject_rlike: str | None = None,
    min_sample_rate: float | None = None,
    datacenter_col: str | None = None,
    routing_rules=None,
    keep_datacenter: bool = False,
) -> DataFrame:
    """S1+P6/P7+A7+K5: parse FDSN channel text, apply positive LIKE and
    negative regex NSLC filters plus the sample-rate floor, resolve
    conflicting claims, sync ids.

    Conflict policy (reference channels.py:428-545): when
    ``datacenter_col`` names a column of ``channel_lines`` (the datacenter
    each line came from), a natural key claimed by several datacenters is
    kept for the datacenter the EIDA ``routing_rules`` route it to;
    unroutable cross-datacenter claims and within-datacenter duplicates
    drop. Without datacenter info every conflicted key drops (keep='none'),
    as before."""
    ch = parse_fdsn_lines(channel_lines, CHANNEL_COLS, CHANNEL_REQUIRED,
                          keep_cols=[datacenter_col] if datacenter_col else None)
    if channel_like:
        ch = ch.filter(F.col("channel").like(channel_like))
    if reject_rlike:
        ch = ch.filter(~F.col("channel").rlike(reject_rlike))
    if min_sample_rate is not None:
        ch = ch.filter(F.col("sample_rate") >= min_sample_rate)
    natkey = ["network", "station", "location", "channel", "start_time"]
    if datacenter_col:
        from stream2segment_spark.operators.dedup import (
            resolve_channel_conflicts)
        from stream2segment_spark.sources.routing import (
            routed_datacenter_expr)
        routed = None
        if routing_rules:
            routed = (ch.select(*natkey).distinct()
                      .withColumn("routed_datacenter",
                                  routed_datacenter_expr(routing_rules)))
        ch = resolve_channel_conflicts(ch, natkey,
                                       datacenter_col=datacenter_col,
                                       routed=routed)
        if keep_datacenter:  # carry the winning datacenter downstream
            ch = ch.withColumnRenamed(datacenter_col, "datacenter")
        else:
            ch = ch.drop(datacenter_col)
    else:
        ch = exact_dedup(ch, natkey, keep="none")
    return sync_surrogate_ids(existing_channels, ch, natkey)


def fetch_inventories(
    stations: DataFrame,
    channels: DataFrame,
    segments: DataFrame,
    base_url: str,
    transport=None,
    threads: int = 4,
) -> DataFrame:
    """S9/J8: station XML inventories, fetched ONLY for stations that own
    at least one segment with waveform data (the reference's
    inventory-needed rule, download/modules/stations.py: save inventories
    only for stations with data). Returns the stations frame with an
    ``inventory_xml`` binary column (NULL for stations without data or
    failed fetches); compression is preserved as served (K7 sniffing
    decompresses on read). Endpoint: the channel's datacenter with
    /dataselect/ -> /station/ when channels carry one, else ``base_url``."""
    from stream2segment_spark.columns import withdata
    from stream2segment_spark.sources.fetch import fetch_rows

    ch_ok = (segments.filter(withdata(F.col("data")))
             .select("channel_id").distinct()
             .join(channels.select(F.col("id").alias("channel_id"),
                                   "network", "station", "start_time",
                                   *(["datacenter"]
                                     if "datacenter" in channels.columns
                                     else [])),
                   "channel_id")
             .drop("channel_id").distinct())
    need = stations.join(ch_ok.select("network", "station", "start_time"),
                         ["network", "station", "start_time"], "left_semi")
    if "datacenter" in ch_ok.columns:
        dc = ch_ok.groupBy("network", "station", "start_time").agg(
            F.min("datacenter").alias("__dc"))
        need = need.join(dc, ["network", "station", "start_time"], "left")
        endpoint = F.coalesce(
            F.regexp_replace("__dc", "/dataselect/", "/station/"),
            F.lit(base_url))
    else:
        endpoint = F.lit(base_url)
    req = need.withColumn(
        "url", F.concat(endpoint, F.lit("?net="), F.col("network"),
                        F.lit("&sta="), F.col("station"),
                        F.lit("&level=response")))
    fetched = fetch_rows(req, transport=transport, threads=threads)
    inv = fetched.select(
        "network", "station", "start_time",
        F.when(F.col("code").between(200, 299), F.col("data"))
         .alias("inventory_xml"))
    return stations.join(inv, ["network", "station", "start_time"], "left")


def stations_of(channels: DataFrame) -> DataFrame:
    """The station dim of the channel frame, one row per (network,
    station, start_time), the reference's unique key (io/db/models.py:
    314-317). An open (NULL) channel ``end_time`` wins, else the latest;
    latitude/longitude come from the lowest channel id."""
    key = ("network", "station", "start_time")
    end = F.col("end_time")
    return (channels.groupBy(*key)
            .agg(F.min_by(F.struct("latitude", "longitude"), "id")
                  .alias("loc"),
                 F.when(F.max(end.isNull()), None)
                  .otherwise(F.max(end)).alias("end_time"))
            .select("network", "station", "loc.latitude", "loc.longitude",
                    "start_time", "end_time")
            .withColumn("station_id", F.xxhash64(*key)))


def download_pipeline(
    spark: SparkSession,
    event_lines: DataFrame,
    channel_lines: DataFrame,
    existing_events: DataFrame,
    existing_channels: DataFrame,
    existing_segments: DataFrame,
    transport,
    tt_udf=None,
    minmag: float = 3.0, maxmag: float = 7.0,
    minmag_radius: float = 1.0, maxmag_radius: float = 5.0,
    window_lead_sec: float = 60.0, window_lag_sec: float = 120.0,
    base_url: str = "http://dataselect.invalid/query",
    retry: dict | None = None,
    download_id: int | None = None,
    **channel_filters,
) -> dict[str, DataFrame]:
    """Run the full chain; returns dict(events, channels, candidates,
    todo, segments, stats). ``transport`` is the injectable HTTP callable
    of sources.fetch (tests pass a deterministic one).

    ``download_id`` is the execution id stamped on every segment this run
    writes (inserted or updated); the stored rows of
    ``existing_segments`` keep their own ``download_id`` through the
    merge, and stored rows without one (a warehouse predating the column)
    stay NULL. Without it, written rows carry no stamp."""
    # checkpointed right after ingest: every downstream action reads one
    # materialization instead of re-parsing the FDSN text
    events = ingest_events(event_lines, existing_events) \
        .localCheckpoint(eager=True)
    channels = ingest_channels(channel_lines, existing_channels,
                               **channel_filters).localCheckpoint(eager=True)
    stations = stations_of(channels)

    ev = events.select(
        F.col("id").alias("ev_db_id"), "time", "latitude", "longitude",
        "depth_km", "magnitude")
    sta = stations.select("station_id", "network", "station",
                          "latitude", "longitude", "start_time", "end_time")
    pairs = merge_events_stations(
        ev, sta, minmag, maxmag, minmag_radius, maxmag_radius,
        tt_udf=tt_udf, check_epoch=True)
    arrival = F.col("arrival_time") if tt_udf is not None else F.col("time")
    cand = pairs.select(
        F.col("ev_db_id").alias("event_id"), "station_id",
        F.col("dist_deg").alias("event_distance_deg"),
        (arrival - F.make_dt_interval(secs=F.lit(window_lead_sec)))
        .alias("request_start"),
        (arrival + F.make_dt_interval(secs=F.lit(window_lag_sec)))
        .alias("request_end"))
    has_dc = "datacenter" in channels.columns
    cha_cols = ["channel_id", "station_id", "location", "channel"] \
        + (["datacenter"] if has_dc else [])
    cha = channels.select(F.col("id").alias("channel_id"),
                          "network", "station", "location", "channel",
                          "start_time",
                          *(["datacenter"] if has_dc else []))
    sta_key = stations.select("station_id", "network", "station", "start_time")
    cha = cha.join(sta_key, ["network", "station", "start_time"]) \
             .select(*cha_cols)
    candidates = cand.join(cha, "station_id")

    # retry policy (reference -r1..-r6 download flags / advanced config):
    # keys are prepare_for_download_diff's retry_* kwargs
    todo = prepare_for_download_diff(candidates, existing_segments,
                                     **(retry or {}))

    # per-channel dataselect endpoint when channels carry their (routed)
    # datacenter (EIDA federation); single base_url otherwise
    endpoint = (F.coalesce(F.col("datacenter"), F.lit(base_url))
                if has_dc else F.lit(base_url))
    requests = todo.withColumn(
        "url", F.concat(endpoint, F.lit("?cha="),
                        F.col("channel_id").cast("string"),
                        F.lit("&ev="), F.col("event_id").cast("string")))
    fetched = fetch_rows(requests, transport=transport, threads=4)
    # the HTTP fetch is NON-IDEMPOTENT and this frame feeds several
    # branches (sync matched/fresh, the merge union, the stats agg) and
    # several returned frames — materialize once so no action repeats
    # dataselect requests or sees a different transient response; the
    # decode (metrics only) is part of it, so no branch re-runs the UDF
    fetched = fetched.withColumn(
        "ms", F.element_at(unpack_mseed_udf(include_samples=False)(
            F.col("data")), 1)).localCheckpoint(eager=True)

    new_segments = fetched.select(
        "channel_id", "event_id", "event_distance_deg",
        "request_start", "request_end", "data",
        *(["datacenter"] if has_dc else []),
        F.col("ms.sample_rate").alias("sample_rate"),
        F.col("ms.max_gap_overlap_ratio").alias("maxgap_numsamples"),
        F.col("ms.start_time").alias("start_time"),
        F.col("ms.end_time").alias("end_time"),
        F.when(F.col("code") != 200, F.col("code"))
         .when(F.col("ms.error").isNotNull(), F.lit(MSEED_DECODE_ERR))
         .otherwise(F.lit(200)).alias("download_code"))

    # compare the code AND the request bounds: a re-download whose
    # window moved must persist even at an unchanged HTTP code, or the
    # new data is dropped and the stale bounds re-trigger the same
    # re-download on every run
    changed = update_skip_unchanged(new_segments, existing_segments,
                                    ["channel_id", "event_id"],
                                    compare_col=["download_code",
                                                 "request_start",
                                                 "request_end"])
    keyed = sync_surrogate_ids(existing_segments, changed,
                               ["channel_id", "event_id"])
    # download_id = the execution that last WROTE the row (reference
    # Download model): skipped re-fetches are not writes, so only the
    # changed rows take this run's stamp; stored rows carry theirs
    # through the merge (NULL where the stored table has no such column:
    # adopting those into this execution would let a later
    # `db-drop -did` delete segments this run never wrote)
    if download_id is not None:
        keyed = keyed.withColumn("download_id",
                                 F.lit(download_id).cast("long"))
    segments = merge_latest_wins(existing_segments, keyed,
                                 ["channel_id", "event_id"])

    stats = (new_segments
             .groupBy(F.coalesce(F.col("download_code").cast("string"),
                                 F.lit("not_found")).alias("code"))
             .agg(F.count("*").alias("n")))
    return {"events": events, "channels": channels,
            "candidates": candidates, "todo": todo,
            "segments": segments, "stats": stats}
