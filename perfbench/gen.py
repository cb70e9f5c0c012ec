"""Seeded input generators for the benchmark workloads (numpy + pyarrow,
no Spark), and the deterministic download plan the transport serves.

The same seed gives byte-identical inputs; the program under test only
ever receives the generated files.
"""

from __future__ import annotations

import hashlib
from collections import Counter
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone
from functools import lru_cache

import numpy as np

UTC = timezone.utc
EV_T0 = datetime(2021, 6, 1, tzinfo=UTC)
CHANNEL_START = "2000-01-01T00:00:00"
# one constant search radius (minmag_radius == maxmag_radius): a pair is
# a candidate iff its great-circle distance is <= RADIUS_DEG, so the
# generator can predict the candidate set exactly
RADIUS_DEG = 4.0
BOUNDARY_MARGIN_DEG = 1e-3
MINMAG, MAXMAG = 3.0, 7.0

# download outcome plan, in percent of requests
PCT_404 = 4
PCT_UNDECODABLE = 3
DECODE_ERR_CODE = -2  # pipeline.MSEED_DECODE_ERR
UNDECODABLE_BLOB = b"<html>503 upstream timeout, not miniSEED</html>" * 8
POOL_SIZE = 64
DL_SAMPLES = 300          # per served blob (one 512-byte Steim2 record)

_EVENT_HDR = ("#EventID|Time|Latitude|Longitude|Depth/km|Author|Catalog|"
              "Contributor|ContributorID|MagType|Magnitude|MagAuthor|"
              "EventLocationName")
_CHANNEL_HDR = ("#Network|Station|Location|Channel|Latitude|Longitude|"
                "Elevation|Depth|Azimuth|Dip|SensorDescription|Scale|"
                "ScaleFreq|ScaleUnits|SampleRate|StartTime|EndTime")
NETWORKS = ("GE", "IU", "MN", "NL")
COMPONENTS = ("HHE", "HHN", "HHZ")


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, input stream)."""
    key = int.from_bytes(hashlib.blake2b(
        f"{seed}:{stream}".encode(), digest_size=8).digest(), "little")
    return np.random.default_rng(key)


def _hash64(*parts) -> int:
    return int.from_bytes(hashlib.blake2b(
        ":".join(map(str, parts)).encode(), digest_size=8).digest(), "little")


def great_circle_deg(lat1, lon1, lat2, lon2):
    """Haversine distance in degrees (numpy broadcasting)."""
    p1, p2 = np.radians(lat1), np.radians(lat2)
    dphi = p2 - p1
    dlmb = np.radians(lon2) - np.radians(lon1)
    a = (np.sin(dphi / 2) ** 2
         + np.cos(p1) * np.cos(p2) * np.sin(dlmb / 2) ** 2)
    return np.degrees(2 * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0))))


# --------------------------------------------------------------- download

def planned_code(seed: int, channel_id: int, event_id: int) -> int:
    """The HTTP outcome the transport serves for one request, as the
    pipeline stores it: 404, DECODE_ERR_CODE (200 with bytes that are
    not miniSEED) or 200."""
    r = _hash64(seed, channel_id, event_id) % 100
    if r < PCT_404:
        return 404
    if r < PCT_404 + PCT_UNDECODABLE:
        return DECODE_ERR_CODE
    return 200


@lru_cache(maxsize=4)
def blob_pool(seed: int) -> tuple[bytes, ...]:
    """POOL_SIZE distinct one-record Steim2 blobs (random walks)."""
    from stream2segment_spark.sources.mseed import encode_record
    rng = _rng(seed, "blob_pool")
    out = []
    for i in range(POOL_SIZE):
        x = np.cumsum(rng.integers(-40, 41, DL_SAMPLES)).astype(np.int64)
        out.append(encode_record("XX", f"P{i:03d}", "", "HHZ",
                                 EV_T0, 100.0, x, encoding=11))
    return tuple(out)


def served_blob(seed: int, channel_id: int, event_id: int) -> bytes:
    """A pool record with a request-specific sequence number, so every
    served blob is byte-distinct (no decode result can be shared
    between requests) while decode work stays that of a real record."""
    h = _hash64(seed, "blob", channel_id, event_id)
    rec = blob_pool(seed)[h % POOL_SIZE]
    return f"{h % 1_000_000:06d}".encode() + rec[6:]


@dataclass(frozen=True)
class DownloadInputs:
    seed: int
    events_text: str           # first execution
    events_text_incr: str      # first events + the new ones
    channels_text: str
    # candidate (channel_id, event_id) pairs by the ids the pipeline
    # assigns (natural-key order), for each execution
    pairs: tuple[tuple[int, int], ...]
    pairs_incr: tuple[tuple[int, int], ...]

    def expected_codes(self, incr: bool = False) -> Counter:
        return Counter(planned_code(self.seed, c, e)
                       for c, e in (self.pairs_incr if incr else self.pairs))


def download_inputs(seed: int, n_events: int = 160, n_stations: int = 120,
                    new_frac: float = 0.1,
                    box_deg: float = 16.0) -> DownloadInputs:
    """FDSN event and channel text for an events x stations region in
    which every event has the same number of stations (a fifth of them)
    within RADIUS_DEG, so the candidate count, and with it the work of a
    pass, is the same for every seed."""
    rng = _rng(seed, "download")
    n_new = max(1, int(round(n_events * new_frac)))
    n_all = n_events + n_new
    per_event = max(1, int(round(n_stations / 5)))
    ev_mag = np.round(rng.uniform(3.5, 6.5, n_all), 1)
    ev_dep = np.round(rng.uniform(1.0, 300.0, n_all), 1)
    ev_min = rng.integers(0, 60 * 24 * 30, n_all)
    st_lat = np.round(rng.uniform(-box_deg / 2, box_deg / 2, n_stations), 4)
    st_lon = np.round(rng.uniform(-box_deg / 2, box_deg / 2, n_stations), 4)

    # each event re-drawn until exactly per_event stations are within
    # the radius and none sits on its boundary
    ev_lat, ev_lon = np.empty(n_all), np.empty(n_all)
    within = np.empty((n_all, n_stations), dtype=bool)
    for i in range(n_all):
        for _ in range(10_000):
            lat, lon = np.round(rng.uniform(-box_deg / 2, box_deg / 2, 2), 4)
            d = great_circle_deg(lat, lon, st_lat, st_lon)
            if ((d <= RADIUS_DEG).sum() == per_event and not
                    (np.abs(d - RADIUS_DEG) < BOUNDARY_MARGIN_DEG).any()):
                break
        else:
            raise RuntimeError("could not place an event")
        ev_lat[i], ev_lon[i], within[i] = lat, lon, d <= RADIUS_DEG

    ev_ids = [f"ev{seed % 1000:03d}_{i:06d}" for i in range(n_all)]
    ev_lines = [
        f"{ev_ids[i]}|"
        f"{(EV_T0 + timedelta(minutes=int(ev_min[i]))).strftime('%Y-%m-%dT%H:%M:%S')}|"
        f"{ev_lat[i]:.4f}|{ev_lon[i]:.4f}|{ev_dep[i]:.1f}|auth|cat|ct|ci|"
        f"ML|{ev_mag[i]:.1f}|ma|region {i % 17}"
        for i in range(n_all)]
    stations = [(NETWORKS[s % len(NETWORKS)], f"S{s:04d}")
                for s in range(n_stations)]
    ch_lines, ch_keys = [], []
    for s, (net, sta) in enumerate(stations):
        for cha in COMPONENTS:
            ch_lines.append(
                f"{net}|{sta}||{cha}|{st_lat[s]:.4f}|{st_lon[s]:.4f}|"
                f"10.0|0.0|0.0|0.0|sensor|1.0e9|1.0|M/S|100.0|"
                f"{CHANNEL_START}|")
            ch_keys.append((net, sta, cha, s))
    # surrogate ids follow natural-key order (sync_surrogate_ids)
    ch_keys.sort()
    # event ids: the first execution numbers its events 1..n in event_id
    # order; the second appends the new ones after max(id)
    pairs_of = {}
    for i in range(n_all):
        ev_db_id = i + 1
        for cid, (_, _, _, s) in enumerate(ch_keys, start=1):
            if within[i, s]:
                pairs_of.setdefault(i, []).append((cid, ev_db_id))
    pairs = tuple(p for i in range(n_events) for p in pairs_of.get(i, ()))
    pairs_incr = pairs + tuple(
        p for i in range(n_events, n_all) for p in pairs_of.get(i, ()))
    return DownloadInputs(
        seed=seed,
        events_text="\n".join([_EVENT_HDR, *ev_lines[:n_events]]) + "\n",
        events_text_incr="\n".join([_EVENT_HDR, *ev_lines]) + "\n",
        channels_text="\n".join([_CHANNEL_HDR, *ch_lines]) + "\n",
        pairs=pairs, pairs_incr=pairs_incr)


# ---------------------------------------------------------------- process

PROC_SAMPLES = 2000       # per trace, 100 Hz, two 4096-byte Steim2 records
PROC_POOL = 32
PROC_SELECTION = {"event.magnitude": "[4, 7]",
                  "station.network": "GE IU MN"}
SELECTED_FRAC = 0.65      # of each batch, matching PROC_SELECTION
PCT_EMPTY = 2             # data NULL -> SkipSegment("empty data")
PCT_OVERLAP = 2           # first record twice -> SkipSegment("gaps")
_SELECTED_NETWORKS = {"GE", "IU", "MN"}


def _trace(rng: np.random.Generator) -> np.ndarray:
    """Noise, then a decaying burst at a random onset: a velocity-like
    record with a measurable SNR and energy envelope."""
    n = PROC_SAMPLES
    x = rng.normal(0.0, 40.0, n)
    onset = int(rng.integers(n // 4, n // 2))
    t = np.arange(n - onset)
    x[onset:] += (rng.uniform(500, 5000) * np.exp(-t / rng.uniform(150, 400))
                  * np.sin(2 * np.pi * rng.uniform(1.0, 8.0) * t / 100.0))
    return np.round(x).astype(np.int64)


@lru_cache(maxsize=4)
def trace_pool(seed: int) -> tuple[bytes, ...]:
    from stream2segment_spark.sources.mseed import encode_record
    rng = _rng(seed, "trace_pool")
    half = PROC_SAMPLES // 2
    out = []
    for i in range(PROC_POOL):
        x = _trace(rng)
        out.append(b"".join(
            encode_record("XX", f"T{i:03d}", "", "HHZ",
                          EV_T0 + timedelta(seconds=k * half / 100.0),
                          100.0, x[k * half:(k + 1) * half], encoding=11,
                          rec_len=4096, seq=k + 1)
            for k in range(2)))
    return tuple(out)


@dataclass
class ProcessInputs:
    """Warehouse tables (pyarrow) in the shape ``cmd_download`` writes,
    plus the planned outcome of the selection and the pyfunc."""
    seed: int
    events: "object"
    channels: "object"
    stations: "object"
    segments: "object"          # the first batch
    segments_new: "object"      # the ~10% added before the incr pass
    config: dict                # the process config (event magnitudes)
    n_selected: int             # first-batch segments the selection keeps
    written_ids: frozenset      # segment ids the full pass writes
    written_ids_new: frozenset  # segment ids the incr pass appends


def _ts(values) -> "object":
    import pyarrow as pa
    return pa.array(values, pa.timestamp("us", tz="UTC"))


def process_inputs(seed: int, n_segments: int = 2400,
                   new_frac: float = 0.1) -> ProcessInputs:
    import pyarrow as pa
    rng = _rng(seed, "process")
    pool = trace_pool(seed)
    n_events, n_stations = 120, 100
    ev_mag = np.round(rng.uniform(3.5, 6.5, n_events), 1)
    ev_time = [EV_T0 + timedelta(minutes=int(m))
               for m in rng.integers(0, 60 * 24 * 30, n_events)]
    events = pa.table({
        "event_id": [f"ev{seed % 1000:03d}_{i:06d}" for i in range(n_events)],
        "time": _ts(ev_time),
        "latitude": rng.uniform(-8, 8, n_events),
        "longitude": rng.uniform(-8, 8, n_events),
        "depth_km": rng.uniform(1, 300, n_events),
        "author": ["auth"] * n_events, "catalog": ["cat"] * n_events,
        "contributor": ["ct"] * n_events,
        "contributor_id": ["ci"] * n_events,
        "mag_type": ["ML"] * n_events, "magnitude": ev_mag,
        "mag_author": ["ma"] * n_events,
        "event_location_name": [f"region {i % 17}" for i in range(n_events)],
        "id": pa.array(np.arange(1, n_events + 1), pa.int64()),
    })
    st_net = [NETWORKS[s % len(NETWORKS)] for s in range(n_stations)]
    st_sta = [f"S{s:04d}" for s in range(n_stations)]
    st_lat = rng.uniform(-8, 8, n_stations)
    st_lon = rng.uniform(-8, 8, n_stations)
    start = datetime(2000, 1, 1, tzinfo=UTC)
    stations = pa.table({
        "network": st_net, "station": st_sta,
        "latitude": st_lat, "longitude": st_lon,
        "start_time": _ts([start] * n_stations),
        "end_time": _ts([None] * n_stations),
        "station_id": pa.array(np.arange(1, n_stations + 1), pa.int64()),
    })
    ch_rows = sorted((st_net[s], st_sta[s], c, s)
                     for s in range(n_stations) for c in COMPONENTS)
    n_ch = len(ch_rows)
    channels = pa.table({
        "network": [r[0] for r in ch_rows],
        "station": [r[1] for r in ch_rows],
        "location": [""] * n_ch,
        "channel": [r[2] for r in ch_rows],
        "start_time": _ts([start] * n_ch),
        "latitude": st_lat[[r[3] for r in ch_rows]],
        "longitude": st_lon[[r[3] for r in ch_rows]],
        "elevation": np.full(n_ch, 10.0), "depth": np.zeros(n_ch),
        "azimuth": np.zeros(n_ch), "dip": np.zeros(n_ch),
        "sensor_description": ["sensor"] * n_ch,
        "scale": np.full(n_ch, 1e9), "scale_freq": np.ones(n_ch),
        "scale_units": ["M/S"] * n_ch, "sample_rate": np.full(n_ch, 100.0),
        "end_time": _ts([None] * n_ch),
        "id": pa.array(np.arange(1, n_ch + 1), pa.int64()),
    })

    n_new = max(1, int(round(n_segments * new_frac)))
    n_all = n_segments + n_new
    # fixed shares per batch (selected, NULL data, overlapping records):
    # only the content varies with the seed, not the amount of work
    pair_sel = (ev_mag[:, None] >= 4.0) & np.array(
        [r[0] in _SELECTED_NETWORKS for r in ch_rows])[None, :]
    pools = [rng.permutation(np.flatnonzero(~pair_sel.ravel())),
             rng.permutation(np.flatnonzero(pair_sel.ravel()))]
    pair_idx, kind, used = [], [], [0, 0]
    for n in (n_segments, n_new):
        n_sel = int(round(n * SELECTED_FRAC))
        for flag in rng.permutation([1] * n_sel + [0] * (n - n_sel)):
            pair_idx.append(pools[flag][used[flag]])
            used[flag] += 1
        n_empty = int(round(n * PCT_EMPTY / 100))
        n_overlap = int(round(n * PCT_OVERLAP / 100))
        kind += rng.permutation(["empty"] * n_empty + ["overlap"] * n_overlap
                                + ["ok"] * (n - n_empty - n_overlap)).tolist()
    pair_idx = np.array(pair_idx)
    ev_i, ch_i = pair_idx // n_ch, pair_idx % n_ch
    data, ok = [], np.zeros(n_all, bool)
    for k in range(n_all):
        if kind[k] == "empty":
            data.append(None)
        else:
            rec = pool[int(rng.integers(0, PROC_POOL))]
            if kind[k] == "overlap":
                rec = rec[:len(rec) // 2] * 2
            else:
                ok[k] = True
            # a segment-specific sequence number: every blob is
            # byte-distinct, the decode work is a real one
            data.append(f"{k % 1_000_000:06d}".encode() + rec[6:])
    sel = pair_sel.ravel()[pair_idx]
    ev_t = np.array(ev_time)[ev_i]
    req_start = [t - timedelta(seconds=60) for t in ev_t]
    ev_lat = events.column("latitude").to_numpy()
    ev_lon = events.column("longitude").to_numpy()
    ch_lat = channels.column("latitude").to_numpy()
    ch_lon = channels.column("longitude").to_numpy()
    segs = pa.table({
        "id": pa.array(np.arange(1, n_all + 1), pa.int64()),
        "channel_id": pa.array(ch_i + 1, pa.int64()),
        "event_id": pa.array(ev_i + 1, pa.int64()),
        "event_distance_deg": great_circle_deg(
            ev_lat[ev_i], ev_lon[ev_i], ch_lat[ch_i], ch_lon[ch_i]),
        "request_start": _ts(req_start),
        "request_end": _ts([t + timedelta(seconds=120) for t in ev_t]),
        "download_code": pa.array(np.full(n_all, 200), pa.int32()),
        "data": pa.array(data, pa.binary()),
        "sample_rate": np.full(n_all, 100.0),
        "maxgap_numsamples": np.where(ok, 0.0, -1000.0),
        "start_time": _ts(req_start),
        "end_time": _ts([t + timedelta(seconds=PROC_SAMPLES / 100.0)
                         for t in req_start]),
        "download_id": pa.array(np.ones(n_all, np.int64)),
    })
    written = np.flatnonzero(sel & ok) + 1
    return ProcessInputs(
        seed=seed, events=events, channels=channels, stations=stations,
        segments=segs.slice(0, n_segments),
        segments_new=segs.slice(n_segments),
        config={"magnitudes": dict(zip(range(1, n_events + 1),
                                       ev_mag.tolist()))},
        n_selected=int(sel[:n_segments].sum()),
        written_ids=frozenset(int(i) for i in written if i <= n_segments),
        written_ids_new=frozenset(int(i) for i in written
                                  if i > n_segments))


# ----------------------------------------------------------------- curate

_FUNCTION_WORDS = (
    "the of and to in that it is was for on are with as his they be at "
    "one have this from by had not but what some we can out other were "
    "all there when up use your how said an each she which do their time "
    "if will way about many then them would like so these her see him "
    "has more could go come did no most my over know than call who may "
    "down been now find any new work part take get place made live where "
    "after back little only round man year came show every good me give "
    "our under").split()
_CONTENT_WORDS = (
    "river harbor village market teacher garden winter summer station "
    "engine letter morning evening journey mountain valley forest bridge "
    "lantern journal window kitchen library museum harvest weather storm "
    "signal doctor student farmer captain painter council festival "
    "orchard meadow canal tower castle island desert ocean thunder "
    "railway factory bakery workshop theater chapel lighthouse fountain "
    "carriage bicycle ladder blanket candle basket pocket mirror ribbon "
    "quietly slowly carefully bright narrow ancient famous gentle heavy "
    "silent golden wooden broken distant crowded hidden patient careful "
    "walked carried watched opened painted gathered repaired followed "
    "visited noticed answered remembered prepared explained described "
    "measured collected traveled finished started changed returned").split()
_JUNK = ("lorem ipsum dolor sit amet consectetur adipiscing elit sed do "
         "eiusmod tempor").split()


def _sentence(rng: np.random.Generator) -> str:
    words = [_FUNCTION_WORDS[int(rng.integers(0, len(_FUNCTION_WORDS)))]
             if rng.random() < 0.45 else
             _CONTENT_WORDS[int(rng.integers(0, len(_CONTENT_WORDS)))]
             for _ in range(int(rng.integers(8, 15)))]
    return " ".join(words).capitalize() + "."


def _document(rng: np.random.Generator) -> str:
    """English-like prose: 6-12 lines of one or two sentences."""
    return "\n".join(
        " ".join(_sentence(rng) for _ in range(int(rng.integers(1, 3))))
        for _ in range(int(rng.integers(6, 13))))


def _near_copy(rng: np.random.Generator, text: str) -> str:
    """Replace ~3% of the words: a near duplicate (Jaccard well above
    the 0.5 threshold)."""
    words = text.split(" ")
    for i in rng.choice(len(words), max(1, len(words) // 33), replace=False):
        words[i] = _CONTENT_WORDS[int(rng.integers(0, len(_CONTENT_WORDS)))]
    return " ".join(words)


def _rejected(rng: np.random.Generator, kind: int) -> str:
    """A document the quality filters drop: too short, boilerplate, or
    symbol noise."""
    if kind == 0:
        return _sentence(rng)
    if kind == 1:
        return "\n".join(" ".join(_JUNK) + "." for _ in range(8))
    return "\n".join("# {} | {} | {} ;;".format(*rng.integers(0, 999, 3))
                     for _ in range(10))


@dataclass(frozen=True)
class CurateInputs:
    seed: int
    batch1: "object"   # pyarrow table (doc_id, text, source)
    batch2: "object"   # the next batch: new ids, some copies of batch1


def curate_inputs(seed: int, n_docs: int = 1500,
                  new_frac: float = 0.2) -> CurateInputs:
    """Batch 1: original documents with planned exact copies, near copies
    and rejects. Batch 2: new originals plus exact and near copies of
    batch-1 originals (which the incremental pass must drop against the
    batch-1 output). Copies are only ever made of originals, so no
    duplicate chain spans more than one hop."""
    import pyarrow as pa
    rng = _rng(seed, "curate")

    def batch(n: int, first_id: int, sources: list[str]):
        texts = []
        for _ in range(n):
            r = rng.random()
            if r < 0.06 and sources:
                texts.append(sources[int(rng.integers(0, len(sources)))])
            elif r < 0.12 and sources:
                texts.append(_near_copy(
                    rng, sources[int(rng.integers(0, len(sources)))]))
            elif r < 0.18:
                texts.append(_rejected(rng, int(rng.integers(0, 3))))
            else:
                texts.append(_document(rng))
        ids = np.arange(first_id, first_id + n, dtype=np.int64)
        return pa.table({"doc_id": ids, "text": texts,
                         "source": [f"src{i % 7}" for i in ids]})

    originals = [_document(rng) for _ in range(n_docs // 4)]
    first = pa.table({
        "doc_id": np.arange(len(originals), dtype=np.int64),
        "text": originals,
        "source": [f"src{i % 7}" for i in range(len(originals))]})
    rest = batch(n_docs - len(originals), len(originals), originals)
    b1 = pa.concat_tables([first, rest])
    n2 = max(1, int(round(n_docs * new_frac)))
    b2 = batch(n2, n_docs, originals)
    return CurateInputs(seed=seed, batch1=b1, batch2=b2)
