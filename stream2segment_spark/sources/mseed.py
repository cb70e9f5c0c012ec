"""miniSEED waveform decode as a distributed binary-column operator
(SURVEY §2.1 S7; reference behavior: download/modules/mseedlite.py:500-630).

This is a from-scratch implementation of the PUBLIC SEED 2.4 record layout
(FDSN SEED manual, ch. 8): 48-byte fixed data header + blockette 1000 +
encoded payload. No code is taken from the reference; parity targets its
*outputs*: per-seed-id (samples, sample_rate, start/end time, max gap or
overlap ratio in samples, out-of-bounds flag).

Spark shape: one blob (a dataselect response: many interleaved records,
possibly many channels) -> array of per-channel structs via an
Arrow-batched pandas UDF, exploded downstream. The parse is per-record
Python over numpy payload vectors — record counts per blob are small; the
batch dimension comes from Arrow. A Steim record decodes in one
table-driven numpy pass over its data words (:func:`_decode_steim`).

Supported encodings: 1 (int16), 3 (int32), 4 (float32), 5 (float64),
10 (Steim1), 11 (Steim2, all 7 word classes). Payload byte order follows
the blockette-1000 word-order flag (big or little endian); little-endian
HEADERS are detected by the BTIME year plausibility sniff.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

FIXED_HEADER_LEN = 48
_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)

RESULT_DDL = (
    "seed_id string, sample_rate double, start_time timestamp, "
    "end_time timestamp, n_samples int, max_gap_overlap_ratio double, "
    "samples array<double>, error string"
)


class MSeedError(ValueError):
    pass


@dataclass
class _Record:
    seed_id: str
    start: datetime
    sample_rate: float
    samples: np.ndarray
    last_sample: float = field(default=0.0)

    @property
    def end(self) -> datetime:
        """Time just past the last sample (start of the next contiguous
        record): start + n/rate. A start near the end of year 9999 with a
        tiny rate lands past datetime's range: MSeedError, as in _btime."""
        try:
            return self.start + timedelta(
                seconds=len(self.samples) / self.sample_rate)
        except OverflowError as exc:
            raise MSeedError(f"record end out of range: {exc}") from None


def _btime(raw: bytes, bo: str) -> datetime:
    year, doy, hh, mm, ss, _, fract = struct.unpack(bo + "HHBBBBH", raw)
    # a BTIME outside datetime's range (year 0 or > 9999, or a day-of-year
    # past the end of 9999) is a malformed header: raise the decoder's own
    # error so every per-row guard that catches MSeedError skips it
    try:
        return (datetime(year, 1, 1, tzinfo=timezone.utc)
                + timedelta(days=doy - 1, hours=hh, minutes=mm, seconds=ss,
                            microseconds=fract * 100))
    except (ValueError, OverflowError) as exc:
        raise MSeedError(f"BTIME out of range (year={year}, doy={doy}): "
                         f"{exc}") from None


def _sample_rate(factor: int, multiplier: int) -> float:
    if factor == 0:
        return 0.0
    rate = float(factor) if factor > 0 else -1.0 / factor
    if multiplier > 0:
        rate *= multiplier
    elif multiplier < 0:
        rate /= -multiplier
    return rate


# Steim word classes: (nibble c, dnib) -> (k diffs, w bits each); dnib is
# bits 31-30 of the data word and None means "any". Public layout per the
# SEED 2.4 manual (also reference mseedlite.py:335). Steim1 ignores dnib;
# a (c, dnib) with no class (Steim2 c=3, dnib 3) carries no diffs.
_STEIM1_CLASSES = {(1, None): (4, 8), (2, None): (2, 16), (3, None): (1, 32)}
_STEIM2_CLASSES = {
    (1, None): (4, 8),
    (2, 1): (1, 30), (2, 2): (2, 15), (2, 3): (3, 10),
    (3, 0): (5, 6), (3, 1): (6, 5), (3, 2): (7, 4),
}
_STEIM_LANES = 7  # the most diffs one word carries (Steim2 7x4)


def _steim_table(classes: dict, reserved: tuple = ()
                 ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Per-word decode table indexed by ``c * 4 + dnib``: diff count k
    (-1 = reserved, 0 = no data), per-lane uint32 left shifts that bring
    lane j's w bits to the top of the word, and the int32 arithmetic right
    shift (32 - w) that brings them back down sign-extended."""
    k = np.zeros(16, dtype=np.int64)
    lsh = np.zeros((16, _STEIM_LANES), dtype=np.uint32)
    rsh = np.zeros(16, dtype=np.int32)
    for code in range(16):
        c, dn = divmod(code, 4)
        if (c, dn) in reserved:
            k[code] = -1
            continue
        kw = classes.get((c, dn), classes.get((c, None)))
        if kw is None:
            continue
        k[code], w = kw
        lsh[code, :k[code]] = 32 - w * (k[code] - np.arange(k[code]))
        rsh[code] = 32 - w
    return k, lsh, rsh


_STEIM_TABLES = {10: ("Steim1", _steim_table(_STEIM1_CLASSES)),
                 11: ("Steim2", _steim_table(_STEIM2_CLASSES,
                                             reserved=((2, 0),)))}
_NIBBLE_SHIFTS = (2 * (15 - np.arange(1, 16))).astype(np.uint32)


def _decode_steim(payload: bytes, n_samples: int, bo: str,
                  encoding: int) -> np.ndarray:
    """Steim1 (encoding 10) / Steim2 (11): 64-byte frames of 16 u32 words;
    word 0 packs fifteen 2-bit nibbles c, one per data word; frame 0 words
    1-2 are the forward/reverse integration constants. Steim1 words are
    4x8 / 2x16 / 1x32-bit differences by c; Steim2 c=2 and c=3 words carry
    a 2-bit sub-code (dnib, bits 31-30) selecting 30/15/10-bit or
    6/5/4-bit differences.

    One pass over all data words of the record: the (c, dnib) table gives
    each word's k and w, one uint32 left shift + one int32 arithmetic
    right shift per lane extracts and sign-extends up to 7 lanes, and a
    ``lane < k`` mask keeps the real diffs in stream order (row-major).
    Measured on a 4-CPU x86 host: ~50 us a 512-byte Steim2 record of 300
    samples, ~110 us a 4096-byte one of 1000 samples."""
    name, (k_of, lsh_of, rsh_of) = _STEIM_TABLES[encoding]
    if n_samples <= 0:
        # header-only record: cumsum([]) has no out[0] to anchor
        return np.zeros(0)
    words = np.frombuffer(payload, dtype=">u4" if bo == ">" else "<u4")
    n_frames = len(words) // 16
    if n_frames == 0:
        raise MSeedError(f"{name} frame 0 missing integration constants")
    frames = words[:n_frames * 16].reshape(n_frames, 16).astype(np.uint32)
    nibs = (frames[:, :1] >> _NIBBLE_SHIFTS[None, :]) & 0x3  # (n_frames, 15)
    nibs[0, :2] = 0  # frame 0 words 1-2 carry x0/xn, not data
    x0 = int(frames[0, 1].view(np.int32))
    xn = int(frames[0, 2].view(np.int32))

    data = frames[:, 1:].reshape(-1)
    code = (nibs.reshape(-1) << 2) | (data >> 30)
    k = k_of[code]
    if (k < 0).any():
        raise MSeedError(f"{name} c=2 word with reserved dnib 0")
    lanes = ((data[:, None] << lsh_of[code]).view(np.int32)
             >> rsh_of[code][:, None])
    d = lanes[np.arange(_STEIM_LANES)[None, :] < k[:, None]][:n_samples]
    if len(d) < n_samples:
        raise MSeedError(
            f"{name} payload holds {len(d)} diffs < {n_samples} samples")
    out = np.cumsum(d, dtype=np.int64)
    out += x0 - out[0]  # first diff is vs the previous record; x0 anchors
    # samples are int32 and diffs are 32-bit two's-complement, which the
    # spec allows to WRAP mod 2^32; fold the int64 running sum back into
    # int32 (identity for non-wrapping data) before the xn consistency
    # check
    out = ((out + 2**31) & 0xFFFFFFFF) - 2**31
    if out[-1] != xn:
        raise MSeedError(
            f"{name} reverse integration mismatch: {out[-1]} != {xn}")
    return out.astype(np.float64)


_PLAIN_DTYPES = {1: "i2", 3: "i4", 4: "f4", 5: "f8"}


def parse_record(buf: bytes, offset: int) -> tuple[_Record, int]:
    """Parse one record at ``offset``; return (record, next_offset)."""
    hdr = buf[offset:offset + FIXED_HEADER_LEN]
    if len(hdr) < FIXED_HEADER_LEN:
        raise MSeedError("truncated fixed header")
    # byte-order sniff on BTIME year (reference does the same trick)
    year_be = struct.unpack(">H", hdr[20:22])[0]
    bo = ">" if 1900 <= year_be <= 2100 else "<"
    sta = hdr[8:13].decode("ascii", "replace").strip()
    loc = hdr[13:15].decode("ascii", "replace").strip()
    cha = hdr[15:18].decode("ascii", "replace").strip()
    net = hdr[18:20].decode("ascii", "replace").strip()
    start = _btime(hdr[20:30], bo)
    n_samples, factor, multiplier = struct.unpack(bo + "Hhh", hdr[30:36])
    n_blockettes = hdr[39]
    data_offset, blk_offset = struct.unpack(bo + "HH", hdr[44:48])

    # walk blockettes for 1000 (encoding, word order, record length)
    encoding, rec_len, word_order = None, None, 1
    avail = len(buf) - offset
    pos = blk_offset
    for _ in range(n_blockettes):
        if pos == 0 or pos + 4 > avail:
            break
        btype, nxt = struct.unpack(bo + "HH", buf[offset + pos:offset + pos + 4])
        if btype == 1000:
            # type(2) next(2) encoding(1) word-order(1) reclen-pow(1):
            # the payload bytes live at pos+4..pos+6 — bound-check THEM,
            # not just the 4-byte blockette header
            if pos + 7 > avail:
                raise MSeedError("truncated blockette 1000")
            encoding = buf[offset + pos + 4]
            word_order = buf[offset + pos + 5]
            rec_len = 1 << buf[offset + pos + 6]
        pos = nxt
        if nxt == 0:
            break
    if rec_len is None:
        raise MSeedError("no blockette 1000 (record length unknown)")
    if encoding is None:
        raise MSeedError("no data encoding in blockette 1000")

    rate = _sample_rate(factor, multiplier)
    if rate <= 0:
        # factor 0 = irregular/opaque channel (spec-legal, unsupported
        # here): an error ROW, not a ZeroDivisionError in _Record.end
        raise MSeedError(
            f"non-positive sample rate (factor={factor}, "
            f"multiplier={multiplier}): irregular/opaque data")
    # blockette-1000 word order governs the DATA section (1 = big)
    data_bo = ">" if word_order else "<"
    payload = buf[offset + data_offset:offset + rec_len]
    if encoding in _PLAIN_DTYPES:
        dt = np.dtype(data_bo + _PLAIN_DTYPES[encoding])
        samples = np.frombuffer(
            payload[:n_samples * dt.itemsize], dtype=dt).astype(np.float64)
        if len(samples) < n_samples:
            raise MSeedError("payload shorter than sample count")
    elif encoding in _STEIM_TABLES:
        samples = _decode_steim(payload, n_samples, data_bo, encoding)
    else:
        raise MSeedError(f"unsupported encoding {encoding}")
    rec = _Record(seed_id=f"{net}.{sta}.{loc}.{cha}", start=start,
                  sample_rate=rate, samples=samples)
    return rec, offset + rec_len


def unpack_blob(
    buf: bytes,
    window_start: datetime | None = None,
    window_end: datetime | None = None,
    include_samples: bool = True,
) -> list[dict]:
    """Parse every record of a (multi-channel) blob, group by seed id,
    order by time, and emit one dict per channel with the concatenated
    samples and the reference's quality metrics:

    - ``max_gap_overlap_ratio``: the max-|x| over per-boundary
      ``(t_begin[i] - t_end[i-1]) * sample_rate`` — positive = gap,
      negative = overlap, 0 = contiguous (mseedlite.py:604-616 semantics);
    - records wholly outside [window_start, window_end) are dropped
      (reference codes -200/-204 out-of-bounds handling).
    """
    by_id: dict[str, list[_Record]] = {}
    offset = 0
    while offset < len(buf):
        rec, offset = parse_record(buf, offset)
        if window_start is not None and rec.end <= window_start:
            continue
        if window_end is not None and rec.start >= window_end:
            continue
        by_id.setdefault(rec.seed_id, []).append(rec)

    out = []
    for seed_id in sorted(by_id):
        recs = sorted(by_id[seed_id], key=lambda r: r.start)
        rates = {r.sample_rate for r in recs}
        if len(rates) > 1:
            out.append({"seed_id": seed_id, "sample_rate": None,
                        "start_time": None, "end_time": None,
                        "n_samples": None, "max_gap_overlap_ratio": None,
                        "samples": None,
                        "error": f"mixed sample rates {sorted(rates)}"})
            continue
        rate = recs[0].sample_rate
        max_gap = 0.0
        for prev, cur in zip(recs, recs[1:]):
            g = (cur.start - prev.end).total_seconds() * rate
            if abs(g) > abs(max_gap):
                max_gap = g
        n_samples = sum(len(r.samples) for r in recs)
        samples = (np.concatenate([r.samples for r in recs])
                   if include_samples else None)
        out.append({
            "seed_id": seed_id,
            "sample_rate": rate,
            "start_time": recs[0].start.replace(tzinfo=None),
            "end_time": recs[-1].end.replace(tzinfo=None),
            "n_samples": int(n_samples),
            "max_gap_overlap_ratio": float(max_gap),
            "samples": samples,
            "error": None,
        })
    return out


def unpack_mseed_udf(window_start: datetime | None = None,
                     window_end: datetime | None = None,
                     include_samples: bool = True):
    """binary -> array<struct<RESULT_DDL>> (factory per funclib convention).
    Decode errors become a one-element array with the error field set —
    per-row failures never kill the job (reference X2 SkipSegment
    semantics, process/main.py:581-631).

    ``include_samples=False`` leaves the samples field NULL: metrics-only
    consumers (the streaming quality stage) skip the Arrow transfer of the
    sample arrays — by far the widest part of the struct — which a
    downstream column prune cannot reach inside the UDF."""
    @F.pandas_udf(f"array<struct<{RESULT_DDL}>>")
    def _udf(blobs: pd.Series) -> pd.Series:
        # bounded per-batch memo on the raw bytes (r10 opt round):
        # decoding is a pure function of the blob, and real feeds carry
        # repeated blobs (retried downloads, constant fixtures, station
        # heartbeats) — decode each distinct blob once per batch. The
        # cap bounds memory for the all-distinct case, where the only
        # overhead is one bytes-hash per row (~ns/KB).
        cache: dict[bytes, list] = {}
        out = []

        def decode(raw: bytes):
            try:
                return unpack_blob(raw, window_start, window_end,
                                   include_samples)
            except (MSeedError, ValueError, struct.error,
                    IndexError, ZeroDivisionError) as exc:
                return [{
                    "seed_id": None, "sample_rate": None, "start_time": None,
                    "end_time": None, "n_samples": None,
                    "max_gap_overlap_ratio": None, "samples": None,
                    "error": str(exc)}]

        for b in blobs:
            if b is None:
                out.append(None)
                continue
            raw = bytes(b)
            hit = cache.get(raw)
            if hit is None:
                hit = decode(raw)
                if len(cache) < 4096:
                    cache[raw] = hit
            out.append(hit)
        return pd.Series(out)
    return _udf


# --------------------------------------------------------------------------
# Encoder (sink side + test fixture generator). Big-endian, blockette 1000.
# --------------------------------------------------------------------------

def _factor_multiplier(rate: float) -> tuple[int, int]:
    """SEED sample-rate factor/multiplier for ``rate``: positive factor
    for integer rates, negative factor (seconds per sample) for
    integer-period sub-1 Hz rates. Anything else raises — silently
    truncating 40.5 Hz to 40 would corrupt every timestamp downstream,
    and factor 0 is the irregular-data sentinel the decoder rejects."""
    if rate <= 0:
        raise MSeedError(f"sample rate must be positive, got {rate}")
    if abs(rate - round(rate)) < 1e-9 and round(rate) <= 32767:
        return int(round(rate)), 1
    period = 1.0 / rate
    if abs(period - round(period)) < 1e-9 and round(period) <= 32767:
        return -int(round(period)), 1
    raise MSeedError(
        f"sample rate {rate} not representable as a SEED "
        f"factor/multiplier (integer rate or integer period required)")


def encode_record(
    net: str, sta: str, loc: str, cha: str,
    start: datetime, sample_rate: float, samples: np.ndarray,
    encoding: int = 3, rec_len: int = 512, seq: int = 1,
) -> bytes:
    """Serialize one record (K6-style file-sink building block and the
    generator for decoder tests). Steim1 output uses all-int32 words
    (nibble 3) — valid, if not maximally compressed."""
    if encoding in _PLAIN_DTYPES:
        payload = np.asarray(samples).astype(">" + _PLAIN_DTYPES[encoding]).tobytes()
    elif encoding == 10:
        payload = _encode_steim1(np.asarray(samples, dtype=np.int64))
    elif encoding == 11:
        payload = _encode_steim2(np.asarray(samples, dtype=np.int64))
    else:
        raise MSeedError(f"unsupported encoding {encoding}")
    if 64 + len(payload) > rec_len:
        raise MSeedError(f"{len(samples)} samples do not fit rec_len {rec_len}")

    frac, whole = np.modf(start.timestamp())
    t = datetime.fromtimestamp(whole, tz=timezone.utc)
    doy = (t - datetime(t.year, 1, 1, tzinfo=timezone.utc)).days + 1
    hdr = (f"{seq:06d}".encode() + b"D "
           + f"{sta:<5.5}{loc:<2.2}{cha:<3.3}{net:<2.2}".encode()
           + struct.pack(">HHBBBBH", t.year, doy, t.hour, t.minute, t.second,
                         0, round(frac * 10000))
           + struct.pack(">Hhh", len(samples),
                         *_factor_multiplier(sample_rate))
           + bytes([0, 0, 0, 1])      # flags x3, 1 blockette
           + struct.pack(">iHH", 0, 64, 48))
    blk1000 = struct.pack(">HHBBBB", 1000, 0, encoding, 1,
                          rec_len.bit_length() - 1, 0)
    body = hdr + blk1000
    return body + b"\x00" * (64 - len(body)) + payload \
        + b"\x00" * (rec_len - 64 - len(payload))


# encoder preference: densest class first (samples per word)
_STEIM2_PACK_ORDER = ((7, 4), (6, 5), (5, 6), (4, 8), (3, 10), (2, 15), (1, 30))
_STEIM2_CODES = {v: k for k, v in _STEIM2_CLASSES.items()}


def _encode_steim2(x: np.ndarray) -> bytes:
    """Greedy Steim2 packer: at each position take the densest class whose
    next k differences all fit its bit width (the standard compressor
    strategy), so real payloads exercise every word class. Raises when a
    difference exceeds 30 bits (Steim2's limit)."""
    if len(x) == 0:
        # header-only record: one frame of integration constants 0
        return np.zeros((1, 16), dtype=">u4").tobytes()
    d = np.diff(x, prepend=x[:1]).astype(np.int64)
    d[0] = 0  # x0 carries the absolute value
    n = len(d)
    packed: list[tuple[int, int]] = []  # (word value, c code)
    i = 0
    while i < n:
        for k, w in _STEIM2_PACK_ORDER:
            chunk = d[i:i + k]
            if len(chunk) < k:  # tail: zero-pad — the decoder slices the
                chunk = np.concatenate(  # surplus diffs off at n_samples
                    [chunk, np.zeros(k - len(chunk), dtype=np.int64)])
            lim = 1 << (w - 1)
            if ((chunk >= -lim) & (chunk < lim)).all():
                c, dn = _STEIM2_CODES[(k, w)]
                val = 0
                for j, v in enumerate(chunk):
                    val |= (int(v) & ((1 << w) - 1)) << (w * (k - 1 - j))
                if dn is not None:
                    val |= dn << 30
                packed.append((val, c))
                i += k
                break
        else:
            raise MSeedError(
                f"Steim2 cannot encode difference {d[i]} (> 30 bits)")

    # frame assembly: frame 0 holds x0/xn + 13 data slots, others 15
    n_words = len(packed)
    n_frames = 1 + max(0, -(-(n_words - 13) // 15))
    words = np.zeros((n_frames, 16), dtype=np.uint64)
    codes = np.zeros((n_frames, 16), dtype=np.uint64)
    words[0, 1] = int(np.int32(x[0])) & 0xFFFFFFFF
    words[0, 2] = int(np.int32(x[-1])) & 0xFFFFFFFF
    slots = [(0, s) for s in range(3, 16)] + [
        (f, s) for f in range(1, n_frames) for s in range(1, 16)]
    for (f, s), (val, c) in zip(slots, packed):
        words[f, s] = val
        codes[f, s] = c
    shifts2 = (2 * (15 - np.arange(16))).astype(np.uint64)
    words[:, 0] = (codes << shifts2[None, :]).sum(axis=1)
    return words.astype(">u4").tobytes()


def _encode_steim1(x: np.ndarray) -> bytes:
    """All-int32 (nibble 3) Steim1 — numpy-vectorized: one (n_frames, 16)
    u32 matrix, nibble words from per-frame fill counts, one big-endian
    tobytes. Byte-identical to the former per-word loop."""
    if len(x) == 0:
        # header-only record: one frame of integration constants 0
        return np.zeros((1, 16), dtype=">u4").tobytes()
    d = np.diff(x, prepend=x[:1]).astype(np.int64)
    d[0] = 0  # x0 carries the absolute value
    n = len(d)
    n_frames = 1 + max(0, -(-(n - 13) // 15))
    words = np.zeros((n_frames, 16), dtype=np.uint64)
    vals = (d & 0xFFFFFFFF).astype(np.uint64)
    words[0, 1] = int(np.int32(x[0])) & 0xFFFFFFFF
    words[0, 2] = int(np.int32(x[-1])) & 0xFFFFFFFF
    k0 = min(13, n)
    words[0, 3:3 + k0] = vals[:k0]
    rest = vals[13:]
    if len(rest):
        pad = (-len(rest)) % 15
        rest = np.concatenate([rest, np.zeros(pad, dtype=np.uint64)])
        words[1:, 1:] = rest.reshape(-1, 15)
    # nibble word: code 3 for each FILLED data slot (slot w gets bits
    # 2*(15-w)); frame 0 data slots start at word 3
    fills = np.full(n_frames, 15, dtype=np.int64)
    fills[0] = k0 + 2  # x0/xn slots stay nibble 0 but shift the layout
    if n > 13:
        fills[-1] = 15 - ((-(n - 13)) % 15)
    shifts2 = 2 * (15 - np.arange(1, 16, dtype=np.uint64))
    nib3 = (np.uint64(3) << shifts2)  # contribution of slot w at code 3
    slot_idx = np.arange(1, 16)
    nibw = ((slot_idx[None, :] <= fills[:, None]) * nib3[None, :]).sum(axis=1)
    nibw[0] -= int(nib3[0] + nib3[1])  # x0/xn slots are nibble 0
    words[:, 0] = nibw.astype(np.uint64)
    return words.astype(">u4").tobytes()
