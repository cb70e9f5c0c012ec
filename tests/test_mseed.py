"""Decoder tests for the from-scratch miniSEED (SEED 2.4) parser: encode
synthetic records with our own serializer, decode, check samples + gap
metrics + windowing + error semantics (SURVEY S7)."""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

import numpy as np
import pytest
from pyspark.sql import functions as F

from stream2segment_spark.sources import mseed as MS

T0 = datetime(2021, 3, 4, 5, 6, 7, tzinfo=timezone.utc)


def _rec(samples, start=T0, rate=100.0, cha="HHZ", encoding=3, loc=""):
    return MS.encode_record("GE", "APE", loc, cha, start, rate,
                            np.asarray(samples), encoding=encoding)


def test_roundtrip_int32_single_record():
    x = np.arange(50, dtype=np.int64) * 3 - 25
    out = MS.unpack_blob(_rec(x))
    assert len(out) == 1
    r = out[0]
    assert r["seed_id"] == "GE.APE..HHZ"
    assert r["sample_rate"] == 100.0
    assert r["n_samples"] == 50
    assert r["max_gap_overlap_ratio"] == 0.0
    np.testing.assert_array_equal(r["samples"], x.astype(float))
    assert r["start_time"] == T0.replace(tzinfo=None)
    assert r["end_time"] == (T0 + timedelta(seconds=0.5)).replace(tzinfo=None)


@pytest.mark.parametrize("encoding", [1, 3, 4, 5, 10, 11])
def test_roundtrip_encodings(encoding):
    x = np.array([0, 5, -7, 1000, -32000, 12, 13, 13], dtype=np.int64)
    out = MS.unpack_blob(_rec(x, encoding=encoding))
    np.testing.assert_array_equal(out[0]["samples"], x.astype(float))


def test_steim2_every_word_class_roundtrips():
    """Drive the greedy packer through all 7 Steim2 classes: runs of tiny
    diffs (7x4, 6x5, 5x6), mid diffs (4x8, 3x10, 2x15) and near-30-bit
    jumps (1x30)."""
    rng = np.random.default_rng(11)
    pieces = [
        rng.integers(-7, 8, 21),              # 4-bit -> 7x4
        rng.integers(-15, 16, 12),            # 5-bit -> 6x5
        rng.integers(-31, 32, 10),            # 6-bit -> 5x6
        rng.integers(-127, 128, 8),           # 8-bit -> 4x8
        rng.integers(-511, 512, 6),           # 10-bit -> 3x10
        rng.integers(-16000, 16001, 4),       # 15-bit -> 2x15
        np.array([2**29 - 1, -(2**29), 2**28 + 12345]),  # 30-bit -> 1x30
    ]
    d = np.concatenate(pieces)
    x = np.cumsum(np.concatenate([[123], d]))
    out = MS.unpack_blob(_rec(x, encoding=11))
    np.testing.assert_array_equal(out[0]["samples"], x.astype(float))
    # the packed payload must actually use every class code combination
    payload = MS._encode_steim2(x)
    words = np.frombuffer(payload, dtype=">u4").reshape(-1, 16)
    seen = set()
    for f in range(len(words)):
        for s in range(1, 16):
            c = (int(words[f, 0]) >> (2 * (15 - s))) & 3
            if c == 0 or (f == 0 and s in (1, 2)):
                continue
            dn = (int(words[f, s]) >> 30) & 3 if c in (2, 3) else None
            seen.add((c, dn))
    assert seen == set(MS._STEIM2_CLASSES)


def test_steim2_random_walks_roundtrip():
    rng = np.random.default_rng(23)
    # size shrinks as diffs widen: a 512-byte record holds ~110 packed
    # words; wide-diff walks approach one word per sample
    for scale, size in ((3, 500), (40, 400), (900, 160), (20000, 110),
                        (10**6, 100)):
        x = np.cumsum(rng.integers(-scale, scale + 1, size=size))
        out = MS.unpack_blob(_rec(x, encoding=11))
        np.testing.assert_array_equal(out[0]["samples"], x.astype(float))


def test_steim2_over_30bit_diff_raises():
    with pytest.raises(MS.MSeedError, match="30 bits"):
        MS._encode_steim2(np.array([0, 2**30 + 5], dtype=np.int64))


def test_steim1_large_values_many_frames():
    rng = np.random.default_rng(7)
    x = np.cumsum(rng.integers(-100000, 100000, size=90))
    out = MS.unpack_blob(_rec(x, encoding=10))
    np.testing.assert_array_equal(out[0]["samples"], x.astype(float))


def test_multichannel_grouping_and_order():
    x1, x2 = [1, 2, 3], [9, 8, 7]
    # second HHZ record out of order; HHN interleaved
    blob = (_rec(x2, start=T0 + timedelta(seconds=0.03))
            + _rec([4, 5], cha="HHN") + _rec(x1, start=T0))
    out = MS.unpack_blob(blob)
    assert [r["seed_id"] for r in out] == ["GE.APE..HHN", "GE.APE..HHZ"]
    np.testing.assert_array_equal(out[1]["samples"], [1, 2, 3, 9, 8, 7])
    assert out[1]["max_gap_overlap_ratio"] == 0.0


def test_gap_and_overlap_metric():
    # rec1 ends at T0+0.03 (3 samples @ 100 Hz); rec2 starts 5 samples late
    blob = _rec([1, 2, 3]) + _rec([4, 5], start=T0 + timedelta(seconds=0.08))
    out = MS.unpack_blob(blob)
    assert out[0]["max_gap_overlap_ratio"] == pytest.approx(5.0)
    # overlap: rec2 starts 1 sample early -> -1
    blob = _rec([1, 2, 3]) + _rec([4, 5], start=T0 + timedelta(seconds=0.02))
    out = MS.unpack_blob(blob)
    assert out[0]["max_gap_overlap_ratio"] == pytest.approx(-1.0)


def test_window_drops_out_of_bounds_records():
    blob = _rec([1, 2, 3]) + _rec([4, 5], start=T0 + timedelta(seconds=10))
    out = MS.unpack_blob(blob, window_start=T0 + timedelta(seconds=5))
    assert out[0]["n_samples"] == 2
    out = MS.unpack_blob(blob, window_end=T0 + timedelta(seconds=5))
    assert out[0]["n_samples"] == 3


def test_mixed_rate_is_per_channel_error():
    blob = _rec([1, 2]) + _rec([3, 4], start=T0 + timedelta(1), rate=50.0)
    out = MS.unpack_blob(blob)
    assert "mixed sample rates" in out[0]["error"]


def test_unpack_udf_on_spark(spark):
    x = np.arange(20, dtype=np.int64)
    good = _rec(x, encoding=10)
    df = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytearray(b"garbage" * 10)), (3, None)],
        "id long, data binary")
    res = (df.select("id", F.explode_outer(MS.unpack_mseed_udf()("data"))
                     .alias("ch"))
           .select("id", "ch.seed_id", "ch.n_samples", "ch.samples", "ch.error")
           .collect())
    rows = {r["id"]: r for r in res}
    assert rows[1]["seed_id"] == "GE.APE..HHZ"
    assert rows[1]["n_samples"] == 20
    assert rows[1]["samples"] == list(range(20))
    assert rows[1]["error"] is None
    assert rows[2]["error"] is not None        # decode error -> row, not crash
    assert rows[3]["seed_id"] is None          # null blob -> null struct


def test_factor_zero_record_is_error_row_not_crash():
    """factor=0 (irregular/opaque SEED data) must yield a named
    MSeedError, never a ZeroDivisionError from _Record.end."""
    import struct

    import pytest as _pytest

    from stream2segment_spark.sources.mseed import (
        MSeedError, encode_record, parse_record)
    from datetime import datetime, timezone
    rec = bytearray(encode_record(
        "GE", "APE", "", "HHZ", datetime(2024, 1, 1, tzinfo=timezone.utc),
        100.0, np.arange(10.0), encoding=3))
    rec[32:36] = struct.pack(">hh", 0, 1)       # factor=0
    with _pytest.raises(MSeedError, match="non-positive sample rate"):
        parse_record(bytes(rec), 0)


def test_zero_sample_steim_record_decodes_empty():
    """n_samples=0 Steim record (header-only) returns an empty record
    instead of IndexError on the cumsum anchor."""
    from datetime import datetime, timezone

    from stream2segment_spark.sources.mseed import (
        encode_record, parse_record)
    blob = encode_record(
        "GE", "APE", "", "HHZ", datetime(2024, 1, 1, tzinfo=timezone.utc),
        100.0, np.zeros(0), encoding=10)
    rec, _ = parse_record(blob, 0)
    assert len(rec.samples) == 0


def test_encode_fractional_rates():
    """Integer-period sub-1 Hz rates use the SEED negative factor and
    round-trip; non-representable rates raise instead of silently
    truncating (40.5 -> 40 would corrupt every timestamp)."""
    from datetime import datetime, timezone

    import pytest as _pytest

    from stream2segment_spark.sources.mseed import (
        MSeedError, encode_record, parse_record)
    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    blob = encode_record("GE", "APE", "", "LHZ", t0, 0.1,
                         np.arange(5.0), encoding=3)
    rec, _ = parse_record(blob, 0)
    assert rec.sample_rate == 0.1
    with _pytest.raises(MSeedError, match="not representable"):
        encode_record("GE", "APE", "", "HHZ", t0, 40.5,
                      np.arange(5.0), encoding=3)


def test_little_endian_record_decodes():
    """A record whose header and blockette declare little-endian (word
    order 0) decodes through the sniffed byte order — previously the
    Steim/plain data path hardcoded big-endian."""
    import struct
    from datetime import datetime, timezone

    from stream2segment_spark.sources.mseed import parse_record
    samples = np.array([3, -1, 4, 1, -5], dtype=np.int64)
    payload = samples.astype("<i4").tobytes()
    t = datetime(2024, 1, 1, tzinfo=timezone.utc)
    doy = 1
    hdr = (b"000001D " + b"APE  " + b"  " + b"HHZ" + b"GE"
           + struct.pack("<HHBBBBH", t.year, doy, 0, 0, 0, 0, 0)
           + struct.pack("<Hhh", len(samples), 100, 1)
           + bytes([0, 0, 0, 1])
           + struct.pack("<iHH", 0, 64, 48))
    blk1000 = struct.pack("<HHBBBB", 1000, 0, 3, 0, 9, 0)  # word order 0
    body = hdr + blk1000
    blob = body + b"\x00" * (64 - len(body)) + payload \
        + b"\x00" * (512 - 64 - len(payload))
    rec, nxt = parse_record(blob, 0)
    assert nxt == 512 and rec.sample_rate == 100.0
    assert list(rec.samples) == [3.0, -1.0, 4.0, 1.0, -5.0]


def test_fixture_blob_periodicity_pins_encode_cache():
    """r10 opt round: the encode UDFs build each residue's blob once
    per batch — valid only while _blob_for_id depends on the id purely
    through %5/%30/%4/%2 (period 60) and the quality blob through %5.
    If an edit breaks the periodicity, this fails before any gate does."""
    from stream2segment_spark.queries_mseed import (
        _blob_for_id, _quality_blob_for_residue)

    for i in (0, 1, 7, 59, 60, 61, 119, 3001, 987654321):
        assert _blob_for_id(i) == _blob_for_id(i % 60), i
    # and the three quality variants are what the status oracle expects
    assert _quality_blob_for_residue(4) == b"broken!!" * 8
    assert _quality_blob_for_residue(0) == _quality_blob_for_residue(1)
    assert _quality_blob_for_residue(3) != _quality_blob_for_residue(0)


def _le_header_blob(year, doy, factor=100, multiplier=1, n=5):
    """One little-endian record with a free BTIME and rate: the byte-order
    sniff reads any year outside 1900-2100 as little-endian, so these are
    the headers a random or corrupt body most often produces."""
    import struct
    hdr = (b"000001D " + b"APE  " + b"  " + b"HHZ" + b"GE"
           + struct.pack("<HHBBBBH", year, doy, 23, 59, 59, 0, 0)
           + struct.pack("<Hhh", n, factor, multiplier)
           + bytes([0, 0, 0, 1])
           + struct.pack("<iHH", 0, 64, 48))
    body = hdr + struct.pack("<HHBBBB", 1000, 0, 3, 0, 9, 0)
    return body + b"\x00" * (512 - len(body))


# year 0 (ValueError from datetime), a day-of-year past 9999-12-31
# (OverflowError from the BTIME sum) and a valid start whose n/rate end
# passes 9999-12-31 (OverflowError from _Record.end)
_OUT_OF_RANGE = [_le_header_blob(0, 1), _le_header_blob(9999, 400),
                 _le_header_blob(9999, 365, -32768, -32768)]


@pytest.mark.parametrize("blob", _OUT_OF_RANGE,
                         ids=["year0", "doy_past_9999", "end_past_9999"])
def test_out_of_range_btime_is_mseed_error(blob):
    with pytest.raises(MS.MSeedError, match="out of range"):
        MS.unpack_blob(blob)


def test_random_bytes_raise_only_mseed_error():
    """Seeded fuzz: whatever random bytes unpack_blob gets, the only
    exception that escapes is MSeedError — the type paramtable's skip
    guard and the decode UDF catch. About half of these bodies carry an
    out-of-range BTIME."""
    import collections
    import random
    rnd = random.Random(0)
    escaped = collections.Counter()
    for _ in range(20_000):
        n = rnd.choice([8, 47, 64, 128, 512])
        blob = bytes(rnd.getrandbits(8) for _ in range(n))
        try:
            MS.unpack_blob(blob)
        except MS.MSeedError:
            pass
        except Exception as exc:  # noqa: BLE001 - counting what escapes
            escaped[type(exc).__name__] += 1
    assert not escaped, dict(escaped)


def test_out_of_range_btime_is_error_row_in_udf(spark):
    """An out-of-range BTIME is an error ROW, not a task failure: an
    OverflowError would escape the UDF's except tuple and fail the
    download's decode stage."""
    df = spark.createDataFrame(
        [(i, bytearray(b)) for i, b in enumerate(_OUT_OF_RANGE)],
        "id long, data binary")
    res = (df.select("id", F.element_at(MS.unpack_mseed_udf()("data"), 1)
                     .alias("ms"))
           .select("id", "ms.seed_id", "ms.error").collect())
    assert len(res) == len(_OUT_OF_RANGE)
    for r in res:
        assert r["seed_id"] is None
        assert "out of range" in r["error"]
