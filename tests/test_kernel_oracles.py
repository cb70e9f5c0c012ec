"""The one-pass per-segment kernels against their pre-rewrite forms
(``kernel_oracles.py``): ``triangsmooth`` bit for bit, the table-driven
Steim decoder sample for sample and error for error."""

from __future__ import annotations

import numpy as np
import pytest

from stream2segment_spark.funclib import ndarrays as ND
from stream2segment_spark.sources import mseed as MS
from tests import kernel_oracles as O


def _same_bits(a: np.ndarray, b: np.ndarray) -> bool:
    """Equal shapes, NaN at the same places, every other value equal bit
    for bit (signed zeros and infinities included). The sign of a NaN
    result is not compared: it depends on the order the FPU met the NaN
    operands, which neither form pins."""
    if a.shape != b.shape:
        return False
    na, nb = np.isnan(a), np.isnan(b)
    return (np.array_equal(na, nb)
            and np.array_equal(a[~na].view(np.uint64),
                               b[~nb].view(np.uint64)))


def test_triangsmooth_bit_identical_seeded():
    rng = np.random.default_rng(20261018)
    lengths = np.concatenate([np.arange(0, 40), rng.integers(40, 1201, 80)])
    for i, n in enumerate(lengths):
        # the oracle's cost grows with n * ratio squared: full-width
        # windows on the shorter arrays only
        ratio = 1.0 if i % 4 == 0 and n < 300 else float(
            10 ** rng.uniform(-3, 0))
        # magnitudes spanning most of float64's range
        x = rng.standard_normal(n) * 10.0 ** rng.uniform(-300, 300, n)
        if i % 3 == 0 and n:
            k = rng.integers(0, n, 3)
            x[k] = rng.choice([np.inf, -np.inf, np.nan], 3)
        with np.errstate(invalid="ignore", over="ignore"):
            want = O.triangsmooth(x, ratio)
            got = ND.triangsmooth(x, ratio)
        assert _same_bits(want, got), (int(n), ratio)


@pytest.mark.parametrize("ratio", [0.05, 0.07, 0.1, 0.25, 0.5, 1.0])
def test_triangsmooth_bit_identical_on_spectra(ratio):
    """Amplitude spectra of the lengths a segment pyfunc smooths."""
    rng = np.random.default_rng(int(ratio * 100))
    for n in (3, 7, 300, 501, 1000, 1200):
        x = np.abs(np.fft.rfft(rng.normal(0, 40, 2 * n - 2)))[:n]
        assert _same_bits(O.triangsmooth(x, ratio),
                          ND.triangsmooth(x, ratio)), n


_ORACLE_DECODERS = {10: O._decode_steim1, 11: O._decode_steim2}
_ENCODERS = {10: MS._encode_steim1, 11: MS._encode_steim2}


def _outcome(fn, *args):
    try:
        return ("ok", fn(*args).tobytes())
    except Exception as exc:  # noqa: BLE001 — the type IS the result
        return (type(exc).__name__, str(exc))


def _byte_order(payload: bytes, bo: str) -> bytes:
    return (payload if bo == ">" else
            np.frombuffer(payload, ">u4").astype("<u4").tobytes())


@pytest.mark.parametrize("encoding", [10, 11])
@pytest.mark.parametrize("bo", [">", "<"])
def test_steim_encoder_roundtrip_matches_oracle(encoding, bo):
    rng = np.random.default_rng(encoding * 2 + (bo == "<"))
    for _ in range(300):
        n = int(rng.integers(0, 200))
        scale = int(10 ** rng.uniform(0, 8))
        x = np.cumsum(rng.integers(-scale, scale + 1, n))
        x = np.clip(x, -2**31, 2**31 - 1).astype(np.int64)
        if encoding == 11 and n and np.abs(np.diff(x)).max(initial=0) >= 2**29:
            continue  # past Steim2's 30-bit diffs: the encoder refuses
        payload = _byte_order(_ENCODERS[encoding](x), bo)
        got = MS._decode_steim(payload, n, bo, encoding)
        np.testing.assert_array_equal(got, x.astype(float))
        assert (_outcome(_ORACLE_DECODERS[encoding], payload, n, bo)
                == ("ok", got.tobytes()))


@pytest.mark.parametrize("encoding", [10, 11])
def test_steim_random_payloads_match_oracle(encoding):
    """Random words reach every error branch (missing frame 0, reserved
    dnib, too few diffs, reverse-integration mismatch) and the odd
    payload that decodes: same result, or same exception type and
    message, as the per-class decoder."""
    rng = np.random.default_rng(100 + encoding)
    seen = set()
    for _ in range(2500):
        nbytes = int(rng.choice([0, 4, 60, 64, 128, 448, 960]))
        payload = rng.integers(0, 256, nbytes, dtype=np.uint8).tobytes()
        n = int(rng.integers(-1, 300))
        for bo in "<>":
            want = _outcome(_ORACLE_DECODERS[encoding], payload, n, bo)
            got = _outcome(MS._decode_steim, payload, n, bo, encoding)
            assert got == want, (nbytes, n, bo)
            seen.add(want[0] if want[0] == "ok" else want[1].split()[1])
    assert {"ok", "frame", "payload", "reverse"} <= seen
    if encoding == 11:
        assert "c=2" in seen
