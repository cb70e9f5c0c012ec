"""Waveform-window helpers over plain (samples, delta_t, start_epoch)
triples — the engine's obspy-free replacement for the reference's Trace
wrappers (process/funclib/traces.py:50-270).

A waveform here is: ``samples`` (np.ndarray), ``delta`` (sampling period,
s), ``start`` (epoch seconds of the first sample). Functions return numpy
arrays / plain floats so they compose inside pandas UDFs.
"""

from __future__ import annotations

import math

import numpy as np

from stream2segment_spark.funclib.ndarrays import cumsumsq


def timeof(start: float, delta: float, index: int) -> float:
    """Epoch seconds of the i-th sample (reference traces.timeof)."""
    return start + index * delta


def taper_hann(samples: np.ndarray, max_percentage: float = 0.05) -> np.ndarray:
    """Cosine (Hann) taper applied to both ends, obspy-style
    ``max_percentage`` of the trace length per side. Returns a copy."""
    out = np.array(samples, dtype=float, copy=True)
    n = len(out)
    w = int(max_percentage * n)
    if w < 1:
        return out
    ramp = 0.5 * (1.0 - np.cos(np.pi * np.arange(w) / w))
    out[:w] *= ramp
    out[n - w:] *= ramp[::-1]
    return out


def bandpass_zerophase(
    samples: np.ndarray, delta: float,
    freq_min: float, freq_max: float,
    corners: int = 2, taper_max_percentage: float = 0.05,
    max_nyquist_ratio: float = 0.9,
) -> np.ndarray:
    """Zero-phase Butterworth-magnitude bandpass.

    The reference tapers, pads and runs a zero-phase IIR Butterworth
    (traces.py:50-101, via scipy). scipy is not available here, so the
    filter is applied in the frequency domain with the squared analog
    Butterworth magnitude response |H_lp|^2 * |H_hp|^2 — the zero-phase
    (filtfilt) equivalent, sans edge transients. freq_max is clipped to
    ``max_nyquist_ratio`` * Nyquist like the reference.
    """
    x = taper_hann(samples, taper_max_percentage)
    spec = np.fft.rfft(x)
    h = butterworth_zerophase_response(
        len(x), delta, freq_min, freq_max, corners, max_nyquist_ratio)
    return np.fft.irfft(spec * h, n=len(x))


def butterworth_zerophase_response(
    n: int, delta: float, freq_min: float, freq_max: float,
    corners: int = 2, max_nyquist_ratio: float = 0.9,
) -> np.ndarray:
    """The real rfft-bin gains of the zero-phase Butterworth bandpass
    (|H_hp|^2 * |H_lp|^2 magnitudes). Split out so replayers (the SQL
    oracle) can inline the SAME float64 gains the filter applies."""
    nyq = 0.5 / delta
    freq_max = min(freq_max, max_nyquist_ratio * nyq)
    f = np.fft.rfftfreq(n, d=delta)
    with np.errstate(divide="ignore"):
        hp = 1.0 / (1.0 + (freq_min / np.where(f > 0, f, np.inf))
                    ** (2 * corners))
        lp = 1.0 / (1.0 + (f / freq_max) ** (2 * corners))
    if freq_min > 0 and len(f) and f[0] == 0.0:
        # a bandpass removes DC: the f=0 highpass ratio is freq_min/0 ->
        # inf -> gain 0. The inf SUBSTITUTE above computed freq_min/inf
        # = 0 -> gain 1 instead, so a mean offset survived 'filtered'
        # data and corrupted every downstream metric.
        hp[0] = 0.0
    return hp * lp


def sn_windows(
    samples: np.ndarray, delta: float, start: float, arrival: float,
    win_length,
) -> tuple[tuple[float, float], tuple[float, float]]:
    """Signal/noise window bounds (epoch secs) around the arrival time
    (reference sn_split, traces.py:104-150).

    ``win_length``: float -> fixed-length windows split at ``arrival``
    (noise ends, signal starts there); 2-tuple ``(q0, q1)`` in [0,1] ->
    signal window where the cumulative sum of squares AFTER the arrival
    crosses the two quantiles (np.searchsorted); noise window of the same
    length ending at ``arrival``.

    Returns ((sig_start, sig_end), (noise_start, noise_end)).
    """
    if hasattr(win_length, "__len__"):
        q0, q1 = float(win_length[0]), float(win_length[1])
        if not 0 <= q0 < q1 <= 1:
            raise ValueError("quantile windows must be increasing in [0, 1]")
        i_arr = max(0, int(math.ceil((arrival - start) / delta)))
        cum = cumsumsq(np.asarray(samples, dtype=float)[i_arr:], normalize=True)
        j0, j1 = np.searchsorted(cum, [q0, q1])
        t0 = timeof(start, delta, i_arr + int(j0))
        t1 = timeof(start, delta, i_arr + int(j1))
        return (t0, t1), (arrival - (t1 - t0), arrival)
    w = float(win_length)
    return (arrival, arrival + w), (arrival - w, arrival)


def slice_window(samples: np.ndarray, delta: float, start: float,
                 w0: float, w1: float, pad: bool = True) -> np.ndarray:
    """Samples within [w0, w1], zero-padded outside the trace like the
    reference's ``trim(..., pad=True, fill_value=0)``."""
    x = np.asarray(samples, dtype=float)
    i0 = int(round((w0 - start) / delta))
    i1 = int(round((w1 - start) / delta))
    if not pad:
        return x[max(0, i0):max(0, i1)]
    out = np.zeros(max(0, i1 - i0))
    src0, src1 = max(0, i0), min(len(x), i1)
    if src1 > src0:
        out[src0 - i0: src1 - i0] = x[src0:src1]
    return out


# --------------------------------------------------------------------------
# Wood-Anderson simulation (reference N11 synth_wood_anderson,
# resources/templates/paramtable.py — via obspy simulate; here: direct
# frequency-domain pole-zero convolution, scipy/obspy-free)
# --------------------------------------------------------------------------

# Published Wood-Anderson torsion seismometer transfer constants
# (Uhrhammer & Collins, BSSA 1990): obspy's PAZ_WA, output in displacement
WOOD_ANDERSON_POLES = (-6.2832 - 4.7124j, -6.2832 + 4.7124j)
WOOD_ANDERSON_ZEROS = (0.0 + 0.0j,)   # one zero: velocity -> WA displacement
WOOD_ANDERSON_SENSITIVITY = 2080.0


def paz_frequency_response(freqs_hz: np.ndarray, poles, zeros,
                           gain: float = 1.0) -> np.ndarray:
    """H(s)|s=2*pi*i*f for a pole-zero-gain analog response."""
    s = 2j * np.pi * np.asarray(freqs_hz, dtype=float)
    num = np.ones(len(s), dtype=complex)
    for z in zeros:
        num *= s - z
    den = np.ones(len(s), dtype=complex)
    for p in poles:
        den *= s - p
    return gain * num / den


def synth_wood_anderson(velocity: np.ndarray, delta: float,
                        taper_max_percentage: float = 0.05) -> np.ndarray:
    """Convolve a (response-corrected) ground-VELOCITY trace with the
    Wood-Anderson instrument response -> synthetic WA displacement, the
    input to local-magnitude estimates. Frequency-domain application of
    the published pole-zero response; taper first like the reference's
    simulate path."""
    x = taper_hann(np.asarray(velocity, dtype=float), taper_max_percentage)
    n = len(x)
    if n == 0:
        return x
    spec = np.fft.rfft(x)
    f = np.fft.rfftfreq(n, d=delta)
    h = paz_frequency_response(f, WOOD_ANDERSON_POLES, WOOD_ANDERSON_ZEROS,
                               WOOD_ANDERSON_SENSITIVITY)
    return np.fft.irfft(spec * h, n=n)
