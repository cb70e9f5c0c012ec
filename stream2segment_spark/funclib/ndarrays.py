"""Sample-array kernels, numpy-only.

Behavioral parity targets (semantics, not code) from the reference:
fft/ampspec/powspec/dfreq/freqs (process/funclib/ndarrays.py:16-91),
snr (:94-167), trim/argtrim (:170-217), cumsumsq (:220-238),
triangsmooth (:241-302), response spectra (:305-648, Nigam & Jennings 1969).

These run inside Arrow-batched pandas UDFs on executors — vectorize inside
the kernel; no Spark imports here.
"""

from __future__ import annotations

import math

import numpy as np

# --------------------------------------------------------------------------
# Spectra
# --------------------------------------------------------------------------


def fft(signal: np.ndarray) -> np.ndarray:
    """Real FFT (rfft) of a time-domain signal."""
    return np.fft.rfft(signal)


def ampspec(signal: np.ndarray, signal_is_fft: bool = False) -> np.ndarray:
    """Amplitude spectrum |rfft|."""
    return np.abs(signal if signal_is_fft else fft(signal))


def powspec(signal: np.ndarray, signal_is_fft: bool = False) -> np.ndarray:
    """Power spectrum |rfft|^2."""
    return np.square(ampspec(signal, signal_is_fft))


def dfreq(signal_or_len, delta_t: float) -> float:
    """Frequency resolution (Hz) of a real fft: 1 / (N * dt)."""
    n = signal_or_len if isinstance(signal_or_len, (int, np.integer)) \
        else len(signal_or_len)
    return 1.0 / (n * delta_t)


def freqs(signal_or_len, delta_t: float) -> np.ndarray:
    """Frequency axis of a real fft: [0, df, ..., (L-1)*df], L = 1 + N//2."""
    n = signal_or_len if isinstance(signal_or_len, (int, np.integer)) \
        else len(signal_or_len)
    length = int(math.floor(1 + n / 2.0))
    df = dfreq(n, delta_t)
    return np.linspace(0, df * length, length, endpoint=False)


# --------------------------------------------------------------------------
# Trimming + SNR
# --------------------------------------------------------------------------

def argtrim(signal, deltax: float, minx=None, maxx=None,
            nearest_sample: bool = False):
    """Index bounds (i0, i1) so signal[i0:i1] spans domain [minx, maxx].
    Without ``nearest_sample``, only samples strictly inside the bounds are
    kept (ceil/floor); with it, the nearest samples (round)."""
    i0 = i1 = None
    n = len(signal)
    if minx is not None:
        idx = int(round(minx / deltax) if nearest_sample
                  else math.ceil(minx / deltax))
        i0 = min(max(0, idx), n)
    if maxx is not None:
        idx = int(round(maxx / deltax) if nearest_sample
                  else math.floor(maxx / deltax)) + 1
        i1 = min(max(0, idx), n)
    return i0, i1


def trim(signal, deltax: float, minx=None, maxx=None,
         nearest_sample: bool = False):
    if minx is None and maxx is None:
        return signal
    i0, i1 = argtrim(signal, deltax, minx, maxx, nearest_sample)
    return signal[i0:i1]


def snr(signal, noise, signals_form: str = "", fmin=None, fmax=None,
        delta_signal: float = 1.0, delta_noise: float = 1.0,
        nearest_sample: bool = False, in_db: bool = False) -> float:
    """Band-limited signal-to-noise ratio.

    ``signals_form``: '' (time series -> power spectra computed), 'fft'/'dft'
    (inputs are rfft), 'amp' (amplitude spectra), 'pow' (power spectra).
    Powers are averaged (normalized by length), ratio sqrt'd unless
    ``in_db`` (10*log10 — the sqrt is the /2 in dB)."""
    form = signals_form.lower()
    if form == "amp":
        signal, noise = np.square(signal), np.square(noise)
    elif form in ("fft", "dft"):
        signal = powspec(signal, signal_is_fft=True)
        noise = powspec(noise, signal_is_fft=True)
    elif form != "pow":
        delta_signal = dfreq(signal, delta_signal)
        delta_noise = dfreq(noise, delta_noise)
        signal, noise = powspec(signal), powspec(noise)

    signal = trim(signal, delta_signal, fmin, fmax, nearest_sample)
    noise = trim(noise, delta_noise, fmin, fmax, nearest_sample)
    if not len(signal) or not len(noise):
        return np.nan
    mean_sig = np.sum(signal) / len(signal)
    mean_noise = np.sum(noise) / len(noise)
    if mean_noise == 0:
        return np.nan
    ratio = mean_sig / mean_noise
    if in_db:
        if ratio == 0:
            return -np.inf
        return np.nan if ratio < 0 else 10.0 * np.log10(ratio)
    return float(np.sqrt(ratio))


# --------------------------------------------------------------------------
# Cumulative energy
# --------------------------------------------------------------------------

def cumsumsq(signal, normalize: bool = True) -> np.ndarray:
    """Cumulative sum of squares, min-max normalized to [0, 1] by default."""
    ret = np.cumsum(np.square(signal))
    if normalize and len(ret) and not np.isnan(ret[0]):
        lo = ret[0]
        hi = ret[-1] if not np.isnan(ret[-1]) else np.nanmax(ret)
        if hi != lo:
            ret = (ret - lo) / (hi - lo)
    return ret


def cumtrapz(y: np.ndarray, dx: float = 1.0, initial: float = 0.0) -> np.ndarray:
    """Cumulative trapezoidal integral (scipy-free), same length as y."""
    y = np.asarray(y, dtype=float)
    mid = (y[1:] + y[:-1]) * (dx / 2.0)
    out = np.empty(len(y))
    out[0] = initial
    np.cumsum(mid, out=out[1:])
    out[1:] += initial
    return out


def linregress_slope_intercept(x: np.ndarray, y: np.ndarray) -> tuple[float, float]:
    """Least-squares line fit (scipy-free): returns (slope, intercept)."""
    x = np.asarray(x, dtype=float)
    y = np.asarray(y, dtype=float)
    xm, ym = x.mean(), y.mean()
    dx = x - xm
    denom = np.dot(dx, dx)
    slope = float(np.dot(dx, y - ym) / denom) if denom else np.nan
    return slope, float(ym - slope * xm)


# --------------------------------------------------------------------------
# Frequency-dependent triangular smoothing
# --------------------------------------------------------------------------

def triangsmooth(array, winlen_ratio: float) -> np.ndarray:
    """Smooth with an index-proportional triangular window: at index i the
    half-width is round(i * winlen_ratio), shrunk near the right edge so the
    window fits; weights are (n - |offset|) for offsets in [-(n-1), n-1]
    with normalizer n^2 (n = half-width + 1 in the reference's terms).
    Points whose window has fewer than 2 side points are left unchanged.

    ``winlen_ratio`` must be in (0, 1]: the half-width at index i is
    ``round(i * winlen_ratio)``, and a ratio above 1 would make early
    windows wider than their left margin — ``arr[idxs + off]`` would
    then WRAP to the array tail (Python negative indexing) and silently
    mix tail samples into head outputs."""
    if not (0 < winlen_ratio <= 1):
        raise ValueError(
            f"winlen_ratio must be in (0, 1], got {winlen_ratio}")
    arr = np.asarray(array, dtype=float)
    out = arr.copy()
    n_pts = len(arr)
    if n_pts == 0:
        return out
    max_idx = int((n_pts - 1) // (winlen_ratio + 1))
    if int(np.round(max_idx * winlen_ratio)) < 2:
        return out
    half = np.zeros(n_pts, dtype=int)
    half[:max_idx + 1] = np.round(np.arange(max_idx + 1) * winlen_ratio).astype(int)
    half[max_idx + 1:] = np.arange(n_pts - 1 - (max_idx + 1), -1, -1)

    # one pass per offset o in [-(nmax-1), nmax-1], over every index whose
    # half-width exceeds |o|: each index adds its (n-|o|)*arr[i+o] terms in
    # ascending offset order, so its value is bit-identical to summing its
    # own window alone. Sorting the smoothed indices by descending
    # half-width makes "half > |o|" a prefix of that order.
    idxs = np.flatnonzero(half >= 2)
    idxs = idxs[np.argsort(-half[idxs], kind="stable")]
    hw = half[idxs]
    n_over = np.searchsorted(-hw, -np.arange(hw[0]), side="left")
    acc = np.zeros(len(idxs))
    for off in range(-(hw[0] - 1), hw[0]):
        m = n_over[abs(off)]
        acc[:m] += (hw[:m] - abs(off)) * arr[idxs[:m] + off]
    out[idxs] = acc / (hw * hw).astype(float)
    return out


# --------------------------------------------------------------------------
# Elastic response spectra (SDOF oscillator, Nigam & Jennings 1969)
# --------------------------------------------------------------------------

def nigam_jennings_coefficients(periods, time_step: float,
                                damping: float = 0.05):
    """The constant matrices of the Nigam & Jennings (1969) exact
    piecewise-linear recurrence, as a dict of per-period arrays
    (a11..a22, b11..b22, omega, omega2). Split out so callers that
    replay the recurrence elsewhere (the SQL oracle) inline the SAME
    float64 constants the kernel uses."""
    periods = np.asarray(periods, dtype=float)
    omega = 2.0 * np.pi / periods
    omega2 = omega ** 2
    omega_d = omega * math.sqrt(1.0 - damping ** 2)
    dt = float(time_step)
    xi = damping
    e = np.exp(-xi * omega * dt)
    s = np.sin(omega_d * dt)
    c = np.cos(omega_d * dt)
    a11 = e * (c + xi / np.sqrt(1 - xi ** 2) * s)
    a12 = e * s / omega_d
    a21 = -omega2 * a12
    a22 = e * (c - xi / np.sqrt(1 - xi ** 2) * s)
    w3 = omega2 * omega
    k1 = (2 * xi ** 2 - 1) / (omega2 * dt)
    k2 = 2 * xi / (w3 * dt)
    cms = c - xi / np.sqrt(1 - xi ** 2) * s
    wsc = omega_d * s + xi * omega * c
    b11 = e * ((k1 + xi / omega) * s / omega_d + (k2 + 1 / omega2) * c) - k2
    b12 = -e * (k1 * s / omega_d + k2 * c) - 1 / omega2 + k2
    b21 = (e * ((k1 + xi / omega) * cms - (k2 + 1 / omega2) * wsc)
           + 1 / (omega2 * dt))
    b22 = -e * (k1 * cms - k2 * wsc) - 1 / (omega2 * dt)
    return {"a11": a11, "a12": a12, "a21": a21, "a22": a22,
            "b11": b11, "b12": b12, "b21": b21, "b22": b22,
            "omega": omega, "omega2": omega2}


def response_spectrum_nigam_jennings(
    acceleration: np.ndarray, time_step: float, periods: np.ndarray,
    damping: float = 0.05,
) -> dict[str, np.ndarray | float]:
    """Pseudo-spectral acceleration/velocity/displacement of a damped SDOF
    oscillator driven by ``acceleration``, via the exact piecewise-linear
    recurrence of Nigam & Jennings (BSSA 1969) — the same published method
    the reference implements (ndarrays.py:464-564).

    Returns dict with S_a, S_v, S_d (pseudo spectra per period), plus the
    true maxima (velocity, acceleration) and PGA/PGV from the input record.
    Units follow the input (no cm/m conversion here).
    """
    acc = np.asarray(acceleration, dtype=float)
    periods = np.asarray(periods, dtype=float)
    dt = float(time_step)
    xi = damping
    cf = nigam_jennings_coefficients(periods, dt, damping)
    omega, omega2 = cf["omega"], cf["omega2"]
    a11, a12, a21, a22 = cf["a11"], cf["a12"], cf["a21"], cf["a22"]
    b11, b12, b21, b22 = cf["b11"], cf["b12"], cf["b21"], cf["b22"]

    n_per = len(periods)
    x = np.zeros(n_per)   # displacement state
    v = np.zeros(n_per)   # velocity state
    max_d = np.zeros(n_per)
    max_v = np.zeros(n_per)
    max_a = np.zeros(n_per)
    for i in range(len(acc) - 1):
        a_i, a_n = acc[i], acc[i + 1]
        x_new = a11 * x + a12 * v + b11 * a_i + b12 * a_n
        v_new = a21 * x + a22 * v + b21 * a_i + b22 * a_n
        x, v = x_new, v_new
        # absolute oscillator acceleration: xdd + a = -(2 xi w v + w^2 x)
        abs_acc = -(2 * xi * omega * v + omega2 * x)
        max_d = np.maximum(max_d, np.abs(x))
        max_v = np.maximum(max_v, np.abs(v))
        max_a = np.maximum(max_a, np.abs(abs_acc))
    s_d = max_d
    s_v = s_d * omega
    s_a = s_d * omega2
    return {
        "periods": periods,
        "S_d": s_d, "S_v": s_v, "S_a": s_a,
        "true_max_velocity": max_v, "true_max_acceleration": max_a,
        "PGA": float(np.max(np.abs(acc))),
        "PGV": float(np.max(np.abs(cumtrapz(acc, dx=dt)))),
    }


# --------------------------------------------------------------------------
# Savitzky-Golay smoothing (reference N11: templates/paramtable.py savgol)
# --------------------------------------------------------------------------

def savgol_coeffs(window_size: int, order: int, deriv: int = 0,
                  rate: float = 1.0) -> np.ndarray:
    """The Savitzky-Golay convolution coefficients: row ``deriv`` of the
    pseudo-inverse of the local Vandermonde matrix (the published 1964
    construction). Shared by the kernel below AND the gate oracle
    (queries_funclib._sg_terms inlines these exact floats), so the two
    can never diverge."""
    window_size, order = int(window_size), int(order)
    if window_size % 2 != 1 or window_size < 1:
        raise ValueError("window_size must be a positive odd number")
    if window_size < order + 2:
        raise ValueError("window_size is too small for the polynomial order")
    half = (window_size - 1) // 2
    b = np.array([[k ** i for i in range(order + 1)]
                  for k in range(-half, half + 1)], dtype=float)
    return np.linalg.pinv(b)[deriv] * (rate ** deriv) * math.factorial(deriv)


def savitzky_golay(y: np.ndarray, window_size: int, order: int,
                   deriv: int = 0, rate: float = 1.0) -> np.ndarray:
    """Savitzky-Golay polynomial least-squares smoothing (scipy-free).

    The convolution coefficients come from the pseudo-inverse of the local
    Vandermonde matrix (the published 1964 construction). Edges are handled
    by mirroring, like the classic implementation. A window of width w and
    order p reproduces any degree-<=p polynomial exactly (deriv=0).
    """
    y = np.asarray(y, dtype=float)
    window_size = int(window_size)
    # a window wider than the mirror-padded signal would yield an output
    # of the WRONG length (np.convolve 'valid' shrinks — or, operands
    # swapped, grows — the result), silently misaligning every consumer:
    # clamp to the largest odd window the signal supports, and fall back
    # to the identity when even the minimal window cannot fit
    max_win = 2 * len(y) - 1
    if window_size > max_win:
        window_size = max_win if max_win % 2 else max_win - 1
    if window_size < order + 2:
        return y.copy() if deriv == 0 else np.zeros_like(y)
    half = (window_size - 1) // 2
    m = savgol_coeffs(window_size, order, deriv, rate)
    # mirror-pad the ends (values reflected about the end points)
    first = y[0] - np.abs(y[1:half + 1][::-1] - y[0])
    last = y[-1] + np.abs(y[-half - 1:-1][::-1] - y[-1])
    padded = np.concatenate((first, y, last))
    return np.convolve(m[::-1], padded, mode="valid")
