"""Reference forms of the per-segment kernels, kept as test oracles.

These are the per-window-width ``triangsmooth`` loop and the per-word-class
Steim1/Steim2 decoders that ``funclib/ndarrays.py`` and
``sources/mseed.py`` carried before their one-pass rewrites, copied
unchanged. ``tests/test_kernel_oracles.py`` checks the library kernels
against them bit for bit (samples, smoothed values, error type and
message).
"""

from __future__ import annotations

import numpy as np

from stream2segment_spark.sources.mseed import MSeedError


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

    # group indices by window size; per group, accumulate the weighted sum
    # over offsets (vectorized across the group's indices)
    for n in np.unique(half):
        if n < 2:
            continue
        idxs = np.flatnonzero(half == n)
        acc = np.zeros(len(idxs))
        for off in range(-(n - 1), n):
            acc += (n - abs(off)) * arr[idxs + off]
        out[idxs] = acc / float(n * n)
    return out


def _decode_steim1(payload: bytes, n_samples: int, bo: str) -> np.ndarray:
    """Steim1: 64-byte frames of 16 big-endian u32 words; word 0 packs
    sixteen 2-bit nibbles (0=skip, 1=4xint8, 2=2xint16, 3=1xint32); frame 0
    words 1-2 are the forward/reverse integration constants.

    Fully numpy-vectorized across ALL frames: the nibble unpack is one
    broadcast shift, and each of the three packing types scatters its
    decoded diffs into the output with a repeat-offset index — no
    per-word Python loop (the earlier form topped out ~18k records/s/core;
    this is the decode-throughput hot path of the streaming stage)."""
    if n_samples <= 0:
        # header-only record: cumsum([]) has no out[0] to anchor
        return np.zeros(0)
    words = np.frombuffer(payload, dtype=">u4" if bo == ">" else "<u4")
    n_frames = len(words) // 16
    if n_frames == 0:
        raise MSeedError("Steim1 frame 0 missing integration constants")
    frames = words[:n_frames * 16].reshape(n_frames, 16)
    # nibble j of word w (w=1..15): bits 2*(15-w)..+1 of word 0
    shifts = (2 * (15 - np.arange(1, 16))).astype(np.uint32)
    nibs = (frames[:, :1] >> shifts[None, :]) & 0x3      # (n_frames, 15)
    x0 = int(frames[0, 1].astype(np.uint32).view(np.int32))
    xn = int(frames[0, 2].astype(np.uint32).view(np.int32))
    nibs = nibs.copy()
    nibs[0, 0] = 0  # frame 0 words 1-2 carry x0/xn, not data
    nibs[0, 1] = 0

    wf = np.ascontiguousarray(frames[:, 1:]).reshape(-1).astype(np.uint32)
    nf = nibs.reshape(-1).astype(np.int64)
    counts = np.choose(nf, [0, 4, 2, 1])
    ends = np.cumsum(counts)
    total = int(ends[-1]) if len(ends) else 0
    starts = ends - counts
    d = np.zeros(total, dtype=np.int64)

    m1 = nf == 1   # 4 x int8, big-endian byte order within the word
    if m1.any():
        v = wf[m1]
        b = np.stack([(v >> 24) & 0xFF, (v >> 16) & 0xFF,
                      (v >> 8) & 0xFF, v & 0xFF], axis=1)
        vals = b.astype(np.uint8).astype(np.int8).astype(np.int64)
        idx = (np.repeat(starts[m1], 4)
               + np.tile(np.arange(4), int(m1.sum())))
        d[idx] = vals.reshape(-1)
    m2 = nf == 2   # 2 x int16
    if m2.any():
        v = wf[m2]
        h = np.stack([(v >> 16) & 0xFFFF, v & 0xFFFF], axis=1)
        vals = h.astype(np.uint16).astype(np.int16).astype(np.int64)
        idx = (np.repeat(starts[m2], 2)
               + np.tile(np.arange(2), int(m2.sum())))
        d[idx] = vals.reshape(-1)
    m3 = nf == 3   # 1 x int32
    if m3.any():
        d[starts[m3]] = wf[m3].view(np.int32).astype(np.int64)

    d = d[:n_samples]
    if len(d) < n_samples:
        raise MSeedError(
            f"Steim1 payload holds {len(d)} diffs < {n_samples} samples")
    out = np.cumsum(d)
    out += x0 - out[0]  # first diff is vs the previous record; x0 anchors
    # samples are int32 and diffs are 32-bit two's-complement, which the
    # spec allows to WRAP mod 2^32; fold the int64 running sum back into
    # int32 (identity for non-wrapping data) before the xn consistency
    # check
    out = ((out + 2**31) & 0xFFFFFFFF) - 2**31
    if len(out) and out[-1] != xn:
        raise MSeedError(
            f"Steim1 reverse integration mismatch: {out[-1]} != {xn}")
    return out.astype(np.float64)


# Steim2 word classes: (c, dnib) -> (k diffs, w bits each). dnib lives in
# bits 31-30 of the data word for c=2/3; c=1 is 4x8-bit like Steim1.
# Public layout per the SEED 2.4 manual (also reference mseedlite.py:335).
_STEIM2_CLASSES = {
    (1, None): (4, 8),
    (2, 1): (1, 30), (2, 2): (2, 15), (2, 3): (3, 10),
    (3, 0): (5, 6), (3, 1): (6, 5), (3, 2): (7, 4),
}


def _decode_steim2(payload: bytes, n_samples: int, bo: str) -> np.ndarray:
    """Steim2 (encoding 11): same 64-byte frame / nibble-word structure as
    Steim1, but c=2 and c=3 words carry a 2-bit sub-code (dnib, bits
    31-30) selecting among 30/15/10-bit and 6/5/4-bit packed differences.
    Vectorized like :func:`_decode_steim1`: one mask + broadcast
    shift/mask/sign-extend per class, scatter by cumsum offsets."""
    if n_samples <= 0:
        # header-only record: cumsum([]) has no out[0] to anchor
        return np.zeros(0)
    words = np.frombuffer(payload, dtype=">u4" if bo == ">" else "<u4")
    n_frames = len(words) // 16
    if n_frames == 0:
        raise MSeedError("Steim2 frame 0 missing integration constants")
    frames = words[:n_frames * 16].reshape(n_frames, 16)
    shifts = (2 * (15 - np.arange(1, 16))).astype(np.uint32)
    nibs = ((frames[:, :1] >> shifts[None, :]) & 0x3).copy()
    x0 = int(frames[0, 1].astype(np.uint32).view(np.int32))
    xn = int(frames[0, 2].astype(np.uint32).view(np.int32))
    nibs[0, 0] = 0
    nibs[0, 1] = 0

    wf = np.ascontiguousarray(frames[:, 1:]).reshape(-1).astype(np.uint64)
    cf = nibs.reshape(-1).astype(np.int64)
    dnib = ((wf >> 30) & 0x3).astype(np.int64)

    counts = np.zeros(len(wf), dtype=np.int64)
    class_masks = []
    for (c, dn), (k, w) in _STEIM2_CLASSES.items():
        m = (cf == c) if dn is None else ((cf == c) & (dnib == dn))
        class_masks.append((m, k, w))
        counts[m] = k
    bad = (cf == 2) & (dnib == 0)
    if bad.any():
        raise MSeedError("Steim2 c=2 word with reserved dnib 0")
    ends = np.cumsum(counts)
    total = int(ends[-1]) if len(ends) else 0
    starts = ends - counts
    d = np.zeros(total, dtype=np.int64)

    for m, k, w in class_masks:
        if not m.any():
            continue
        v = wf[m]
        sh = (w * (k - 1 - np.arange(k))).astype(np.uint64)
        raw = (v[:, None] >> sh[None, :]) & ((1 << w) - 1)
        vals = raw.astype(np.int64)
        vals -= (vals >= (1 << (w - 1))) * (1 << w)
        idx = np.repeat(starts[m], k) + np.tile(np.arange(k), int(m.sum()))
        d[idx] = vals.reshape(-1)

    d = d[:n_samples]
    if len(d) < n_samples:
        raise MSeedError(
            f"Steim2 payload holds {len(d)} diffs < {n_samples} samples")
    out = np.cumsum(d)
    out += x0 - out[0]
    # fold into int32 — wrapping diffs are spec-legal (see Steim1)
    out = ((out + 2**31) & 0xFFFFFFFF) - 2**31
    if len(out) and out[-1] != xn:
        raise MSeedError(
            f"Steim2 reverse integration mismatch: {out[-1]} != {xn}")
    return out.astype(np.float64)
