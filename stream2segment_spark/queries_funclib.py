"""Catalog entries rotated in for round 3: operators that previously had
only local pytest coverage get strong gate oracles.

- ``funclib_spectra`` — N1-N3 (fft/ampspec/powspec), N5 (trim/argtrim)
  and the freqs/dfreq axis, value-checked against a DuckDB direct-DFT
  oracle plus the Parseval identity;
- ``scalar_seed_id`` — J11/F14 seed-id fallback + the O5
  correlated-first-row shape as a window;
- ``source_sniff`` — K7 compression sniffing (real gzip/bz2/zlib/zip
  payload roundtrips, md5-verified) + P4 ``withdata``.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F

from stream2segment_spark import columns as C
from stream2segment_spark.queries_catalog import register
from stream2segment_spark.schema import load_table

_N, _DELTA = 64, 0.01  # samples per vector, seconds per sample

# Nigam-Jennings response-spectra gate parameters: the coefficient
# literals are computed ONCE by the same helper the kernel uses
# (funclib/ndarrays.nigam_jennings_coefficients) and inlined into the
# SQL with full repr precision, so both engines run the identical
# float64 recurrence.
_RS_PERIODS = (0.1, 0.5)
_RS_DAMP = 0.05


_BP_FMIN, _BP_FMAX = 2.0, 15.0  # Hz; nyquist 50 Hz, no clip


def _bp_literals():
    """Taper factors and rfft-bin gains as SQL list literals — produced
    by the SAME functions the kernel uses (taper_hann on ones;
    butterworth_zerophase_response), so both engines apply identical
    float64 factors."""
    import numpy as _np

    from stream2segment_spark.funclib.traces import (
        butterworth_zerophase_response, taper_hann)
    tap = taper_hann(_np.ones(_N))
    h = butterworth_zerophase_response(_N, _DELTA, _BP_FMIN, _BP_FMAX)
    fmt = lambda a: "[" + ", ".join(repr(float(v)) for v in a) + "]"
    return fmt(tap), fmt(h)


def _rs_coef_values() -> str:
    import numpy as _np

    from stream2segment_spark.funclib.ndarrays import (
        nigam_jennings_coefficients)
    cf = nigam_jennings_coefficients(
        _np.array(_RS_PERIODS), _DELTA, _RS_DAMP)
    keys = ("a11", "a12", "a21", "a22", "b11", "b12", "b21", "b22",
            "omega", "omega2")
    rows = []
    for i in range(len(_RS_PERIODS)):
        vals = ", ".join(repr(float(cf[k][i])) for k in keys)
        rows.append(f"({i}, {vals})")
    return ", ".join(rows)


# N14 demo instrument: broadband velocity-transducer pole-zero shape,
# normalized to unit passband gain and sensitivity 1 so deconvolved
# values stay O(1) at the gate's rounding (real instruments only scale
# this by A0*sensitivity; the complex machinery is identical).
_RR_POLES = (complex(-0.037004, 0.037016), complex(-0.037004, -0.037016),
             complex(-251.33, 0.0), complex(-131.04, -467.29),
             complex(-131.04, 467.29))
_RR_ZEROS = (0j, 0j)
_RR_WL_DB = 60.0


def _rr_literals():
    """Water-leveled inverse-response complex gains per rfft bin, from
    the SAME functions the kernel applies (funclib/response.py), inlined
    as (re, im) list literals."""
    import numpy as _np

    from stream2segment_spark.funclib.response import (
        PAZResponse, invert_spec_water_level, paz_frequency_response)
    a0 = 1.0 / abs(paz_frequency_response(
        _np.array([10.0]), _RR_POLES, _RR_ZEROS, gain=1.0)[0])
    paz = PAZResponse(poles=_RR_POLES, zeros=_RR_ZEROS,
                      normalization=a0, sensitivity=1.0)
    f = _np.fft.rfftfreq(_N, d=_DELTA)
    g = invert_spec_water_level(paz.frequency_response(f), _RR_WL_DB)
    fmt = lambda a: "[" + ", ".join(repr(float(v)) for v in a) + "]"
    return fmt(g.real), fmt(g.imag), paz


def _mc_chain():
    """Demo MULTI-STAGE response chain exercising every stage type the
    parser emits (funclib/response.py): analog PolesZeros, gain-only
    digitizer, symmetric (zero-phase) FIR, and an asymmetric FIR whose
    Decimation/Correction exactly compensates its 2-sample delay — the
    evalresp asymmetric-FIR rule. Stage gains multiply to 1 so
    deconvolved values stay O(1) at the gate's rounding."""
    from stream2segment_spark.funclib.response import (
        ChannelResponse, CoefficientsStage, PolesZerosStage,
        paz_frequency_response)
    import numpy as _np
    a0 = 1.0 / abs(paz_frequency_response(
        _np.array([10.0]), _RR_POLES, _RR_ZEROS, gain=1.0)[0])
    fs = 1.0 / _DELTA
    return ChannelResponse(
        stages=(
            PolesZerosStage(poles=_RR_POLES, zeros=_RR_ZEROS,
                            normalization=a0, gain=4.0),
            CoefficientsStage(gain=0.5),                   # digitizer
            CoefficientsStage(numerator=(0.25, 0.5, 0.25),
                              input_sample_rate=fs, gain=0.5,
                              symmetry="NONE"),  # palindrome: centered
            CoefficientsStage(numerator=(0.0, 0.0, 1.0),
                              input_sample_rate=fs,
                              correction=2.0 * _DELTA),    # asym, corr
        ),
        sensitivity=1.0, input_units="M/S")


def _mc_literals():
    """Water-leveled inverse of the full multi-stage chain response per
    rfft bin, from the SAME composition + inversion functions the kernel
    applies, inlined as (re, im) list literals."""
    import numpy as _np

    from stream2segment_spark.funclib.response import (
        invert_spec_water_level)
    chain = _mc_chain()
    f = _np.fft.rfftfreq(_N, d=_DELTA)
    g = invert_spec_water_level(chain.frequency_response(f), _RR_WL_DB)
    fmt = lambda a: "[" + ", ".join(repr(float(v)) for v in a) + "]"
    return fmt(g.real), fmt(g.imag), chain


def _wa_literals():
    """Wood-Anderson frequency-response complex gains per rfft bin
    (traces.synth_wood_anderson:155-170 — the published WA pole-zero
    response at sensitivity 2080), inlined as (re, im) list literals from
    the SAME paz_frequency_response the kernel calls."""
    import numpy as _np

    from stream2segment_spark.funclib.traces import (
        WOOD_ANDERSON_POLES, WOOD_ANDERSON_SENSITIVITY,
        WOOD_ANDERSON_ZEROS, paz_frequency_response)
    f = _np.fft.rfftfreq(_N, d=_DELTA)
    h = paz_frequency_response(f, WOOD_ANDERSON_POLES, WOOD_ANDERSON_ZEROS,
                               WOOD_ANDERSON_SENSITIVITY)
    fmt = lambda a: "[" + ", ".join(repr(float(v)) for v in a) + "]"
    return fmt(h.real), fmt(h.imag)


_BP_TAPER, _BP_GAIN = _bp_literals()
_RR_GRE, _RR_GIM, _RR_PAZ = _rr_literals()
_WA_GRE, _WA_GIM = _wa_literals()
_MC_GRE, _MC_GIM, _MC_CHAIN = _mc_literals()


@register(
    "funclib_spectra",
    # r7 rotation: driver-green r4-r6 (freshest possible row); slot
    # freed for an entry whose module changed after its last gate row
    # (tools/rotation_check.py selection)
    f"""WITH RECURSIVE b AS MATERIALIZED (
          SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS x
          FROM embeddings),
        rcoef (pid, a11, a12, a21, a22, b11, b12, b21, b22,
               omega, omega2) AS (VALUES {_rs_coef_values()}),
        rrec AS (
          SELECT vec_id, pid, 1 AS step,
                 0.0::DOUBLE AS xs, 0.0::DOUBLE AS vs, 0.0::DOUBLE AS maxd
          FROM b, rcoef
          UNION ALL
          SELECT r.vec_id, r.pid, r.step + 1,
                 c.a11*r.xs + c.a12*r.vs
                   + c.b11*b.x[r.step] + c.b12*b.x[r.step+1],
                 c.a21*r.xs + c.a22*r.vs
                   + c.b21*b.x[r.step] + c.b22*b.x[r.step+1],
                 greatest(r.maxd, abs(c.a11*r.xs + c.a12*r.vs
                   + c.b11*b.x[r.step] + c.b12*b.x[r.step+1]))
          FROM rrec r JOIN rcoef c ON c.pid = r.pid
               JOIN b ON b.vec_id = r.vec_id
          WHERE r.step <= {_N - 1}),
        rs AS MATERIALIZED (SELECT r.vec_id, r.pid, r.maxd, c.omega, c.omega2
               FROM rrec r JOIN rcoef c ON c.pid = r.pid
               WHERE r.step = {_N}),
        bp AS MATERIALIZED (
          -- N9 bandpass replay: taper (literal Hann factors) -> direct
          -- rfft (33 bins) -> literal Butterworth gains -> inverse DFT
          SELECT vec_id,
                 list_transform(range(0, 64),
                   j -> x[j+1] * ({_BP_TAPER})[j+1]) AS tx
          FROM b),
        sp AS MATERIALIZED (  -- raw rfft of the tapered signal, shared by bp and rr
          SELECT vec_id,
                 list_transform(range(0, 33), k ->
                   list_sum(list_transform(range(0, 64),
                       n -> tx[n+1] * cos(2*pi()*k*n/64)))) AS xre,
                 list_transform(range(0, 33), k ->
                   0.0 - list_sum(list_transform(range(0, 64),
                       n -> tx[n+1] * sin(2*pi()*k*n/64)))) AS xim
          FROM bp),
        bpf AS MATERIALIZED (
          SELECT vec_id,
                 list_transform(range(0, 33), k ->
                   ({_BP_GAIN})[k+1] * xre[k+1]) AS yre,
                 list_transform(range(0, 33), k ->
                   ({_BP_GAIN})[k+1] * xim[k+1]) AS yim
          FROM sp),
        bpo AS MATERIALIZED (
          SELECT vec_id,
                 list_transform(range(0, 64), j ->
                   (list_sum(list_transform(range(0, 33), k ->
                      (CASE WHEN k = 0 OR k = 32 THEN 1.0 ELSE 2.0 END)
                      * (yre[k+1] * cos(2*pi()*k*j/64)
                         - yim[k+1] * sin(2*pi()*k*j/64))))) / 64) AS bpx
          FROM bpf),
        rrf AS MATERIALIZED (  -- N14: complex multiply by the literal inverse response
          SELECT vec_id,
                 list_transform(range(0, 33), k ->
                   ({_RR_GRE})[k+1] * xre[k+1]
                   - ({_RR_GIM})[k+1] * xim[k+1]) AS zre,
                 list_transform(range(0, 33), k ->
                   ({_RR_GRE})[k+1] * xim[k+1]
                   + ({_RR_GIM})[k+1] * xre[k+1]) AS zim
          FROM sp),
        rro AS MATERIALIZED (
          SELECT vec_id,
                 list_transform(range(0, 64), j ->
                   (list_sum(list_transform(range(0, 33), k ->
                      (CASE WHEN k = 0 OR k = 32 THEN 1.0 ELSE 2.0 END)
                      * (zre[k+1] * cos(2*pi()*k*j/64)
                         - zim[k+1] * sin(2*pi()*k*j/64))))) / 64) AS rrx
          FROM rrf),
        mcf AS MATERIALIZED (  -- multi-stage chain: literal inverse-chain gains
          SELECT vec_id,
                 list_transform(range(0, 33), k ->
                   ({_MC_GRE})[k+1] * xre[k+1]
                   - ({_MC_GIM})[k+1] * xim[k+1]) AS mre,
                 list_transform(range(0, 33), k ->
                   ({_MC_GRE})[k+1] * xim[k+1]
                   + ({_MC_GIM})[k+1] * xre[k+1]) AS mim
          FROM sp),
        mco AS MATERIALIZED (
          SELECT vec_id,
                 list_transform(range(0, 64), j ->
                   (list_sum(list_transform(range(0, 33), k ->
                      (CASE WHEN k = 0 OR k = 32 THEN 1.0 ELSE 2.0 END)
                      * (mre[k+1] * cos(2*pi()*k*j/64)
                         - mim[k+1] * sin(2*pi()*k*j/64))))) / 64) AS mcx
          FROM mcf),
        waf AS MATERIALIZED (  -- N11: complex multiply by the literal WA response
          SELECT vec_id,
                 list_transform(range(0, 33), k ->
                   ({_WA_GRE})[k+1] * xre[k+1]
                   - ({_WA_GIM})[k+1] * xim[k+1]) AS wre,
                 list_transform(range(0, 33), k ->
                   ({_WA_GRE})[k+1] * xim[k+1]
                   + ({_WA_GIM})[k+1] * xre[k+1]) AS wim
          FROM sp),
        wao AS MATERIALIZED (
          SELECT vec_id,
                 list_transform(range(0, 64), j ->
                   (list_sum(list_transform(range(0, 33), k ->
                      (CASE WHEN k = 0 OR k = 32 THEN 1.0 ELSE 2.0 END)
                      * (wre[k+1] * cos(2*pi()*k*j/64)
                         - wim[k+1] * sin(2*pi()*k*j/64))))) / 64) AS wax
          FROM waf),
        s AS MATERIALIZED (
          SELECT vec_id, x,
                 list_transform(range(0, 33), k -> sqrt(
                   pow(list_sum(list_transform(range(0, 64),
                       n -> x[n+1] * cos(2*pi()*k*n/64))), 2)
                 + pow(list_sum(list_transform(range(0, 64),
                       n -> x[n+1] * sin(2*pi()*k*n/64))), 2))) AS amp
          FROM b),
        t AS MATERIALIZED (
          SELECT vec_id, x, amp,
                 least(greatest(0, CAST(ceil(((vec_id % 7) * 0.017)
                                             / {_DELTA}) AS INT)), 64) AS i0,
                 least(greatest(0, CAST(floor((0.64 - (vec_id % 5) * 0.011)
                                              / {_DELTA}) AS INT) + 1),
                       64) AS i1
          FROM s)
        SELECT t.vec_id,
               CAST(list_position(amp[2:33], list_max(amp[2:33])) AS INT)
                 AS peak_bin,
               round(list_position(amp[2:33], list_max(amp[2:33]))
                     * (1.0 / (64 * {_DELTA})), 6) AS dom_freq,
               round(list_max(amp[2:33]), 4) AS peak_amp,
               round(list_sum(list_transform(x, v -> v * v)), 6)
                 AS parseval_energy,
               i0 AS trim_i0, i1 AS trim_i1,
               round(coalesce(CASE WHEN i1 > i0
                                   THEN list_sum(x[i0+1:i1]) END, 0.0), 6)
                 AS trim_sum,
               round(r0.maxd * r0.omega2, 6) AS sa_p1,
               round(r1.maxd * r1.omega2, 6) AS sa_p2,
               round(r0.maxd * r0.omega, 8) AS sv_p1,
               round(r1.maxd * r1.omega, 8) AS sv_p2,
               round(list_sum(list_transform(o.bpx, v -> v * v)), 6)
                 AS bp_energy,
               round(list_max(list_transform(o.bpx, v -> abs(v))), 6)
                 AS bp_peakabs,
               round(list_sum(list_transform(rr.rrx, v -> v * v)), 6)
                 AS rr_energy,
               round(list_max(list_transform(rr.rrx, v -> abs(v))), 6)
                 AS rr_peakabs,
               round(list_sum(list_transform(wa.wax, v -> v * v)), 4)
                 AS wa_energy,
               round(list_max(list_transform(wa.wax, v -> abs(v))), 6)
                 AS wa_peakabs,
               round(list_sum(list_transform(mc.mcx, v -> v * v)), 6)
                 AS mc_energy,
               round(list_max(list_transform(mc.mcx, v -> abs(v))), 6)
                 AS mc_peakabs
        FROM t JOIN rs r0 ON r0.vec_id = t.vec_id AND r0.pid = 0
               JOIN rs r1 ON r1.vec_id = t.vec_id AND r1.pid = 1
               JOIN bpo o ON o.vec_id = t.vec_id
               JOIN rro rr ON rr.vec_id = t.vec_id
               JOIN wao wa ON wa.vec_id = t.vec_id
               JOIN mco mc ON mc.vec_id = t.vec_id""",
    gate=False,
)
def funclib_spectra(spark, sf_dir):
    """N1-N3 + N5 + freqs/dfreq through the REAL funclib kernels on the
    Arrow batch path, with a strong two-sided oracle:

    - the DuckDB side recomputes the amplitude spectrum by direct DFT
      (nested list lambdas), so fft->ampspec numerics are value-checked
      bin-for-bin at the rounded precision;
    - ``parseval_energy`` is derived HERE from the power spectrum
      (|X0|^2 + 2*sum interior + |X_N/2|^2)/N and in the oracle from the
      time-domain sum of squares — the Parseval identity only holds if
      the whole transform chain is right;
    - trim bounds replay argtrim's ceil/floor index math
      (funclib/ndarrays.py:58-81; reference's obspy-trim twin) on
      per-row-varying windows;
    - sa/sv columns: N8 response spectra — the exact Nigam-Jennings
      recurrence stepped by a DuckDB recursive CTE with kernel-identical
      inlined coefficients (bit-for-bit over 63 steps);
    - bp columns: N9 zero-phase Butterworth bandpass + Hann taper
      (traces.bandpass_zerophase) — the oracle tapers with the same
      literal factors, filters the direct-DFT spectrum with the same
      literal gains, and inverts; energy + peak summarize the filtered
      trace at the rounded precision;
    - wa columns: N11 Wood-Anderson synthesis (traces
      .synth_wood_anderson) — the published WA pole-zero response at
      sensitivity 2080 applied as literal complex gains over the same
      shared tapered-signal DFT (wa_energy rounds at 4 decimals: the
      2080x sensitivity scales energies ~1e6, putting the FFT-vs-DFT
      float tail at the 1e-7 absolute level);
    - mc columns: the MULTI-STAGE response chain (funclib/response
      .ChannelResponse — reference: obspy remove_response honoring the
      full StationXML stage chain, gui/webapp/mainapp/core.py:38-47)
      deconvolved through a 4-stage demo chain covering every stage
      type: analog PolesZeros, gain-only digitizer, zero-phase
      symmetric FIR, and an asymmetric FIR whose Decimation/Correction
      compensates its 2-sample delay (evalresp's asymmetric-FIR rule);
      the water-leveled inverse of the composed chain ships as literal
      complex gains from the same composition code pytest covers
      exact-value, so the gate verifies the Arrow-path application
      end-to-end like rr/wa."""
    emb = load_table(spark, sf_dir, "embeddings", parallel=True)
    out_schema = ("vec_id long, peak_bin int, dom_freq double, "
                  "peak_amp double, parseval_energy double, "
                  "trim_i0 int, trim_i1 int, trim_sum double, "
                  "sa_p1 double, sa_p2 double, sv_p1 double, sv_p2 double, "
                  "bp_energy double, bp_peakabs double, "
                  "rr_energy double, rr_peakabs double, "
                  "wa_energy double, wa_peakabs double, "
                  "mc_energy double, mc_peakabs double")

    return emb.select("vec_id", "embedding").mapInPandas(
        _spectra_kernels, out_schema)


def _spectra_kernels(batches: "Iterator[pd.DataFrame]"):
    """The Arrow-stage body of funclib_spectra, vectorized ACROSS rows
    via funclib/batch.py (r9 optimization round, guide §4.2): the
    per-row form paid ~30 numpy-call dispatches per 64-sample signal —
    pure Python overhead at this length — where one batched call chain
    over the stacked (B, 64) matrix does the same float64 arithmetic.
    Bit-identity with the per-row kernels is pinned primitive-by-
    primitive in tests/test_funclib_batch.py (exact array_equal) and was
    A/B-checked end-to-end against the per-row implementation on all
    three fixture SFs before the switch; the final scalar rounding stays
    Python's round() exactly as before (np.round's scale-multiply can
    differ from round() in the last ulp)."""
    from stream2segment_spark.funclib import batch as BK
    from stream2segment_spark.funclib.ndarrays import dfreq

    df_hz = dfreq(_N, _DELTA)
    rs_periods = np.array(_RS_PERIODS)
    cols = ["vec_id", "peak_bin", "dom_freq", "peak_amp",
            "parseval_energy", "trim_i0", "trim_i1", "trim_sum",
            "sa_p1", "sa_p2", "sv_p1", "sv_p2",
            "bp_energy", "bp_peakabs", "rr_energy", "rr_peakabs",
            "wa_energy", "wa_peakabs", "mc_energy", "mc_peakabs"]

    def r(vals, nd):
        return [round(float(v), nd) for v in vals]

    for pdf in batches:
        embs = pdf["embedding"].to_numpy()
        keep = np.array([e is not None for e in embs], dtype=bool)
        if not keep.any():      # dirty-data: no waveform, no row
            yield pd.DataFrame({c: [] for c in cols})
            continue
        vids = pdf["vec_id"].to_numpy()[keep].astype(np.int64)
        X = np.array([np.asarray(e, dtype=np.float64) for e in embs[keep]])

        sp = BK.fft_batch(X)
        amp = np.abs(sp)
        pw = np.square(amp)
        peak = np.argmax(amp[:, 1:], axis=1) + 1
        parseval = (pw[:, 0] + 2.0 * pw[:, 1:-1].sum(axis=1)
                    + pw[:, -1]) / _N
        # argtrim's ceil/floor index math, vectorized (bounds derive
        # from vec_id alone; both bounds are non-None so i0/i1 never are)
        minx = (vids % 7) * 0.017
        maxx = 0.64 - (vids % 5) * 0.011
        i0 = np.minimum(np.maximum(
            0, np.ceil(minx / _DELTA).astype(np.int64)), _N)
        i1 = np.minimum(np.maximum(
            0, np.floor(maxx / _DELTA).astype(np.int64) + 1), _N)
        # trim_sum: group rows by their (i0, i1) window (<= 35 distinct
        # combos) and sum each group's contiguous slice along axis 1 —
        # the same pairwise reduction as the per-row 1-D slice sum
        trim_sum = np.zeros(len(vids))
        for key in np.unique(i0 * (_N + 1) + i1):
            a, b = int(key) // (_N + 1), int(key) % (_N + 1)
            sel = np.flatnonzero((i0 == a) & (i1 == b))
            if b > a:
                trim_sum[sel] = X[sel, a:b].sum(axis=1)

        rsp = BK.response_spectrum_nigam_jennings_batch(
            X, _DELTA, rs_periods, _RS_DAMP)
        bpx = BK.bandpass_zerophase_batch(X, _DELTA, _BP_FMIN, _BP_FMAX)
        rrx = BK.remove_response_batch(X, _DELTA, _RR_PAZ, output="VEL",
                                       water_level_db=_RR_WL_DB)
        wax = BK.synth_wood_anderson_batch(X, _DELTA)
        mcx = BK.remove_response_batch(X, _DELTA, _MC_CHAIN, output="VEL",
                                       water_level_db=_RR_WL_DB)
        yield pd.DataFrame({
            "vec_id": vids,
            "peak_bin": peak,
            "dom_freq": r(peak * df_hz, 6),
            "peak_amp": r(amp[np.arange(len(vids)), peak], 4),
            "parseval_energy": r(parseval, 6),
            "trim_i0": i0, "trim_i1": i1,
            "trim_sum": r(trim_sum, 6),
            "sa_p1": r(rsp["S_a"][:, 0], 6),
            "sa_p2": r(rsp["S_a"][:, 1], 6),
            "sv_p1": r(rsp["S_v"][:, 0], 8),
            "sv_p2": r(rsp["S_v"][:, 1], 8),
            "bp_energy": r((bpx * bpx).sum(axis=1), 6),
            "bp_peakabs": r(np.abs(bpx).max(axis=1), 6),
            "rr_energy": r((rrx * rrx).sum(axis=1), 6),
            "rr_peakabs": r(np.abs(rrx).max(axis=1), 6),
            "wa_energy": r((wax * wax).sum(axis=1), 4),
            "wa_peakabs": r(np.abs(wax).max(axis=1), 6),
            "mc_energy": r((mcx * mcx).sum(axis=1), 6),
            "mc_peakabs": r(np.abs(mcx).max(axis=1), 6)})


@register(
    "scalar_seed_id",
    """WITH ev AS (
         SELECT *, CASE WHEN event_id % 3 = 0
                        THEN concat('GIVEN.', event_id) END AS data_seed_id,
                concat('N', coalesce(user_id, 0) % 3) AS net,
                concat('S', coalesce(user_id, 0) % 5) AS sta,
                CASE WHEN event_id % 2 = 0 THEN '' ELSE '00' END AS loc
         FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events))
       SELECT event_id,
              coalesce(data_seed_id,
                       concat_ws('.', net, sta, loc, 'HHZ')) AS seed_id,
              first_value(event_id) OVER (
                PARTITION BY user_id
                ORDER BY ts NULLS FIRST, event_id) AS first_event_id
       FROM ev""", gate=False,
)
def scalar_seed_id(spark, sf_dir):
    """J11/F14: seed-id build with the stored-value fallback
    (columns.seed_id_expr; reference Segment.seed_id's correlated CASE,
    process/db/models.py:554-584) over synthesized NSLC parts, plus the
    O5 correlated-LIMIT-1 shape as a first_value window (the
    distributed-safe rewrite of the reference's per-row subquery)."""
    ev = load_table(spark, sf_dir, "events")
    given = F.when(F.col("event_id") % 3 == 0,
                   F.concat(F.lit("GIVEN."), F.col("event_id")))
    uid = F.coalesce(F.col("user_id"), F.lit(0))
    net = F.concat(F.lit("N"), uid % 3)
    sta = F.concat(F.lit("S"), uid % 5)
    loc = F.when(F.col("event_id") % 2 == 0, F.lit("")).otherwise(F.lit("00"))
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc_nulls_first(), F.col("event_id"))
    return ev.select(
        "event_id",
        C.seed_id_expr(given, net, sta, loc, F.lit("HHZ")).alias("seed_id"),
        F.first("event_id").over(w).alias("first_event_id"))


@register(
    "source_sniff",
    """SELECT doc_id,
              CASE doc_id % 5 WHEN 0 THEN 'gzip' WHEN 1 THEN 'bz2'
                   WHEN 2 THEN 'zlib' WHEN 3 THEN 'zip'
                   ELSE 'plain' END AS method,
              md5(CASE WHEN doc_id % 5 = 4
                       THEN 'DOC:' || coalesce(text, '')
                       ELSE coalesce(text, '') END) AS payload_md5,
              doc_id % 7 != 0 AS has_data
       FROM documents""", gate=False,
)
def source_sniff(spark, sf_dir):
    """K7 + P4: each document's text is compressed with a per-row method
    (real stdlib gzip/bz2/zlib/zip), then sniffed by magic bytes and
    decompressed back (sources/compression.py; reference
    process/db/models.py:220-252) — md5 of the recovered payload must
    equal md5 of the original text, so the whole compress->sniff->inflate
    cycle is byte-verified. Plain rows carry a 'DOC:' marker so text
    content can never collide with a magic prefix. ``has_data`` is the P4
    ``withdata`` predicate over a column nulled on doc_id % 7 == 0."""
    from stream2segment_spark.columns import withdata
    from stream2segment_spark.sources.compression import (
        compress_payload, sniff_decompress, sniff_format)

    docs = load_table(spark, sf_dir, "documents", parallel=False)
    methods = ("gzip", "bz2", "zlib", "zip")

    def roundtrip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, meth, payload, maybe = [], [], [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                raw = ("" if text is None else str(text)).encode("utf-8")
                sel = did % 5
                blob = (compress_payload(raw, methods[sel]) if sel < 4
                        else b"DOC:" + raw)
                ids.append(did)
                meth.append(sniff_format(blob))
                payload.append(sniff_decompress(blob))
                maybe.append(None if did % 7 == 0 else blob)
            yield pd.DataFrame({"doc_id": ids, "method": meth,
                                "payload": payload, "maybe_data": maybe})

    staged = docs.select("doc_id", "text").mapInPandas(
        roundtrip,
        "doc_id long, method string, payload binary, maybe_data binary")
    return staged.select(
        "doc_id", "method",
        F.md5("payload").alias("payload_md5"),
        withdata(F.col("maybe_data")).alias("has_data"))


def _sg_terms(n: int = 64, half: int = 2, order: int = 2) -> str:
    """The Savitzky-Golay convolution as literal SQL: the kernel's OWN
    coefficients (ndarrays.savgol_coeffs — same floats, can't diverge)
    at full repr precision times the mirror-padded sample
    (ndarrays.savitzky_golay — virtual y[-j] = y1 - |y[1+j]-y1|,
    y[n+j] = y[n] + |y[n-j]-y[n]|, 1-based)."""
    from stream2segment_spark.funclib.ndarrays import savgol_coeffs
    m = savgol_coeffs(2 * half + 1, order)

    def pv(off: int) -> str:
        p = f"(u.pos + ({off}))"
        x = "e.embedding"
        return (f"CASE WHEN {p} BETWEEN 1 AND {n} THEN {x}[{p}]::DOUBLE "
                f"WHEN {p} < 1 THEN {x}[1]::DOUBLE "
                f"- abs({x}[2 - {p}]::DOUBLE - {x}[1]::DOUBLE) "
                f"ELSE {x}[{n}]::DOUBLE "
                f"+ abs({x}[{2 * n} - {p}]::DOUBLE - {x}[{n}]::DOUBLE) END")

    return " + ".join(f"({m[j]!r}) * ({pv(j - half)})"
                      for j in range(2 * half + 1))


@register(
    "funclib_coda_smooth",
    f"""WITH u AS (
         SELECT vec_id, i.i AS pos, embedding[i.i]::DOUBLE AS x
         FROM embeddings, range(1, 65) i(i)),
       sg AS (
         SELECT u.vec_id, u.pos, {_sg_terms()} AS sg
         FROM u JOIN embeddings e USING (vec_id)),
       h AS (
         SELECT vec_id, pos,
                CASE WHEN (pos - 1) <= 58
                     THEN CAST(round((pos - 1) * 0.07) AS INT)
                     ELSE 63 - (pos - 1) END AS n
         FROM u),
       t AS (
         SELECT h.vec_id, h.pos,
                CASE WHEN h.n < 2 THEN e.embedding[h.pos]::DOUBLE
                     ELSE list_sum(list_transform(
                            range(-(h.n - 1), h.n),
                            o -> (h.n - abs(o))
                                 * e.embedding[h.pos + o]::DOUBLE))
                          / (h.n * h.n) END AS tsm
         FROM h JOIN embeddings e USING (vec_id)),
       s AS (
         SELECT vec_id, pos,
                avg(x) OVER (PARTITION BY vec_id ORDER BY pos
                             ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
                  AS smooth,
                sum(x * x) OVER (PARTITION BY vec_id ORDER BY pos
                                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
                  / 4 AS sta,
                sum(x * x) OVER (PARTITION BY vec_id ORDER BY pos
                                 ROWS BETWEEN 15 PRECEDING AND CURRENT ROW)
                  / 16 AS lta,
                count(*) OVER (PARTITION BY vec_id ORDER BY pos
                               ROWS BETWEEN 15 PRECEDING AND CURRENT ROW)
                  AS nl
         FROM u)
       SELECT s.vec_id, s.pos, round(s.smooth, 6) AS smooth,
              round(CASE WHEN s.nl < 16 THEN 0.0
                         WHEN s.lta > 0 THEN s.sta / s.lta
                         ELSE 0.0 END, 6) AS stalta,
              round(t.tsm, 6) AS tsmooth,
              round(sg.sg, 6) AS sgsmooth
       FROM s JOIN t ON s.vec_id = t.vec_id AND s.pos = t.pos
              JOIN sg ON s.vec_id = sg.vec_id AND s.pos = sg.pos""", gate=False,
)
def funclib_coda_smooth(spark, sf_dir):
    """W4 + N10 building blocks through the REAL kernels on the Arrow
    path: centered moving-average smoothing with edge shrink
    (funclib/coda.moving_average — the reference's envelope smoothing,
    process/funclib/traces.py) and the cumulative-sum STA/LTA trigger
    ratio (coda.sta_lta, zero until the long-term window fills), both
    replayed exactly by DuckDB window frames over the unnested arrays;
    plus N7 triangsmooth (ndarrays.py) — the index-proportional
    triangular window replayed offset-by-offset with a DuckDB list
    lambda (winlen_ratio 0.07 keeps np.round's banker's rounding and
    SQL round() in agreement at every half-width this data reaches);
    plus N11 Savitzky-Golay smoothing (ndarrays.savitzky_golay,
    window=5/order=2 — the reference template's smoothing kernel):
    the oracle inlines the pinv-Vandermonde convolution coefficients at
    repr precision and replays the mirror-padded edges as CASE terms.
    The FFT-Hilbert envelope magnitude itself stays exact-value
    pytest-covered (test_funclib) — a DFT replay already gate-checks the
    spectral path in funclib_spectra."""
    from stream2segment_spark.funclib import udfs as U
    emb = load_table(spark, sf_dir, "embeddings", parallel=True)
    sm = U.moving_average_udf(5)(F.col("embedding"))
    st = U.sta_lta_udf(4, 16)(F.col("embedding"))
    ts = U.triangsmooth_udf(0.07)(F.col("embedding"))
    sg = U.savgol_udf(5, 2)(F.col("embedding"))
    z = F.posexplode(F.arrays_zip(sm.alias("sm"), st.alias("st"),
                                  ts.alias("ts"), sg.alias("sg")))
    out = emb.select("vec_id", z.alias("pos", "v"))
    return out.select(
        "vec_id", (F.col("pos") + 1).alias("pos"),
        F.round(F.col("v.sm"), 6).alias("smooth"),
        F.round(F.col("v.st"), 6).alias("stalta"),
        F.round(F.col("v.ts"), 6).alias("tsmooth"),
        F.round(F.col("v.sg"), 6).alias("sgsmooth"))


# ---------------------------------------------------------------------------
# plot_downsample — X4 (plot producers) driver-verified (r5)
# ---------------------------------------------------------------------------
# The plots layer (plots.make_producer + downsample_minmax, the data side
# of the reference GUI core.py:240-415) previously had only pytest
# coverage. This entry pushes the embeddings vectors through the REAL
# Arrow producer UDFs and replays every struct field in SQL:
# - trace: min/max-per-bucket downsampling (dim 64, 16 buckets -> the
#   linspace edges are the exact integers 0,4,...,64, so the bucket of
#   element i is i // 4; y is interleaved (min, max) per bucket);
# - cumulative: cumsumsq (running sum of squares, min-max normalized,
#   then the same min/max downsample) — the oracle's running window sum
#   adds in the same left-to-right order as np.cumsum.

_PD_BUCKETS = 16


@register(
    "plot_downsample",
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                  WHERE vec_id < 2000),
        x AS (SELECT vec_id, unnest(v) AS s,
                     unnest(range(len(v))) AS i FROM e),
        tr AS (SELECT vec_id, i // 4 AS b, min(s) AS mn, max(s) AS mx
               FROM x GROUP BY vec_id, i // 4),
        trace_rows AS (
          SELECT vec_id, CAST(2 * b AS INT) AS pos, mn AS y FROM tr
          UNION ALL
          SELECT vec_id, CAST(2 * b + 1 AS INT) AS pos, mx AS y FROM tr),
        cs AS (SELECT vec_id, i,
                      sum(s * s) OVER (PARTITION BY vec_id ORDER BY i
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS c
               FROM x),
        nrm AS (SELECT vec_id, i,
                       (c - first_value(c) OVER w)
                       / (last_value(c) OVER w
                          - first_value(c) OVER w) AS y
                FROM cs
                WINDOW w AS (PARTITION BY vec_id ORDER BY i
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND UNBOUNDED FOLLOWING)),
        cb AS (SELECT vec_id, i // 4 AS b, min(y) AS mn, max(y) AS mx
               FROM nrm GROUP BY vec_id, i // 4),
        cum_rows AS (
          SELECT vec_id, CAST(2 * b AS INT) AS pos, mn AS y FROM cb
          UNION ALL
          SELECT vec_id, CAST(2 * b + 1 AS INT) AS pos, mx AS y FROM cb)
       SELECT 'trace' AS op, vec_id, pos, round(y, 6) AS y,
              64 AS n_raw, 0.5 AS dx, 'trace' AS label
       FROM trace_rows
       UNION ALL
       SELECT 'cumulative' AS op, vec_id, pos, round(y, 6) AS y,
              64 AS n_raw, 0.5 AS dx, 'cumulative' AS label
       FROM cum_rows""", gate=False,
)
def plot_downsample(spark, sf_dir):
    """X4 via the real producer UDFs (plots.make_producer): the trace
    producer exercises downsample_minmax (peak-preserving min/max
    interleave), the cumulative producer exercises
    funclib.ndarrays.cumsumsq through the same Arrow batch path the GUI
    and the HTML report use; x0/dx/n_raw/label fields of the plot
    struct are all value-checked. Scale shape: map-only Arrow stage per
    producer, no shuffle (the same per-segment independence that lets
    the report run on millions of segments)."""
    from stream2segment_spark.funclib.ndarrays import cumsumsq
    from stream2segment_spark.plots import make_producer
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") < 2000).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double"))
        .alias("samples"),
        F.lit(0.5).alias("delta"))
    trace = make_producer("trace", lambda x, dt: x,
                          n_buckets=_PD_BUCKETS)
    cum = make_producer("cumulative", lambda x, dt: cumsumsq(x),
                        n_buckets=_PD_BUCKETS)

    def rows(producer, op):
        p = producer(F.col("samples"), F.col("delta"))
        return (base.select("vec_id", p.alias("p"))
                .select(F.lit(op).alias("op"), "vec_id",
                        F.posexplode("p.y").alias("pos", "y"),
                        F.col("p.n_raw").alias("n_raw"),
                        F.col("p.dx").alias("dx"),
                        F.col("p.label").alias("label"))
                .select("op", "vec_id", "pos", F.round("y", 6).alias("y"),
                        "n_raw", "dx", "label"))

    return rows(trace, "trace").unionByName(rows(cum, "cumulative"))
