"""Thornton-style candidate scores (1-D curve subset), vectorized.

The reference's second feature family: per-candidate "scores" over the
integrated profile / DM curve — curve-fit chi-squares (sine, sine²,
Gaussian), peak counts, S/N, histogram distance, peak offset
(provenance: BASELINE.json north_star "Thornton-style candidate
scores"; published descriptions in Thornton 2013 PhD thesis and
Bates et al. 2012, MNRAS 427:1052; /root/reference was empty, see
SURVEY.md §0 — formulas follow the published definitions).

Implemented as the same zero-object Arrow-batch pattern as
functions/moments.py: rows are grouped by array length inside each
batch, every group becomes one dense (rows, n) float64 matrix, and all
fits are SHARED-DESIGN-MATRIX least squares:

- sine / sine² fits are linear in a fixed Fourier basis -> one
  ``np.linalg.lstsq`` call per length-group fits EVERY row at once
  (multiple right-hand sides);
- the Gaussian fit is nonlinear in (center, width); we roll each
  profile so its peak sits at n/2 (gather by index — vectorized), which
  pins the center, then grid over a handful of widths, each width again
  a shared-design linear solve for (amplitude, offset).  No scipy.

Scale shape: pure map over batches — no shuffle, no state; the scan
partitioning is the job partitioning, identical to the Lyon moments.
"""

from __future__ import annotations

from functools import partial

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pulsarfeatureextractor_spark.functions.featureset import (
    Kernel,
    list_layout,
    map_features,
)

SCORE_FIELDS = [
    "sin_chi2",      # chi2/n of best-fit sine (fundamental) to the normalized profile
    "sin2_chi2",     # chi2/n of best-fit sine-squared (2nd harmonic basis)
    "gauss_chi2",    # chi2/n of best grid Gaussian fit
    "gauss_amp",     # fitted Gaussian amplitude
    "gauss_fwhm",    # fitted Gaussian FWHM in phase bins
    "n_peaks",       # local maxima above mean + 2*sigma (circular)
    "sn_ratio",      # (max - mean) / sigma_pop
    "hist_dist",     # L1 distance profile-histogram vs its Gaussian pdf
    "peak_offset",   # (argmax - n/2) / n, in [-0.5, 0.5)
    "quad_chi2",     # chi2/n of quadratic fit in a window around the peak
]

_WIDTH_FRACS = (1 / 64, 1 / 32, 1 / 16, 1 / 8, 1 / 4)  # FWHM grid / n


def _normalize(mat: np.ndarray) -> np.ndarray:
    lo = mat.min(axis=1, keepdims=True)
    hi = mat.max(axis=1, keepdims=True)
    rng = np.where(hi > lo, hi - lo, 1.0)
    return (mat - lo) / rng


def _lstsq_chi2(A: np.ndarray, Y: np.ndarray) -> "tuple[np.ndarray, np.ndarray]":
    """Fit Y (rows, n) ~= A (n, k) @ beta per row; return (beta, chi2/n)."""
    beta, *_ = np.linalg.lstsq(A, Y.T, rcond=None)  # (k, rows)
    resid = Y - (A @ beta).T
    return beta, (resid * resid).mean(axis=1)


def scores_matrix(mat: np.ndarray) -> np.ndarray:
    """Row-wise Thornton-style scores for a dense (rows, n) matrix."""
    mat = np.asarray(mat, dtype=np.float64)
    rows, n = mat.shape
    out = np.zeros((rows, len(SCORE_FIELDS)), dtype=np.float64)
    if n < 4:
        return out

    mu = mat.mean(axis=1)
    sigma = mat.std(axis=1)  # population
    p = _normalize(mat)
    k = np.arange(n)
    theta = 2.0 * np.pi * k / n

    # sine fit: basis [sin, cos, 1] (free phase via sin+cos)
    A1 = np.column_stack([np.sin(theta), np.cos(theta), np.ones(n)])
    _, sin_chi2 = _lstsq_chi2(A1, p)
    # sine^2 fit: sin^2(θ+φ) spans {cos 2θ, sin 2θ, 1}
    A2 = np.column_stack([np.sin(2 * theta), np.cos(2 * theta), np.ones(n)])
    _, sin2_chi2 = _lstsq_chi2(A2, p)

    # roll every profile so its argmax sits at n//2 -> shared Gaussian center
    amax = mat.argmax(axis=1)
    shift = (n // 2) - amax
    gather = (k[None, :] - shift[:, None]) % n
    rolled = np.take_along_axis(p, gather, axis=1)

    best_chi2 = np.full(rows, np.inf)
    best_amp = np.zeros(rows)
    best_w = np.zeros(rows)
    d = k - (n // 2)
    for frac in _WIDTH_FRACS:
        fwhm = max(frac * n, 1.0)
        s = fwhm / 2.3548200450309493  # FWHM -> sigma
        g = np.exp(-0.5 * (d / s) ** 2)
        Ag = np.column_stack([g, np.ones(n)])
        beta, chi2 = _lstsq_chi2(Ag, rolled)
        better = chi2 < best_chi2
        best_chi2 = np.where(better, chi2, best_chi2)
        best_amp = np.where(better, beta[0], best_amp)
        best_w = np.where(better, fwhm, best_w)

    # peaks above mean + 2 sigma (circular neighbors)
    thr = (mu + 2.0 * sigma)[:, None]
    left = np.roll(mat, 1, axis=1)
    right = np.roll(mat, -1, axis=1)
    n_peaks = ((mat > thr) & (mat > left) & (mat > right)).sum(axis=1)

    with np.errstate(divide="ignore", invalid="ignore"):
        sn = np.where(sigma > 0, (mat.max(axis=1) - mu) / sigma, 0.0)

    # histogram (10 bins over [0,1]) vs Gaussian pdf of the profile's own
    # normalized mean/sigma — L1 distance of the two mass vectors
    bins = np.clip((p * 10).astype(np.int64), 0, 9)
    flat = bins + 10 * np.arange(rows)[:, None]
    counts = np.bincount(flat.ravel(), minlength=rows * 10).reshape(rows, 10) / n
    centers = (np.arange(10) + 0.5) / 10
    pmu = p.mean(axis=1)[:, None]
    psd = np.maximum(p.std(axis=1)[:, None], 1e-9)
    pdf = np.exp(-0.5 * ((centers[None, :] - pmu) / psd) ** 2)
    tot = pdf.sum(axis=1, keepdims=True)
    with np.errstate(invalid="ignore"):
        pdf = np.where(tot > 0, pdf / np.where(tot > 0, tot, 1.0), 0.0)
    hist_dist = np.where(
        tot[:, 0] > 0, np.abs(counts - pdf).sum(axis=1), 0.0
    )

    peak_offset = (amax - (n / 2.0)) / n

    # quadratic fit in a +/- n//8 window around the (rolled) peak
    half = max(n // 8, 2)
    win = slice(n // 2 - half, n // 2 + half + 1)
    xq = d[win].astype(np.float64)
    Aq = np.column_stack([xq * xq, xq, np.ones_like(xq)])
    _, quad_chi2 = _lstsq_chi2(Aq, rolled[:, win])

    out[:, 0] = sin_chi2
    out[:, 1] = sin2_chi2
    out[:, 2] = best_chi2
    out[:, 3] = best_amp
    out[:, 4] = best_w
    out[:, 5] = n_peaks
    out[:, 6] = sn
    out[:, 7] = hist_dist
    out[:, 8] = peak_offset
    out[:, 9] = quad_chi2
    return out


def _by_length(arr, kernel, width: int, min_len: int, step: int = 1):
    """(n, width) rows of ``kernel`` over a pyarrow list array, one call
    per distinct row length on the dense (rows, length) float64 matrix,
    scattered back into input order.  Lengths below ``min_len`` or not
    a multiple of ``step`` (empty and NULL rows included) yield zeros."""
    values, starts, counts = list_layout(arr)
    values = np.asarray(values, dtype=np.float64)
    out = np.zeros((len(counts), width), dtype=np.float64)
    for length in np.unique(counts):
        if length < min_len or length % step:
            continue
        idxs = np.nonzero(counts == length)[0]
        out[idxs, :] = kernel(values[starts[idxs, None] + np.arange(length)])
    return out


def scores_list_array(arr) -> np.ndarray:
    """(n, len(SCORE_FIELDS)) scores for a pyarrow list array; rows
    shorter than 4 (empty and NULL rows included) score all zeros."""
    return _by_length(arr, scores_matrix, len(SCORE_FIELDS), 4)


def with_thornton_scores(df: DataFrame, tokens_col: str = "tokens") -> DataFrame:
    """Append the Thornton-style score columns (one
    ``featureset.map_features`` crossing, zero-object)."""
    return map_features(
        df, [Kernel(tokens_col, tuple(SCORE_FIELDS), scores_list_array)]
    )


SUBBAND_FIELDS = [
    "sb_corr_mean",      # mean Pearson r(sub-band, integrated profile)
    "sb_corr_frac",      # fraction of sub-bands with r >= 0.5 (persistence)
    "sb_peak_jitter",    # RMS circular distance of band peaks from the
                         # integrated peak, as a phase fraction
    "sb_intensity_cv",   # std/mean of per-band total intensity
    "sb_snr_mean",       # mean per-band (max - mean) / sigma_pop
    "sb_peak_col_cv",    # std/mean of the peak-phase column across bands
]


def subband_scores_cube(cube: np.ndarray) -> np.ndarray:
    """Row-wise sub-band scores for a dense (rows, n_chan, n_bins) cube.

    The 2-D score family of the reference's published lineage (Thornton
    2013 thesis; Bates et al. 2012, MNRAS 427:1052): a real pulsar's
    pulse PERSISTS through frequency sub-bands at a stable phase, while
    interference lives in few bands or drifts — so the scores rate each
    band's correlation with the integrated profile, the stability of
    the per-band peak phase, and the evenness of per-band intensity.
    The same kernel applies unchanged to time sub-integrations
    (time x phase): both cubes are (channels, bins).

    Every reduction is within-row (axis math over the cube), so results
    are bit-identical regardless of how rows are batched — the property
    that lets a locally generated VALUES oracle pin the distributed run
    exactly (tools/gen_value_oracles.py).
    """
    cube = np.asarray(cube, dtype=np.float64)
    rows, n_chan, n_bins = cube.shape
    out = np.zeros((rows, len(SUBBAND_FIELDS)), dtype=np.float64)
    if n_bins < 4 or n_chan < 2:
        return out

    prof = cube.sum(axis=1)                                  # (rows, B)
    pc = prof - prof.mean(axis=1, keepdims=True)
    bc = cube - cube.mean(axis=2, keepdims=True)
    cov = (bc * pc[:, None, :]).mean(axis=2)                 # (rows, C)
    bsd = cube.std(axis=2)                                   # population
    psd = prof.std(axis=1)
    denom = bsd * psd[:, None]
    with np.errstate(invalid="ignore"):
        r = np.where(denom > 0, cov / np.where(denom > 0, denom, 1.0), 0.0)

    amax_p = prof.argmax(axis=1)                             # (rows,)
    amax_b = cube.argmax(axis=2)                             # (rows, C)
    d = np.abs(amax_b - amax_p[:, None])
    d = np.minimum(d, n_bins - d).astype(np.float64)         # circular

    ssum = cube.sum(axis=2)                                  # (rows, C)
    smu = ssum.mean(axis=1)
    ssd = ssum.std(axis=1)

    bmu = cube.mean(axis=2)
    with np.errstate(invalid="ignore"):
        snr = np.where(bsd > 0, (cube.max(axis=2) - bmu) / bsd, 0.0)

    col = np.take_along_axis(
        cube, amax_p[:, None, None].repeat(n_chan, axis=1), axis=2
    )[:, :, 0]                                               # (rows, C)
    cmu = col.mean(axis=1)
    csd = col.std(axis=1)

    out[:, 0] = r.mean(axis=1)
    out[:, 1] = (r >= 0.5).mean(axis=1)
    out[:, 2] = np.sqrt(((d / n_bins) ** 2).mean(axis=1))
    out[:, 3] = np.where(smu > 0, ssd / smu, 0.0)
    out[:, 4] = snr.mean(axis=1)
    out[:, 5] = np.where(cmu > 0, csd / cmu, 0.0)
    return out


def subband_scores_list_array(arr, n_chan: int = 8) -> np.ndarray:
    """(n, len(SUBBAND_FIELDS)) scores for a pyarrow list array of FLAT
    band-major cubes (band 0's bins, then band 1's, ...).

    Same zero-object shape as ``scores_list_array``: rows grouped by
    flat length, each group one dense (rows, n_chan, n_bins) cube.
    Rows whose length is not a positive multiple of ``n_chan`` (or with
    n_bins < 4) yield all-zero scores.
    """
    return _by_length(
        arr, lambda m: subband_scores_cube(m.reshape(len(m), n_chan, -1)),
        len(SUBBAND_FIELDS), 4 * n_chan, n_chan,
    )


def with_subband_scores(
    df: DataFrame, flat_col: str = "sb_flat", n_chan: int = 8,
    drop: "tuple[str, ...] | list[str]" = (),
) -> DataFrame:
    """Append the sub-band score columns (one
    ``featureset.map_features`` crossing, zero-object).

    ``flat_col`` holds each candidate's (n_chan x n_bins) cube flattened
    band-major into one array — the Arrow-friendly encoding of the
    reference's 2-D sub-band/sub-int matrices (nested list offsets cost
    a second indirection for nothing when every row of a cube has equal
    width).  Pure map over batches: no shuffle, no state, same scale
    shape as the 1-D score family.

    Spark cannot column-prune THROUGH an opaque mapInArrow, so callers
    should select the columns they need before calling; ``drop``
    additionally removes columns (typically the wide cube itself) from
    the OUTPUT batches at the Python boundary, so the return crossing
    ships only the narrow score columns.
    """
    fn = partial(subband_scores_list_array, n_chan=n_chan)
    return map_features(df, [Kernel(flat_col, tuple(SUBBAND_FIELDS), fn)], drop)


def with_width_features(df: DataFrame, tokens_col: str = "tokens") -> DataFrame:
    """Eatough-style pulse-width / peak-shape features, all JVM.

    (Eatough et al. 2010, MNRAS 407:2443 use pulse widths at fractions
    of the peak among their 12 features; these are the data-derived —
    not fit-derived — analogues over the token array.)

    - n_above_half : bins above the half-max level (W50 proxy)
    - n_above_q3   : bins above min + 0.75*(max-min) (W25 proxy)
    - peak_to_mean : max / mean (0 when mean == 0)
    - crest        : max / sqrt(mean of squares) (0 when degenerate)

    Integer token inputs make every sum exact; the divisions are single
    ops mirrored identically in the DuckDB oracle (bit-exact at
    round(6), same discipline as the moment family).  Shared statistics
    staged as columns (``_stage_curve``); identical float output.
    """
    df, st = _stage_curve(df, tokens_col)
    x, n, mn, mx = st.x, st.n, st.mn, st.mx
    mu = st.mu
    rms = F.sqrt(st.s2 / n)
    half = (mn + mx) / F.lit(2.0)
    q3 = mn + F.lit(0.75) * (mx - mn)
    return _drop_stage(
        df.withColumn(
            "n_above_half",
            F.size(F.filter(x, lambda v: v > half)).cast("int"))
        .withColumn(
            "n_above_q3",
            F.size(F.filter(x, lambda v: v > q3)).cast("int"))
        .withColumn(
            "peak_to_mean",
            F.when(mu > 0, mx / mu).otherwise(F.lit(0.0)))
        .withColumn(
            "crest",
            F.when(rms > 0, mx / rms).otherwise(F.lit(0.0)))
    )


EATOUGH_FIELDS = [
    "eat_snr",              # profile (max - mu) / sigma
    "eat_w50_frac",         # profile bins above half-max, / n  (W50)
    "eat_w25_frac",         # profile bins above min + 0.75*range, / n (W25)
    "eat_peak_offset",      # profile (argmax - n/2) / n
    "eat_n_peaks",          # profile local maxima above mu + 2 sigma (int)
    "eat_centroid_offset",  # |intensity centroid - argmax| / n
    "eat_dm_snr",           # DM curve (max - mu) / sigma
    "eat_dm_w50_frac",      # DM trials above half-max, / n
    "eat_dm_peak_offset",   # DM argmax position, centered, / n
    "eat_dm_tri_chi2",      # chi2/n of normalized DM curve vs the
                            # parameter-free triangle template at the peak
    "eat_dm_grad_max",      # max |step| of the normalized DM curve
    "eat_snr_ratio",        # profile snr / (DM snr + 1)
]


def with_eatough_features(
    df: DataFrame,
    profile_col: str = "tokens_prof",
    dm_col: str = "tokens_dm",
) -> DataFrame:
    """Eatough-style 12-feature candidate set (Eatough et al. 2010,
    MNRAS 407:2443), recast onto the two 1-D curves the engine's data
    model carries — integrated profile + DM-style curve — all JVM
    expressions (zero Python, scan-fused like PEACE/SPINN).

    The published set feeds an ANN with 12 scores built from the pulse
    profile and the DM-SNR curve: profile S/N, pulse widths at
    fractions of the peak, peak counts/positions, and DM-curve shape
    terms.  /root/reference is empty and the sandbox is offline
    (SURVEY.md §0), so the exact published formulas cannot be
    re-checked bit-for-bit; each feature below is the documented
    curve-side reconstruction of its published description — the same
    standard as with_peace_features / with_spinn_features:

    profile: snr, W50/W25 width fractions, centered peak offset,
             peak count above mu+2sigma, centroid-vs-peak offset;
    DM:      snr, W50 width fraction, centered peak offset, chi2/n
             against the parameter-free triangle template centered on
             the peak (the curve-shape fit term; a real pulsar's DM
             curve rises to a single narrow peak), max normalized step
             (RFI spikiness);
    cross:   profile snr / (DM snr + 1).

    Implementation note — STAGED projections, not one fused tree: the
    shared statistics (array casts, power-sum folds, argmax) are
    materialized as intermediate columns so each is evaluated ONCE per
    row.  A single inlined tree re-evaluates every O(n) fold per
    reference and the triangle template's argmax per ELEMENT (O(n²)) —
    measured 18 s vs <1 s at sf0.1 for identical float output.
    Catalyst's CollapseProject keeps expensive multiply-referenced
    aliases in their own projection, so the stages survive optimization.
    The per-value arithmetic is bit-identical to the DuckDB oracle's
    staged CTEs (which mirror these stages term for term).
    """
    t = "__eat_"
    staged = df.withColumns({
        t + "px": F.transform(F.col(profile_col),
                              lambda v: v.cast("double")),
        t + "qx": F.transform(F.col(dm_col), lambda v: v.cast("double")),
        t + "n": F.size(F.col(profile_col)),
        # DM-curve divisors/extents use the DM curve's OWN length.
        # The two curves usually have equal lengths (every in-repo
        # caller derives both from one word list, and the DuckDB
        # oracle assumes it), but the public API accepts independent
        # columns — keying qn off the profile length read element_at
        # past a shorter dm_col and silently mis-scaled its moments
        # (ADVICE r3 #2).  Equal-length inputs are bit-identical
        # under either staging.
        t + "qn": F.size(F.col(dm_col)),
    })
    px, qx = F.col(t + "px"), F.col(t + "qx")
    pn, qn = F.col(t + "n"), F.col(t + "qn")
    staged = staged.withColumns({
        t + "pmn": F.array_min(px), t + "pmx": F.array_max(px),
        t + "ps1": F.aggregate(px, F.lit(0.0), lambda a, v: a + v),
        t + "ps2": F.aggregate(px, F.lit(0.0), lambda a, v: a + v * v),
        t + "qmn": F.array_min(qx), t + "qmx": F.array_max(qx),
        t + "qs1": F.aggregate(qx, F.lit(0.0), lambda a, v: a + v),
        t + "qs2": F.aggregate(qx, F.lit(0.0), lambda a, v: a + v * v),
    })
    pmn, pmx = F.col(t + "pmn"), F.col(t + "pmx")
    ps1, ps2 = F.col(t + "ps1"), F.col(t + "ps2")
    qmn, qmx = F.col(t + "qmn"), F.col(t + "qmx")
    qs1, qs2 = F.col(t + "qs1"), F.col(t + "qs2")
    pmu_e = ps1 / pn
    qmu_e = qs1 / qn
    staged = staged.withColumns({
        t + "pmu": pmu_e,
        t + "psig": F.sqrt(F.greatest(ps2 / pn - pmu_e * pmu_e, F.lit(0.0))),
        t + "qmu": qmu_e,
        t + "qsig": F.sqrt(F.greatest(qs2 / qn - qmu_e * qmu_e, F.lit(0.0))),
        t + "prng": pmx - pmn,
        t + "qrng": qmx - qmn,
        t + "pidx": F.array_position(px, pmx),
        t + "qidx": F.array_position(qx, qmx),
    })
    pmu, psig = F.col(t + "pmu"), F.col(t + "psig")
    qmu, qsig = F.col(t + "qmu"), F.col(t + "qsig")
    prng, qrng = F.col(t + "prng"), F.col(t + "qrng")
    pidx, qidx = F.col(t + "pidx"), F.col(t + "qidx")
    staged = staged.withColumns({
        t + "psnr": F.when(psig > 0, (pmx - pmu) / psig).otherwise(F.lit(0.0)),
        t + "qsnr": F.when(qsig > 0, (qmx - qmu) / qsig).otherwise(F.lit(0.0)),
    })
    psnr, qsnr = F.col(t + "psnr"), F.col(t + "qsnr")

    half_p = (pmn + pmx) / F.lit(2.0)
    q3_p = pmn + F.lit(0.75) * prng
    half_q = (qmn + qmx) / F.lit(2.0)

    thr = pmu + F.lit(2.0) * psig
    n_peaks = F.when(
        pn >= 3,
        F.aggregate(
            F.transform(
                F.sequence(F.lit(2), pn - 1),
                lambda i: F.when(
                    (F.element_at(px, i) > F.element_at(px, i - 1))
                    & (F.element_at(px, i) > F.element_at(px, i + 1))
                    & (F.element_at(px, i) > thr),
                    1,
                ).otherwise(0),
            ),
            F.lit(0),
            lambda a, v: a + v,
        ),
    ).otherwise(F.lit(0))

    base = ps1 - pmn * pn
    wsum = F.aggregate(
        F.transform(
            F.sequence(F.lit(1), pn),
            lambda i: (i - F.lit(1)).cast("double")
            * (F.element_at(px, i) - pmn),
        ),
        F.lit(0.0),
        lambda a, v: a + v,
    )
    centroid_off = F.when(
        base > 0, F.abs(wsum / base - (pidx - F.lit(1)).cast("double")) / pn
    ).otherwise(F.lit(0.0))

    def _tri_diff(i):
        # (normalized value - triangle template); squared via explicit
        # multiplication (NOT pow) so the DuckDB oracle's d*d matches
        # bit-for-bit
        return (F.element_at(qx, i) - qmn) / qrng - F.greatest(
            F.lit(0.0),
            F.lit(1.0)
            - F.abs((i - qidx).cast("double")) / (qn / F.lit(2.0)),
        )

    tri_chi2 = F.when(
        qrng > 0,
        F.aggregate(
            F.transform(
                F.sequence(F.lit(1), qn),
                lambda i: _tri_diff(i) * _tri_diff(i),
            ),
            F.lit(0.0),
            lambda a, v: a + v,
        )
        / qn,
    ).otherwise(F.lit(0.0))

    grad_max = F.when(
        (qrng > 0) & (qn >= 2),
        F.array_max(
            F.transform(
                F.sequence(F.lit(1), qn - 1),
                lambda i: F.abs(
                    F.element_at(qx, i + 1) - F.element_at(qx, i)
                ),
            )
        )
        / qrng,
    ).otherwise(F.lit(0.0))

    out = staged.withColumns({
        "eat_snr": psnr,
        "eat_w50_frac":
            F.size(F.filter(px, lambda v: v > half_p)) / pn.cast("double"),
        "eat_w25_frac":
            F.size(F.filter(px, lambda v: v > q3_p)) / pn.cast("double"),
        "eat_peak_offset":
            ((pidx - 1).cast("double") - pn / F.lit(2.0)) / pn,
        "eat_n_peaks": n_peaks.cast("int"),
        "eat_centroid_offset": centroid_off,
        "eat_dm_snr": qsnr,
        "eat_dm_w50_frac":
            F.size(F.filter(qx, lambda v: v > half_q)) / qn.cast("double"),
        "eat_dm_peak_offset":
            ((qidx - 1).cast("double") - qn / F.lit(2.0)) / qn,
        "eat_dm_tri_chi2": tri_chi2,
        "eat_dm_grad_max": grad_max,
        "eat_snr_ratio": psnr / (qsnr + F.lit(1.0)),
    })
    return out.drop(*[c for c in out.columns if c.startswith(t)])


def with_profile_stats_sql(df: DataFrame, tokens_col: str = "tokens") -> DataFrame:
    """SQL-expressible subset of the scores, computed ENTIRELY JVM-side.

    sn_ratio / peak_offset / n_tok via built-in higher-order functions —
    no Python boundary at all; serves as the DuckDB-differential slice
    of the score family (the fits above are not SQL-expressible).
    """
    x = F.transform(F.col(tokens_col), lambda v: v.cast("double"))
    n = F.size(F.col(tokens_col))
    s1 = F.aggregate(x, F.lit(0.0), lambda a, v: a + v)
    mu = s1 / n
    s2 = F.aggregate(x, F.lit(0.0), lambda a, v: a + v * v)
    var_pop = s2 / n - mu * mu
    sigma = F.sqrt(F.greatest(var_pop, F.lit(0.0)))
    mx = F.array_max(x)
    amax = F.array_position(x, mx)  # 1-based first occurrence
    return (
        df.withColumn("sn_ratio", F.when(sigma > 0, (mx - mu) / sigma).otherwise(F.lit(0.0)))
        .withColumn("peak_offset", ((amax - 1) - n / F.lit(2.0)) / n)
    )


class _CurveStage:
    """Handle for staged per-curve statistics columns (see
    ``_stage_curve``): attribute access returns the column reference."""

    def __init__(self, prefix: str):
        self._p = prefix

    def __getattr__(self, name):
        return F.col(self._p + name)


def _stage_curve(df: DataFrame, tokens_col: str, prefix: str = "__cs_"):
    """Materialize the shared per-curve statistics (double array, n,
    min/max, power sums, mu, sigma) as INTERMEDIATE COLUMNS and return
    ``(df, stage)`` where ``stage.x / stage.mu / ...`` are column refs.

    Why columns and not one fused tree: every reference to an inlined
    ``F.aggregate`` fold re-evaluates the whole O(n) fold, so a feature
    family that references mu/sigma a dozen times pays a dozen folds
    per row (measured 15x on the Eatough family).  Catalyst's
    CollapseProject keeps expensive multiply-referenced aliases in
    their own projection stage, so the staging survives optimization;
    the per-value arithmetic is unchanged, so DuckDB oracles match
    bit-for-bit.  Drop the temporaries with ``_drop_stage``.
    """
    t = prefix
    df = df.withColumns({
        t + "x": F.transform(F.col(tokens_col), lambda v: v.cast("double")),
        t + "n": F.size(F.col(tokens_col)),
    })
    x, n = F.col(t + "x"), F.col(t + "n")
    df = df.withColumns({
        t + "mn": F.array_min(x),
        t + "mx": F.array_max(x),
        t + "s1": F.aggregate(x, F.lit(0.0), lambda a, v: a + v),
        t + "s2": F.aggregate(x, F.lit(0.0), lambda a, v: a + v * v),
    })
    mu_e = F.col(t + "s1") / n
    df = df.withColumns({
        t + "mu": mu_e,
        t + "sigma": F.sqrt(
            F.greatest(F.col(t + "s2") / n - mu_e * mu_e, F.lit(0.0))
        ),
    })
    return df, _CurveStage(t)


def _drop_stage(df: DataFrame, prefix: str = "__cs_") -> DataFrame:
    return df.drop(*[c for c in df.columns if c.startswith(prefix)])


def _chunk_bounds(n, n_chunks: int, i: int):
    """1-based (start, length) of equal chunk i — floor arithmetic
    pinned identically in the DuckDB oracles (explicit floor(), never a
    round-to-nearest cast)."""
    lo = F.floor(F.lit(i) * n / F.lit(n_chunks))
    hi = F.floor(F.lit(i + 1) * n / F.lit(n_chunks))
    return (lo + 1).cast("int"), (hi - lo).cast("int")


def with_peace_features(
    df: DataFrame, tokens_col: str = "tokens", n_chunks: int = 8
) -> DataFrame:
    """PEACE-style six-score family (Lee et al. 2013, MNRAS 433:688)
    recast onto the 1-D token curve, all JVM expressions.

    The published six scores rate S/N, pulse width, persistence through
    sub-integrations, and profile shape.  The input hint carries one
    curve per candidate (no sub-integration cube), so persistence is
    computed over ``n_chunks`` equal segments of the curve — the same
    statistic on the available axis; the remaining scores are the
    direct curve definitions:

    - peace_snr        : (max - mean) / sigma
    - peace_duty       : equivalent-width duty cycle sum(p)/n,
                         p = (x-min)/(max-min)
    - peace_persist    : fraction of segments whose max exceeds
                         mean + sigma (persistence analogue)
    - peace_top_bottom : mean of the top decile of sorted values over
                         (mean of the bottom decile + 1)
    - peace_n_peaks    : local maxima above mean + 2 sigma
    - peace_mean_adiff : mean |x[i+1] - x[i]| (profile smoothness)

    Shared statistics are staged as intermediate columns
    (``_stage_curve``) so each O(n) fold/sort evaluates once per row
    rather than once per reference — identical float output.
    """
    df, s = _stage_curve(df, tokens_col)
    df = df.withColumns({
        "__cs_srt": F.array_sort(s.x),
        "__cs_dec": F.greatest(F.floor(s.n / F.lit(10)).cast("int"),
                               F.lit(1)),
    })
    x, n, mn, mx = s.x, s.n, s.mn, s.mx
    s1, mu, sigma = s.s1, s.mu, s.sigma
    rng = mx - mn
    p_sum = F.when(rng > 0, (s1 - mn * n) / rng).otherwise(F.lit(0.0))

    seg_hits = sum(
        F.when(
            F.array_max(F.slice(x, *_chunk_bounds(n, n_chunks, i))) > mu + sigma,
            1,
        ).otherwise(0)
        for i in range(n_chunks)
    )
    dec = F.col("__cs_dec")
    srt = F.col("__cs_srt")
    top_mean = F.aggregate(
        F.slice(F.reverse(srt), 1, dec), F.lit(0.0), lambda a, v: a + v
    ) / dec
    bot_mean = F.aggregate(F.slice(srt, 1, dec), F.lit(0.0), lambda a, v: a + v) / dec
    thr = mu + F.lit(2.0) * sigma
    peaks = F.when(
        n >= 3,
        F.aggregate(
            F.transform(
                F.sequence(F.lit(2), n - 1),
                lambda i: F.when(
                    (F.element_at(x, i) > F.element_at(x, i - 1))
                    & (F.element_at(x, i) > F.element_at(x, i + 1))
                    & (F.element_at(x, i) > thr),
                    1,
                ).otherwise(0),
            ),
            F.lit(0),
            lambda a, v: a + v,
        ),
    ).otherwise(F.lit(0))
    adiff = F.when(
        n >= 2,
        F.aggregate(
            F.transform(
                F.sequence(F.lit(1), n - 1),
                lambda i: F.abs(F.element_at(x, i + 1) - F.element_at(x, i)),
            ),
            F.lit(0.0),
            lambda a, v: a + v,
        ) / (n - 1),
    ).otherwise(F.lit(0.0))

    return _drop_stage(
        df.withColumn("peace_snr",
                      F.when(sigma > 0, (mx - mu) / sigma).otherwise(F.lit(0.0)))
        .withColumn("peace_duty", p_sum / n)
        .withColumn("peace_persist", seg_hits / F.lit(float(n_chunks)))
        .withColumn("peace_top_bottom", top_mean / (bot_mean + F.lit(1.0)))
        .withColumn("peace_n_peaks", peaks.cast("int"))
        .withColumn("peace_mean_adiff", adiff)
    )


def with_spinn_features(
    df: DataFrame, tokens_col: str = "tokens", n_chunks: int = 8
) -> DataFrame:
    """SPINN-style six-feature family (Morello et al. 2014, MNRAS
    443:1651) recast onto the 1-D token curve, all JVM expressions.

    SPINN's published features are log(S/N), intrinsic equivalent duty
    cycle, proper-motion/DM terms, and persistence through the
    observation.  DM and barycentric-period inputs are absent from the
    hinted input shape, so the two features that need them use
    documented curve-side substitutions (log length as the period-axis
    proxy; segment-mean contrast for the optimization-validity term):

    - spinn_log_snr   : ln(1 + snr)
    - spinn_duty      : equivalent-width duty cycle (as PEACE)
    - spinn_persist   : mean over segments of max(segment S/N, 0),
                        segment S/N = (segment mean - mean) / sigma
    - spinn_log_n     : ln(n)  [period-axis proxy — DM absent]
    - spinn_contrast  : (max segment mean - mean) / sigma
    - spinn_tail_frac : fraction of samples above mean + 3 sigma

    Shared statistics staged as columns (``_stage_curve``) — each O(n)
    fold evaluates once per row; identical float output.
    """
    df, st = _stage_curve(df, tokens_col)
    x, n, mn, mx = st.x, st.n, st.mn, st.mx
    s1, mu, sigma = st.s1, st.mu, st.sigma
    rng = mx - mn
    p_sum = F.when(rng > 0, (s1 - mn * n) / rng).otherwise(F.lit(0.0))
    snr = F.when(sigma > 0, (mx - mu) / sigma).otherwise(F.lit(0.0))

    def seg_mean(i):
        lo, ln = _chunk_bounds(n, n_chunks, i)
        return F.when(
            ln > 0,
            F.aggregate(F.slice(x, lo, ln), F.lit(0.0), lambda a, v: a + v) / ln,
        ).otherwise(mu)

    seg_sns = [
        F.when(sigma > 0, (seg_mean(i) - mu) / sigma).otherwise(F.lit(0.0))
        for i in range(n_chunks)
    ]
    persist = sum(F.greatest(s, F.lit(0.0)) for s in seg_sns) / F.lit(
        float(n_chunks)
    )
    contrast = F.greatest(*seg_sns) if len(seg_sns) > 1 else seg_sns[0]
    thr3 = mu + F.lit(3.0) * sigma
    tail = F.size(F.filter(x, lambda v: v > thr3)) / n.cast("double")

    return (
        # ln(1 + snr) written as log(1 + x), NOT log1p: the DuckDB
        # oracle computes ln(1+x), and parity of the exact expression
        # tree is what makes round(6) hash-stable
        df.withColumn("spinn_log_snr", F.log(F.lit(1.0) + snr))
        .withColumn("spinn_duty", p_sum / n)
        .withColumn("spinn_persist", persist)
        .withColumn("spinn_log_n", F.log(n.cast("double")))
        .withColumn("spinn_contrast", contrast)
        .withColumn("spinn_tail_frac", tail)
        .transform(_drop_stage)
    )
