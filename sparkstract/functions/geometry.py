"""Geometry kernels: integer column shears + projection-profile skew
estimation (C6 in SURVEY.md §2.8).

The reference estimates page skew twice — from row LMS fits
(/root/reference/src/textord/makerow.cpp:316 compute_page_skew) and from tab
vectors (/root/reference/src/textord/tabfind.cpp:1291 ComputeDeskewVectors) —
then rotates blobs and grid. We use the classic projection-profile method
instead (maximize the sharpness of the horizontal projection of blob
centroids over candidate angles): a from-scratch estimator with the same
role, pure numpy, no scipy dependency.
"""

from __future__ import annotations

import numpy as np


def fast_median(a) -> float:
    """Median of a 1-D array via two np.partition picks — value-identical
    to np.median (mean of the two middle elements when even; scaling by
    0.5 vs /2 is the same IEEE operation) but without the _ureduce
    dispatch overhead, which dominates at the kernel's typical tiny-array
    sizes. Hot-path replacement only; np.median remains the reference."""
    a = np.asarray(a)
    n = a.shape[0]
    if n == 0:
        return float("nan")
    m = n >> 1
    if n & 1:
        return float(np.partition(a, m)[m])
    p = np.partition(a, [m - 1, m])
    return (float(p[m - 1]) + float(p[m])) / 2.0


def shear_y(img: np.ndarray, slope: float, fill) -> np.ndarray:
    """Vertical shear: column x shifts by -round(x*slope) so lines of slope
    `slope` become horizontal. Integer per-column shifts only — unlike a
    second full rotation this never resamples glyph interiors, so shapes
    survive the deskew intact (at small angles the horizontal component of a
    true rotation is negligible: cos(2°) ≈ 0.9994)."""
    if abs(slope) < 1e-9:
        return img
    h, w = img.shape[:2]
    off = np.rint(np.arange(w) * slope).astype(np.int64)
    span = int(off.max() - off.min())
    out = np.full((h + span, w) + img.shape[2:], fill, dtype=img.dtype)
    for shift in np.unique(off):
        cols = off == shift
        y0 = int(off.max() - shift)
        out[y0 : y0 + h, cols] = img[:, cols]
    return out


def shift_columns(img: np.ndarray, off: np.ndarray, fill) -> np.ndarray:
    """Shift each column x down by off[x] px (negative = up); the output
    grows to contain every shifted column. Integer shifts only — same
    no-resampling rationale as shear_y (which is the linear special case)."""
    off = off.astype(np.int64)
    lo, hi = int(off.min()), int(off.max())
    if lo == 0 and hi == 0:
        return img
    h, w = img.shape[:2]
    out = np.full((h + hi - lo, w) + img.shape[2:], fill, dtype=img.dtype)
    for shift in np.unique(off):
        cols = off == shift
        y0 = int(shift - lo)
        out[y0 : y0 + h, cols] = img[:, cols]
    return out


def _sharpness(yp_all: np.ndarray, bin_px: float) -> np.ndarray:
    """Postl's projection-profile criterion, batched: for each row of
    `yp_all` (one deprojection candidate, shape (m, n_blobs)), the sum of
    squared row-histogram counts — all m candidates in ONE bincount over a
    candidate-offset flattened bin array (no per-candidate Python)."""
    mins = yp_all.min(axis=1, keepdims=True)
    bins = ((yp_all - mins) / bin_px).astype(np.int64)
    width = int(bins.max()) + 1
    m = yp_all.shape[0]
    flat = bins + (np.arange(m, dtype=np.int64)[:, None] * width)
    counts = np.bincount(flat.ravel(), minlength=m * width) \
        .astype(np.float64).reshape(m, width)
    return (counts * counts).sum(axis=1)


def profile_sharpness(y: np.ndarray, bin_px: float) -> float:
    """Public single-candidate Postl score: lets callers COMPARE competing
    corrections (quadratic vs piecewise) on the same centroids before
    paying an image-space shift + relabel for either."""
    return float(_sharpness(y[None, :], max(2.0, float(bin_px)))[0])


def estimate_skew_bow(cx: np.ndarray, cy: np.ndarray, bin_px: float,
                      page_w: float, max_deg: float = 3.0,
                      max_bow_px: float = 12.0) -> tuple[float, float]:
    """Joint skew + quadratic-bow estimate: (degrees, bow px at page edge)
    maximizing row-profile sharpness of y' = y - x*tan(deg) - bow*((x-xc)/hw)^2.

    The two must be fit JOINTLY: a parabola partially projects onto a line
    (and vice versa), so 1-D estimates contaminate each other — the reference
    likewise fits baselines with both linear and quadratic terms
    (/root/reference/src/textord/baselinedetect.cpp:878,909; quadlsq.cpp).
    Coarse 2-D grid, then alternating 1-D plateau-centered refinement."""
    if cx.shape[0] < 3:
        return 0.0, 0.0
    bin_px = max(2.0, float(bin_px))
    half = max(float(page_w) / 2.0, 1.0)
    u = ((cx - float(page_w) / 2.0) / half) ** 2

    # phase 1 — coarse joint grid localizes (deg, bow) well enough that row
    # clusters separate (row pitch >> residual); the whole (deg × bow)
    # product scores in one batched bincount
    degs = np.arange(-max_deg, max_deg + 0.375, 0.75)
    bows = np.arange(-max_bow_px, max_bow_px + 1.5, 3.0)
    base = cy[None, :] - np.outer(np.tan(np.deg2rad(degs)), cx)   # (D,n)
    yp_all = (base[:, None, :] - bows[None, :, None] * u[None, None, :]) \
        .reshape(degs.shape[0] * bows.shape[0], -1)
    grid = _sharpness(yp_all, bin_px).reshape(degs.shape[0], bows.shape[0])
    di, bi = np.unravel_index(int(np.argmax(grid)), grid.shape)
    d0, b0 = float(degs[di]), float(bows[bi])

    # phase 2 — assign blobs to rows under the rough correction, then fit
    # cy = a_row + s*cx + c*u by least squares with per-row intercepts
    # (demean within rows, 2-var OLS) — the page-level analog of the
    # reference's per-row LMS fits (makerow.cpp:297 fit_lms_line, aggregated
    # at :316; quadratic term as in quadlsq.cpp)
    yp = cy - cx * np.tan(np.deg2rad(d0)) - b0 * u
    order = np.argsort(yp)
    gap = np.diff(yp[order])
    new_row = np.concatenate([[True], gap > bin_px * 2.0])
    rid = np.cumsum(new_row) - 1
    r = np.empty(cx.shape[0], dtype=np.int64)
    r[order] = rid
    n_rows = int(rid[-1]) + 1

    def demean(v: np.ndarray) -> np.ndarray:
        sums = np.bincount(r, weights=v, minlength=n_rows)
        cnts = np.bincount(r, minlength=n_rows)
        return v - (sums / cnts)[r]

    xh, uh, yh = demean(cx), demean(u), demean(cy)
    g11 = float(xh @ xh)
    g12 = float(xh @ uh)
    g22 = float(uh @ uh)
    det = g11 * g22 - g12 * g12
    if det > 1e-9:
        s = (g22 * float(xh @ yh) - g12 * float(uh @ yh)) / det
        c = (g11 * float(uh @ yh) - g12 * float(xh @ yh)) / det
        sd = float(np.rad2deg(np.arctan(s)))
        # accept the refinement only inside the grid's search box: a refit
        # far outside it means the row clustering broke (e.g. a multi-bow
        # warp smearing rows together) and the OLS is fitting garbage — the
        # grid value, chosen by profile sharpness, is then the safe answer
        # (the spline residual pass owns what the quadratic can't express)
        if abs(sd) <= max_deg + 0.5 and abs(c) <= max_bow_px * 1.5:
            d0, b0 = sd, c
    return d0, b0


def _align_profiles(profs: list[np.ndarray], base: np.ndarray,
                    span: int, h: int) -> np.ndarray:
    """Chained per-segment profile alignment: template-frame offsets (NaN
    where a segment has no ink) — a segment whose content sits `d` px BELOW
    the anchor frame scores best at off = -d. Ties prefer the smaller
    |shift| around `base[s]`; the template accumulates every aligned
    segment, so the anchor grows stronger left to right."""
    pad = span + int(np.nanmax(np.abs(base))) + 1
    n_s = len(profs)
    off = np.full(n_s, np.nan)
    ref = np.zeros(h + 2 * pad)
    # a VIEW over the mutating template buffer: in-place += updates below
    # are visible through it, so one construction serves every strip
    wins = np.lib.stride_tricks.sliding_window_view(ref, h)
    have_ref = False
    deltas = np.array(sorted(range(-span, span + 1), key=abs),
                      dtype=np.int64)
    for s_i in range(n_s):
        p = profs[s_i]
        if float(p.sum()) <= 0:
            continue
        b = int(base[s_i])
        if not have_ref:
            ref[pad + b : pad + b + h] += p  # anchor at its base offset
            off[s_i] = b
            have_ref = True
            continue
        # all candidate windows in one matmul; deltas are |δ|-ordered so the
        # strict argmax keeps ties at the smallest shift
        scores = wins[pad + b + deltas] @ p
        best_d = b + int(deltas[int(np.argmax(scores))])
        off[s_i] = best_d
        ref[pad + best_d : pad + best_d + h] += p
    # second sweep: re-align every strip against the COMPLETE template
    # (own contribution removed) — the chained pass anchors early strips on
    # a thin template, and that order-dependence is exactly where localized
    # errors crept in
    for s_i in range(n_s):
        p = profs[s_i]
        if np.isnan(off[s_i]) or float(p.sum()) <= 0:
            continue
        cur = int(off[s_i])
        ref[pad + cur : pad + cur + h] -= p
        b = int(base[s_i])
        scores = wins[pad + b + deltas] @ p
        best_d = b + int(deltas[int(np.argmax(scores))])
        off[s_i] = best_d
        ref[pad + best_d : pad + best_d + h] += p
    return off


def estimate_warp(ink: np.ndarray, n_seg: int = 8,
                  max_shift: int = 12) -> np.ndarray | None:
    """Piecewise (spline) baseline residual — the QSPLINE analog: the
    reference falls back from straight/quadratic baselines to quadratic
    SPLINE segments for wavy lines
    (/root/reference/src/textord/baselinedetect.cpp:909 → :593,
    quspline.cpp). Divide the width into vertical strips and estimate each
    strip's y-displacement by correlating its ink ROW PROFILE against the
    running aligned template — every ink pixel votes, so the estimate stays
    robust where blob-centroid methods starve (a strip holds thousands of
    pixels but only a handful of glyphs). Coarse pass over `n_seg` strips
    with a ±`max_shift` search, then a fine pass over 2×`n_seg` strips
    constrained to ±3 px around the coarse curve (the reference likewise
    grows spline segments with line length, quspline.cpp). Returns the
    downward displacement f(x) per column, median-centered, or None for
    degenerate pages."""
    h, w = ink.shape
    if w < n_seg * 4 or h < 4:
        return None
    xs = np.arange(w, dtype=np.float64)

    def strip_profiles(n_s: int) -> tuple[list[np.ndarray], np.ndarray]:
        bounds = np.linspace(0, w, n_s + 1).astype(np.int64)
        profs = [ink[:, bounds[i]:bounds[i + 1]].sum(axis=1)
                 .astype(np.float64) for i in range(n_s)]
        centers = (bounds[:-1] + bounds[1:]) / 2.0
        return profs, centers

    profs, centers = strip_profiles(n_seg)
    off = _align_profiles(profs, np.zeros(n_seg), max_shift, h)
    valid = ~np.isnan(off)
    if valid.sum() < 2:
        return None
    f = np.interp(xs, centers[valid], off[valid])
    if float(off[valid].max() - off[valid].min()) < 2.0:
        # coarsely flat: the fine pass can't push the range past any
        # application gate — skip it (the common straight-page case)
        f = -f
        return f - fast_median(f)

    profs2, centers2 = strip_profiles(2 * n_seg)
    base2 = np.rint(np.interp(centers2, xs, f))
    off2 = _align_profiles(profs2, base2, 3, h)
    valid2 = ~np.isnan(off2)
    if valid2.sum() >= 2:
        f = np.interp(xs, centers2[valid2], off2[valid2])
    # template-frame offset → downward page displacement (negate): content
    # sitting BELOW the anchor frame aligned at a negative offset
    f = -f
    return f - fast_median(f)
