"""Pure-numpy LOESS STL (periodic seasonal) — Cleveland et al. 1990.

The reference engine decomposes with R's ``stl(s.window="periodic",
robust=TRUE)`` (``func.R:96``); no statsmodels is available, so this
module vendors the algorithm itself rather than approximating it with
classical moving-average decomposition:

- ``s.window="periodic"`` collapses the seasonal loess to robust
  cycle-subseries means: the low-pass stage (two MA(period) passes) of
  a constant-per-phase series is exactly its global mean, so seasonal
  smoothing + low-pass reduces to *centered weighted phase means*.
- Trend smoothing is a genuine loess (degree 1, tricube weights) with
  the STL default span ``nextodd(1.5·period)`` — sliding windows for
  the interior, truncated windows at the edges.
- Robustness: bisquare weights from the remainder (outer loop), the
  same rho-weighting R applies to both seasonal and trend smoothers.

One kernel, ``stl_periodic_batch``, decomposes the m equal-length rows
of an m×n array at once; ``stl_periodic`` is its m=1 call.  Every
reduction runs along a row's own series axis — no BLAS product, whose
accumulation order may depend on the batch shape — so a series
decomposes bit-identically alone or batched (tests/test_stl_batch.py).

Iteration counts default to inner=2/outer=5 — R uses inner=1/outer=15
for robust fits; the fit converges far earlier on series of the length
this engine sees (≤ a few hundred points), and the differential test
(`tests/test_stl_fidelity.py`) pins season/trend/remainder AND the
anomaly-band values against an analytically-known generating process.
Convergence is tracked per row: a converged row stops updating.
"""

from __future__ import annotations

import numpy as np
from numpy.lib.stride_tricks import sliding_window_view


def _nextodd(x: float) -> int:
    n = int(round(x))
    return n + 1 if n % 2 == 0 else n


def _tricube(d: np.ndarray) -> np.ndarray:
    w = np.clip(1.0 - d ** 3, 0.0, None)
    return w ** 3


def _fit_at_zero(w: np.ndarray, xi: np.ndarray, yw: np.ndarray
                 ) -> tuple[np.ndarray, np.ndarray]:
    """Weighted degree-1 fit of ``yw`` on local coordinates ``xi``,
    evaluated at ``xi == 0``; sums run along the last axis.  Returns
    the fitted value and the weight total."""
    wx = w * xi
    sw = w.sum(-1)
    swx = wx.sum(-1)
    swx2 = (wx * xi).sum(-1)
    swy = (w * yw).sum(-1)
    swxy = (wx * yw).sum(-1)
    denom = sw * swx2 - swx * swx
    safe = np.abs(denom) > 1e-12
    fit = np.where(
        safe,
        (swx2 * swy - swx * swxy) / np.where(safe, denom, 1.0),
        swy / np.where(sw > 0, sw, 1.0),
    )
    return fit, sw


def _loess_rows(y: np.ndarray, window: int, rho: np.ndarray) -> np.ndarray:
    """Loess smooth of every row of ``y`` (m×n) at every point (degree
    1, tricube), weighted by the robustness weights ``rho`` (m×n).

    Interior points share one sliding window; the first and last
    ``half`` points are fitted in the first / last full window at their
    own off-centre coordinates (taps past ``half`` weigh zero); a series
    no longer than the window gets one global weighted line."""
    n = y.shape[1]
    if window >= n:
        xe = np.arange(n) - np.arange(n, dtype=np.float64)[:, None]
        fit, sw = _fit_at_zero(rho[:, None, :], xe, y[:, None, :])
        return np.where(sw > 0, fit, y.mean(-1, keepdims=True))
    half = window // 2
    xi = np.arange(window, dtype=np.float64) - half
    out = np.empty_like(y)
    w = _tricube(np.abs(xi) / half) * sliding_window_view(rho, window, axis=1)
    out[:, half:n - half], _ = _fit_at_zero(
        w, xi, sliding_window_view(y, window, axis=1))
    edge = np.arange(half)
    for lo, centre in ((0, edge), (n - window, edge + half + 1)):
        xe = np.arange(window) - centre[:, None].astype(np.float64)
        ye = y[:, None, lo:lo + window]
        we = _tricube(np.abs(xe) / half) * rho[:, None, lo:lo + window]
        fit, sw = _fit_at_zero(we, xe, ye)
        inside = np.abs(xe) <= half
        mean = np.where(inside, ye, 0.0).sum(-1) / inside.sum(-1)
        out[:, lo + centre] = np.where(sw <= 0, mean, fit)
    return out


def _bisquare(resid: np.ndarray) -> np.ndarray:
    """Per-row bisquare robustness weights from an m×n remainder."""
    a = np.abs(resid)
    s = np.median(a, axis=1, keepdims=True)
    pos = s > 0
    u = np.clip(a / (6.0 * np.where(pos, s, 1.0)), 0.0, 1.0)
    t = 1.0 - u * u
    return np.where(pos, t * t, 1.0)


def _phase_means(detr: np.ndarray, rho: np.ndarray, period: int) -> np.ndarray:
    """Robust cycle-subseries means, centred, broadcast back to m×n.

    One ``bincount`` over (row, phase) bins: each bin sums its row's
    cycles in time order, as the 1-D count over one row would."""
    m, n = detr.shape
    phases = np.arange(n) % period
    bins = (np.arange(m)[:, None] * period + phases).ravel()
    num, den = (np.bincount(bins, weights=w.ravel(), minlength=m * period)
                .reshape(m, period) for w in (rho * detr, rho))
    means = num / np.where(den > 0, den, 1.0)
    # low-pass of a constant-per-phase series == its mean
    means = means - means.mean(-1, keepdims=True)
    return means[:, phases]


def stl_periodic_batch(
    values: np.ndarray,
    period: int = 7,
    robust: bool = True,
    n_inner: int = 2,
    n_outer: int = 5,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """STL with periodic seasonal over the rows of an m×n array →
    (season, trend, remainder), each m×n."""
    y = np.asarray(values, dtype=np.float64)
    m, n = y.shape
    t_window = _nextodd(1.5 * period)
    season = np.zeros((m, n))
    trend = np.zeros((m, n))
    rho = np.ones((m, n))
    scale = np.maximum(np.max(np.abs(y), axis=1), 1.0)
    live = np.arange(m)
    prev_fit = None
    for _outer in range(n_outer if robust else 1):
        y_l, rho_l, trend_l = y[live], rho[live], trend[live]
        for _inner in range(n_inner):
            season_l = _phase_means(y_l - trend_l, rho_l, period)
            trend_l = _loess_rows(y_l - season_l, t_window, rho_l)
        season[live] = season_l
        trend[live] = trend_l
        fit = season_l + trend_l
        if prev_fit is not None:
            # robustness weights converged — further outers are no-ops
            going = ~(np.max(np.abs(fit - prev_fit), axis=1) < 1e-7 * scale[live])
            live, fit, y_l = live[going], fit[going], y_l[going]
            if not len(live):
                break
        prev_fit = fit
        if robust:
            rho[live] = _bisquare(y_l - fit)
    return season, trend, y - season - trend


def stl_periodic(values: np.ndarray, period: int = 7, robust: bool = True,
                 n_inner: int = 2, n_outer: int = 5
                 ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """STL with periodic seasonal → (season, trend, remainder): the m=1
    call of ``stl_periodic_batch``."""
    parts = stl_periodic_batch(np.asarray(values, dtype=np.float64)[None],
                               period, robust, n_inner, n_outer)
    return tuple(p[0] for p in parts)
