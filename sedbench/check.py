"""Independent numpy output checks.

Nothing here imports ``sed_spark``: expected outputs are recomputed from the
generator's arrays with the reference's documented semantics, and every
comparison returns ``(ok, detail)`` so a wrong answer counts as a failed
operation instead of aborting the run.

Tolerances, stated once:

* deterministic histograms — exact per-bin counts (``exact``);
* normalized histograms and re-read exports — relative 1e-9 (``close``);
* jittered histograms — total within ``JITTER_TOTAL_RTOL`` and the per-bin
  L1 distance within ``JITTER_L1`` of the total (``marginal``);
* fitted parameters — stated per check by the workload (``within``).
"""

from __future__ import annotations

import numpy as np

JITTER_TOTAL_RTOL = 2e-3
JITTER_L1 = 0.02


def bin_axis(lo: float, hi: float, nbins: int) -> tuple[float, float]:
    """Edges of an integer-count bin spec after the reference's half-bin
    shift: ``(lo, hi)`` names the first and last bin *centres* region."""
    half = (hi - lo) / nbins / 2
    return float(lo) - half, float(hi) - half


def bin_index(x: np.ndarray, lo: float, hi: float, nbins: int) -> np.ndarray:
    """Reference bin rule on shifted edges: ``floor((x-lo)/w + 5e-12)``,
    last edge inclusive, out of range (and NaN) → -1. Evaluated in float64
    in the same operation order as the reference kernel."""
    lo, hi = bin_axis(lo, hi, nbins)
    delta = 1.0 / ((hi - lo) / nbins)
    with np.errstate(invalid="ignore"):
        j = (np.asarray(x, dtype=np.float64) - lo) * delta + 5e-12
        valid = (j >= 0) & (j <= nbins + 1e-11)
    idx = np.minimum(np.floor(np.where(valid, j, 0.0)), nbins - 1).astype(np.int64)
    return np.where(valid, idx, -1)


def histogram(columns, bins, ranges) -> np.ndarray:
    """N-D count histogram with the reference bin rule (float64 counts)."""
    shape = tuple(int(b) for b in bins)
    flat = np.zeros(len(columns[0]), dtype=np.int64)
    ok = np.ones(len(columns[0]), dtype=bool)
    for col, n, (lo, hi) in zip(columns, shape, ranges):
        idx = bin_index(col, lo, hi, n)
        ok &= idx >= 0
        flat = flat * n + np.maximum(idx, 0)
    cube = int(np.prod(shape))
    return np.bincount(flat[ok], minlength=cube).astype(np.float64).reshape(shape)


def bin_centers(lo: float, hi: float, nbins: int) -> np.ndarray:
    elo, ehi = bin_axis(lo, hi, nbins)
    w = (ehi - elo) / nbins
    return elo + w * (np.arange(nbins) + 0.5)


def exact(what: str, got, want) -> tuple[bool, str]:
    got = np.asarray(got, dtype=np.float64)
    want = np.asarray(want, dtype=np.float64)
    if got.shape != want.shape:
        return False, f"{what}: shape {got.shape} != {want.shape}"
    bad = int(np.count_nonzero(got != want))
    if bad:
        return False, f"{what}: {bad} of {want.size} bins differ"
    return True, ""


def close(what: str, got, want, rtol: float = 1e-9) -> tuple[bool, str]:
    got = np.asarray(got, dtype=np.float64)
    want = np.asarray(want, dtype=np.float64)
    if got.shape != want.shape:
        return False, f"{what}: shape {got.shape} != {want.shape}"
    if not np.allclose(got, want, rtol=rtol, atol=0.0, equal_nan=True):
        with np.errstate(invalid="ignore"):
            worst = np.nanmax(np.abs(got - want) / np.maximum(np.abs(want), 1e-300))
        return False, f"{what}: max relative error {worst:.3g} > {rtol:g}"
    return True, ""


def marginal(what: str, got, want) -> tuple[bool, str]:
    """Jittered histogram against its unjittered reference."""
    got = np.asarray(got, dtype=np.float64)
    want = np.asarray(want, dtype=np.float64)
    if got.shape != want.shape:
        return False, f"{what}: shape {got.shape} != {want.shape}"
    total = want.sum()
    if total <= 0:
        return False, f"{what}: empty reference"
    if abs(got.sum() - total) > JITTER_TOTAL_RTOL * total:
        return False, f"{what}: total {got.sum():.0f} vs {total:.0f}"
    l1 = np.abs(got - want).sum() / total
    if l1 > JITTER_L1:
        return False, f"{what}: L1 distance {l1:.4f} > {JITTER_L1}"
    return True, ""


def within(what: str, got, want, atol: float) -> tuple[bool, str]:
    got = np.asarray(got, dtype=np.float64)
    want = np.asarray(want, dtype=np.float64)
    if got.shape != want.shape:
        return False, f"{what}: shape {got.shape} != {want.shape}"
    err = float(np.max(np.abs(got - want))) if got.size else 0.0
    if not np.isfinite(err) or err > atol:
        return False, f"{what}: max error {err:.4g} > {atol:g}"
    return True, ""


def all_of(*results: tuple[bool, str]) -> tuple[bool, str]:
    bad = [d for ok, d in results if not ok]
    return (not bad), "; ".join(bad)


def bilinear(grid: np.ndarray, rows: np.ndarray, cols: np.ndarray) -> np.ndarray:
    """Bilinear sample with zero outside the grid (``map_coordinates``
    order=1, cval=0 — the reference's deformation-field lookup)."""
    h, w = grid.shape
    r0 = np.floor(rows).astype(np.int64)
    c0 = np.floor(cols).astype(np.int64)
    fr, fc = rows - r0, cols - c0
    out = np.zeros(rows.shape, dtype=np.float64)
    for dr, dc, wt in ((0, 0, (1 - fr) * (1 - fc)), (0, 1, (1 - fr) * fc),
                       (1, 0, fr * (1 - fc)), (1, 1, fr * fc)):
        r, c = r0 + dr, c0 + dc
        ok = (r >= 0) & (r < h) & (c >= 0) & (c < w)
        v = np.zeros(rows.shape, dtype=np.float64)
        v[ok] = grid[r[ok], c[ok]]
        out += v * wt
    return out
