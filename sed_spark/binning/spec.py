"""Bin-specification grammar.

Re-expression of the reference's flexible binning arguments
(reference: src/sed/binning/utils.py:16-169 ``simplify_binning_arguments``,
``bin_centers_to_bin_edges`` and the half-bin-width range shift in
src/sed/binning/binning.py:121-139). The grammar accepted:

* ``bins=int, axes=[...], ranges=[(lo,hi),...]`` — same bin count per axis
* ``bins=[int,...]`` with ranges — per-axis counts
* ``bins=[(start, end, n_bins), ...]`` — tuples expand to counts + ranges
* ``bins=[np.ndarray,...]`` — arrays of BIN CENTERS (converted to edges)
* ``bins={axis: spec}`` — dict keyed by axis name

Uniform-range semantics (must match the reference bit-for-bit because they
decide oracle hash equality):
* ranges given with integer bin counts denote bin CENTERS of the first/last
  bin → the working edge range is shifted down by half a bin width
  (binning.py:132-139);
* bin index = ``round((x - lo) * 1/width, 11)`` truncated, with the last
  edge inclusive (numba_bin.py:53-61); rows outside [lo, hi] are dropped.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass, field

import numpy as np


@dataclass
class BinAxis:
    """Normalized one-axis bin specification (edge-aligned)."""

    name: str
    nbins: int
    lo: float = 0.0  # first edge (after any half-bin-width shift)
    hi: float = 0.0  # last edge
    edges: np.ndarray | None = field(default=None, repr=False)  # non-uniform

    @property
    def uniform(self) -> bool:
        return self.edges is None

    @property
    def width(self) -> float:
        return (self.hi - self.lo) / self.nbins

    def bin_centers(self) -> np.ndarray:
        if self.edges is not None:
            return (self.edges[1:] + self.edges[:-1]) / 2
        e = np.linspace(self.lo, self.hi, self.nbins + 1)
        return (e[1:] + e[:-1]) / 2

    def bin_edges(self) -> np.ndarray:
        if self.edges is not None:
            return self.edges
        return np.linspace(self.lo, self.hi, self.nbins + 1)


def bin_centers_to_bin_edges(centers: np.ndarray) -> np.ndarray:
    """Midpoints between centers, extrapolated half-steps at both ends
    (reference src/sed/binning/utils.py:149-169)."""
    centers = np.asarray(centers, dtype=np.float64)
    mid = (centers[1:] + centers[:-1]) / 2
    first = centers[0] - (centers[1] - centers[0]) / 2
    last = centers[-1] + (centers[-1] - centers[-2]) / 2
    return np.concatenate([[first], mid, [last]])


def bin_edges_to_bin_centers(edges: np.ndarray) -> np.ndarray:
    edges = np.asarray(edges, dtype=np.float64)
    return (edges[1:] + edges[:-1]) / 2


def _spec_error(axis: str, message: str) -> ValueError:
    # numpy.histogramdd's wording where it has one, prefixed by the axis
    return ValueError(f"axis {axis!r}: {message}")


def normalize_bins(
    bins,
    axes: Sequence[str] | None = None,
    ranges: Sequence[tuple[float, float]] | None = None,
    shift_half_binwidth: bool = True,
) -> list[BinAxis]:
    """Normalize any accepted bin spec into a list of :class:`BinAxis`.

    ``shift_half_binwidth`` applies the reference's center-alignment shift
    for integer-count specs; pass False to treat ranges as literal edges.
    A non-positive bin count, a range that is not finite or has
    ``lo >= hi``, and centers that are fewer than 2, not finite or not
    strictly increasing raise ``ValueError`` naming the axis.
    """
    if isinstance(bins, dict):
        axes = list(bins.keys())
        bins = list(bins.values())

    # pre-built axes pass through first: they carry their own names, so
    # no axes list is required (the literal-edges grammar —
    # axis_from_edges / equidepth_edges construct these)
    if (
        isinstance(bins, Sequence)
        and not isinstance(bins, (str, bytes))
        and len(bins) > 0
        and all(isinstance(b, BinAxis) for b in bins)
    ):
        return list(bins)

    if axes is None:
        raise ValueError("axes must be given (or bins passed as a dict)")
    axes = list(axes)

    if isinstance(bins, (int, np.integer)):
        bins = [int(bins)] * len(axes)
    if not isinstance(bins, Sequence):
        raise TypeError(f"cannot interpret bins of type {type(bins)}")
    bins = list(bins)

    # tuples -> (start, end, n_bins)
    if all(isinstance(b, tuple) for b in bins):
        if any(len(b) != 3 for b in bins):
            raise ValueError("tuple bins must be (start, end, n_bins)")
        ranges = [(b[0], b[1]) for b in bins]
        bins = [int(b[2]) for b in bins]

    if len(bins) != len(axes):
        raise ValueError("axes and bins must have the same number of elements")

    out: list[BinAxis] = []
    if all(isinstance(b, (int, np.integer)) for b in bins):
        if ranges is None:
            raise ValueError("ranges required when bins are integers")
        if len(ranges) != len(axes):
            raise ValueError("axes and ranges must have the same number of elements")
        for i, (name, nb, (lo, hi)) in enumerate(zip(axes, bins, ranges)):
            nb = int(nb)
            lo, hi = float(lo), float(hi)
            if nb <= 0:
                raise _spec_error(name, f"`bins[{i}]` must be positive, when an integer")
            if not (np.isfinite(lo) and np.isfinite(hi)):
                raise _spec_error(name, f"supplied range of [{lo}, {hi}] is not finite")
            if lo >= hi:
                raise _spec_error(name, "max must be larger than min in range parameter")
            if shift_half_binwidth:
                half = (hi - lo) / nb / 2
                lo, hi = lo - half, hi - half
            out.append(BinAxis(name=name, nbins=nb, lo=lo, hi=hi))
        return out

    if all(isinstance(b, np.ndarray) for b in bins):
        for i, (name, centers) in enumerate(zip(axes, bins)):
            centers = np.asarray(centers, dtype=np.float64)
            if centers.ndim != 1 or len(centers) < 2:
                raise _spec_error(name, f"`bins[{i}]` must hold at least 2 bin centers")
            if not np.all(np.isfinite(centers)):
                raise _spec_error(name, f"`bins[{i}]` must be finite")
            if not np.all(np.diff(centers) > 0):
                raise _spec_error(
                    name, f"`bins[{i}]` must be monotonically increasing, when an array",
                )
            edges = bin_centers_to_bin_edges(centers)
            out.append(
                BinAxis(
                    name=name,
                    nbins=len(edges) - 1,
                    lo=float(edges[0]),
                    hi=float(edges[-1]),
                    edges=edges,
                ),
            )
        return out

    raise TypeError(f"could not interpret bins: {bins!r}")


def axis_from_edges(name: str, edges) -> BinAxis:
    """A :class:`BinAxis` with LITERAL (possibly non-uniform) bin edges —
    the grammar entry for data-driven edges (e.g.
    :func:`sed_spark.binning.equidepth_edges`), where the
    centers-to-edges round trip of the array grammar would move them."""
    edges = np.asarray(edges, dtype=np.float64)
    if edges.ndim != 1 or len(edges) < 2:
        raise ValueError("edges must be a 1-D array of at least 2 values")
    if not np.all(np.diff(edges) > 0):
        raise ValueError("edges must be strictly increasing")
    return BinAxis(
        name=name,
        nbins=len(edges) - 1,
        lo=float(edges[0]),
        hi=float(edges[-1]),
        edges=edges,
    )
