"""N-dimensional histogram ("binning") on Spark.

The reference's entire partial/final machinery — per-partition Numba kernels,
batched scheduling, striped tree-sum combine (src/sed/binning/binning.py:200-427,
src/sed/binning/numba_bin.py) — collapses in Spark to ONE declarative job:

    select(bin-index expressions) -> groupBy(bins) -> count()

Catalyst/Tungsten provide column pruning to the parquet scan, whole-stage
codegen of the floor expressions, map-side partial aggregation, and a shuffle
whose width AQE sizes at runtime. The sparse (bin, count) result is collected
and densified on the driver; it holds one row per OCCUPIED bin, so its size
is bounded by the cube, not by the event count.

Bin-index semantics replicate the reference kernel
(src/sed/binning/numba_bin.py:53-61): ``j = round((x-lo)*1/width, 11)``
truncated toward zero, last edge inclusive, rows outside [lo, hi] (and NaNs)
dropped. The 11-decimal rounding exists only to absorb float error at bin
edges; we implement it as ``floor(j + 5e-12)`` — identical except at exact
half-even decimal ties (measure zero) — because Spark's ``round(double, 11)``
goes through BigDecimal and costs ~10x the rest of the expression combined.
Explicit (non-uniform) edges use left-closed bins with the last edge
inclusive (src/sed/binning/numba_bin.py:72-102).

Per-axis jitter (reference binning.py:497-523) adds half a bin of noise
hashed from the row id (:func:`sed_spark.dfops.jitter_noise`), so a fresh
unseeded draw reuses the compiled stage of the previous one.

Dense output (``bin_dataframe``) has one physical plan: a flat row-major
bin index → partial count per map task → one hash exchange on the index at
the session's shuffle partitions (AQE coalesces them) → final count →
sparse Arrow collect → one vectorized ``dense[idx] = cnt`` on the driver.
The reduction never leaves the JVM; ``toArrow`` encodes the result
partitions on the executors. Cubes above 512M cells are refused before any
Spark job; ``sparse_histogram`` serves them without densifying.
"""

from __future__ import annotations

import math
from collections.abc import Sequence
from dataclasses import dataclass, field
from typing import Any

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType

from sed_spark.binning.spec import BinAxis, normalize_bins
from sed_spark.dfops import jitter_noise, jitter_salt, uniform_hash_expr

__all__ = [
    "BinnedData",
    "bin_dataframe",
    "sparse_histogram",
    "normalization_histogram_from_timestamps",
    "normalization_histogram_from_timed_dataframe",
]


@dataclass
class BinnedData:
    """Dense N-D histogram result (xarray-like: data + named coords + attrs).

    Stands in for the reference's ``xr.DataArray`` output
    (src/sed/binning/binning.py:408-427) without requiring xarray.
    """

    data: np.ndarray
    dims: list[str]
    coords: dict[str, np.ndarray]
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def shape(self) -> tuple[int, ...]:
        return self.data.shape

    def __getitem__(self, idx):
        return self.data[idx]

    def axis(self, name: str) -> np.ndarray:
        return self.coords[name]

    def sum(self) -> float:
        # float64 accumulation — float32 pairwise sums drift above ~1e7 counts
        return float(self.data.sum(dtype=np.float64))

    def to_xarray(self):
        import xarray as xr  # optional dependency

        return xr.DataArray(data=self.data, coords=self.coords, dims=self.dims,
                            attrs=self.attrs)


# ---------------------------------------------------------------------------
# bin-index expressions
# ---------------------------------------------------------------------------

def bin_index_nullable(axis: BinAxis, col: Column | None = None) -> Column:
    """Nullable bin index: null where the value is NaN/null/out-of-range.

    Folding validity INTO the index expression (instead of a separate
    ``filter``) is what keeps the physical plan evaluating each axis source
    exactly once: a pre-aggregation ``Filter`` gets pushed through the axis
    projection by Catalyst (predicate pushdown has no expression-cost check),
    re-inlining the full axis expression tree once per conjunct — and
    ``FilterExec`` does no cross-conjunct subexpression elimination, so a
    3-conjunct validity check re-evaluates an expensive tree (e.g. the
    dfield join blend) 3× per row. Measured 71 s → ~3 s on the 1e8-row 4-D
    momentum workflow. Within a single Project, whole-stage codegen CSE
    handles the duplicate ``j`` references below.
    """
    c = (col if col is not None else F.col(axis.name)).cast("double")
    if axis.uniform:
        delta = 1.0 / ((axis.hi - axis.lo) / axis.nbins)
        j = (c - F.lit(axis.lo)) * F.lit(delta) + F.lit(5e-12)
        # null c -> null j -> null condition -> null result (dropped later);
        # NaN compares greater than any double in Spark, so NaN j fails the
        # upper bound — same exclusion as the reference kernel
        return F.when(
            (j >= 0) & (j <= axis.nbins + 1e-11),
            F.least(F.floor(j), F.lit(axis.nbins - 1)),
        ).cast(IntegerType())
    edges = axis.edges
    arr = F.array(*[F.lit(float(e)) for e in edges[1:-1]])
    idx = F.aggregate(
        arr,
        F.lit(0),
        lambda acc, e: acc + F.when(c >= e, 1).otherwise(0),
    )
    return F.when(
        (c >= float(edges[0])) & (c <= float(edges[-1])), idx,
    ).cast(IntegerType())


def _axis_source_projection(
    df: DataFrame,
    axes: list[BinAxis],
    jitter: Sequence[str] | dict | None,
    jitter_seed: int | None,
    keep_cols: Sequence[str] = (),
) -> tuple[DataFrame, list[str]]:
    """Materialize each (optionally jittered) axis source as ONE projected
    column before any bin arithmetic references it.

    The bin-index expression references its source several times; keeping
    sources as distinct projected aliases lets ``CollapseProject``'s
    expression-cost check (SPARK-36718) refuse to re-inline an expensive
    producer (e.g. the dfield broadcast-join blend feeding kx/ky) into the
    multi-reference consumer, while cheap plain-column sources still
    collapse to a single Project. The companion half of the fix is
    :func:`bin_index_nullable` — no pre-aggregation filter exists for
    predicate pushdown to duplicate expressions into.

    Each jittered axis draws its own :func:`sed_spark.dfops.jitter_noise`
    (salt from ``jitter_seed + axis position``, or a fresh token when
    ``jitter_seed`` is None).
    """
    sels: list[Column] = [F.col(c) for c in keep_cols]
    names: list[str] = []
    for i, ax in enumerate(axes):
        src: Column = F.col(ax.name)
        if jitter is not None:
            jmap = {k: None for k in jitter} if not isinstance(jitter, dict) else jitter
            if ax.name in jmap:
                pars = jmap[ax.name] or {}
                amp = pars.get("amplitude", 0.5)
                mode = pars.get("mode", "uniform")
                binsize = ax.width if ax.uniform else float(ax.edges[1] - ax.edges[0])
                # per-axis independent noise (reference bin_partition:144-166)
                seed = None if jitter_seed is None else jitter_seed + i
                seed_col = pars.get("seed_column")
                if seed_col is not None:
                    # content-keyed draw: noise is a pure function of the
                    # row key — identical across partitionings/engines
                    # (see dfops.apply_jitter's seed_column); uniform only
                    if mode != "uniform":
                        raise ValueError(
                            "seed_column jitter supports uniform mode only",
                        )
                    u = uniform_hash_expr(
                        seed_col,
                        salt=str(seed if seed is not None else i),
                        method=pars.get("hash_method", "xxhash64"),
                    )
                    noise = u * 2.0 - 1.0
                else:
                    noise = jitter_noise(mode, jitter_salt(seed))
                src = src + F.lit(amp * binsize) * noise
        name = f"__src_{i}"
        sels.append(src.alias(name))
        names.append(name)
    return df.select(*sels), names


def _bin_columns(
    df: DataFrame,
    axes: list[BinAxis],
    jitter: Sequence[str] | dict | None = None,
    jitter_seed: int | None = None,
    keep_cols: Sequence[str] | None = None,
) -> tuple[DataFrame, list[str]]:
    """Project the bin-index columns (with optional per-axis jitter)."""
    if keep_cols is None:
        keep_cols = [c for c in df.columns if c not in {ax.name for ax in axes}]
    srcdf, snames = _axis_source_projection(df, axes, jitter, jitter_seed, keep_cols)
    cols: dict[str, Column] = {}
    names: list[str] = []
    for ax, sname in zip(axes, snames):
        bname = f"__bin_{ax.name}"
        cols[bname] = bin_index_nullable(ax, F.col(sname))
        names.append(bname)
    # validity is folded into the nullable indices; the single isNotNull
    # conjunct per axis references each axis tree once (vs 3x for a range
    # filter) — see bin_index_nullable
    out = srcdf.withColumns(cols).drop(*snames)
    cond = None
    for b in names:
        c = F.col(b).isNotNull()
        cond = c if cond is None else (cond & c)
    return out.filter(cond), names


def sparse_histogram(
    df: DataFrame,
    bins,
    axes: Sequence[str] | None = None,
    ranges: Sequence[tuple[float, float]] | None = None,
    jitter=None,
    jitter_seed: int | None = None,
    extra_group_cols: Sequence[str] = (),
    count_alias: str = "count",
) -> tuple[DataFrame, list[BinAxis], list[str]]:
    """Build the sparse histogram query: groupBy(bin indices).count().

    Returns (lazy DataFrame, normalized axes, bin column names). This is the
    distributed core; everything else is driver-side densification.
    ``extra_group_cols`` supports the reference's ``return_partitions``
    (per-file hypercubes, binning.py:403-415) by adding e.g. ``file_id``.
    """
    norm = normalize_bins(bins, axes, ranges)
    proj, bin_names = _bin_columns(df, norm, jitter, jitter_seed)
    group_cols = list(extra_group_cols) + bin_names
    agg = proj.groupBy(*group_cols).agg(F.count(F.lit(1)).alias(count_alias))
    return agg, norm, bin_names


def _flat_idx_expr(
    axes: list[BinAxis],
    source_names: Sequence[str],
) -> Column:
    """Single flattened (row-major) bin index with validity null-folded:
    any axis out of range nulls its index, null propagates through the
    arithmetic, and the caller coalesces to a -1 sentinel — the whole N-D
    bin computation is ONE Project with no filter anywhere before the
    aggregation (see :func:`bin_index_nullable` for why that matters)."""
    flat: Column | None = None
    for ax, sname in zip(axes, source_names):
        idx = bin_index_nullable(ax, F.col(sname)).cast("long")
        flat = idx if flat is None else flat * F.lit(ax.nbins) + idx
    return flat


def _groupby_sparse_agg(proj: DataFrame) -> DataFrame:
    """The sparse aggregate ``(__idx, __cnt)`` of the flat index column.

    Partial count per map task, one ``hashpartitioning(__idx)`` exchange at
    the session's shuffle partitions, final count. Split out of
    :func:`_dense_via_groupby` so tests/test_plans.py can assert the plan.
    """
    keyed = proj.select(F.col("__idx").cast("int").alias("__idx"))
    return keyed.groupBy("__idx").agg(
        F.count(F.lit(1)).cast("int").alias("__cnt"),
    )


def _dense_via_groupby(
    proj: DataFrame, cube: int, out_dtype="uint32",
) -> np.ndarray:
    """JVM hash aggregate, sparse Arrow collect, flat scatter.

    ``toArrow`` Arrow-encodes the aggregated partitions on the executors;
    int32 index and count keep the collect at 8 bytes per occupied bin (a
    count above 2^31 would need more than 2e9 rows in one bin). The dense
    array is allocated in the caller's dtype, so the scatter casts on write
    instead of costing a second pass over the cube.
    """
    dense = np.zeros(cube, dtype=out_dtype)
    for batch in _groupby_sparse_agg(proj).toArrow().to_batches():
        idx = batch.column(0).to_numpy(zero_copy_only=False)
        cnt = batch.column(1).to_numpy(zero_copy_only=False)
        ok = idx >= 0  # -1 sentinel group = out-of-range rows
        dense[idx[ok]] = cnt[ok]  # groupBy keys are globally unique
    return dense


def bin_dataframe(
    df: DataFrame,
    bins,
    axes: Sequence[str] | None = None,
    ranges: Sequence[tuple[float, float]] | None = None,
    jitter=None,
    jitter_seed: int | None = None,
    dtype: str = "float32",
) -> BinnedData:
    """N-dimensional histogram, densified to a :class:`BinnedData`.

    Spark equivalent of the reference's ``bin_dataframe``
    (src/sed/binning/binning.py:200-427). The final cast to float32 follows
    binning.py:408,421. A cube above 512M cells raises ``ValueError``
    before any Spark job; use :func:`sparse_histogram` for those.
    """
    return bin_dataframe_where(df, None, bins, axes, ranges, jitter, jitter_seed, dtype)


def bin_dataframe_where(
    df: DataFrame,
    where: Column | None,
    bins,
    axes: Sequence[str] | None = None,
    ranges: Sequence[tuple[float, float]] | None = None,
    jitter=None,
    jitter_seed: int | None = None,
    dtype: str = "float32",
) -> BinnedData:
    """:func:`bin_dataframe` counting only the rows where ``where`` is true.

    ``where`` is evaluated inside the bin-index projection, as
    ``when(where, index)``: a failing (or null) row gets the -1
    out-of-range sentinel. A ``df.filter(where)`` instead would be pushed
    below the calibration projections by Catalyst, and each conjunct would
    carry a copy of its column's expression (the dfield blend three times
    per row for a two-sided cut on ``kx``; see :func:`bin_index_nullable`).
    """
    norm = normalize_bins(bins, axes, ranges)
    shape = tuple(ax.nbins for ax in norm)
    cube = math.prod(shape)
    # the dense float32 cube and a full-occupancy sparse collect each take
    # 2-4 GB of driver heap here, and every flat index still fits int32
    if cube > 512_000_000:
        raise ValueError(
            f"dense cube of {cube} cells {shape} exceeds the 512000000-cell "
            "limit of bin_dataframe; use sparse_histogram instead",
        )
    keep: list[str] = []
    if where is not None:
        df, keep = df.withColumn("__where", where), ["__where"]
    srcdf, snames = _axis_source_projection(df, norm, jitter, jitter_seed, keep)
    flat = _flat_idx_expr(norm, snames)
    if where is not None:
        flat = F.when(F.col("__where"), flat)
    proj = srcdf.select(F.coalesce(flat, F.lit(-1).cast("long")).alias("__idx"))
    dense = _dense_via_groupby(proj, cube, out_dtype=dtype)
    coords = {ax.name: ax.bin_centers() for ax in norm}
    return BinnedData(
        data=dense.reshape(shape),
        dims=[ax.name for ax in norm],
        coords=coords,
        attrs={"units": "counts"},
    )


# ---------------------------------------------------------------------------
# normalization histograms
# ---------------------------------------------------------------------------

def normalization_histogram_from_timestamps(
    df: DataFrame,
    axis: str,
    bin_centers: np.ndarray,
    time_stamp_column: str,
    order_col: str,
    group_col: str = "file_id",
) -> BinnedData:
    """Acquisition-time-per-bin histogram from event timestamps.

    Reference (src/sed/binning/binning.py:430-463): per-event dwell time
    ``ts.diff()`` then a sum grouped by ``pd.cut(axis, edges)`` — i.e.
    RIGHT-closed intervals (lo, hi] against the edges themselves, so
    non-uniform centers bin as they do there. The diff is a window ``lag``
    within each file partition ordered by the load order (the reference's
    diff also restarts at dask partition boundaries). Bins without a
    dwell time sum to 0, as the reference's grouped sum does. Fewer than 2,
    non-finite or non-increasing centers raise ``ValueError`` naming the
    axis.
    """
    from pyspark.sql import Window

    centers = np.asarray(bin_centers, dtype=np.float64)
    (ax,) = normalize_bins([centers], [axis])
    edges = ax.edges

    w = Window.partitionBy(group_col).orderBy(order_col)
    dt = F.col(time_stamp_column) - F.lag(time_stamp_column).over(w)
    x = F.col(axis).cast("double")
    # pd.cut: right-closed (lo, hi] -> the number of inner edges below x
    inner = F.array(*[F.lit(float(e)) for e in edges[1:-1]])
    j = F.aggregate(inner, F.lit(0), lambda acc, e: acc + F.when(x > e, 1).otherwise(0))
    valid = (x > float(edges[0])) & (x <= float(edges[-1]))
    binned = (
        df.withColumn("__dt", dt)
        .filter(valid)
        .groupBy(j.alias("__bin"))
        .agg(F.sum("__dt").alias("norm"))
        .toPandas()
    )
    dense = np.zeros(ax.nbins)
    dense[binned["__bin"].to_numpy(dtype=np.int64)] = binned["norm"].fillna(0.0).to_numpy()
    return BinnedData(data=dense, dims=[axis], coords={axis: centers})


def normalization_histogram_from_timed_dataframe(
    df: DataFrame,
    axis: str,
    bin_centers: np.ndarray,
    time_unit: float,
) -> BinnedData:
    """Count histogram on the timed table × time_unit
    (reference src/sed/binning/binning.py:466-494)."""
    res = bin_dataframe(df, bins=[np.asarray(bin_centers, dtype=np.float64)],
                        axes=[axis], dtype="float64")
    res.data = res.data * time_unit
    return res


def equidepth_edges(
    df,
    col: str,
    nbins: int,
    exact: bool = False,
    relative_error: float = 1e-4,
):
    """EQUI-DEPTH bin edges for ``col``: the ``nbins + 1`` quantiles at
    ``k / nbins`` — each resulting bin holds ~the same number of rows,
    the right histogram for heavily skewed signals where uniform bins
    put everything in a handful of cells.

    One aggregate (an ``nbins+1``-element driver array), then bin with
    the existing literal-edges grammar
    (:func:`sed_spark.binning.spec.axis_from_edges` →
    :func:`sparse_histogram`) — the data-driven edges reuse the same
    bin-index expressions as every other histogram, not a second kernel.
    ``exact=False`` (the 100 TB default) uses the bounded-memory
    ``approx_percentile`` sketch; ``exact=True`` buffers per partition
    (audit/oracle mode, matching DuckDB ``quantile_cont`` linear
    interpolation).
    """
    import numpy as np
    from pyspark.sql import functions as F

    if nbins < 1:
        raise ValueError("nbins must be >= 1")
    qs = [k / nbins for k in range(nbins + 1)]
    if exact:
        agg = F.percentile(F.col(col), F.lit(qs))
    else:
        agg = F.percentile_approx(
            F.col(col), qs, max(1, int(1.0 / relative_error)),
        )
    row = df.agg(agg).collect()[0][0]
    if row is None:
        raise ValueError(f"no non-null values in column {col!r}")
    edges = np.asarray([float(v) for v in row], dtype=np.float64)
    if not np.all(np.diff(edges) > 0):
        raise ValueError(
            f"degenerate equi-depth edges for {col!r} (repeated quantile "
            f"values — the column has heavy point masses); reduce nbins "
            f"or de-duplicate: {edges.tolist()}",
        )
    return edges
