"""N-dimensional histogram ("binning") on Spark.

The reference's entire partial/final machinery — per-partition Numba kernels,
batched scheduling, striped tree-sum combine (src/sed/binning/binning.py:200-427,
src/sed/binning/numba_bin.py) — collapses in Spark to ONE declarative job:

    select(bin-index expressions) -> groupBy(bins) -> count()

Catalyst/Tungsten provide column pruning to the parquet scan, whole-stage
codegen of the floor expressions, map-side partial aggregation, and a shuffle
whose width AQE sizes at runtime. The sparse (bin, count) result is collected
and densified on the driver; for event data the number of OCCUPIED bins is
bounded by the cube size, orders of magnitude below the event count, so the
collect is small even at 100 TB input.

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

Physical strategy (``bin_dataframe``) is chosen by output-cube size:

* default (cube ≤ ``CHUNKED_MIN_CUBE`` cells): flat bin index →
  ``groupBy.count()`` → sparse Arrow collect → driver scatter. The whole
  reduction is JVM-side (whole-stage codegen + Tungsten hash/sort
  aggregate); ``toArrow`` encodes result partitions to Arrow IPC **in
  parallel on the executors**, so the driver only concatenates buffers and
  does one vectorized ``dense[idx] = cnt``. Measured on 1e8 rows → 100⁴
  cells this is ~2.5× faster than any path that streams raw rows into
  Python: the JVM→Python Arrow feed alone costs more than the entire
  aggregation (~15 s vs ~9 s total at local[32]).
* huge cube (> ``CHUNKED_MIN_CUBE``): the sparse collect can exceed the
  dense array's own size (occupancy × 12 B vs cube × 4 B), so each task
  sort-deduplicates its flat indices with ``np.unique``, packs sparse
  (idx, count) pairs into per-chunk blobs, and a second stage keyed on
  chunk id reduces them to dense sub-arrays — the driver collect is then
  exactly cube-sized regardless of occupancy. This pays the Python Arrow
  feed, which is why it is reserved for cubes where the sparse collect
  would not fit.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass, field
from typing import Any

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType

from sed_spark.binning.spec import BinAxis, bin_centers_to_bin_edges, normalize_bins
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


# above this many output cells the worst-case sparse driver collect
# (occupancy × 12 B) outgrows the dense cube itself and the chunked
# dense-sub-array path wins despite paying the JVM→Python Arrow feed
CHUNKED_MIN_CUBE = 512_000_000

# target hash-agg entries per reducer in _dense_via_groupby; a table much
# beyond ~2e5 entries lives long enough to hit old-gen GC (sweep numbers
# in the _dense_via_groupby docstring)
GROUPBY_CELLS_PER_REDUCER = 195_000


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


def _groupby_sparse_agg(proj: DataFrame, cube: int) -> DataFrame:
    """The groupby path's sparse-aggregate plan: ``(__idx, __cnt)``.

    Split out of :func:`_dense_via_groupby` so the physical plan is
    plan-assertable (tests/test_plans.py pins the single-exchange
    contract of the block-partitioned shape).
    """
    idx_t = "int" if cube <= np.iinfo(np.int32).max else "long"
    spark = proj.sparkSession
    try:
        default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):  # "auto" on some deployments
        default = spark.sparkContext.defaultParallelism
    keyed = proj.select(F.col("__idx").cast(idx_t).alias("__idx"))
    group_cols = ["__idx"]
    want = min(1024, cube // GROUPBY_CELLS_PER_REDUCER)
    if want > default:
        # partition by CONTIGUOUS index blocks rather than raw idx
        # hash: each reducer's output then covers a few contiguous
        # cube regions, so the driver's scatter below streams through
        # small windows of the dense array instead of random-storing
        # across all 400 MB (measured 2.3 s -> 0.85 s on the 1e8-row
        # 100^4 bench; collect time unchanged). 32 blocks per reducer
        # keeps the block->reducer hash assignment balanced. The
        # block id joins the grouping keys, so HashPartitioning on it
        # still satisfies the aggregate's clustering requirement —
        # no second exchange (plan-asserted).
        #
        # Out-of-range rows (the -1 sentinel) get a SPREAD block id
        # (round 12, guide §2.5 single-giant-key skew): the bare
        # repartition has no map-side partial aggregation, so every
        # sentinel row shuffles, and with blk = idx/span they ALL
        # hashed to one reducer — on the 1e8-row 4-D momentum
        # workflow (26.5% out-of-range after the kx/ky/energy/delay
        # range cuts) that one task fetched 26.5M extra rows while
        # 511 idled, and the full path measured 11.9 s vs 6.0 s with
        # the sentinel group spread by map-partition id (driver
        # scatter drops idx < 0 regardless, so the result is
        # bit-identical — verified). A pre-shuffle filter instead is
        # NOT safe: predicate pushdown inlines the whole flat-index
        # tree below the axis staging and the 4-D workflow measured
        # 88 s interpreted (see plans/r12/).
        span = max(1, cube // (32 * want))
        blk = F.when(
            F.col("__idx") >= 0,
            (F.col("__idx") / F.lit(span)).cast("int"),
        ).otherwise(-(F.spark_partition_id() + 1))
        keyed = keyed.select(
            "__idx", blk.alias("__blk"),
        ).repartition(want, "__blk")
        group_cols = ["__blk", "__idx"]
    return keyed.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("int").alias("__cnt"),
    ).select("__idx", "__cnt")


def _dense_via_groupby(
    proj: DataFrame, cube: int, out_dtype="uint32",
) -> np.ndarray:
    """JVM hash aggregate, sparse Arrow collect, flat scatter.

    ``toArrow`` Arrow-encodes the aggregated partitions on the executors in
    parallel; int32 index + count halve the wire size (counts above 2^31
    per single bin would need >2e9 rows in one bin — re-widen if that day
    comes).

    The aggregation's reducer count is sized from the cube: near-full
    occupancy means up to ``cube`` distinct groups, and a reducer hash
    table much beyond ~2e5 entries lives long enough to hit old-gen GC.
    Measured on the 1e8-row 100^4 bench (local[32]): 64 reducers →
    17-48 s run-to-run; interleaved warm min-of-4: 250 → 7.5 s (outliers
    to 27 s), 512 → 7.2 s (tightest spread), 769 → 6.5 s (spread to
    12 s) — hence the ~195k-cells-per-reducer target
    (``GROUPBY_CELLS_PER_REDUCER``); past ~8 s the remaining variance
    is this VM's GC/scheduling noise, not plan shape. The count is
    expressed
    PER-QUERY as an explicit ``repartition(want, "__idx")`` below the
    aggregate — no session-conf set/restore, so concurrent queries on
    the same session are unaffected. ``HashPartitioning(__idx, want)``
    satisfies the aggregate's clustered-distribution requirement, so
    EnsureRequirements inserts no second exchange; the trade is that the
    exchange moves raw keys instead of map-side partials, which at the
    occupancies where the override kicks in (> ~25M cells ⇒ near-unique
    keys per map task) is the same volume — measured equal-or-better
    (see the sweep numbers above). Small cubes skip the repartition and
    keep the normal partial→exchange→final plan under the session
    default. AQE may still coalesce by size afterwards.

    Caveat: the trigger is CUBE size, not actual occupancy. A large cube
    whose data concentrates in few bins (a sharp peak) shuffles raw rows
    onto few reducers here, where the plain plan's map-side combine would
    have collapsed them first."""
    agg = _groupby_sparse_agg(proj, cube)
    # allocate straight in the caller's output dtype: assigning the
    # sparse (idx, cnt) pairs casts on write — bit-identical to the old
    # uint32-then-astype shape but skips a full read+write pass over the
    # cube (measured 2.5-3.5 s of pure driver time on a 1e8-cell cube,
    # the single largest fixed cost of the 100^4 bench metrics)
    dense = np.zeros(cube, dtype=out_dtype)
    for batch in agg.toArrow().to_batches():
        idx = batch.column(0).to_numpy(zero_copy_only=False)
        cnt = batch.column(1).to_numpy(zero_copy_only=False)
        ok = idx >= 0  # -1 sentinel group = out-of-range rows
        dense[idx[ok]] = cnt[ok]  # groupBy keys are globally unique
    return dense


def _dense_via_chunks(
    proj: DataFrame, cube: int, out_dtype="uint32",
) -> np.ndarray:
    """Large cube: per-task sort-unique → chunked blob shuffle → dense chunks.

    Replaces the reference's per-partition Numba kernels + striped tree-sum
    (src/sed/binning/binning.py:317-397) with two Arrow-batched map stages:
    no task ever allocates the full cube, shuffle volume is the summed task
    occupancy, and the driver receives exactly one dense sub-array per chunk.
    """
    import pyarrow as pa

    parallelism = proj.sparkSession.sparkContext.defaultParallelism
    # chunk span: small enough for cheap reduce-side accumulators, large
    # enough that blob-per-chunk overhead stays negligible
    nchunks = min(max(2 * parallelism, 64), max(1, cube // 65536))
    span = (cube + nchunks - 1) // nchunks
    # int32 indices halve both Arrow transfer and shuffle volume
    idx_dtype = np.int32 if cube <= np.iinfo(np.int32).max else np.int64
    if idx_dtype is np.int32:
        proj = proj.select(F.col("__idx").cast("int").alias("__idx"))

    def to_pairs(batches):
        chunks = [b.column(0).to_numpy(zero_copy_only=False) for b in batches]
        if not chunks:
            return
        idx = np.concatenate(chunks) if len(chunks) > 1 else chunks[0]
        idx = idx[idx >= 0]  # drop the -1 out-of-range sentinel
        if len(idx) == 0:
            return
        nz, cnt = np.unique(idx, return_counts=True)  # sorted ascending
        nz = nz.astype(idx_dtype, copy=False)
        cnt32 = cnt.astype(np.int32)
        bounds = np.searchsorted(nz, np.arange(1, nchunks + 1) * span)
        start = 0
        chunk_ids, ivs, cvs = [], [], []
        for c, stop in enumerate(bounds):
            if stop > start:
                chunk_ids.append(c)
                ivs.append(nz[start:stop].tobytes())
                cvs.append(cnt32[start:stop].tobytes())
            start = stop
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(chunk_ids, pa.int32()),
                pa.array(ivs, pa.large_binary()),
                pa.array(cvs, pa.large_binary()),
            ],
            ["ch", "iv", "cv"],
        )

    def combine(batches):
        acc: dict[int, np.ndarray] = {}
        for b in batches:
            chs = b.column(0).to_numpy(zero_copy_only=False)
            ivs, cvs = b.column(1), b.column(2)
            for k in range(len(chs)):
                c = int(chs[k])
                iv = np.frombuffer(ivs[k].as_py(), dtype=idx_dtype)
                cv = np.frombuffer(cvs[k].as_py(), dtype=np.int32)
                arr = acc.get(c)
                if arr is None:
                    # the last chunk covers cube - c*span < span cells
                    arr = acc[c] = np.zeros(
                        min(span, cube - c * span), dtype=np.uint64,
                    )
                arr[iv - c * span] += cv.astype(np.uint64)
        for c, arr in acc.items():
            # uint32 on the wire, like the reference's accumulator
            # (numba_bin.py:43) — halves the driver collect
            yield pa.RecordBatch.from_arrays(
                [pa.array([c], pa.int32()),
                 pa.array([arr.astype(np.uint32).tobytes()], pa.large_binary())],
                ["ch", "data"],
            )

    pairs = proj.select("__idx").mapInArrow(to_pairs, "ch int, iv binary, cv binary")
    nred = min(nchunks, 2 * parallelism)
    reduced = pairs.repartition(nred, "ch").mapInArrow(combine, "ch int, data binary")
    tbl = reduced.toArrow()
    dense = np.zeros(cube, dtype=out_dtype)  # cast-on-write, see groupby
    data_col = tbl.column("data")
    for i, c in enumerate(tbl.column("ch").to_pylist()):
        # zero-copy view into the Arrow buffer; copies once into `dense`
        chunk = np.frombuffer(data_col[i].as_buffer(), dtype=np.uint32)
        lo = c * span
        n = min(len(chunk), cube - lo)  # defensive trim for the last chunk
        dense[lo:lo + n] = chunk[:n]
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
    binning.py:408,421. The physical path follows the cube size: the
    groupby path up to ``CHUNKED_MIN_CUBE`` cells, the chunked path above.
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
    cube = int(np.prod(shape))
    if cube * 4 > 2**33:
        raise ValueError(
            f"dense output of {cube} cells will not fit on the driver; "
            "use sparse_histogram instead",
        )
    keep: list[str] = []
    if where is not None:
        df, keep = df.withColumn("__where", where), ["__where"]
    srcdf, snames = _axis_source_projection(df, norm, jitter, jitter_seed, keep)
    flat = _flat_idx_expr(norm, snames)
    if where is not None:
        flat = F.when(F.col("__where"), flat)
    proj = srcdf.select(F.coalesce(flat, F.lit(-1).cast("long")).alias("__idx"))
    if cube <= CHUNKED_MIN_CUBE:
        dense = _dense_via_groupby(proj, cube, out_dtype=dtype)
    else:
        dense = _dense_via_chunks(proj, cube, out_dtype=dtype)
    coords = {ax.name: ax.bin_centers() for ax in norm}
    return BinnedData(
        # builders already produced `dtype`; astype(copy=False) is a no-op
        # kept as the contract guard
        data=dense.reshape(shape).astype(dtype, copy=False),
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
    RIGHT-closed intervals (lo, hi]. The diff is a window ``lag`` within each
    file partition ordered by the load order (the reference's diff also
    restarts at dask partition boundaries).
    """
    from pyspark.sql import Window

    edges = bin_centers_to_bin_edges(np.asarray(bin_centers, dtype=np.float64))
    nbins = len(edges) - 1
    lo, hi = float(edges[0]), float(edges[-1])
    width = (hi - lo) / nbins

    w = Window.partitionBy(group_col).orderBy(order_col)
    dt = F.col(time_stamp_column) - F.lag(time_stamp_column).over(w)
    x = F.col(axis).cast("double")
    # pd.cut: right-closed (lo, hi] -> ceil((x-lo)/width) - 1
    j = F.ceil((x - F.lit(lo)) / F.lit(width)) - 1
    valid = x.isNotNull() & (x > lo) & (x <= hi)
    binned = (
        df.withColumn("__dt", dt)
        .withColumn("__bin", j.cast(IntegerType()))
        .filter(valid)
        .groupBy("__bin")
        .agg(F.sum("__dt").alias("norm"))
        .toPandas()
    )
    dense = np.full(nbins, np.nan)
    if len(binned):
        dense[binned["__bin"].to_numpy(dtype=np.int64)] = binned["norm"].to_numpy()
    centers = np.asarray(bin_centers, dtype=np.float64)
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
