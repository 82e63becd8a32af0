"""Momentum calibration: detector (x, y) → momentum (kx, ky).

Two parts, mirroring the reference's ``MomentumCorrector``
(reference: src/sed/calibrator/momentum.py):

* the affine detector→k conversion — pure Column expressions;
* the non-affine distortion correction ``apply_dfield`` — bilinear lookup of
  each event's (x, y) in a precomputed inverse deformation field
  (momentum.py:2104-2140, scipy ``map_coordinates(order=1)`` semantics).
  Grids of up to ``DFIELD_JOIN_MAX_NODES`` nodes (every field the suite and
  the benchmark use, 256×256 included) take a broadcast join against a
  per-cell corner relation plus Column arithmetic. The corner relation is
  built once per field and session and enters plans as a small RDD-backed
  leaf, not as literal rows. Larger grids take an Arrow-batched pandas UDF
  that ships the dense field to executors inside its serialized closure.

The driver-side deformation-field *estimation* (spline warp from symmetry
landmarks, momentum.py:627-826) needs scipy and is deferred; the dataflow
operator below accepts any precomputed field.
"""

from __future__ import annotations

import hashlib
import threading
from collections import OrderedDict
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

__all__ = [
    "k_coordinates_expr",
    "append_k_axis",
    "bilinear_sample",
    "apply_dfield",
    "dfield_digest",
]


def k_coordinates_expr(
    r_det: Column,
    c_det: Column,
    r_start: float,
    c_start: float,
    r_center: float,
    c_center: float,
    r_conversion: float,
    c_conversion: float,
    r_step: float,
    c_step: float,
) -> tuple[Column, Column]:
    """Affine detector→momentum conversion
    ``k = conv · ((r − (start + step·center)) / step)``
    (reference src/sed/calibrator/momentum.py:2066-2101)."""
    r_det0 = r_start + r_step * r_center
    c_det0 = c_start + c_step * c_center
    k_r = F.lit(float(r_conversion)) * (
        (r_det.cast("double") - F.lit(float(r_det0))) / F.lit(float(r_step))
    )
    k_c = F.lit(float(c_conversion)) * (
        (c_det.cast("double") - F.lit(float(c_det0))) / F.lit(float(c_step))
    )
    return k_r, k_c


def append_k_axis(
    df: DataFrame,
    x_column: str = "X",
    y_column: str = "Y",
    kx_column: str = "kx",
    ky_column: str = "ky",
    **params,
) -> DataFrame:
    """Append kx/ky columns (reference src/sed/calibrator/momentum.py:1890-1990)."""
    kx, ky = k_coordinates_expr(F.col(x_column), F.col(y_column), **params)
    return df.withColumns({kx_column: kx, ky_column: ky})


def bilinear_sample(
    grid: np.ndarray,
    rows: np.ndarray,
    cols: np.ndarray,
    mode: str = "constant",
) -> np.ndarray:
    """Bilinear interpolation of ``grid`` at fractional (rows, cols).

    ``mode="constant"`` matches ``scipy.ndimage.map_coordinates(grid,
    [rows, cols], order=1, mode='constant', cval=0)`` semantics — the
    reference's dfield lookup (momentum.py:2119-2124) — without the scipy
    dependency: points outside the grid sample 0 for the out-of-bounds
    corners. ``mode="nearest"`` clamps to the edge instead (used by the
    field inversion, where cval=0 would make boundary iterates diverge).
    """
    h, w = grid.shape
    if mode == "nearest":
        rows = np.clip(rows, 0.0, h - 1.0)
        cols = np.clip(cols, 0.0, w - 1.0)
        r0 = np.minimum(np.floor(rows).astype(np.int64), h - 2)
        c0 = np.minimum(np.floor(cols).astype(np.int64), w - 2)
        fr = rows - r0
        fc = cols - c0
        v00 = grid[r0, c0]
        v01 = grid[r0, c0 + 1]
        v10 = grid[r0 + 1, c0]
        v11 = grid[r0 + 1, c0 + 1]
        top = v00 * (1 - fc) + v01 * fc
        bot = v10 * (1 - fc) + v11 * fc
        return top * (1 - fr) + bot * fr
    r0 = np.floor(rows).astype(np.int64)
    c0 = np.floor(cols).astype(np.int64)
    fr = rows - r0
    fc = cols - c0

    def sample(ri, ci):
        ok = (ri >= 0) & (ri < h) & (ci >= 0) & (ci < w)
        out = np.zeros(rows.shape, dtype=np.float64)
        out[ok] = grid[ri[ok], ci[ok]]
        return out

    v00 = sample(r0, c0)
    v01 = sample(r0, c0 + 1)
    v10 = sample(r0 + 1, c0)
    v11 = sample(r0 + 1, c0 + 1)
    top = v00 * (1 - fc) + v01 * fc
    bot = v10 * (1 - fc) + v11 * fc
    return top * (1 - fr) + bot * fr


def bilinear_sample_pair(
    grid_a: np.ndarray,
    grid_b: np.ndarray,
    rows: np.ndarray,
    cols: np.ndarray,
) -> tuple[np.ndarray, np.ndarray]:
    """Edge-clamped bilinear sampling of TWO same-shape grids at the same
    positions, sharing index/weight computation — the field-inversion hot
    path samples (rdeform, cdeform) at identical points every sweep, and
    the gather indices/weights are half its memory traffic."""
    h, w = grid_a.shape
    rows = np.clip(rows, 0.0, h - 1.0)
    cols = np.clip(cols, 0.0, w - 1.0)
    r0 = np.minimum(np.floor(rows).astype(np.int64), h - 2)
    c0 = np.minimum(np.floor(cols).astype(np.int64), w - 2)
    fr = rows - r0
    fc = cols - c0
    gr = 1 - fr
    gc = 1 - fc
    w00 = gr * gc
    w01 = gr * fc
    w10 = fr * gc
    w11 = fr * fc
    i00 = r0 * w + c0  # flat gather indices, computed once for both grids
    fa = grid_a.ravel()
    fb = grid_b.ravel()
    out_a = (
        fa[i00] * w00 + fa[i00 + 1] * w01
        + fa[i00 + w] * w10 + fa[i00 + w + 1] * w11
    )
    out_b = (
        fb[i00] * w00 + fb[i00 + 1] * w01
        + fb[i00 + w] * w10 + fb[i00 + w + 1] * w11
    )
    return out_a, out_b


# above this many grid nodes the per-cell corner table stops being a cheap
# broadcast (8 doubles per node) and the Arrow-batched UDF path wins
DFIELD_JOIN_MAX_NODES = 2_000_000

DEFAULT_DETECTOR_RANGES = ((0.0, 2048.0), (0.0, 2048.0))


class _Field(NamedTuple):
    """A validated field: its two float64 components and the map from
    detector coordinates to grid index space, ``index = (coord - min) *
    scale``."""

    fx: np.ndarray
    fy: np.ndarray
    xmin: float
    ymin: float
    x_scale: float
    y_scale: float


def _dfield_geometry(dfield, detector_ranges) -> _Field:
    """Validate ``dfield`` and convert it to float64. A ``_Field`` passes
    through unchanged, so ``apply_dfield`` converts a field once however
    its builder is reached."""
    if isinstance(dfield, _Field):
        return dfield
    dfield = np.ascontiguousarray(np.asarray(dfield, dtype=np.float64))
    if dfield.ndim != 3 or dfield.shape[0] != 2:
        raise ValueError("dfield must have shape (2, H, W)")
    (xmin, xmax), (ymin, ymax) = detector_ranges
    h, w = dfield.shape[1], dfield.shape[2]
    # grid node i sits at detector coordinate lo + i*span/n (the field is in
    # forward-bin index space, reference r_axis_steps = span/n); with the
    # standard 2048-node field on (0, 2048) this reduces to index == raw x,
    # exactly the reference's map_coordinates(dfield, (x, y)) raw indexing
    # (momentum.py:2131-2139). generate_inverse_dfield rescales its VALUES
    # to detector units with the same span/n convention, so no output
    # scaling is applied here (the reference's trailing ``* r_axis_steps``
    # is 1.0 in its self-consistent configuration).
    return _Field(dfield[0], dfield[1], xmin, ymin, h / (xmax - xmin), w / (ymax - ymin))


def _digest(fx: np.ndarray, fy: np.ndarray) -> str:
    h = hashlib.blake2b(digest_size=16)
    h.update(np.asarray((2, *fx.shape), dtype=np.int64).tobytes())
    h.update(np.ascontiguousarray(fx, dtype=np.float64))
    h.update(np.ascontiguousarray(fy, dtype=np.float64))
    return h.hexdigest()


def dfield_digest(dfield: np.ndarray) -> str:
    """Content digest of a ``(2, H, W)`` field: its shape and raw float64
    bytes. Fields equal bit for bit share it; ``-0.0`` and ``0.0``, or two
    NaN payloads, do not. The corner-relation cache keys on it."""
    fx, fy = np.asarray(dfield, dtype=np.float64)
    return _digest(fx, fy)


# corner relations already built, keyed by (session, field digest), oldest
# first; the lock makes lookups, inserts and evictions safe for callers
# building plans on several threads
_CORNER_CACHE: OrderedDict[tuple[int, str], tuple[SparkSession, DataFrame]] = OrderedDict()
_CORNER_CACHE_MAX = 4
_CORNER_LOCK = threading.Lock()


def _corner_relation(spark: SparkSession, fx: np.ndarray, fy: np.ndarray) -> DataFrame:
    """The per-cell corner table of field ``(fx, fy)``, built once per
    session and field content.

    Every call on an equal field reuses one relation, so each plan carries
    the same small ``LogicalRDD`` leaf instead of a fresh 66k-row literal
    ``LocalRelation`` (256² field) that the analyzer, the optimizer and
    AQE would walk again. A relation whose SparkContext has stopped is
    never returned.
    """
    # the entry holds its session, so no other session can reuse its id
    key = (id(spark), _digest(fx, fy))
    with _CORNER_LOCK:
        hit = _CORNER_CACHE.get(key)
        if hit is not None and spark.sparkContext._jsc is not None:
            _CORNER_CACHE.move_to_end(key)
            return hit[1]
        relation = _build_corner_relation(spark, fx, fy)
        _CORNER_CACHE[key] = (spark, relation)
        _CORNER_CACHE.move_to_end(key)
        while len(_CORNER_CACHE) > _CORNER_CACHE_MAX:
            _CORNER_CACHE.popitem(last=False)
        return relation


def _build_corner_relation(spark: SparkSession, fx: np.ndarray, fy: np.ndarray) -> DataFrame:
    """Corner table keyed by cell ``r0 * (w + 1) + c0`` carrying the four
    corner values of both components, padded one cell outward with zeros
    so out-of-bounds corners reproduce ``bilinear_sample``'s constant-0
    semantics exactly."""
    h, w = fx.shape
    # corner-value grids padded with one zero ring on every side; cell
    # (r0, c0) for r0 in [-1, h-1] x [-1, w-1] covers every partially
    # in-bounds lookup, totals (h+1)*(w+1) rows
    pfx = np.zeros((h + 2, w + 2))
    pfy = np.zeros((h + 2, w + 2))
    pfx[1:h + 1, 1:w + 1] = fx
    pfy[1:h + 1, 1:w + 1] = fy
    key = np.arange(-1, h)[:, None] * np.int64(w + 1) + np.arange(-1, w)[None, :]
    local = spark.createDataFrame(
        pd.DataFrame(
            {
                "__cell": key.ravel(),
                "__fx00": pfx[0:h + 1, 0:w + 1].ravel(),
                "__fx01": pfx[0:h + 1, 1:w + 2].ravel(),
                "__fx10": pfx[1:h + 2, 0:w + 1].ravel(),
                "__fx11": pfx[1:h + 2, 1:w + 2].ravel(),
                "__fy00": pfy[0:h + 1, 0:w + 1].ravel(),
                "__fy01": pfy[0:h + 1, 1:w + 2].ravel(),
                "__fy10": pfy[1:h + 2, 0:w + 1].ravel(),
                "__fy11": pfy[1:h + 2, 1:w + 2].ravel(),
            },
        ),
    )
    # the Arrow conversion reads NaN as null, and the blend reads a null
    # corner as the padding's 0; padding is 0.0, never null, so every null
    # here is a NaN node and goes back to NaN
    local = local.select(
        "__cell",
        *[F.coalesce(F.col(c), F.lit(float("nan"))).alias(c) for c in local.columns[1:]],
    )
    # re-root the literal rows under an RDD-backed leaf: the RDD is a
    # ParallelCollectionRDD over rows the driver holds, so Spark can
    # recompute a lost partition from them (unlike localCheckpoint, whose
    # blocks die with their executor)
    jdf = spark._jsparkSession.createDataFrame(local._jdf.rdd(), local._jdf.schema())
    return DataFrame(jdf, spark)


def _quoted(name: str) -> Column:
    return F.col("`" + name.replace("`", "``") + "`")


# the columns each dfield builder adds to the event frame while it works
_JOIN_COLUMNS = (
    "__fr", "__fc", "__cell",
    *(f"__f{p}{i}{j}" for p in "xy" for i in "01" for j in "01"),
)
_UDF_COLUMN = "__dfield__"


def _check_internal_names(columns: list[str], internal) -> None:
    """Raise if an input column is one of the builder's ``internal``
    columns, which the builder would overwrite or reference ambiguously.
    Names compare case-insensitively, as Spark resolves them by default."""
    for c in columns:
        if c.lower() in internal:
            raise ValueError(
                f"input column {c!r} collides with apply_dfield's internal "
                f"column {c.lower()!r}; rename it before the call",
            )


def _apply_dfield_join(
    df: DataFrame,
    dfield: np.ndarray,
    x_column: str,
    y_column: str,
    new_x_column: str,
    new_y_column: str,
    detector_ranges,
) -> DataFrame:
    """JVM-only bilinear lookup: one broadcast hash join + arithmetic.

    Events join the field's corner relation (:func:`_corner_relation`) on
    their cell (floor(row), floor(col)), broadcast so the event table is
    not shuffled, and the blend is a pure Column expression, so the whole
    transform stays in whole-stage codegen: no JVM→Python Arrow feed, which
    is ~15 s per 1e8 rows at local[32] and the entire cost of the UDF path.
    One ``withColumns`` before the join and one ``select`` after it; the
    output keeps the input's columns in order, with ``new_x_column`` and
    ``new_y_column`` replaced in place or appended.
    """
    columns = df.columns
    _check_internal_names(columns, _JOIN_COLUMNS)
    fx, fy, xmin, ymin, x_scale, y_scale = _dfield_geometry(dfield, detector_ranges)
    h, w = fx.shape
    corners = _corner_relation(df.sparkSession, fx, fy)

    rows = (F.col(x_column).cast("double") - F.lit(xmin)) * F.lit(x_scale)
    cols = (F.col(y_column).cast("double") - F.lit(ymin)) * F.lit(y_scale)
    r0 = F.floor(rows)
    c0 = F.floor(cols)
    # points entirely outside the padded cell range must NOT key into the
    # table (r0*(w+1)+c0 is only collision-free for c0 in [-1, w-1]);
    # a null key misses the join and the coalesce yields the constant-0
    in_cells = (
        (r0 >= -1) & (r0 <= h - 1) & (c0 >= -1) & (c0 <= w - 1)
    )
    out = df.withColumns(
        {
            "__fr": rows - r0,
            "__fc": cols - c0,
            "__cell": F.when(in_cells, (r0 * F.lit(w + 1) + c0).cast("long")),
        },
    )
    joined = out.join(F.broadcast(corners), "__cell", "left")
    fr, fc = F.col("__fr"), F.col("__fc")

    def blend(p):
        v00, v01 = F.coalesce(F.col(f"__{p}00"), F.lit(0.0)), F.coalesce(F.col(f"__{p}01"), F.lit(0.0))
        v10, v11 = F.coalesce(F.col(f"__{p}10"), F.lit(0.0)), F.coalesce(F.col(f"__{p}11"), F.lit(0.0))
        top = v00 * (F.lit(1.0) - fc) + v01 * fc
        bot = v10 * (F.lit(1.0) - fc) + v11 * fc
        return top * (F.lit(1.0) - fr) + bot * fr

    blended = {new_x_column: blend("fx"), new_y_column: blend("fy")}
    kept = [blended.pop(c).alias(c) if c in blended else _quoted(c) for c in columns]
    return joined.select(*kept, *(v.alias(k) for k, v in blended.items()))


def _apply_dfield_udf(
    df: DataFrame,
    dfield: np.ndarray,
    x_column: str,
    y_column: str,
    new_x_column: str,
    new_y_column: str,
    detector_ranges,
) -> DataFrame:
    """Arrow-batched pandas UDF doing the vectorized ``bilinear_sample``
    lookup; the dense field travels to executors in the UDF's closure, so
    it serves grids too large to broadcast as a corner table."""
    from pyspark.sql.types import StructField, StructType

    _check_internal_names(df.columns, (_UDF_COLUMN,))
    fx, fy, xmin, ymin, x_scale, y_scale = _dfield_geometry(dfield, detector_ranges)
    out_type = StructType(
        [StructField("x", DoubleType()), StructField("y", DoubleType())],
    )

    @F.pandas_udf(out_type)
    def _warp(x: pd.Series, y: pd.Series) -> pd.DataFrame:
        rows = (x.to_numpy(dtype=np.float64) - xmin) * x_scale
        cols = (y.to_numpy(dtype=np.float64) - ymin) * y_scale
        return pd.DataFrame(
            {
                "x": bilinear_sample(fx, rows, cols),
                "y": bilinear_sample(fy, rows, cols),
            },
        )

    out = df.withColumn(_UDF_COLUMN, _warp(F.col(x_column), F.col(y_column)))
    # the Arrow return reads NaN as null; a null output from non-null
    # inputs can only be NaN, and null inputs stay null as on the join path
    both = F.col(x_column).isNotNull() & F.col(y_column).isNotNull()
    nan = F.lit(float("nan"))
    return out.withColumns(
        {
            new_x_column: F.when(both, F.coalesce(F.col(f"{_UDF_COLUMN}.x"), nan)),
            new_y_column: F.when(both, F.coalesce(F.col(f"{_UDF_COLUMN}.y"), nan)),
        },
    ).drop(_UDF_COLUMN)


def apply_dfield(
    df: DataFrame,
    dfield: np.ndarray,
    x_column: str = "X",
    y_column: str = "Y",
    new_x_column: str = "Xm",
    new_y_column: str = "Ym",
    detector_ranges: tuple[tuple[float, float], tuple[float, float]] = DEFAULT_DETECTOR_RANGES,
) -> DataFrame:
    """Non-affine distortion correction via inverse deformation field.

    Reference semantics (src/sed/calibrator/momentum.py:2104-2140): scale
    each event's (x, y) into grid index space, then bilinear-sample
    ``dfield[0]`` → corrected x and ``dfield[1]`` → corrected y.

    The field is validated and converted to float64 once per call. The
    grid size picks the physical strategy: up to ``DFIELD_JOIN_MAX_NODES``
    nodes, a JVM broadcast join against a per-cell corner relation that is
    built once per field and session and reused by every later call with
    an equal field (stays in whole-stage codegen); above it, an
    Arrow-batched pandas UDF doing the vectorized lookup. Both give the
    same values bit for bit.
    """
    field = _dfield_geometry(dfield, detector_ranges)
    build = _apply_dfield_join if field.fx.size <= DFIELD_JOIN_MAX_NODES else _apply_dfield_udf
    return build(
        df, field, x_column, y_column, new_x_column, new_y_column,
        detector_ranges,
    )
