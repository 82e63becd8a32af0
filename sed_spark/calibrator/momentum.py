"""Momentum calibration: detector (x, y) → momentum (kx, ky).

Two parts, mirroring the reference's ``MomentumCorrector``
(reference: src/sed/calibrator/momentum.py):

* the affine detector→k conversion — pure Column expressions;
* the non-affine distortion correction ``apply_dfield`` — bilinear lookup of
  each event's (x, y) in a precomputed inverse deformation field
  (momentum.py:2104-2140, scipy ``map_coordinates(order=1)`` semantics).
  Grids of up to ``DFIELD_JOIN_MAX_NODES`` nodes (every field the suite and
  the benchmark use, 256×256 included) take a broadcast join against a
  per-cell corner table plus Column arithmetic; larger grids take an
  Arrow-batched pandas UDF that ships the dense field to executors inside
  its serialized closure.

The driver-side deformation-field *estimation* (spline warp from symmetry
landmarks, momentum.py:627-826) needs scipy and is deferred; the dataflow
operator below accepts any precomputed field.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

__all__ = [
    "k_coordinates_expr",
    "append_k_axis",
    "bilinear_sample",
    "apply_dfield",
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


def _dfield_geometry(dfield, detector_ranges):
    """Validate ``dfield`` and return ``(fx, fy, xmin, ymin, x_scale,
    y_scale)``: its two components and the map from detector coordinates
    to grid index space, ``index = (coord - min) * scale``."""
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
    return dfield[0], dfield[1], xmin, ymin, h / (xmax - xmin), w / (ymax - ymin)


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

    The grid becomes a dimension table keyed by cell (floor(row),
    floor(col)) carrying all four corner values of BOTH field components,
    padded one cell outward with zeros so out-of-bounds corners reproduce
    ``bilinear_sample``'s constant-0 semantics exactly. Events join once
    (broadcast — no shuffle of the event table) and the blend is a pure
    Column expression, so the whole transform stays in whole-stage codegen:
    no JVM→Python Arrow feed, which is ~15 s per 1e8 rows at local[32] and
    the entire cost of the UDF path.
    """
    fx, fy, xmin, ymin, x_scale, y_scale = _dfield_geometry(dfield, detector_ranges)
    h, w = fx.shape
    # corner-value grids padded with one zero ring on every side; cell
    # (r0, c0) for r0 in [-1, h-1] x [-1, w-1] covers every partially
    # in-bounds lookup, totals (h+1)*(w+1) rows
    pfx = np.zeros((h + 2, w + 2))
    pfy = np.zeros((h + 2, w + 2))
    pfx[1:h + 1, 1:w + 1] = fx
    pfy[1:h + 1, 1:w + 1] = fy
    key = np.arange(-1, h) [:, None] * np.int64(w + 1) + np.arange(-1, w)[None, :]
    dim = pd.DataFrame(
        {
            "__cell": key.ravel() ,
            "__fx00": pfx[0:h + 1, 0:w + 1].ravel(),
            "__fx01": pfx[0:h + 1, 1:w + 2].ravel(),
            "__fx10": pfx[1:h + 2, 0:w + 1].ravel(),
            "__fx11": pfx[1:h + 2, 1:w + 2].ravel(),
            "__fy00": pfy[0:h + 1, 0:w + 1].ravel(),
            "__fy01": pfy[0:h + 1, 1:w + 2].ravel(),
            "__fy10": pfy[1:h + 2, 0:w + 1].ravel(),
            "__fy11": pfy[1:h + 2, 1:w + 2].ravel(),
        },
    )
    dim_df = df.sparkSession.createDataFrame(dim)

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
    joined = out.join(F.broadcast(dim_df), "__cell", "left")
    fr, fc = F.col("__fr"), F.col("__fc")

    def blend(p):
        v00, v01 = F.coalesce(F.col(f"__{p}00"), F.lit(0.0)), F.coalesce(F.col(f"__{p}01"), F.lit(0.0))
        v10, v11 = F.coalesce(F.col(f"__{p}10"), F.lit(0.0)), F.coalesce(F.col(f"__{p}11"), F.lit(0.0))
        top = v00 * (F.lit(1.0) - fc) + v01 * fc
        bot = v10 * (F.lit(1.0) - fc) + v11 * fc
        return top * (F.lit(1.0) - fr) + bot * fr

    return (
        joined.withColumn(new_x_column, blend("fx"))
        .withColumn(new_y_column, blend("fy"))
        .drop("__fr", "__fc", "__cell",
              *[f"__{p}{c}" for p in ("fx", "fy") for c in ("00", "01", "10", "11")])
    )


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

    tmp = "__dfield__"
    out = df.withColumn(tmp, _warp(F.col(x_column), F.col(y_column)))
    return (
        out.withColumn(new_x_column, F.col(f"{tmp}.x"))
        .withColumn(new_y_column, F.col(f"{tmp}.y"))
        .drop(tmp)
    )


def apply_dfield(
    df: DataFrame,
    dfield: np.ndarray,
    x_column: str = "X",
    y_column: str = "Y",
    new_x_column: str = "Xm",
    new_y_column: str = "Ym",
    detector_ranges: tuple[tuple[float, float], tuple[float, float]] = (
        (0.0, 2048.0),
        (0.0, 2048.0),
    ),
) -> DataFrame:
    """Non-affine distortion correction via inverse deformation field.

    Reference semantics (src/sed/calibrator/momentum.py:2104-2140): scale
    each event's (x, y) into grid index space, then bilinear-sample
    ``dfield[0]`` → corrected x and ``dfield[1]`` → corrected y.

    The grid size picks the physical strategy: up to
    ``DFIELD_JOIN_MAX_NODES`` nodes, a JVM broadcast join against a
    per-cell corner table (stays in whole-stage codegen); above it, an
    Arrow-batched pandas UDF doing the vectorized lookup. Both give the
    same values bit for bit.
    """
    fx = _dfield_geometry(dfield, detector_ranges)[0]
    build = _apply_dfield_join if fx.size <= DFIELD_JOIN_MAX_NODES else _apply_dfield_udf
    return build(
        df, dfield, x_column, y_column, new_x_column, new_y_column,
        detector_ranges,
    )
