"""Momentum distortion estimation vs analytic ground truth
(reference tests/calibrator/test_momentum.py)."""

import numpy as np
import pytest

from sed_spark.calibrator.momentum import (
    _apply_dfield_join,
    _apply_dfield_udf,
    apply_dfield,
    bilinear_sample,
)
from sed_spark.calibrator.momentum_estimation import (
    coordinate_transform_field,
    generate_inverse_dfield,
    peakdetect2d,
    spline_warp_field,
    thin_plate_spline,
)


def test_peakdetect2d_finds_spots():
    img = np.zeros((64, 64))
    rr, cc = np.meshgrid(np.arange(64), np.arange(64), indexing="ij")
    for r, c in [(16, 16), (16, 48), (48, 32)]:
        img += np.exp(-((rr - r) ** 2 + (cc - c) ** 2) / 6)
    peaks = peakdetect2d(img, radius=4, threshold=0.3)
    assert len(peaks) == 3
    got = {tuple(p) for p in peaks.astype(int)}
    assert got == {(16, 16), (16, 48), (48, 32)}


def test_thin_plate_spline_affine_exact():
    # TPS reduces to the exact affine map for affine-consistent landmarks
    src = np.array([[0.0, 0.0], [1.0, 0.0], [0.0, 1.0], [1.0, 1.0]])
    dst = src * 2.0 + np.array([3.0, -1.0])
    warp = thin_plate_spline(src, dst)
    query = np.array([[0.5, 0.5], [0.25, 0.75]])
    np.testing.assert_allclose(warp(query), query * 2 + [3, -1], atol=1e-9)


def test_thin_plate_spline_interpolates_landmarks():
    rng = np.random.default_rng(3)
    src = rng.uniform(0, 100, (8, 2))
    dst = src + rng.normal(0, 2, (8, 2))
    warp = thin_plate_spline(src, dst)
    np.testing.assert_allclose(warp(src), dst, atol=1e-8)


def test_spline_warp_field_moves_features_to_targets():
    features = np.array([[20.0, 20.0], [20.0, 44.0], [44.0, 32.0]])
    targets = np.array([[22.0, 22.0], [22.0, 42.0], [42.0, 32.0]])
    rdef, cdef = spline_warp_field(features, targets, (64, 64),
                                   center=(32.0, 32.0))
    # inverse-warp convention: sampling at a target yields its feature
    for (fr, fc), (tr, tc) in zip(features, targets):
        np.testing.assert_allclose(
            [bilinear_sample(rdef, np.array([tr]), np.array([tc]))[0],
             bilinear_sample(cdef, np.array([tr]), np.array([tc]))[0]],
            [fr, fc], atol=0.05,
        )


def test_coordinate_transform_translation_compose():
    rdef, cdef = coordinate_transform_field((32, 32), "translation",
                                            xtrans=2.0, ytrans=-3.0)
    assert rdef[10, 10] == 8.0 and cdef[10, 10] == 13.0
    # composing a rotation on top stays finite and shaped
    rdef2, cdef2 = coordinate_transform_field(
        (32, 32), "rotation", rdeform_field=rdef, cdeform_field=cdef, angle=10.0,
    )
    assert rdef2.shape == (32, 32) and np.isfinite(rdef2[8:24, 8:24]).all()


def test_generate_inverse_dfield_round_trip():
    h = w = 128
    rr, cc = np.meshgrid(np.arange(h, dtype=float), np.arange(w, dtype=float),
                         indexing="ij")
    rdef = rr + 3.0 * np.sin(cc / 25.0)
    cdef = cc + 2.0 * np.cos(rr / 20.0)
    inv = generate_inverse_dfield(rdef, cdef)
    # forward(inverse(q)) == q in the interior
    fr = bilinear_sample(rdef, inv[0].ravel(), inv[1].ravel()).reshape(h, w)
    fc = bilinear_sample(cdef, inv[0].ravel(), inv[1].ravel()).reshape(h, w)
    interior = np.s_[10:-10, 10:-10]
    np.testing.assert_allclose(fr[interior], rr[interior], atol=5e-3)
    np.testing.assert_allclose(fc[interior], cc[interior], atol=5e-3)


def test_estimated_field_through_apply_dfield(spark):
    import pandas as pd

    h = w = 64
    rr, cc = np.meshgrid(np.arange(h, dtype=float), np.arange(w, dtype=float),
                         indexing="ij")
    rdef = rr + 1.5
    cdef = cc - 2.5
    inv = generate_inverse_dfield(rdef, cdef)
    pdf = pd.DataFrame({"X": [10.0, 30.0], "Y": [20.0, 40.0]})
    df = spark.createDataFrame(pdf)
    # span/h node convention: an h-node index-space field covers (0, h)
    out = apply_dfield(
        df, inv, detector_ranges=((0.0, float(h)), (0.0, float(w))),
    ).toPandas().sort_values("X")
    # inverse of a +1.5/-2.5 shift is -1.5/+2.5
    np.testing.assert_allclose(out["Xm"], [8.5, 28.5], atol=1e-6)
    np.testing.assert_allclose(out["Ym"], [22.5, 42.5], atol=1e-6)


def test_inverse_dfield_round_trip_scaled_ranges(spark):
    """Round trip with detector span != grid node count (span/h = 20).

    The forward field lives in bin-index space (32 nodes); the inverse is
    rescaled to detector units over bin_ranges (0, 640). apply_dfield with
    the same ranges must map a warped detector coordinate back to its
    pre-warp position — this pins the span/h convention on BOTH the
    coordinate map (apply_dfield) and the value rescale
    (generate_inverse_dfield); an n-vs-n-1 fencepost on either side shows
    up as a systematic drift of span/h ≈ 20 px/row across the grid.
    """
    import pandas as pd

    h = w = 32
    span = 640.0
    step = span / h
    rr, cc = np.meshgrid(np.arange(h, dtype=float), np.arange(w, dtype=float),
                         indexing="ij")
    rdef = rr + 2.0 * np.sin(cc / 5.0)
    cdef = cc + 1.5 * np.cos(rr / 4.0)
    ranges = [(0.0, span), (0.0, span)]
    inv = generate_inverse_dfield(rdef, cdef, bin_ranges=ranges,
                                  detector_ranges=ranges)

    # interior detector-space probe points, off the node lattice
    rng = np.random.default_rng(11)
    xd = rng.uniform(8 * step, (h - 8) * step, 200)
    yd = rng.uniform(8 * step, (w - 8) * step, 200)
    pdf = pd.DataFrame({"X": xd, "Y": yd, "id": np.arange(200)})
    df = spark.createDataFrame(pdf)
    for build in (_apply_dfield_join, _apply_dfield_udf):
        out = build(df, inv, "X", "Y", "Xm", "Ym", ranges).orderBy("id").toPandas()
        # p (detector) -> index space -> forward field -> detector: must
        # land back on the probe point
        p_idx_r = out["Xm"].to_numpy() / step
        p_idx_c = out["Ym"].to_numpy() / step
        fr = bilinear_sample(rdef, p_idx_r, p_idx_c, mode="nearest") * step
        fc = bilinear_sample(cdef, p_idx_r, p_idx_c, mode="nearest") * step
        np.testing.assert_allclose(fr, xd, atol=0.5)
        np.testing.assert_allclose(fc, yd, atol=0.5)
