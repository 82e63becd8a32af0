"""Calibrator expressions vs numpy oracles
(model: reference tests/calibrator/test_energy.py, test_delay.py,
test_momentum.py — formula-level assertions on appended columns)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from sed_spark.calibrator import delay as delay_cal
from sed_spark.calibrator import energy as energy_cal
from sed_spark.calibrator import momentum as momentum_cal


def _tof_df(spark, n=200):
    rng = np.random.default_rng(5)
    return (
        pd.DataFrame(
            {
                "t": rng.uniform(60_000, 120_000, n),
                "X": rng.uniform(0, 2048, n),
                "Y": rng.uniform(0, 2048, n),
                "ADC": rng.uniform(2_000, 20_000, n),
            },
        ),
        spark,
    )


def test_tof2ev(spark):
    pdf, spark = _tof_df(spark)
    df = spark.createDataFrame(pdf)
    d, t0, E0, bw, binning = 1.0, 1e-6, 10.0, 4.125e-12, 2
    out = energy_cal.append_energy_axis(
        df, calibration_type="fit", d=d, t0=t0, E0=E0, binwidth=bw, binning=binning,
        energy_scale="kinetic",
    ).toPandas()
    expected = 2.84281e-12 * (d / (pdf["t"] * bw * binning - t0)) ** 2 + E0
    np.testing.assert_allclose(out["energy"], expected, rtol=1e-12)


def test_tof2ev_binding_flips_sign(spark):
    pdf, spark = _tof_df(spark, 50)
    df = spark.createDataFrame(pdf)
    kin = energy_cal.append_energy_axis(
        df, calibration_type="fit", d=1.0, t0=0.0, E0=0.0, energy_scale="kinetic",
    ).toPandas()["energy"]
    bind = energy_cal.append_energy_axis(
        df, calibration_type="fit", d=1.0, t0=0.0, E0=0.0, energy_scale="binding",
    ).toPandas()["energy"]
    np.testing.assert_allclose(bind, -kin, rtol=1e-12)


def test_tof2evpoly(spark):
    pdf, spark = _tof_df(spark)
    df = spark.createDataFrame(pdf)
    # poly_a highest-order-first, no constant (reference energy.py:2420-2445)
    poly = [1e-14, -2e-9, 3e-4]
    out = energy_cal.append_energy_axis(
        df, calibration_type="poly", coeffs=poly, E0=5.0,
    ).toPandas()
    t = pdf["t"].to_numpy()
    expected = poly[2] * t + poly[1] * t**2 + poly[0] * t**3 + 5.0
    np.testing.assert_allclose(out["energy"], expected, rtol=1e-10)


def test_tof2ns(spark):
    pdf, spark = _tof_df(spark, 10)
    df = spark.createDataFrame(pdf)
    out = df.withColumn(
        "t_ns", energy_cal.tof2ns_expr(F.col("t"), 4.125e-12, 2),
    ).toPandas()
    np.testing.assert_allclose(out["t_ns"], pdf["t"] * 1e9 * 4.125e-12 * 2, rtol=1e-12)


def test_energy_corrections_match_reference_formulas(spark):
    pdf, spark = _tof_df(spark)
    df = spark.createDataFrame(pdf)
    x, y = pdf["X"].to_numpy(), pdf["Y"].to_numpy()
    r2 = (x - 1024.0) ** 2 + (y - 1024.0) ** 2

    out = energy_cal.apply_energy_correction(
        df, correction_type="spherical", center=(1024.0, 1024.0), amplitude=2.0,
        diameter=3000.0, new_tof_column="tm",
    ).toPandas()
    corr = -((1 - np.sqrt(1 - r2 / 3000.0**2)) * 100 * 2.0)
    np.testing.assert_allclose(out["tm"], pdf["t"] + corr, rtol=1e-9)

    out = energy_cal.apply_energy_correction(
        df, correction_type="Lorentzian", center=(1024.0, 1024.0), amplitude=2.0,
        gamma=700.0, new_tof_column="tm",
    ).toPandas()
    corr = 100000 * 2.0 / (700.0 * np.pi) * (700.0**2 / (r2 + 700.0**2) - 1)
    np.testing.assert_allclose(out["tm"], pdf["t"] + corr, rtol=1e-9)

    out = energy_cal.apply_energy_correction(
        df, correction_type="Gaussian", center=(1024.0, 1024.0), amplitude=2.0,
        sigma=700.0, new_tof_column="tm",
    ).toPandas()
    corr = (
        20000 * 2.0 / np.sqrt(2 * np.pi * 700.0**2) * (np.exp(-r2 / (2 * 700.0**2)) - 1)
    )
    np.testing.assert_allclose(out["tm"], pdf["t"] + corr, rtol=1e-9)


def test_align_dld_sectors(spark):
    pdf = pd.DataFrame(
        {"dldTimeSteps": [100.0, 200.0, 300.0], "dldSectorID": [0, 3, 7]},
    )
    df = spark.createDataFrame(pdf)
    delays = [0.0, 1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0]
    out = energy_cal.align_dld_sectors(df, delays).toPandas()
    np.testing.assert_allclose(out["dldTimeSteps"], [100.0, 197.0, 293.0])


def test_delay_axis_and_offsets(spark):
    pdf, spark = _tof_df(spark)
    df = spark.createDataFrame(pdf)
    out = delay_cal.append_delay_axis(
        df, adc_range=(2_000.0, 20_000.0), delay_range=(-5.0, 5.0),
    ).toPandas()
    expected = -5.0 + (pdf["ADC"] - 2_000.0) * 10.0 / 18_000.0
    np.testing.assert_allclose(out["delay"], expected, rtol=1e-12)

    # via stage positions in mm
    out2 = delay_cal.append_delay_axis(
        df, adc_range=(2_000.0, 20_000.0), delay_range_mm=(10.0, 11.5), time0=10.75,
    ).toPandas()
    rng = delay_cal.mm_to_ps(np.array([10.0, 11.5]), 10.75)
    expected2 = rng[0] + (pdf["ADC"] - 2_000.0) * (rng[1] - rng[0]) / 18_000.0
    np.testing.assert_allclose(out2["delay"], expected2, rtol=1e-12)

    df_d = delay_cal.append_delay_axis(
        df, adc_range=(2_000.0, 20_000.0), delay_range=(-5.0, 5.0),
    )
    out3 = delay_cal.add_offsets(df_d, constant=1.5, flip_delay_axis=True).toPandas()
    np.testing.assert_allclose(out3["delay"], -(expected + 1.5), rtol=1e-12)


def test_momentum_affine(spark):
    pdf, spark = _tof_df(spark)
    df = spark.createDataFrame(pdf)
    params = dict(
        r_start=0.0, c_start=0.0, r_center=256.0, c_center=256.0,
        r_conversion=0.0195, c_conversion=0.0195, r_step=2.0, c_step=2.0,
    )
    out = momentum_cal.append_k_axis(df, **params).toPandas()
    kx = 0.0195 * ((pdf["X"] - (0.0 + 2.0 * 256.0)) / 2.0)
    ky = 0.0195 * ((pdf["Y"] - (0.0 + 2.0 * 256.0)) / 2.0)
    np.testing.assert_allclose(out["kx"], kx, rtol=1e-12)
    np.testing.assert_allclose(out["ky"], ky, rtol=1e-12)


def test_apply_dfield_identity_and_shift(spark):
    # identity deformation field under the span/h node convention: grid
    # node i sits at detector coordinate lo + i*span/h
    h = w = 65
    xs = np.arange(h) * (2048.0 / h)
    ys = np.arange(w) * (2048.0 / w)
    fx = np.tile(xs[:, None], (1, w))
    fy = np.tile(ys[None, :], (h, 1))
    dfield = np.stack([fx + 10.0, fy - 20.0])  # constant shift
    rng = np.random.default_rng(9)
    # stay below node h-1 (detector 2048*(h-1)/h): beyond it the constant-0
    # padding decays the sample, same as the reference's cval=0 edge
    hi = 2048.0 * (h - 1) / h
    pdf = pd.DataFrame(
        {"X": rng.uniform(0, hi, 500), "Y": rng.uniform(0, hi, 500)},
    )
    df = spark.createDataFrame(pdf)
    out = (
        momentum_cal.apply_dfield(df, dfield, detector_ranges=((0, 2048), (0, 2048)))
        .toPandas()
    )
    # bilinear interpolation of a linear field is exact
    np.testing.assert_allclose(out["Xm"], pdf["X"] + 10.0, rtol=1e-9)
    np.testing.assert_allclose(out["Ym"], pdf["Y"] - 20.0, rtol=1e-9)


def test_apply_dfield_join_matches_udf_and_numpy(spark):
    from sed_spark.calibrator.momentum import bilinear_sample

    h, w = 33, 47
    rng = np.random.default_rng(4)
    fx = rng.uniform(0, 2048, (h, w))
    fy = rng.uniform(0, 2048, (h, w))
    # include out-of-range and exactly-on-edge points
    pdf = pd.DataFrame(
        {
            "X": np.concatenate(
                [rng.uniform(-100, 2200, 400),
                 [0.0, 2048.0, -1e-9, 2048.0 + 1e-9, np.nan, np.inf, 1.0, 1e300]],
            ),
            "Y": np.concatenate(
                [rng.uniform(-100, 2200, 400),
                 [2048.0, 0.0, -5.0, 2060.0, 1.0, 1.0, np.nan, -1e300]],
            ),
        },
    )
    # an 8x8 field with one NaN node: every event whose cell touches it
    # samples NaN, the rest stay finite
    nan_fx = rng.uniform(0, 2048, (8, 8))
    nan_fy = rng.uniform(0, 2048, (8, 8))
    nan_fx[3, 5] = nan_fy[3, 5] = np.nan
    nan_pdf = pd.DataFrame(
        {"X": rng.uniform(0, 2048, 3000), "Y": rng.uniform(0, 2048, 3000)},
    )
    ranges = ((0.0, 2048.0), (0.0, 2048.0))
    for fx, fy, pdf in ((fx, fy, pdf), (nan_fx, nan_fy, nan_pdf)):
        h, w = fx.shape
        pdf["id"] = np.arange(len(pdf))
        df = spark.createDataFrame(pdf)
        dfield = np.stack([fx, fy])
        outs = [
            build(df, dfield, "X", "Y", "Xm", "Ym", ranges)
            for build in (momentum_cal._apply_dfield_join, momentum_cal._apply_dfield_udf)
        ]
        out_join, out_udf = (out.orderBy("id").toPandas() for out in outs)
        rows = (pdf["X"].to_numpy() - 0.0) * (h / 2048.0)
        cols = (pdf["Y"].to_numpy() - 0.0) * (w / 2048.0)
        want_x = bilinear_sample(fx, rows, cols)
        want_y = bilinear_sample(fy, rows, cols)
        if np.isnan(fx).any():
            # toPandas reads null as NaN, so count in Spark: finite inputs
            # must give NaN, never null, on both paths
            for out in outs:
                got = out.select(
                    *(F.sum(F.isnan(c).cast("int")) for c in ("Xm", "Ym")),
                    *(F.sum(F.col(c).isNull().cast("int")) for c in ("Xm", "Ym")),
                ).first()
                assert tuple(got) == (np.isnan(want_x).sum(), np.isnan(want_y).sum(), 0, 0)
        for out in (out_join, out_udf):
            for got, want in ((out["Xm"].to_numpy(), want_x), (out["Ym"].to_numpy(), want_y)):
                np.testing.assert_array_equal(np.isnan(got), np.isnan(want))
                np.testing.assert_allclose(got, want, rtol=0, atol=1e-9)
        # the two physical strategies agree bit-for-bit
        np.testing.assert_array_equal(out_join["Xm"].to_numpy(), out_udf["Xm"].to_numpy())
        np.testing.assert_array_equal(out_join["Ym"].to_numpy(), out_udf["Ym"].to_numpy())
    assert np.isnan(want_x).sum() > 100  # the NaN node reaches events


@pytest.mark.parametrize(
    "build, column",
    [
        ("_apply_dfield_join", "__fr"),
        ("_apply_dfield_join", "__cell"),
        ("_apply_dfield_join", "__fx00"),
        ("_apply_dfield_join", "__FY11"),
        ("_apply_dfield_udf", "__dfield__"),
    ],
)
def test_apply_dfield_rejects_internal_column_names(spark, monkeypatch, build, column):
    # a user column named like a builder's internal column would be
    # overwritten or referenced ambiguously; it must fail by name before
    # any plan or corner relation is built
    builds = _fresh_corner_cache(monkeypatch, stub=True)
    df = spark.createDataFrame([(1.0, 2.0, 3.0)], ["X", "Y", column])
    dfield = np.ones((2, 4, 4))
    with pytest.raises(ValueError, match=f"'{column}'"):
        getattr(momentum_cal, build)(df, dfield, "X", "Y", "Xm", "Ym", ((0, 2048), (0, 2048)))
    assert builds == []


def test_energy_add_offsets(spark):
    pdf = pd.DataFrame({"energy": [1.0, 2.0, 3.0], "bam": [0.1, 0.2, 0.3]})
    df = spark.createDataFrame(pdf)
    out = energy_cal.add_offsets(
        df, constant=1.0, columns="bam", weights=1.0, preserve_mean=True,
    ).toPandas()
    expected = pdf["energy"] + (pdf["bam"] - 0.2) + 1.0
    np.testing.assert_allclose(out["energy"], expected, rtol=1e-12)
    # binding scale flips signs
    out2 = energy_cal.add_offsets(
        df, constant=1.0, columns="bam", weights=1.0, energy_scale="binding",
    ).toPandas()
    np.testing.assert_allclose(out2["energy"], pdf["energy"] - pdf["bam"] - 1.0, rtol=1e-12)


def _fresh_corner_cache(monkeypatch, stub=False, delay=None):
    """Empty the corner-relation cache for one test and count builds;
    with ``stub`` the builder returns a token instead of a relation, after
    sleeping ``delay[0]`` seconds when a ``delay`` list is given."""
    import time
    from collections import OrderedDict

    monkeypatch.setattr(momentum_cal, "_CORNER_CACHE", OrderedDict())
    builds = []
    real = momentum_cal._build_corner_relation

    def build(spark, fx, fy):
        if delay:
            time.sleep(delay[0])
        builds.append((fx.copy(), fy.copy()))
        return ("relation", len(builds)) if stub else real(spark, fx, fy)

    monkeypatch.setattr(momentum_cal, "_build_corner_relation", build)
    return builds


def _live_session():
    """Stand-in for a SparkSession whose context is running."""
    from types import SimpleNamespace

    return SimpleNamespace(sparkContext=SimpleNamespace(_jsc=object()))


def test_corner_relation_built_once_per_field_content(spark, monkeypatch):
    builds = _fresh_corner_cache(monkeypatch)
    rng = np.random.default_rng(12)
    dfield = rng.uniform(0, 2048, (2, 9, 7))
    pdf = pd.DataFrame({"X": rng.uniform(0, 2048, 300), "Y": rng.uniform(0, 2048, 300)})
    pdf["id"] = np.arange(len(pdf))
    df = spark.createDataFrame(pdf)
    first = momentum_cal.apply_dfield(df, dfield).orderBy("id").toPandas()
    # equal content, different array objects and memory layout
    again = momentum_cal.apply_dfield(df, np.asfortranarray(dfield.copy())).orderBy("id").toPandas()
    assert len(builds) == 1
    np.testing.assert_array_equal(first["Xm"].to_numpy(), again["Xm"].to_numpy())
    np.testing.assert_array_equal(first["Ym"].to_numpy(), again["Ym"].to_numpy())


def test_corner_relation_keys_on_bit_pattern(monkeypatch):
    builds = _fresh_corner_cache(monkeypatch, stub=True)
    spark = _live_session()
    fx = np.zeros((3, 4))
    fy = np.full((3, 4), np.nan)
    base = momentum_cal._corner_relation(spark, fx, fy)
    # NaN keys by its bits, so an equal NaN-bearing field still hits
    assert momentum_cal._corner_relation(spark, fx.copy(), fy.copy()) is base
    one_off = fx.copy()
    one_off[2, 3] = 1e-300
    neg_zero = fx.copy()
    neg_zero[0, 0] = -0.0
    assert momentum_cal._corner_relation(spark, one_off, fy) is not base
    assert momentum_cal._corner_relation(spark, neg_zero, fy) is not base
    assert len(builds) == 3
    assert np.signbit(builds[2][0][0, 0])


def test_corner_relation_cap_evicts_oldest(monkeypatch):
    builds = _fresh_corner_cache(monkeypatch, stub=True)
    spark = _live_session()
    cap = momentum_cal._CORNER_CACHE_MAX
    fields = [np.full((2, 2), float(i)) for i in range(cap + 1)]
    for f in fields:
        momentum_cal._corner_relation(spark, f, f)
    assert len(momentum_cal._CORNER_CACHE) == cap
    momentum_cal._corner_relation(spark, fields[-1], fields[-1])
    assert len(builds) == cap + 1
    momentum_cal._corner_relation(spark, fields[0], fields[0])
    assert len(builds) == cap + 2


def test_corner_relation_of_stopped_context_is_rebuilt(monkeypatch):
    builds = _fresh_corner_cache(monkeypatch, stub=True)
    session = _live_session()
    context = session.sparkContext
    f = np.ones((2, 3))
    stale = momentum_cal._corner_relation(session, f, f)
    assert momentum_cal._corner_relation(session, f, f) is stale
    context._jsc = None  # what SparkContext.stop() leaves behind
    assert momentum_cal._corner_relation(session, f, f) is not stale
    assert len(builds) == 2


def test_corner_relation_cache_is_thread_safe(monkeypatch):
    from concurrent.futures import ThreadPoolExecutor

    delay = [0.02]
    builds = _fresh_corner_cache(monkeypatch, stub=True, delay=delay)
    spark = _live_session()
    cap = momentum_cal._CORNER_CACHE_MAX
    # more distinct fields than the cap, so threads hit, insert and evict
    fields = [np.full((2, 2), float(i)) for i in range(cap + 2)]

    def call(i):
        return momentum_cal._corner_relation(spark, fields[i], fields[i])

    with ThreadPoolExecutor(8) as pool:
        # concurrent first calls on one field share a single slow build
        assert len(set(pool.map(call, [0] * 16))) == 1
        assert len(builds) == 1
        delay[0] = 0.0
        tokens = list(pool.map(call, [i % len(fields) for i in range(2000)]))
    assert all(t is not None for t in tokens)
    assert len(momentum_cal._CORNER_CACHE) == cap
