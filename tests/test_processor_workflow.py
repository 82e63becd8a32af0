"""Headless estimation/calibration workflow on the SedProcessor facade."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
import yaml

from sed_spark.calibrator.estimation import _tof2ev
from sed_spark.processor import SedProcessor

from tests.test_estimation import BINNING, BINWIDTH, synth_landmarks


def test_energy_calibration_workflow(spark):
    """load_bias_series -> find_bias_peaks -> calibrate_energy_axis on the
    facade recovers the forward TOF-energy model."""
    rng = np.random.default_rng(11)
    d_true, t0_true, e0 = 1.1, 1.5e-7, -50.0
    biases = np.arange(10.0, 20.0)
    pos, _ = synth_landmarks(d=d_true, t0=t0_true, e0=e0, biases=biases)
    frames = [
        pd.DataFrame({"file_id": fid, "t": rng.normal(p, 80.0, 30_000)})
        for fid, p in enumerate(pos)
    ]
    proc = SedProcessor(spark=spark, config={"core": {"loader": "generic"}})
    proc.load(dataframe=spark.createDataFrame(pd.concat(frames)))

    lo, hi = float(pos.min() - 2000), float(pos.max() + 2000)
    proc.load_bias_series(
        biases=biases, tof_column="t", bins=2000, tof_range=(lo, hi),
    )
    traces = proc._bias_series["traces"]
    assert traces.shape == (len(biases), 2000)
    peaks = proc.find_bias_peaks(
        ranges=(float(pos[0] - 400), float(pos[0] + 400)),
        ref_id=0, pkwindow=10,
    )
    assert peaks.shape == (len(biases), 2)
    cal = proc.calibrate_energy_axis(
        ref_energy=-0.5, method="lmfit",
        binwidth=BINWIDTH, binning=BINNING,
    )
    assert proc._calibrations["energy_calibration"] is cal
    np.testing.assert_allclose(cal["d"], d_true, rtol=5e-2)
    binw = proc._bias_series["tof"][1] - proc._bias_series["tof"][0]
    pred = _tof2ev(cal["d"], cal["t0"], BINWIDTH, BINNING, "kinetic",
                   cal["E0"], pos[0])
    np.testing.assert_allclose(pred, -0.5 - biases[0], atol=3 * binw)


def test_momentum_workflow_and_persistence(spark, tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    rng = np.random.default_rng(7)
    pdf = pd.DataFrame(
        {
            "X": rng.uniform(0, 255, 4000),
            "Y": rng.uniform(0, 255, 4000),
            "ADC": rng.uniform(2000, 20000, 4000),
            "file_id": 0,
        },
    )
    proc = SedProcessor(spark=spark, config={"core": {"loader": "generic"}})
    proc.load(dataframe=spark.createDataFrame(pdf))

    # feature ring (slightly perturbed hexagon) + center
    ctr = np.array([128.0, 128.0])
    ang = np.linspace(0, 2 * np.pi, 6, endpoint=False)
    ring = ctr + 60 * np.column_stack([np.cos(ang), np.sin(ang)])
    ring += rng.normal(0, 1.0, ring.shape)
    feats = np.vstack([ring, ctr])
    proc.define_features(feats, rotation_symmetry=6, include_center=True)
    proc.generate_splinewarp(shape=(64, 64))
    assert proc._deform_fields[0].shape == (64, 64)
    proc.pose_adjustment(scale=1.05, xtrans=1.0, ytrans=-1.0, angle=2.0)

    proc.apply_momentum_correction_from_fields(
        detector_ranges=((0.0, 255.0), (0.0, 255.0)),
        new_x_column="Xm", new_y_column="Ym",
    )
    assert "Xm" in proc.dataframe.columns

    cal = proc.calibrate_momentum_axes(
        point_a=[188.0, 128.0], point_b=[128.0, 128.0],
        k_distance=1.2, apply=True,
    )
    assert cal["r_conversion"] == pytest.approx(1.2 / 60.0)
    assert "kx" in proc.dataframe.columns

    # persistence: every recorded calibration lands in the folder config
    proc.calibrate_delay_axis(
        adc_range=(2000.0, 20000.0), delay_range=(-5.0, 5.0),
    )
    proc.save_workflow_params()
    saved = yaml.safe_load(open("sed_config.yaml"))
    assert saved["momentum"]["calibration"]["r_conversion"] == pytest.approx(0.02)
    assert saved["momentum"]["transformations"]["scale"] == 1.05
    assert "correction" in saved["momentum"]
    assert saved["delay"]["calibration"]["adc_range"] == [2000.0, 20000.0]

    # and a fresh processor picks the config up
    proc2 = SedProcessor(spark=spark, config="sed_config.yaml")
    assert proc2.config["momentum"]["calibration"]["r_center"] == 128.0


def test_view_event_histogram_headless(spark):
    pdf = pd.DataFrame(
        {"t": np.linspace(0, 999, 1000), "file_id": [0] * 500 + [1] * 500},
    )
    proc = SedProcessor(spark=spark, config={"core": {"loader": "generic"}})
    proc.load(dataframe=spark.createDataFrame(pdf))
    hists = proc.view_event_histogram(
        dfpid=0, axes=["t"], bins=[10], ranges=[(0.0, 1000.0)],
    )
    assert set(hists) == {"t"}
    assert hists["t"].data.sum() == 500


def test_momentum_correction_recorded_in_attributes(spark):
    from sed_spark.calibrator.momentum import dfield_digest

    pdf = pd.DataFrame({"X": [10.0, 200.0], "Y": [30.0, 40.0]})
    proc = SedProcessor(spark=spark, config={"core": {"loader": "generic"}})
    proc.load(dataframe=spark.createDataFrame(pdf))
    dfield = np.stack(np.meshgrid(np.arange(8.0), np.arange(8.0), indexing="ij"))
    proc.apply_momentum_correction(
        dfield.astype(np.float32), detector_ranges=((0.0, 256.0), (0.0, 256.0)),
    )
    meta = proc.attributes.metadata["momentum_correction"]
    assert meta == {
        "applied": True,
        "dfield_shape": [8, 8],
        "detector_ranges": [[0.0, 256.0], [0.0, 256.0]],
        "dfield_digest": dfield_digest(dfield),
    }


def test_jitter_recorded_in_attributes(spark):
    pdf = pd.DataFrame({"X": np.arange(50.0), "Y": np.arange(50.0)})
    df = spark.createDataFrame(pdf)
    proc = SedProcessor(spark=spark, config={"core": {"loader": "generic"}})
    proc.load(dataframe=df)
    proc.add_jitter(cols=["X", "Y"], amps=[0.25, 0.5], jitter_type="normal", seed=5)
    proc.add_jitter(cols=["X"], amps=0.5)
    meta = proc.attributes.metadata
    assert meta["jitter"] == {
        "cols": ["X", "Y"], "jitter_type": "normal", "amps": [0.25, 0.5], "seed": 5,
    }
    unseeded = meta["jitter_1"]
    assert unseeded["jitter_type"] == "uniform" and unseeded["amps"] == [0.5]
    # an unseeded call records its generated salt, which redraws its noise
    assert isinstance(unseeded["seed"], str) and len(unseeded["seed"]) == 16
    again = SedProcessor(spark=spark, config={"core": {"loader": "generic"}})
    again.load(dataframe=df)
    again.add_jitter(cols=["X", "Y"], amps=[0.25, 0.5], jitter_type="normal", seed=5)
    again.add_jitter(cols=["X"], amps=0.5, seed=unseeded["seed"])
    assert proc.dataframe.collect() == again.dataframe.collect()


def _compilations(spark) -> int:
    """Janino compilations so far in this JVM."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_fresh_unseeded_jitter_reuses_compiled_code(spark):
    # the noise seed is not in the generated code: after one warm chain, a
    # chain with a fresh unseeded draw compiles no new class
    from sed_spark.binning import bin_dataframe

    rng = np.random.default_rng(4)
    pdf = pd.DataFrame({c: rng.uniform(0, 256, 4000) for c in ("X", "Y", "t")})
    events = spark.createDataFrame(pdf).repartition(2).cache()
    events.count()
    g = np.arange(32) * 8.0
    dfield = np.stack(np.meshgrid(g + 1.0, g - 1.0, indexing="ij"))
    cuts = [{"col": "Xm", "lower_bound": 10.0, "upper_bound": 200.0}]

    def chain():
        proc = SedProcessor(spark=spark, config={"core": {"loader": "generic"}})
        proc.load(dataframe=events)
        proc.add_jitter(cols=["X", "Y", "t"])
        proc.apply_momentum_correction(
            dfield, detector_ranges=((0.0, 256.0), (0.0, 256.0)),
        )
        return proc.compute(bins=[50], axes=["t"], ranges=[(0.0, 256.0)], filters=cuts)

    def binned():
        return bin_dataframe(events, [40, 40], ["X", "Y"], [(0.0, 256.0)] * 2,
                             jitter={"X": None, "Y": {"mode": "normal"}})

    try:
        for run in (chain, binned):
            run()  # warm
            before = _compilations(spark)
            res = run()
            assert _compilations(spark) - before == 0, run.__name__
            assert res.sum() > 0
    finally:
        events.unpersist()


def test_compute_cuts_match_apply_filter(spark):
    # cuts folded into the bin index keep apply_filter's semantics: strict
    # bounds, null fails, NaN passes a lone lower bound and fails an upper
    from sed_spark import dfops
    from sed_spark.binning import bin_dataframe

    nan = float("nan")
    vals = [None, nan, -1.0, 0.0, 0.5, 1.0, 2.0, 3.0, 4.0, 5.0]
    rows = [(float(i % 6), v) for i in range(40) for v in vals]
    df = spark.createDataFrame(rows, "e double, c double")
    proc = SedProcessor(spark=spark, config={"core": {"loader": "generic"}})
    proc.load(dataframe=df)
    cases = [
        [{"col": "c", "lower_bound": 0.0, "upper_bound": 3.0}],
        [{"col": "c", "lower_bound": 0.0}],
        [{"col": "c", "upper_bound": 3.0}],
        [{"col": "c"}],
        [{"col": "c", "lower_bound": -2.0}, {"col": "e", "upper_bound": 4.0}],
    ]
    args = ([6], ["e"], [(0.0, 6.0)])
    for filters in cases:
        want = df
        for f in filters:
            want = dfops.apply_filter(want, f["col"], f.get("lower_bound", -np.inf),
                                      f.get("upper_bound", np.inf))
        got = proc.compute(*args, filters=filters)
        np.testing.assert_array_equal(got.data, bin_dataframe(want, *args).data)
    assert proc.compute(*args, filters=cases[1]).sum() == 40 * 7


def test_compute_max_file_id_normalizes_by_selected_files(spark):
    # 4 files: files 0-1 hold 1 s of acquisition each, files 2-3 3 s each;
    # compute(max_file_id=2) divides by the 2 s of files 0-1 only
    rng = np.random.default_rng(11)
    edges = np.arange(5.0) - 0.5  # bins=[4] over (0, 4), half-bin shifted
    events = pd.DataFrame({
        "file_id": np.repeat(np.arange(4), 1000),
        "row_index": np.tile(np.arange(1000), 4),
        "ADC": rng.integers(0, 4, 4000).astype(float),
    })
    step = np.where(events["file_id"] < 2, 0.001, 0.003)
    events["timeStamp"] = 10.0 * events["file_id"] + step * events["row_index"]
    timed = pd.DataFrame({"file_id": np.repeat(np.arange(4), [1000, 1000, 3000, 3000])})
    timed["ADC"] = rng.integers(0, 4, len(timed)).astype(float)
    sel, tsel = events[events["file_id"] < 2], timed[timed["file_id"] < 2]
    counts = np.histogram(sel["ADC"], edges)[0]
    args = dict(bins=[4], axes=["ADC"], ranges=[(0.0, 4.0)],
                normalize_to_acquisition_time="ADC", max_file_id=2)

    proc = SedProcessor(spark=spark, config={"core": {"loader": "generic"}})
    proc.load(dataframe=spark.createDataFrame(events),
              timed_dataframe=spark.createDataFrame(timed))
    got = proc.compute(**args)
    norm = np.histogram(tsel["ADC"], edges)[0] * 0.001
    np.testing.assert_allclose(proc.normalization_histogram.data, norm, rtol=1e-12)
    assert proc.normalization_histogram.data.sum() == pytest.approx(2.0)
    np.testing.assert_allclose(got.data, counts / norm, rtol=1e-12)

    # timestamps path: per-file dwell times summed into (lo, hi] bins
    proc.load(dataframe=spark.createDataFrame(events))
    got = proc.compute(**args)
    dwell = sel.groupby("file_id")["timeStamp"].diff()
    norm = dwell.groupby(pd.cut(sel["ADC"], edges), observed=False).sum().to_numpy()
    np.testing.assert_allclose(proc.normalization_histogram.data, norm, rtol=1e-9)
    np.testing.assert_allclose(got.data, counts / norm, rtol=1e-9)

    # a timed table without file_id cannot be restricted to the selection
    proc.load(dataframe=spark.createDataFrame(events),
              timed_dataframe=spark.createDataFrame(timed[["ADC"]]))
    with pytest.raises(ValueError, match="file_id"):
        proc.compute(**args)
