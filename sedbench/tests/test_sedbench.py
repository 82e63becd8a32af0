"""Tests of the benchmark's own parts: input generation, output checks and
metric math. None of them starts Spark.

    python3 -m pytest sedbench/tests -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import check as chk  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
from spans import covered_s, fail_accounting, median, self_times  # noqa: E402
from workloads import Step  # noqa: E402

SCALE = 0.002


def arrays_equal(a: dict, b: dict) -> bool:
    return a.keys() == b.keys() and all(
        a[t].keys() == b[t].keys()
        and all(np.array_equal(a[t][c], b[t][c], equal_nan=True) for c in a[t])
        for t in a
    )


# -- generator -----------------------------------------------------------

@pytest.mark.parametrize("draw", [
    gen.uniform_events,
    lambda seed, scale: gen.bias_series(seed, scale)[0],
    gen.fel_tables,
])
def test_generator_is_a_function_of_the_seed(draw):
    assert arrays_equal(draw(7, SCALE), draw(7, SCALE))
    assert not arrays_equal(draw(7, SCALE), draw(8, SCALE))


@pytest.fixture
def small_sizes(monkeypatch):
    """Generator sizes cut down so that building a dataset takes no time."""
    sizes = {k: dict(v) for k, v in gen.SIZES.items()}
    sizes["uniform"]["events"] = 4000
    monkeypatch.setattr(gen, "SIZES", sizes)
    return sizes


def test_build_writes_once_per_seed_and_size(tmp_path, small_sizes):
    first = gen.build("uniform", 3, str(tmp_path))
    stamps = [os.path.getmtime(f) for f in first.files]
    again = gen.build("uniform", 3, str(tmp_path))
    assert again.files == first.files
    assert [os.path.getmtime(f) for f in again.files] == stamps
    assert arrays_equal(again.arrays, first.arrays)
    desc = first.describe()
    assert desc["files"] == gen.SIZES["uniform"]["files"]
    assert desc["rows"]["events"] == 4000
    assert desc["bytes"] == sum(os.path.getsize(f) for f in first.files) > 0
    assert gen.build("uniform", 4, str(tmp_path)).root != first.root
    # a dataset cached at another size is written anew
    small_sizes["uniform"]["events"] = 8000
    bigger = gen.build("uniform", 3, str(tmp_path))
    assert bigger.describe()["rows"]["events"] == 8000
    assert bigger.nbytes > desc["bytes"]


def test_written_files_hold_the_drawn_events(tmp_path, small_sizes):
    import pyarrow.parquet as pq

    data = gen.build("uniform", 5, str(tmp_path))
    ev = data.arrays["events"]
    read = pq.read_table(data.files).to_pydict()
    for col in gen.UNIFORM_BOX:
        np.testing.assert_array_equal(np.asarray(read[col], dtype=np.float32), ev[col])


def test_bias_series_is_peaked_at_the_true_positions():
    files, truth = gen.bias_series(1, 0.1)
    assert len(files) == gen.SIZES["bias"]["files"]
    for k, name in enumerate(sorted(files)):
        t = files[name]["t"]
        near = np.abs(t - truth["peak_tof"][k]) < 120
        assert near.mean() > 0.5  # the main peak holds most events
        assert abs(np.median(t[near]) - truth["peak_tof"][k]) < 5
    # higher bias, lower kinetic energy, later arrival
    assert np.all(np.diff(truth["peak_tof"]) > 0)


def test_fel_tables_have_the_edge_cases_the_loader_handles():
    tables = gen.fel_tables(2, 0.05)
    assert (tables["electron"]["pulseId"] < 0).any()
    assert np.isnan(tables["pulse"]["bam"]).any()
    delay = tables["train"]["delayStage"]
    assert np.isnan(delay).any() and not np.isnan(delay[0])


# -- output checks -------------------------------------------------------

def test_histogram_matches_numpy_away_from_edges():
    rng = np.random.default_rng(0)
    x = rng.uniform(0.0, 10.0, 5000) + 0.013  # no value on an edge
    y = rng.uniform(-5.0, 5.0, 5000) + 0.007
    got = chk.histogram([x, y], [10, 8], [(0.5, 10.5), (-4.375, 5.625)])
    lo_x, hi_x = chk.bin_axis(0.5, 10.5, 10)
    lo_y, hi_y = chk.bin_axis(-4.375, 5.625, 8)
    want, _, _ = np.histogram2d(x, y, bins=[10, 8], range=[(lo_x, hi_x), (lo_y, hi_y)])
    np.testing.assert_array_equal(got, want)


def test_histogram_last_edge_inclusive_and_out_of_range_dropped():
    # 4 bins of width 1 on [0, 4): centres region (0.5, 4.5)
    x = np.array([-0.1, 0.0, 3.999, 4.0, 4.1, np.nan])
    got = chk.histogram([x], [4], [(0.5, 4.5)])
    np.testing.assert_array_equal(got, [1, 0, 0, 2])


def test_exact_check_fails_a_wrong_cube():
    want = chk.histogram([np.arange(100.0)], [10], [(5.0, 105.0)])
    assert chk.exact("cube", want.copy(), want) == (True, "")
    wrong = want.copy()
    wrong[3] += 1
    ok, why = chk.exact("cube", wrong, want)
    assert not ok and "1 of 10 bins differ" in why
    ok, why = chk.exact("cube", want[:-1], want)
    assert not ok and "shape" in why


def test_marginal_check_tolerates_jitter_but_not_lost_events():
    want = np.full(100, 1000.0)
    moved = want.copy()
    moved[::2] += 5
    moved[1::2] -= 5
    assert chk.marginal("h", moved, want)[0]
    assert not chk.marginal("h", want * 0.99, want)[0]
    shuffled = want.copy()
    shuffled[:10] += 300
    shuffled[10:40] -= 100
    assert not chk.marginal("h", shuffled, want)[0]


def test_close_and_within():
    want = np.array([1.0, np.nan, 3.0])
    assert chk.close("n", want * (1 + 1e-12), want)[0]
    assert not chk.close("n", want * 1.01, want)[0]
    assert chk.within("p", [1.0, 2.05], [1.0, 2.0], 0.1)[0]
    assert not chk.within("p", [1.0, np.nan], [1.0, 2.0], 0.1)[0]
    ok, why = chk.all_of((True, ""), (False, "a"), (False, "b"))
    assert not ok and why == "a; b"


def test_bilinear_samples_a_plane_exactly_inside_and_zero_outside():
    r, c = np.meshgrid(np.arange(8.0), np.arange(6.0), indexing="ij")
    plane = 2.0 * r + 3.0 * c
    rows, cols = np.array([1.25, 4.5, 6.9]), np.array([0.5, 3.75, 4.0])
    np.testing.assert_allclose(chk.bilinear(plane, rows, cols), 2 * rows + 3 * cols)
    assert chk.bilinear(plane, np.array([-2.0]), np.array([1.0]))[0] == 0.0


# -- metric math ---------------------------------------------------------

def test_fail_accounting():
    assert fail_accounting(10, 0) == 1.0
    assert fail_accounting(4, 1) == 0.75
    with pytest.raises(ValueError):
        fail_accounting(0, 0)
    with pytest.raises(ValueError):
        fail_accounting(3, 4)


def test_median():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([1.0, 2.0, 3.0, 10.0]) == 2.5
    assert median([]) == 0.0


def test_covered_and_self_times():
    assert covered_s([(0, 2), (1, 3), (5, 6), (4, 4)]) == 4
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 5.0},  # overlaps span 1
        {"id": 3, "parent": 1, "start": 2.0, "end": 3.0},
        {"id": 4, "parent": 0, "start": 9.0, "end": 12.0},  # runs past its parent
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(1.0)


class FakeTracer:
    def span(self, name, **attrs):
        from contextlib import nullcontext

        return nullcontext()


class FakeWorkload:
    def __init__(self, steps):
        self.steps = steps

    def sequence(self, ctx):
        return self.steps


class FakeContext:
    def span(self, name, **attrs):
        return FakeTracer().span(name)


def test_run_sequence_counts_a_wrong_cube_as_failed():
    want = chk.histogram([np.arange(50.0)], [5], [(5.0, 55.0)])
    wrong = want.copy()
    wrong[0] -= 1
    tally = run.Tally()
    done = run.run_sequence(FakeWorkload([
        Step("right", lambda: want.copy(), lambda out: chk.exact("cube", out, want)),
        Step("wrong", lambda: wrong, lambda out: chk.exact("cube", out, want)),
    ]), FakeContext(), tally)
    assert (tally.attempted, tally.failed) == (2, 1)
    assert [name for name, _ in done] == ["right"]
    assert "wrong: cube: 1 of 5 bins differ" in tally.reasons


def test_run_sequence_fails_the_rest_after_a_raise():
    def boom():
        raise RuntimeError("no")

    def bad_check(out):
        raise KeyError("x")

    tally = run.Tally()
    done = run.run_sequence(FakeWorkload([
        Step("ok", lambda: 1, lambda out: (True, "")),
        Step("crashing check", lambda: 1, bad_check),
        Step("raises", boom, lambda out: (True, "")),
        Step("after", lambda: 1, lambda out: (True, "")),
    ]), FakeContext(), tally)
    assert (tally.attempted, tally.failed) == (4, 3)
    assert [name for name, _ in done] == ["ok"]
    assert fail_accounting(tally.attempted, tally.failed) == 0.25
