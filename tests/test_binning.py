"""Binning engine vs numpy oracle.

Mirrors the reference's kernel-vs-oracle strategy
(reference tests/test_binning.py:80-175: numba kernel asserted against
np.histogramdd)."""

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from sed_spark.binning import bin_dataframe, normalize_bins
from sed_spark.binning.core import (
    _axis_source_projection,
    _dense_via_groupby,
    _flat_idx_expr,
)
from sed_spark.binning.spec import bin_centers_to_bin_edges


def shifted_ranges(bins, ranges):
    out = []
    for nb, (lo, hi) in zip(bins, ranges):
        half = (hi - lo) / nb / 2
        out.append((lo - half, hi - half))
    return out


def test_hist_1d_matches_numpy(events_df, events_pdf):
    bins, ranges = [100], [(60_000.0, 120_000.0)]
    res = bin_dataframe(events_df, bins=bins, axes=["t"], ranges=ranges)
    ref, _ = np.histogramdd(
        events_pdf[["t"]].to_numpy(), bins=bins, range=shifted_ranges(bins, ranges),
    )
    assert res.shape == (100,)
    np.testing.assert_allclose(res.data, ref)


def test_hist_2d_matches_numpy(events_df, events_pdf):
    bins, ranges = [32, 48], [(0.0, 2048.0), (0.0, 2048.0)]
    res = bin_dataframe(events_df, bins=bins, axes=["X", "Y"], ranges=ranges)
    ref, _ = np.histogramdd(
        events_pdf[["X", "Y"]].to_numpy(), bins=bins, range=shifted_ranges(bins, ranges),
    )
    np.testing.assert_allclose(res.data, ref)


def test_hist_tuple_spec(events_df, events_pdf):
    res = bin_dataframe(events_df, bins=[(2_000.0, 20_000.0, 50)], axes=["ADC"])
    ref, _ = np.histogramdd(
        events_pdf[["ADC"]].to_numpy(),
        bins=[50],
        range=shifted_ranges([50], [(2_000.0, 20_000.0)]),
    )
    np.testing.assert_allclose(res.data, ref)


def test_hist_centers_spec(events_df, events_pdf):
    centers = np.linspace(65_000, 115_000, 64)
    res = bin_dataframe(events_df, bins=[centers], axes=["t"])
    edges = bin_centers_to_bin_edges(centers)
    ref, _ = np.histogramdd(events_pdf[["t"]].to_numpy(), bins=[edges])
    np.testing.assert_allclose(res.data, ref)
    np.testing.assert_allclose(res.coords["t"], centers)


def test_last_edge_inclusive_and_out_of_range(spark):
    import pandas as pd

    pdf = pd.DataFrame({"v": [0.0, 0.5, 1.0, 1.0000001, -0.3, np.nan]})
    df = spark.createDataFrame(pdf)
    res = bin_dataframe(df, bins=[(0.0, 1.0, 2)], axes=["v"])
    # shifted edges: [-0.25, 0.25, 0.75]; 0.0->bin0, 0.5->bin1;
    # 1.0, 1.0000001, -0.3 outside; NaN dropped
    assert res.data.sum() == 2
    np.testing.assert_allclose(res.data, [1, 1])


def test_exact_last_edge(spark):
    import pandas as pd

    pdf = pd.DataFrame({"v": [0.75]})
    df = spark.createDataFrame(pdf)
    res = bin_dataframe(df, bins=[(0.0, 1.0, 2)], axes=["v"])
    # 0.75 is exactly the (shifted) last edge -> counted in last bin
    np.testing.assert_allclose(res.data, [0, 1])


def _flat_index_frame(df, bins, axes, ranges):
    """The ``__idx`` projection ``bin_dataframe`` feeds its dense builder."""
    norm = normalize_bins(bins, axes, ranges)
    srcdf, snames = _axis_source_projection(df, norm, None, None)
    flat = _flat_idx_expr(norm, snames)
    return srcdf.select(F.coalesce(flat, F.lit(-1).cast("long")).alias("__idx"))


def test_methods_agree_4d(events_df, events_pdf):
    """The dense builder produces the numpy cube."""
    bins = [12, 12, 12, 12]
    ranges = [(0.0, 2048.0), (0.0, 2048.0), (60_000.0, 120_000.0),
              (2_000.0, 20_000.0)]
    axes = ["X", "Y", "t", "ADC"]
    proj = _flat_index_frame(events_df, bins, axes, ranges)
    cube = int(np.prod(bins))
    a = _dense_via_groupby(proj, cube, out_dtype="float32").reshape(bins)
    ref, _ = np.histogramdd(
        events_pdf[axes].to_numpy(), bins=bins, range=shifted_ranges(bins, ranges),
    )
    np.testing.assert_allclose(a, ref)


def test_odd_cube_matches_numpy(events_df, events_pdf):
    """51^3 = 132651 cells, no power-of-two axis: the flat row-major index
    and the scatter land every count in numpy's cell."""
    bins = [51, 51, 51]
    ranges = [(0.0, 2048.0), (0.0, 2048.0), (60_000.0, 120_000.0)]
    axes = ["X", "Y", "t"]
    proj = _flat_index_frame(events_df, bins, axes, ranges)
    cube = int(np.prod(bins))
    a = _dense_via_groupby(proj, cube, out_dtype="float32").reshape(bins)
    ref, _ = np.histogramdd(
        events_pdf[axes].to_numpy(), bins=bins, range=shifted_ranges(bins, ranges),
    )
    np.testing.assert_array_equal(a, ref)


def test_oversized_cube_raises_before_any_job(spark):
    axes = ["a", "b", "c", "d"]
    df = spark.range(10).selectExpr(*[f"CAST(id AS DOUBLE) AS {a}" for a in axes])
    tracker = spark.sparkContext.statusTracker()
    df.count()  # the frame itself is fine
    before = tracker.getJobIdsForGroup(None)
    # 22628 x 22627 cells is just above the limit; 65536^4 = 2^64 cells
    # wraps to 0 in an int64 product
    for bins, cells in [([22_628, 22_627], 512_003_756), ([65_536] * 4, 2**64)]:
        with pytest.raises(ValueError, match=rf"{cells} cells .*512000000-cell.*sparse_histogram"):
            bin_dataframe(df, bins=bins, axes=axes[:len(bins)],
                          ranges=[(0.0, 10.0)] * len(bins))
    assert tracker.getJobIdsForGroup(None) == before


def test_jitter_binning_total_preserved(events_df):
    res = bin_dataframe(
        events_df,
        bins=[100],
        axes=["t"],
        ranges=[(50_000.0, 130_000.0)],
        jitter=["t"],
        jitter_seed=7,
    )
    # jitter of half a bin at interior bins keeps all rows in range
    assert res.data.sum() == events_df.count()


def test_normalize_bins_dict():
    axes = normalize_bins({"t": (0.0, 10.0, 5), "X": (0.0, 1.0, 2)})
    assert [a.name for a in axes] == ["t", "X"]
    assert [a.nbins for a in axes] == [5, 2]


def test_normalize_bins_errors():
    with pytest.raises(ValueError):
        normalize_bins(10, axes=["t"])  # no ranges
    with pytest.raises(ValueError):
        normalize_bins([10, 10], axes=["t"], ranges=[(0, 1), (0, 1)])


@pytest.mark.parametrize(
    ("bins", "ranges", "message"),
    [
        ([0], [(0.0, 1.0)], "'t': `bins[0]` must be positive, when an integer"),
        ([-3], [(0.0, 1.0)], "'t': `bins[0]` must be positive, when an integer"),
        ([(0.0, 1.0, 0)], None, "'t': `bins[0]` must be positive, when an integer"),
        ([10], [(10.0, 0.0)], "'t': max must be larger than min in range parameter"),
        ([10], [(5.0, 5.0)], "'t': max must be larger than min in range parameter"),
        ([10], [(np.nan, 1.0)], "'t': supplied range of [nan, 1.0] is not finite"),
        ([10], [(0.0, np.inf)], "'t': supplied range of [0.0, inf] is not finite"),
        ([np.array([1.0])], None, "'t': `bins[0]` must hold at least 2 bin centers"),
        ([np.array([1.0, 0.5, 2.0])], None,
         "'t': `bins[0]` must be monotonically increasing, when an array"),
        ([np.array([1.0, 1.0, 2.0])], None,
         "'t': `bins[0]` must be monotonically increasing, when an array"),
        ([np.array([0.0, 1.0, np.inf])], None, "'t': `bins[0]` must be finite"),
    ],
)
def test_normalize_bins_rejects_bad_specs(bins, ranges, message):
    with pytest.raises(ValueError, match=re.escape(message)):
        normalize_bins(bins, axes=["t"], ranges=ranges)


# ---------------------------------------------------------------------------
# literal-edges grammar + equi-depth edges
# ---------------------------------------------------------------------------

def test_axis_from_edges_passthrough_and_validation():
    import pytest

    from sed_spark.binning import axis_from_edges, normalize_bins

    ax = axis_from_edges("x", [0.0, 1.0, 4.0, 10.0])
    assert ax.nbins == 3 and ax.lo == 0.0 and ax.hi == 10.0
    # normalize_bins passes pre-built axes through untouched (no
    # centers->edges round trip that would move literal edges)
    out = normalize_bins([ax])
    assert out[0] is ax
    with pytest.raises(ValueError, match="increasing"):
        axis_from_edges("x", [0.0, 2.0, 1.0])
    with pytest.raises(ValueError, match="at least 2"):
        axis_from_edges("x", [0.0])


def test_equidepth_histogram_balances_counts(spark):
    import numpy as np

    from sed_spark.binning import (
        axis_from_edges,
        equidepth_edges,
        sparse_histogram,
    )

    # heavily skewed data: exponential-ish via value**3 over [0, 1000]
    n = 20_000
    df = spark.range(n).selectExpr("CAST(id*id*id AS DOUBLE)/4e7 AS v")
    edges = equidepth_edges(df, "v", 10, exact=True)
    assert len(edges) == 11 and np.all(np.diff(edges) > 0)
    agg, _, names = sparse_histogram(
        df, bins=[axis_from_edges("v", edges)], count_alias="cnt",
    )
    counts = {r[names[0]]: r["cnt"] for r in agg.collect()}
    # each of the 10 bins holds ~n/10 rows
    assert set(counts) == set(range(10))
    assert all(abs(c - n / 10) <= n / 100 + 2 for c in counts.values())


def test_equidepth_edges_errors(spark):
    import pytest

    from sed_spark.binning import equidepth_edges

    df = spark.range(10).selectExpr("CAST(1.0 AS DOUBLE) AS v")
    # a constant column has no distinct quantiles
    with pytest.raises(ValueError, match="degenerate"):
        equidepth_edges(df, "v", 4, exact=True)
    with pytest.raises(ValueError, match="nbins"):
        equidepth_edges(df, "v", 0)
    empty = df.filter("v IS NULL")
    with pytest.raises(ValueError, match="no non-null"):
        equidepth_edges(empty, "v", 4, exact=True)


# ---------------------------------------------------------------------------
# acquisition-time normalization
# ---------------------------------------------------------------------------

def test_normalization_histogram_from_timestamps_matches_pandas(spark):
    import pandas as pd

    from sed_spark.binning import normalization_histogram_from_timestamps

    rng = np.random.default_rng(11)
    n = 600
    pdf = pd.DataFrame(
        {
            "file_id": np.repeat([0, 1, 2], n // 3),
            "row_index": np.tile(np.arange(n // 3), 3),
            "timeStamp": np.cumsum(rng.uniform(0.0, 2.0, n)),
            "X": rng.uniform(-1.0, 5.0, n),
        },
    )
    # on an edge, just past an edge, NaN, on the last edge
    pdf.loc[:5, "X"] = [0.5, 0.6, 2.0, 2.2, np.nan, 4.0]
    # the dwell time follows row_index within each file, not the row order
    df = spark.createDataFrame(pdf.sample(frac=1.0, random_state=1))
    dt = pdf.groupby("file_id")["timeStamp"].diff()
    # uniform centers with an empty last bin, then non-uniform centers
    for centers in (np.arange(7.0), np.array([0.0, 1.0, 3.0])):
        cut = pd.cut(pdf["X"], bin_centers_to_bin_edges(centers))
        want = dt.groupby(cut, observed=False).sum().to_numpy()
        res = normalization_histogram_from_timestamps(
            df, "X", centers, "timeStamp", "row_index",
        )
        np.testing.assert_array_equal(res.coords["X"], centers)
        np.testing.assert_allclose(res.data, want, rtol=1e-12)

    for bad in (np.array([1.0]), np.array([3.0, 1.0, 0.0])):
        with pytest.raises(ValueError, match="axis 'X'"):
            normalization_histogram_from_timestamps(
                df, "X", bad, "timeStamp", "row_index",
            )
