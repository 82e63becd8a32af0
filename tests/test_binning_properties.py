"""Property-based check of the bin-index semantics.

The engine encodes the reference kernel's uniform-binning rule
(reference src/sed/binning/numba_bin.py: index = int of the scaled
coordinate with round-to-11-decimals edge snapping, last edge inclusive)
as the Column expression ``floor(j + 5e-12)``. This test re-derives the
REFERENCE formulation independently in numpy (``np.floor(np.around(j,
11))``) and asserts the engine matches it on hypothesis-generated ranges
with adversarial values: exact bin edges as computed in double precision,
the upper edge itself, out-of-range probes, and uniform fill.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


def _reference_bin(values, lo, hi, nbins):
    """Independent numpy transcription of the reference's semantics."""
    delta = 1.0 / ((hi - lo) / nbins)
    j = (values - lo) * delta
    j = np.around(j, 11)
    idx = np.floor(j).astype(np.int64)
    idx = np.minimum(idx, nbins - 1)  # last edge inclusive
    valid = (j >= 0) & (j <= nbins + 1e-11) & ~np.isnan(values)
    return idx, valid


@given(
    lo=st.floats(-1000, 1000),
    width=st.floats(0.5, 2000),
    nbins=st.integers(2, 200),
    seed=st.integers(0, 2**31 - 1),
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_bin_index_matches_reference_semantics(spark, lo, width, nbins, seed):
    from pyspark.sql import functions as F

    from sed_spark.binning.core import bin_index_nullable
    from sed_spark.binning.spec import normalize_bins

    hi = lo + width
    rng = np.random.default_rng(seed)
    edges = lo + (hi - lo) * np.arange(nbins + 1) / nbins
    values = np.concatenate(
        [
            edges,                                  # exact edges incl. hi
            rng.uniform(lo, hi, 200),               # uniform fill
            [lo - 1.0, hi + 1.0, np.nan],           # out of range / null
            np.nextafter(edges[1:-1], -np.inf)[:20],  # just below edges
        ],
    )
    # literal-edge axis: the default grammar applies the reference's
    # half-bin-width center shift, which is not under test here
    ax = normalize_bins(
        [nbins], ["v"], [(lo, hi)], shift_half_binwidth=False,
    )[0]
    df = spark.createDataFrame(pd.DataFrame({"v": values}))
    idx = bin_index_nullable(ax, F.col("v"))
    got = df.select(idx.alias("idx"), idx.isNotNull().alias("ok")).toPandas()
    want_idx, want_valid = _reference_bin(values, lo, hi, nbins)
    # Values whose scaled coordinate j sits WITHIN the snapping band
    # (|j - nearest integer| ≲ 1e-11) are ambiguous BY CONSTRUCTION: the
    # reference snaps via float ``np.around(j, 11)`` and the engine via
    # ``floor(j + 5e-12)`` — two float formulations of the same documented
    # rule whose flip thresholds differ by ulps, and the reference's own
    # answer there depends on numba/compiler fp contraction. Outside the
    # band the match must be exact; inside it the engine may differ by at
    # most the one snapped bin. (The driver oracle mirrors the ENGINE
    # expression, so cross-engine correctness is band-independent.)
    with np.errstate(invalid="ignore"):
        j = np.around((values - lo) * (1.0 / ((hi - lo) / nbins)), 11)
        near = np.abs(j - np.rint(j)) <= 2.5e-11
    near = near | np.isnan(values)
    strict = want_valid & ~near
    np.testing.assert_array_equal(
        got["ok"].to_numpy()[~near], want_valid[~near],
    )
    np.testing.assert_array_equal(
        got["idx"].to_numpy()[strict], want_idx[strict],
    )
    both = want_valid & near & got["ok"].to_numpy()
    assert np.all(
        np.abs(got["idx"].to_numpy()[both] - want_idx[both]) <= 1,
    )


@given(
    n=st.integers(20, 120),
    ngroups=st.integers(1, 5),
    null_frac=st.floats(0.1, 0.95),
    seed=st.integers(0, 2**31 - 1),
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_forward_backward_fill_match_pandas(spark, n, ngroups, null_frac, seed):
    """The exact two-phase fill must equal pandas' global ffill/bfill for
    ANY null layout — including groups that are entirely null (the case
    the reference's map_overlap approximation gets wrong)."""
    from sed_spark.dfops import backward_fill, forward_fill

    rng = np.random.default_rng(seed)
    vals = rng.normal(size=n)
    vals[rng.random(n) < null_frac] = np.nan
    pdf = pd.DataFrame(
        {
            "row_index": np.arange(n),
            "file_id": np.sort(rng.integers(0, ngroups, n)),
            "x": vals,
        },
    )
    sdf = spark.createDataFrame(pdf).repartition(3)
    got_f = (
        forward_fill(sdf, ["x"], order_col="row_index")
        .orderBy("row_index").toPandas()["x"]
    )
    got_b = (
        backward_fill(sdf, ["x"], order_col="row_index")
        .orderBy("row_index").toPandas()["x"]
    )
    want_f = pdf["x"].ffill()
    want_b = pdf["x"].bfill()
    np.testing.assert_array_equal(
        got_f.isna().to_numpy(), want_f.isna().to_numpy(),
    )
    np.testing.assert_allclose(
        got_f.dropna().to_numpy(), want_f.dropna().to_numpy(),
    )
    np.testing.assert_array_equal(
        got_b.isna().to_numpy(), want_b.isna().to_numpy(),
    )
    np.testing.assert_allclose(
        got_b.dropna().to_numpy(), want_b.dropna().to_numpy(),
    )
