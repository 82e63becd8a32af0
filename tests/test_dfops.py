"""Generic dfops vs pandas/numpy oracles
(model: reference tests/test_dfops.py:29-457)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from sed_spark import dfops


def test_apply_filter_strict_bounds(spark):
    pdf = pd.DataFrame({"v": [0.0, 1.0, 2.0, 3.0, 4.0]})
    df = spark.createDataFrame(pdf)
    out = dfops.apply_filter(df, "v", 1.0, 3.0).toPandas()
    assert out["v"].tolist() == [2.0]  # strict inequalities


def test_apply_filter_open_bounds(spark):
    pdf = pd.DataFrame({"v": [0.0, 1.0, 2.0]})
    df = spark.createDataFrame(pdf)
    assert dfops.apply_filter(df, "v").count() == 3
    assert dfops.apply_filter(df, "v", lower_bound=0.5).count() == 2


def test_jitter_uniform_bounds_and_shared_noise(spark):
    pdf = pd.DataFrame({"a": np.zeros(5000), "b": np.zeros(5000)})
    df = spark.createDataFrame(pdf)
    out = dfops.apply_jitter(df, ["a", "b"], amps=[0.5, 1.0], seed=1).toPandas()
    ja, jb = out["a_jittered"], out["b_jittered"]
    assert ja.abs().max() <= 0.5 and ja.abs().max() > 0.3
    # same noise draw scaled by per-column amps -> exactly proportional
    np.testing.assert_allclose(jb.to_numpy(), 2 * ja.to_numpy(), rtol=1e-12)


def test_jitter_normal(spark):
    pdf = pd.DataFrame({"a": np.zeros(20000)})
    df = spark.createDataFrame(pdf)
    out = dfops.apply_jitter(df, "a", amps=2.0, jitter_type="normal", seed=3).toPandas()
    assert abs(out["a_jittered"].std() - 2.0) < 0.1


def _noise(df, **kw):
    """Jitter a zero column and return the noise as float64 numpy."""
    out = dfops.apply_jitter(df, "a", cols_jittered="j", **kw)
    return out.select("j").toPandas()["j"].to_numpy(dtype=np.float64)


@pytest.fixture(scope="module")
def zeros_2e5(spark):
    df = spark.range(200_000).select(F.lit(0.0).alias("a")).repartition(4).cache()
    df.count()
    yield df
    df.unpersist()


def test_jitter_uniform_is_flat_and_bounded(zeros_2e5):
    n, amp, nb = 200_000, 0.5, 20
    v = _noise(zeros_2e5, amps=amp)
    assert v.min() >= -amp and v.max() < amp
    counts, _ = np.histogram(v, bins=nb, range=(-amp, amp))
    p = 1.0 / nb
    sigma = np.sqrt(n * p * (1 - p))
    assert np.all(np.abs(counts - n * p) < 5 * sigma), counts


def test_jitter_normal_moments(zeros_2e5):
    n, amp = 200_000, 2.0
    v = _noise(zeros_2e5, amps=amp, jitter_type="normal")
    assert np.all(np.isfinite(v))
    assert abs(v.mean()) < 5 * amp / np.sqrt(n)
    assert abs(v.std() / amp - 1.0) < 0.05
    z = (v - v.mean()) / v.std()
    # sample kurtosis has standard error sqrt(24/n) ~ 0.011
    assert abs(np.mean(z**4) - 3.0) < 0.1


@pytest.mark.parametrize("jitter_type", ["uniform", "normal"])
def test_unseeded_jitter_draws_are_uncorrelated(zeros_2e5, jitter_type):
    both = dfops.apply_jitter(
        dfops.apply_jitter(zeros_2e5, "a", cols_jittered="j1", jitter_type=jitter_type),
        "a", cols_jittered="j2", jitter_type=jitter_type,
    ).select("j1", "j2").toPandas()
    assert abs(np.corrcoef(both["j1"], both["j2"])[0, 1]) < 0.02


@pytest.mark.parametrize("jitter_type", ["uniform", "normal"])
def test_jitter_seed_reproduces_its_draw(zeros_2e5, jitter_type):
    a = _noise(zeros_2e5, jitter_type=jitter_type, seed=11)
    b = _noise(zeros_2e5, jitter_type=jitter_type, seed=11)
    c = _noise(zeros_2e5, jitter_type=jitter_type, seed=12)
    np.testing.assert_array_equal(a, b)
    assert np.count_nonzero(a != c) > 0.99 * len(a)


@pytest.mark.parametrize("forward", [True, False])
def test_fill_matches_pandas(spark, forward):
    rng = np.random.default_rng(0)
    n = 4000
    vals = rng.uniform(size=n)
    mask = rng.uniform(size=n) < 0.95  # sparse channel: 95% NaN
    vals[mask] = np.nan
    # group 2 entirely NaN -> exercises the cross-group carry
    groups = np.repeat(np.arange(8), n // 8)
    vals[groups == 2] = np.nan
    pdf = pd.DataFrame({"v": vals, "file_id": groups, "order": np.arange(n)})
    df = spark.createDataFrame(pdf).repartition(4, "file_id")
    if forward:
        out = dfops.forward_fill(df, ["v"], "order").toPandas()
        expected = pdf.sort_values("order")["v"].ffill()
    else:
        out = dfops.backward_fill(df, ["v"], "order").toPandas()
        expected = pdf.sort_values("order")["v"].bfill()
    out = out.sort_values("order").reset_index(drop=True)
    np.testing.assert_allclose(
        out["v"].to_numpy(), expected.to_numpy(), equal_nan=True,
    )


def test_offset_by_other_columns(spark):
    pdf = pd.DataFrame(
        {"target": [1.0, 2.0, 3.0, 4.0], "off": [10.0, 20.0, 30.0, 40.0]},
    )
    df = spark.createDataFrame(pdf)
    # plain weighted per-row offset
    out = dfops.offset_by_other_columns(df, "target", "off", 2.0).toPandas()
    np.testing.assert_allclose(out["target"], pdf["target"] + 2.0 * pdf["off"])
    # mean reduction: scalar offset
    out = dfops.offset_by_other_columns(
        df, "target", "off", 1.0, reductions="mean",
    ).toPandas()
    np.testing.assert_allclose(out["target"], pdf["target"] + 25.0)
    # preserve_mean: centered per-row offset
    out = dfops.offset_by_other_columns(
        df, "target", "off", 1.0, preserve_mean=True,
    ).toPandas()
    np.testing.assert_allclose(out["target"], pdf["target"] + pdf["off"] - 25.0)
    # not inplace -> new column
    out = dfops.offset_by_other_columns(df, "target", "off", 1.0, inplace=False)
    assert "target_offset" in out.columns


def test_add_time_stamped_data_matches_np_interp(spark):
    series_ts = np.array([0.0, 10.0, 20.0, 30.0])
    series_v = np.array([1.0, 2.0, 0.0, 4.0])
    pdf = pd.DataFrame({"timeStamp": [-5.0, 0.0, 5.0, 12.0, 30.0, 99.0]})
    df = spark.createDataFrame(pdf)
    out = dfops.add_time_stamped_data(
        df, series_ts, series_v, "temp", "timeStamp",
    ).toPandas()
    np.testing.assert_allclose(
        out["temp"], np.interp(pdf["timeStamp"], series_ts, series_v),
    )


def test_split_channel_bitwise(spark):
    pdf = pd.DataFrame({"ch": [0, 7, 8, 123456789]})
    df = spark.createDataFrame(pdf)
    out = dfops.split_channel_bitwise(df, "ch", ["low", "high"], 3).toPandas()
    np.testing.assert_array_equal(out["low"], pdf["ch"] % 8)
    np.testing.assert_array_equal(out["high"], pdf["ch"] // 8)
    types = dict(dfops.split_channel_bitwise(df, "ch", ["l", "h"], 3).dtypes)
    assert types["l"] == "tinyint" and types["h"] == "int"


def test_split_dld_time_from_sector_id(spark):
    pdf = pd.DataFrame({"dldTimeSteps": [8 * 1000 + 5, 8 * 2000 + 0]})
    df = spark.createDataFrame(pdf)
    out = dfops.split_dld_time_from_sector_id(df).toPandas()
    assert out["dldSectorID"].tolist() == [5, 0]
    assert out["dldTimeSteps"].tolist() == [1000, 2000]


def test_drop_column(spark):
    df = spark.createDataFrame(pd.DataFrame({"a": [1], "b": [2], "c": [3]}))
    assert dfops.drop_column(df, "a").columns == ["b", "c"]
    assert dfops.drop_column(df, ["a", "b"]).columns == ["c"]


def test_map_columns_2d(spark):
    df = spark.createDataFrame(pd.DataFrame({"x": [3.0], "y": [4.0]}))

    def rot(x, y, angle=0.0):
        return x * np.cos(angle) - y * np.sin(angle), x * np.sin(angle) + y * np.cos(angle)

    out = dfops.map_columns_2d(
        df, rot, "x", "y", new_x_column="u", new_y_column="v", angle=np.pi / 2,
    ).toPandas()
    np.testing.assert_allclose(out["u"], [-4.0], atol=1e-12)
    np.testing.assert_allclose(out["v"], [3.0], atol=1e-12)


def test_sessionize_gap_semantics(spark):
    import pandas as pd

    from sed_spark.dfops import sessionize

    pdf = pd.DataFrame(
        {
            "u": [1, 1, 1, 1, 2, 2],
            "t": [0.0, 10.0, 100.0, 105.0, 0.0, 500.0],
            "i": [0, 1, 2, 3, 4, 5],
        },
    )
    out = sessionize(
        spark.createDataFrame(pdf), "u", "t", gap=50.0, order_cols=["i"],
    ).orderBy("i").collect()
    assert [r["session_id"] for r in out] == [0, 0, 1, 1, 0, 1]
    # single window pipeline: one shuffle for both window functions
    plan_df = sessionize(spark.createDataFrame(pdf), "u", "t", gap=50.0)
    plan = plan_df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1


def test_asof_join_matches_pandas_merge_asof(spark):
    import pandas as pd

    from sed_spark.dfops import asof_join

    rng = np.random.default_rng(4)
    left = pd.DataFrame(
        {
            "k": rng.integers(0, 3, 60),
            "ts": np.round(rng.uniform(0, 100, 60), 3),
            "lid": np.arange(60),
        },
    )
    right = pd.DataFrame(
        {
            "k": rng.integers(0, 3, 15),
            "ts": np.round(rng.uniform(0, 100, 15), 3),
            "v": rng.normal(size=15),
        },
    ).drop_duplicates(["k", "ts"])
    got = (
        asof_join(
            spark.createDataFrame(left), spark.createDataFrame(right),
            on="ts", by="k",
        )
        .orderBy("lid")
        .toPandas()
    )
    want = pd.merge_asof(
        left.sort_values("ts"), right.sort_values("ts"),
        on="ts", by="k", direction="backward",
    ).sort_values("lid")
    np.testing.assert_array_equal(
        got["v"].isna().to_numpy(), want["v"].isna().to_numpy(),
    )
    np.testing.assert_allclose(
        got["v"].dropna().to_numpy(), want["v"].dropna().to_numpy(),
    )


def test_asof_join_forward_direction(spark):
    import pandas as pd

    from sed_spark.dfops import asof_join

    left = pd.DataFrame({"ts": [1.0, 5.0, 10.0], "lid": [0, 1, 2]})
    right = pd.DataFrame({"ts": [4.0, 10.0], "v": ["a", "b"]})
    got = (
        asof_join(
            spark.createDataFrame(left), spark.createDataFrame(right),
            on="ts", direction="forward",
        )
        .orderBy("lid")
        .toPandas()
    )
    assert list(got["v"]) == ["a", "b", "b"]  # ties match, like merge_asof


def test_asof_join_keyless_matches_merge_asof_multi_partition(spark):
    # the keyless case must stay exact through the range-bucket +
    # boundary-carry path with many input partitions and both directions
    import pandas as pd

    from sed_spark.dfops import asof_join

    rng = np.random.default_rng(21)
    left = pd.DataFrame(
        {
            "ts": np.sort(np.round(rng.uniform(0, 1000, 500), 3)),
            "lid": np.arange(500),
        },
    )
    right = pd.DataFrame(
        {
            "ts": np.round(rng.uniform(0, 1000, 40), 3),
            "v": rng.normal(size=40),
        },
    ).drop_duplicates(["ts"])
    ldf = spark.createDataFrame(left).repartition(13)
    rdf = spark.createDataFrame(right).repartition(5)
    for direction in ("backward", "forward"):
        got = (
            asof_join(ldf, rdf, on="ts", direction=direction)
            .orderBy("lid")
            .toPandas()
        )
        want = pd.merge_asof(
            left, right.sort_values("ts"), on="ts", direction=direction,
        )
        np.testing.assert_array_equal(
            got["v"].isna().to_numpy(), want["v"].isna().to_numpy(), direction,
        )
        np.testing.assert_allclose(
            got["v"].dropna().to_numpy(), want["v"].dropna().to_numpy(),
            err_msg=direction,
        )


def test_asof_join_keyless_skips_null_right_values(spark):
    # a null right VALUE must not shadow an earlier non-null one
    # (ignorenulls semantics), including across bucket seams
    import pandas as pd

    from sed_spark.dfops import asof_join

    left = pd.DataFrame({"ts": [1.0, 5.0, 9.0], "lid": [0, 1, 2]})
    right = pd.DataFrame({"ts": [0.5, 4.0, 8.0], "v": ["a", None, "b"]})
    got = (
        asof_join(
            spark.createDataFrame(left), spark.createDataFrame(right), on="ts",
        )
        .orderBy("lid")
        .toPandas()
    )
    assert list(got["v"]) == ["a", "a", "b"]


def test_asof_join_rejects_column_collision(spark):
    import pandas as pd
    import pytest

    from sed_spark.dfops import asof_join

    left = spark.createDataFrame(pd.DataFrame({"ts": [1.0], "v": [0.0]}))
    right = spark.createDataFrame(pd.DataFrame({"ts": [1.0], "v": [9.0]}))
    with pytest.raises(ValueError, match="collide"):
        asof_join(left, right, on="ts")
    # suffix disambiguates — both columns survive
    got = asof_join(left, right, on="ts", suffix="_r").toPandas()
    assert got["v"].iloc[0] == 0.0 and got["v_r"].iloc[0] == 9.0


def test_asof_join_keyless_bigint_value_column(spark):
    # the seam-carry table round-trips right values through pandas, where
    # empty buckets inject NaN and promote ints to float64 — the carry
    # must come back as exact Python ints against the declared bigint
    # schema (round-3 advice: only double/string values were tested)
    import pandas as pd

    from sed_spark.dfops import asof_join

    left = spark.createDataFrame(
        pd.DataFrame({"ts": [float(i) for i in range(12)]}),
    )
    right = spark.createDataFrame(
        pd.DataFrame({"ts": [2.5, 7.5], "v": [10 ** 12 + 1, 10 ** 12 + 2]}),
    )
    got = (
        asof_join(left.repartition(5), right, on="ts")
        .orderBy("ts")
        .toPandas()
    )
    assert dict(asof_join(left, right, on="ts").dtypes)["v"] == "bigint"
    want = [None] * 3 + [10 ** 12 + 1] * 5 + [10 ** 12 + 2] * 4
    assert [None if pd.isna(v) else int(v) for v in got["v"]] == want


def test_asof_join_keyless_rejects_array_value(spark):
    import pytest

    from sed_spark.dfops import asof_join

    left = spark.createDataFrame([(1.0,), (2.0,)], "ts double")
    right = spark.createDataFrame(
        [(0.5, [1, 2])], "ts double, v array<int>",
    )
    with pytest.raises(ValueError, match="atomic value column types"):
        asof_join(left, right, on="ts")
    # the per-key window path has no such restriction
    left_k = spark.createDataFrame([(1, 1.0)], "k int, ts double")
    right_k = spark.createDataFrame(
        [(1, 0.5, [1, 2])], "k int, ts double, v array<int>",
    )
    got = asof_join(left_k, right_k, on="ts", by="k").collect()
    assert got[0]["v"] == [1, 2]


def _asof_parity_case(seed, n_left=80, n_right=18, keyed=True):
    rng = np.random.default_rng(seed)
    left = pd.DataFrame(
        {
            "ts": np.sort(np.round(rng.uniform(0, 100, n_left), 1)),
            "lid": np.arange(n_left),
        },
    )
    right = pd.DataFrame(
        {
            "ts": np.round(rng.uniform(0, 100, n_right), 1),
            "v": np.round(rng.normal(size=n_right), 6),
        },
    ).drop_duplicates(["ts"])
    if keyed:
        left["k"] = rng.integers(0, 3, len(left))
        right["k"] = rng.integers(0, 3, len(right))
        right = right.drop_duplicates(["k", "ts"])
    return left, right


@pytest.mark.parametrize("keyed", [True, False])
@pytest.mark.parametrize(
    ("direction", "tolerance", "exact"),
    [
        ("nearest", None, True),
        ("nearest", 5.0, True),
        ("nearest", None, False),
        ("backward", 5.0, True),
        ("backward", None, False),
        ("forward", 5.0, True),
        ("forward", None, False),
    ],
)
def test_asof_join_merge_asof_parity_extended(
    spark, keyed, direction, tolerance, exact,
):
    # pandas.merge_asof is the semantics oracle for the full parameter
    # surface: direction=nearest (ties -> backward), tolerance (masks
    # each candidate BEFORE the nearest pick), allow_exact_matches=False
    # (strict inequalities on both search directions). The 0.1-grid ts
    # values make exact collisions and equidistant ties common, so the
    # tie rules are actually exercised.
    from sed_spark.dfops import asof_join

    left, right = _asof_parity_case(
        seed=hash((direction, tolerance, exact, keyed)) % (2 ** 31),
        keyed=keyed,
    )
    by = "k" if keyed else None
    got = (
        asof_join(
            spark.createDataFrame(left).repartition(7),
            spark.createDataFrame(right).repartition(3),
            on="ts",
            by=by,
            direction=direction,
            tolerance=tolerance,
            allow_exact_matches=exact,
        )
        .orderBy("lid")
        .toPandas()
    )
    want = pd.merge_asof(
        left,
        right.sort_values("ts"),
        on="ts",
        by=by,
        direction=direction,
        tolerance=tolerance,
        allow_exact_matches=exact,
    ).sort_values("lid")
    label = f"{direction}/tol={tolerance}/exact={exact}/keyed={keyed}"
    np.testing.assert_array_equal(
        got["v"].isna().to_numpy(), want["v"].isna().to_numpy(), label,
    )
    np.testing.assert_allclose(
        got["v"].dropna().to_numpy(), want["v"].dropna().to_numpy(),
        err_msg=label,
    )


def test_asof_join_matched_on_column(spark):
    # matched_on exposes the matched right-side timestamp (null when no
    # match / outside tolerance) for both the keyed-window and the
    # keyless bucketed paths
    from sed_spark.dfops import asof_join

    left = pd.DataFrame({"ts": [1.0, 5.0, 20.0], "lid": [0, 1, 2]})
    right = pd.DataFrame({"ts": [4.0, 6.0], "v": ["a", "b"]})
    got = (
        asof_join(
            spark.createDataFrame(left), spark.createDataFrame(right),
            on="ts", direction="nearest", tolerance=3.0, matched_on="mts",
        )
        .orderBy("lid")
        .toPandas()
    )
    # ts=1: forward 4.0 at distance 3 <= tolerance (inclusive, like
    # pandas); ts=5: 4.0/6.0 equidistant -> backward; ts=20: nothing
    # within tolerance
    assert [None if pd.isna(x) else x for x in got["mts"]] == [4.0, 4.0, None]
    assert [None if pd.isna(x) else x for x in got["v"]] == ["a", "a", None]
    lk = left.assign(k=1)
    rk = right.assign(k=1)
    got_k = (
        asof_join(
            spark.createDataFrame(lk), spark.createDataFrame(rk),
            on="ts", by="k", matched_on="mts",
        )
        .orderBy("lid")
        .toPandas()
    )
    assert [None if pd.isna(x) else x for x in got_k["mts"]] == [None, 4.0, 6.0]
    # matched_on name clashes with a left column -> loud error
    with pytest.raises(ValueError, match="collide"):
        asof_join(
            spark.createDataFrame(left), spark.createDataFrame(right),
            on="ts", matched_on="lid",
        )


def test_asof_join_nearest_tie_prefers_backward(spark):
    # equidistant candidates resolve to the backward one, matching
    # pandas.merge_asof(direction="nearest") tie behavior
    from sed_spark.dfops import asof_join

    left = spark.createDataFrame(pd.DataFrame({"ts": [10.0]}))
    right = spark.createDataFrame(
        pd.DataFrame({"ts": [5.0, 15.0], "v": ["lo", "hi"]}),
    )
    assert asof_join(left, right, on="ts", direction="nearest") \
        .collect()[0]["v"] == "lo"


def test_asof_join_rejects_bad_tolerance(spark):
    from sed_spark.dfops import asof_join

    left = spark.createDataFrame([(1.0,)], "ts double")
    right = spark.createDataFrame([(0.5, 1)], "ts double, v int")
    with pytest.raises(ValueError, match="tolerance"):
        asof_join(left, right, on="ts", tolerance=-1.0)


def test_content_keyed_jitter_partition_invariant(spark):
    # seed_column jitter is a pure function of the row key: identical
    # results under any partition layout (rand-based jitter is not)
    import hashlib

    import pytest

    from sed_spark.dfops import apply_jitter

    df = spark.createDataFrame(
        [(i, float(i) * 3.0) for i in range(500)], ["event_id", "value"],
    )
    for hash_method in ("xxhash64", "md5"):
        kw = dict(cols=["value"], cols_jittered=["vj"], amps=[0.5],
                  seed=42, seed_column="event_id", hash_method=hash_method)
        a = {r["event_id"]: r["vj"] for r in apply_jitter(df, **kw).collect()}
        b = {r["event_id"]: r["vj"]
             for r in apply_jitter(df.repartition(13), **kw).collect()}
        assert a == b
        # noise is bounded by the amplitude and actually nonzero
        devs = [abs(a[i] - i * 3.0) for i in range(500)]
        assert max(devs) <= 0.5 and max(devs) > 0.1
        # different seeds give different draws
        c = {r["event_id"]: r["vj"]
             for r in apply_jitter(df, **{**kw, "seed": 7}).collect()}
        assert c != a
    # ``a`` now holds the md5 draw, which is reproducible outside Spark:
    # u = first 8 hex digits of md5(id || seed) over 2^32, the same rule
    # the DuckDB oracle uses
    for i, vj in a.items():
        u = int(hashlib.md5(f"{i}42".encode()).hexdigest()[:8], 16) / 2**32
        assert vj == i * 3.0 + 0.5 * (u * 2.0 - 1.0)

    with pytest.raises(ValueError, match="uniform only"):
        apply_jitter(df, cols=["value"], jitter_type="normal",
                     seed_column="event_id")


# ---------------------------------------------------------------------------
# bucketed range / interval joins
# ---------------------------------------------------------------------------

def _brute_point_join(points, intervals, by=False, closed=False):
    out = []
    for p in points:
        for iv in intervals:
            if by and p[1] != iv[1]:
                continue
            hi_ok = p[2] <= iv[3] if closed else p[2] < iv[3]
            if iv[2] <= p[2] and hi_ok:
                out.append((p[0], iv[0]))
    return sorted(out)


def test_point_in_interval_join_matches_brute_force(spark):
    import random

    from sed_spark.dfops import point_in_interval_join

    rng = random.Random(7)
    points = [(i, rng.randrange(3), rng.uniform(0, 100)) for i in range(300)]
    intervals = []
    for j in range(40):
        lo = rng.uniform(0, 95)
        intervals.append((j, rng.randrange(3), lo, lo + rng.uniform(0.1, 20)))
    pdf = spark.createDataFrame(points, ["pid", "k", "x"])
    idf = spark.createDataFrame(intervals, ["iid", "k", "lo", "hi"])

    got = sorted(
        (r["pid"], r["iid"])
        for r in point_in_interval_join(
            pdf, idf.drop("k"), on="x", lo_col="lo", hi_col="hi",
            bucket_width=7.0,
        ).collect()
    )
    assert got == _brute_point_join(points, intervals)

    # keyed variant restricts matches to the same k
    got_by = sorted(
        (r["pid"], r["iid"])
        for r in point_in_interval_join(
            pdf, idf, on="x", lo_col="lo", hi_col="hi", by="k",
            bucket_width=7.0,
        ).collect()
    )
    assert got_by == _brute_point_join(points, intervals, by=True)

    # closed bounds include hi; derived bucket width agrees with explicit
    got_closed = sorted(
        (r["pid"], r["iid"])
        for r in point_in_interval_join(
            pdf, idf.drop("k"), on="x", lo_col="lo", hi_col="hi",
            bounds="[]",
        ).collect()
    )
    assert got_closed == _brute_point_join(points, intervals, closed=True)


def test_point_in_interval_left_join_keeps_unmatched(spark):
    from sed_spark.dfops import point_in_interval_join

    pdf = spark.createDataFrame(
        [(0, 5.0), (1, 50.0), (2, 99.0)], ["pid", "x"],
    )
    idf = spark.createDataFrame([(0, 4.0, 6.0)], ["iid", "lo", "hi"])
    got = {
        r["pid"]: r["iid"]
        for r in point_in_interval_join(
            pdf, idf, on="x", lo_col="lo", hi_col="hi",
            bucket_width=10.0, how="left",
        ).collect()
    }
    assert got == {0: 0, 1: None, 2: None}


def test_point_in_interval_left_join_null_cols_and_dup_rows(spark):
    # regression: the left path used to re-attach matches by equi-joining
    # on ALL point columns — a NULL in any extra column dropped genuinely
    # matched rows, and duplicate point rows fanned out multiplicatively
    from sed_spark.dfops import point_in_interval_join

    pdf = spark.createDataFrame(
        [(5.0, None), (5.0, None), (50.0, "tag")],
        "x double, note string",
    )
    idf = spark.createDataFrame([(0, 4.0, 6.0)], ["iid", "lo", "hi"])
    rows = point_in_interval_join(
        pdf, idf, on="x", lo_col="lo", hi_col="hi",
        bucket_width=10.0, how="left",
    ).collect()
    # exactly one output row per input row (no fan-out, no drops)
    assert len(rows) == 3
    got = sorted((r["x"], r["note"], r["iid"]) for r in rows)
    assert got == [(5.0, None, 0), (5.0, None, 0), (50.0, "tag", None)]


def test_point_in_interval_left_join_id_col_path(spark):
    # id_col names a caller-guaranteed unique key: the match-back join
    # uses it directly — no surrogate id, no persist (round-8 fix for
    # the cached-block leak in long-lived sessions)
    from sed_spark.dfops import point_in_interval_join

    pdf = spark.createDataFrame(
        [(0, 5.0, None), (1, 5.5, None), (2, 50.0, "tag"), (3, 99.0, None)],
        "pid int, x double, note string",
    )
    idf = spark.createDataFrame(
        [(0, 4.0, 6.0), (1, 5.0, 7.0)], ["iid", "lo", "hi"],
    )
    kw = dict(on="x", lo_col="lo", hi_col="hi", bucket_width=10.0,
              how="left")
    with_id = sorted(
        (r["pid"], r["iid"])
        for r in point_in_interval_join(pdf, idf, id_col="pid", **kw).collect()
    )
    # pids 0 (x=5.0, lo-inclusive) and 1 (x=5.5) match both intervals;
    # 2 and 3 are unmatched
    assert with_id == [(0, 0), (0, 1), (1, 0), (1, 1), (2, None), (3, None)]
    # identical rows to the surrogate-id fallback
    fallback = sorted(
        (r["pid"], r["iid"])
        for r in point_in_interval_join(pdf, idf, **kw).collect()
    )
    assert with_id == fallback
    import pytest

    with pytest.raises(ValueError, match="id_col"):
        point_in_interval_join(pdf, idf, id_col="nope", **kw)


def test_point_in_interval_validate_id_makes_contract_violations_loud(spark):
    # the id_col contract (unique, non-null) is the caller's to uphold;
    # violations are silently wrong results by default — validate_id=True
    # spends one aggregate to raise instead (round-8 ADVICE)
    import pytest

    from sed_spark.dfops import point_in_interval_join

    idf = spark.createDataFrame(
        [(0, 4.0, 6.0), (1, 5.0, 7.0)], ["iid", "lo", "hi"],
    )
    kw = dict(on="x", lo_col="lo", hi_col="hi", bucket_width=10.0,
              how="left", id_col="pid", validate_id=True)
    good = spark.createDataFrame(
        [(0, 5.0), (1, 50.0)], "pid int, x double",
    )
    rows = sorted(
        (r["pid"], r["iid"])
        for r in point_in_interval_join(good, idf, **kw).collect()
    )
    assert rows == [(0, 0), (0, 1), (1, None)]
    dup = spark.createDataFrame(
        [(0, 5.0), (0, 50.0)], "pid int, x double",
    )
    with pytest.raises(ValueError, match="not unique"):
        point_in_interval_join(dup, idf, **kw)
    nullid = spark.createDataFrame(
        [(0, 5.0), (None, 50.0)], "pid int, x double",
    )
    with pytest.raises(ValueError, match="NULL"):
        point_in_interval_join(nullid, idf, **kw)


def test_point_in_interval_join_guards_runaway_fanout(spark):
    import pytest

    from sed_spark.dfops import point_in_interval_join

    pdf = spark.createDataFrame([(0, 5.0)], ["pid", "x"])
    idf = spark.createDataFrame([(0, 0.0, 1e6)], ["iid", "lo", "hi"])
    with pytest.raises(Exception, match="max_buckets"):
        point_in_interval_join(
            pdf, idf, on="x", lo_col="lo", hi_col="hi",
            bucket_width=1.0, max_buckets=100,
        ).collect()
    with pytest.raises(ValueError, match="collision"):
        point_in_interval_join(
            pdf.withColumnRenamed("pid", "iid"), idf,
            on="x", lo_col="lo", hi_col="hi", bucket_width=1.0,
        )


def test_interval_overlap_join_matches_brute_force_no_dup_pairs(spark):
    import random

    from sed_spark.dfops import interval_overlap_join

    rng = random.Random(11)
    a = []
    for i in range(60):
        lo = rng.uniform(0, 90)
        a.append((i, lo, lo + rng.uniform(0.1, 25)))
    b = []
    for j in range(60):
        lo = rng.uniform(0, 90)
        b.append((j, lo, lo + rng.uniform(0.1, 25)))
    adf = spark.createDataFrame(a, ["aid", "alo", "ahi"])
    bdf = spark.createDataFrame(b, ["bid", "blo", "bhi"])
    rows = interval_overlap_join(
        adf, bdf, "alo", "ahi", "blo", "bhi", bucket_width=8.0,
    ).collect()
    got = sorted((r["aid"], r["bid"]) for r in rows)
    want = sorted(
        (i, j)
        for i, alo, ahi in a
        for j, blo, bhi in b
        if alo < bhi and blo < ahi
    )
    assert got == want          # exact pair set
    assert len(got) == len(set(got))  # and no duplicate emissions


def test_range_join_results_invariant_to_bucket_width(spark):
    # the bucketing is an EXECUTION strategy, not a semantics knob: any
    # width must produce the identical pair set (only shuffle volume
    # changes). A width-dependent result would mean a bucket-boundary
    # bug (off-by-one in the covered-bucket expansion or the dedup rule).
    import random

    from sed_spark.dfops import interval_overlap_join, point_in_interval_join

    rng = random.Random(23)
    points = [(i, rng.uniform(0, 200)) for i in range(150)]
    ivs = []
    for j in range(30):
        lo = rng.uniform(-10, 190)
        ivs.append((j, lo, lo + rng.uniform(0.01, 60)))
    pdf = spark.createDataFrame(points, ["pid", "x"])
    idf = spark.createDataFrame(ivs, ["iid", "lo", "hi"])

    def pij(width):
        return sorted(
            (r["pid"], r["iid"])
            for r in point_in_interval_join(
                pdf, idf, on="x", lo_col="lo", hi_col="hi",
                bucket_width=width,
            ).collect()
        )

    base = pij(13.7)
    assert base  # non-trivial case
    for width in (0.9, 7.0, 60.0, 500.0):
        assert pij(width) == base, f"width {width} changed the pair set"

    b = spark.createDataFrame(ivs, ["bid", "blo", "bhi"])

    def ovl(width):
        return sorted(
            (r["iid"], r["bid"])
            for r in interval_overlap_join(
                idf, b, "lo", "hi", "blo", "bhi", bucket_width=width,
            ).collect()
        )

    obase = ovl(13.7)
    assert obase
    for width in (0.9, 7.0, 60.0, 500.0):
        assert ovl(width) == obase, f"width {width} changed the overlap set"


# ---------------------------------------------------------------------------
# skew-aware joins
# ---------------------------------------------------------------------------

def _skewed_pair(spark):
    # key 7 is hot on the left (200 of 230 rows); right has 2 rows per key
    left = spark.createDataFrame(
        [(7, i) for i in range(200)]
        + [(k, 1000 + k) for k in range(10)]
        + [(99, 1), (None, 0)] * 10,
        "k int, lv int",
    )
    right = spark.createDataFrame(
        [(k, t) for k in [7, 99] + list(range(8)) for t in ("a", "b")],
        "k int, tag string",
    )
    return left, right


def _sorted_rows(df):
    # None sorts before everything (tests use nullable keys/columns)
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple((v is not None, v) for v in t),
    )


@pytest.mark.parametrize("how", ["inner", "left", "left_semi", "left_anti"])
def test_salted_join_matches_plain_join(spark, how):
    from sed_spark.dfops import salted_join

    left, right = _skewed_pair(spark)
    plain = left.join(right, ["k"], how)
    salted = salted_join(left, right, "k", how=how, salt=8)
    assert _sorted_rows(salted) == _sorted_rows(plain)
    assert salted.columns == plain.columns


@pytest.mark.parametrize("how", ["inner", "left", "left_semi", "left_anti"])
def test_skew_join_matches_plain_join(spark, how):
    from sed_spark.dfops import skew_join

    left, right = _skewed_pair(spark)
    plain = left.join(right, ["k"], how)
    # explicit hot keys
    got = skew_join(left, right, "k", how=how, hot_keys=[7])
    assert _sorted_rows(got) == _sorted_rows(plain)
    # detected hot keys (only key 7 exceeds 50 left rows)
    got2 = skew_join(left, right, "k", how=how, hot_threshold=50)
    assert _sorted_rows(got2) == _sorted_rows(plain)


def test_skew_join_no_hot_keys_falls_back(spark):
    from sed_spark.dfops import skew_join

    left, right = _skewed_pair(spark)
    out = skew_join(left, right, "k", hot_threshold=10_000)
    assert _sorted_rows(out) == _sorted_rows(left.join(right, ["k"], "inner"))


def test_skew_join_guards(spark):
    from sed_spark.dfops import skew_join

    left, right = _skewed_pair(spark)
    with pytest.raises(ValueError, match="hot_keys or a positive"):
        skew_join(left, right, "k")
    with pytest.raises(ValueError, match="broad skew"):
        skew_join(left, right, "k", hot_threshold=1, max_hot_keys=1)
    with pytest.raises(ValueError, match="single join column"):
        skew_join(left, right, ["k", "lv"], hot_keys=[7])
    with pytest.raises(ValueError, match="how must be"):
        skew_join(left, right, "k", how="full", hot_keys=[7])


def test_skew_join_explicit_oversized_hot_keys_warns_not_raises(spark):
    # max_hot_keys bounds the DETECTION path only; an explicit list is
    # caller-sized by construction, so an oversized one warns (salted_join
    # is probably the better tool) but still runs with identical rows
    import warnings

    from sed_spark.dfops import skew_join

    left, right = _skewed_pair(spark)
    plain = _sorted_rows(left.join(right, ["k"], "inner"))
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        got = skew_join(left, right, "k", hot_keys=[7, 3, 5],
                        max_hot_keys=2)
        assert _sorted_rows(got) == plain
    assert any("salted_join" in str(w.message) for w in caught)


def test_salted_join_guards(spark):
    from sed_spark.dfops import salted_join

    left, right = _skewed_pair(spark)
    with pytest.raises(ValueError, match="how must be"):
        salted_join(left, right, "k", how="right")
    with pytest.raises(ValueError, match="salt must be"):
        salted_join(left, right, "k", salt=1)


def test_skew_report_orders_by_weight(spark):
    from sed_spark.dfops import skew_report

    left, _ = _skewed_pair(spark)
    rows = skew_report(left, "k", k=3).collect()
    assert [r["k"] for r in rows] == [7, 99, None]
    assert rows[0]["n_rows"] == 201  # 200 hot rows + 1 in the 0..9 band
    total = left.count()
    assert rows[0]["share"] == round(201 / total, 6)


def test_funnel_steps_ordered_conversion(spark):
    import pytest
    from pyspark.sql import functions as F

    from sed_spark.dfops import funnel_steps

    rows = [
        # u1 converts fully in order
        (1, "signup", 100), (1, "view", 200), (1, "purchase", 300),
        # u2 purchased BEFORE signup: purchase must not count
        (2, "purchase", 50), (2, "signup", 100), (2, "view", 150),
        # u3 never signed up: absent from the funnel
        (3, "view", 10), (3, "purchase", 20),
        # u4 signup only
        (4, "signup", 500),
        # u5: same-timestamp view does NOT advance (strict >)
        (5, "signup", 100), (5, "view", 100),
        # u6: multiple candidates -> earliest qualifying each step
        (6, "signup", 10), (6, "signup", 5), (6, "view", 7), (6, "view", 9),
        (6, "purchase", 8), (6, "purchase", 30),
    ]
    df = spark.createDataFrame(rows, "user_id int, event_type string, ts long")
    got = {
        r["user_id"]: r
        for r in funnel_steps(
            df, ["signup", "view", "purchase"],
        ).collect()
    }
    assert set(got) == {1, 2, 4, 5, 6}
    assert (got[1]["step_ts_0"], got[1]["step_ts_1"], got[1]["step_ts_2"]) \
        == (100, 200, 300)
    assert got[1]["steps_reached"] == 3
    assert got[2]["step_ts_1"] == 150 and got[2]["step_ts_2"] is None
    assert got[2]["steps_reached"] == 2
    assert got[4]["steps_reached"] == 1
    assert got[5]["step_ts_1"] is None  # ts 100 not > 100
    # u6: signup min = 5; earliest view > 5 is 7; earliest purchase > 7 is 8
    assert (got[6]["step_ts_0"], got[6]["step_ts_1"], got[6]["step_ts_2"]) \
        == (5, 7, 8)

    with pytest.raises(ValueError, match="at least 2"):
        funnel_steps(df, ["signup"])


def test_funnel_steps_excludes_null_groups(spark):
    from sed_spark.dfops import funnel_steps

    df = spark.createDataFrame(
        [(None, "signup", 1), (None, "view", 2), (7, "signup", 1)],
        "user_id int, event_type string, ts long",
    )
    got = funnel_steps(df, ["signup", "view"]).collect()
    assert [r["user_id"] for r in got] == [7]
