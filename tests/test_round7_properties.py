"""Property-based checks of the round-7 operators.

The bug surfaces: KMV's bottom-k/merge algebra under duplicate keys and
saturated/unsaturated sketches, and weighted_cap_sample's exact-cap +
determinism-under-repartition contract.
"""

from __future__ import annotations

import hashlib

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _h32(key: str, salt: str = "kmv") -> int:
    return int(hashlib.md5(f"{key}:{salt}".encode()).hexdigest()[:8], 16)


@given(
    n_a=st.integers(0, 120),
    n_b=st.integers(0, 120),
    overlap=st.integers(0, 60),
    k=st.integers(2, 48),
    dup_factor=st.integers(1, 3),
)
@settings(**_SETTINGS)
def test_kmv_sketch_and_merge_algebra(spark, n_a, n_b, overlap, k, dup_factor):
    from sed_spark.ext import sketch

    a_keys = [f"s{i}" for i in range(overlap)] + [f"a{i}" for i in range(n_a)]
    b_keys = [f"s{i}" for i in range(overlap)] + [f"b{i}" for i in range(n_b)]

    def frame(keys):
        rows = [(x,) for x in keys for _ in range(dup_factor)] or [(None,)]
        return spark.createDataFrame(rows, "key string")

    sa = sketch.kmv_sketch(frame(a_keys), "key", k=k)
    sb = sketch.kmv_sketch(frame(b_keys), "key", k=k)
    got_a = sa.collect()[0]["kmv"]
    assert got_a == sorted({_h32(x) for x in a_keys})[:k]
    # merge(a, b) == sketch built directly over the union multiset
    merged = sketch.kmv_merge(sa, sb, k=k).collect()[0]["kmv"]
    direct = sketch.kmv_sketch(frame(a_keys + b_keys), "key", k=k)
    assert merged == direct.collect()[0]["kmv"]
    # estimates: exact whenever the set fits; positive error bound else
    est = sketch.kmv_estimate(sa, k=k).collect()[0]
    n_true = len(set(a_keys))
    if n_true < k:
        assert est["estimate"] == float(n_true)
    elif n_true:
        assert est["estimate"] > 0
    # set estimates: exact when the union fits entirely
    r = sketch.kmv_set_estimates(sa, sb, k=k).collect()[0]
    union_true = len(set(a_keys) | set(b_keys))
    inter_true = len(set(a_keys) & set(b_keys))
    if union_true < k:
        assert r["union_est"] == float(union_true)
        assert r["intersect_est"] == float(inter_true)


@given(
    n=st.integers(1, 120),
    cap=st.integers(1, 20),
    n_groups=st.integers(1, 4),
    zero_every=st.integers(0, 4),
    parts=st.integers(1, 8),
)
@settings(**_SETTINGS)
def test_weighted_cap_sample_exact_and_partition_invariant(
    spark, n, cap, n_groups, zero_every, parts,
):
    from pyspark.sql import functions as F

    from sed_spark.ext.corpus import weighted_cap_sample

    rows = [
        (
            i,
            f"g{i % n_groups}",
            0.0 if zero_every and i % (zero_every + 1) == 0 else 1.0 + i % 7,
        )
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "doc_id long, domain string, w double")
    kept1 = {
        r["doc_id"]
        for r in weighted_cap_sample(df, cap, "w", salt="p").collect()
    }
    kept2 = {
        r["doc_id"]
        for r in weighted_cap_sample(
            df.repartition(parts), cap, "w", salt="p",
        ).collect()
    }
    assert kept1 == kept2  # partition-layout invariant
    eligible: dict = {}
    for i, g, w in rows:
        if w > 0:
            eligible[g] = eligible.get(g, 0) + 1
    per_group: dict = {}
    kept_rows = weighted_cap_sample(df, cap, "w", salt="p").collect()
    for r in kept_rows:
        assert r["w"] > 0  # zero-odds rows never survive
        per_group[r["domain"]] = per_group.get(r["domain"], 0) + 1
    for g, n_el in eligible.items():
        assert per_group.get(g, 0) == min(cap, n_el)


