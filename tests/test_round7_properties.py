"""Property-based check of ``corpus.weighted_cap_sample``: its exact cap
and its determinism under repartitioning.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


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


