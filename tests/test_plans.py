"""Physical-plan assertions: the declarative queries must actually reach
the scan with their filters/projections and pick the intended join
strategies — this is the 100 TB contract, checked at unit scale."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_hist_projection_prunes_unused_columns(spark):
    from sed_spark.binning import sparse_histogram
    from sed_spark.suite.common import load

    df = load(spark, SF_DIR, "lineitem")
    agg, _, _ = sparse_histogram(
        df, bins=[10], axes=["l_quantity"], ranges=[(0.0, 50.0)],
        count_alias="cnt",
    )
    plan = _plan(agg)
    for line in plan.splitlines():
        if "ReadSchema" in line:
            schema = line.split("ReadSchema:")[1]
            assert "l_quantity" in schema
            assert "l_extendedprice" not in schema
            return
    pytest.fail("no scan with ReadSchema in plan")


def test_range_filter_pushes_value_predicate(spark):
    from sed_spark import dfops
    from sed_spark.suite.common import load

    df = load(spark, SF_DIR, "events")
    plan = _plan(
        dfops.apply_filter(df, "value", 100.0, 400.0).select("event_id"),
    )
    assert "PushedFilters: [IsNotNull(value), GreaterThan(value,100.0)" in plan


def test_repetition_stats_shuffles_only_on_doc_keys(spark):
    # every Exchange must hash-partition on a key set containing doc_id
    # (or be the tiny scale_out round-robin) — never a cross-document key
    from sed_spark.ext.text import repetition_stats
    from sed_spark.suite.common import load

    df = repetition_stats(load(spark, SF_DIR, "documents"))
    df.collect()  # let AQE finalize
    plan = _plan(df)
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "doc_id" in line, line
    assert "SortMergeJoin" not in plan or "doc_id" in plan


def test_binning_aggregate_is_whole_stage_codegen(spark):
    from sed_spark.binning import sparse_histogram
    from sed_spark.suite.common import load

    df = load(spark, SF_DIR, "events")
    agg, _, _ = sparse_histogram(
        df, bins=[100], axes=["value"], ranges=[(0.0, 500.0)],
        count_alias="cnt",
    )
    agg.collect()  # AQE finalizes (and codegen-annotates) the plan on execution
    plan = _plan(agg)
    # "*(n)" prefixes mark WholeStageCodegen stages in the plan string;
    # the aggregate (not just the scan) must carry one
    assert "*(" in plan
    assert any(
        "HashAggregate" in line and "*(" in line for line in plan.splitlines()
    )


def test_dsir_score_is_single_projection_no_shuffle(spark):
    # the literal-array fold must stay a pure projection: no Exchange
    # beyond the tiny scale_out round-robin, no join, no aggregate
    from sed_spark.ext.text import dsir_score
    from sed_spark.suite.common import load

    ratios = [float(i % 7) - 3.0 for i in range(128)]
    plan = _plan(dsir_score(load(spark, SF_DIR, "documents"), ratios))
    assert "Exchange hashpartitioning" not in plan
    assert "Join" not in plan and "HashAggregate" not in plan


def test_duplicate_spans_no_window_no_cartesian(spark):
    # round-6 form: the interval union is an ordered array fold per
    # document (no window-function stage, hence no sort-based exchange
    # over the duplicated-window rows), and no join in the plan may be a
    # cartesian product
    from sed_spark.ext.dedup import duplicate_spans
    from sed_spark.suite.common import load

    df = duplicate_spans(load(spark, SF_DIR, "documents"), window=5)
    df.collect()  # let AQE finalize
    plan = _plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "Window" not in plan
    # the only sort left is inside sort_array (an expression, not a
    # physical Sort over the exploded rows)
    for line in plan.splitlines():
        if line.strip().startswith(("Sort ", "+- Sort ", ":- Sort ")):
            raise AssertionError(f"unexpected physical Sort: {line}")


def test_gumbel_topk_uses_take_ordered_not_global_window(spark):
    # the threshold pass must be a TakeOrderedAndProject (per-partition
    # top-k), and the flag pass must not contain a global (empty-key)
    # window or a single-partition Exchange
    from sed_spark.ext.corpus import gumbel_topk
    from sed_spark.suite.common import load

    docs = load(spark, SF_DIR, "documents").withColumn("w", F.rand(3))
    keyed = docs.withColumn(
        "gumbel_key", F.round(F.col("w"), 6),
    )
    thresh_plan = _plan(
        keyed.select("gumbel_key").orderBy(F.col("gumbel_key").desc()).limit(5),
    )
    assert "TakeOrderedAndProject" in thresh_plan
    out = gumbel_topk(docs, "w", k=5)
    plan = _plan(out)
    assert "Window" not in plan
    assert "Exchange SinglePartition" not in plan


def test_gumbel_topk_threshold_frame_is_row_identical(spark):
    # a slim threshold_frame carrying the same (id, weight) multiset must
    # yield exactly the flags of the default full-frame threshold pass
    from sed_spark.ext.corpus import gumbel_topk
    from sed_spark.suite.common import load

    docs = load(spark, SF_DIR, "documents")
    slim = docs.select("doc_id", F.length("text").alias("w"))
    # an expensive-looking 1:1 enrichment joined on top of the scoring frame
    wide = slim.join(
        docs.select("doc_id", F.md5("text").alias("extra")), "doc_id",
    )
    base = gumbel_topk(wide, "w", k=7).select(
        "doc_id", "gumbel_key", "is_sampled",
    )
    slimmed = gumbel_topk(wide, "w", k=7, threshold_frame=slim).select(
        "doc_id", "gumbel_key", "is_sampled",
    )
    assert sorted(map(tuple, base.collect())) == sorted(
        map(tuple, slimmed.collect()),
    )


def test_training_order_shuffles_once_no_global_sort(spark):
    # one hash exchange on the shard key feeds the per-shard window;
    # a rangepartitioning exchange would mean a global sort snuck in
    from sed_spark.ext import corpus
    from sed_spark.suite.common import load

    df = load(spark, SF_DIR, "documents")
    plan = _plan(corpus.training_order(df, n_shards=8))
    assert plan.count("Exchange") == 1
    assert "rangepartitioning" not in plan
    assert "hashpartitioning(shard" in plan
    assert "Window" in plan


def test_range_join_is_bucketed_hash_join_not_cartesian(spark):
    # the whole point of the bucketed formulation: the planner must see a
    # plain equi-join on (key, bucket), never a cartesian/nested-loop
    # product with an inequality filter
    from sed_spark.dfops import point_in_interval_join
    from sed_spark.suite.common import load

    ev = load(spark, SF_DIR, "events").limit(1000)
    pts = ev.selectExpr("event_id AS pid", "value AS x")
    ivs = ev.selectExpr(
        "event_id AS iid", "value AS lo", "value + 25.0 AS hi",
    )
    plan = _plan(point_in_interval_join(
        pts, ivs, on="x", lo_col="lo", hi_col="hi", bucket_width=25.0,
    ))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "__bucket" in plan


def test_skew_join_hot_branch_is_broadcast(spark):
    from sed_spark.dfops import skew_join
    from sed_spark.suite.common import load

    cust = load(spark, SF_DIR, "customer").select("c_custkey", "c_name")
    orders = load(spark, SF_DIR, "orders").select(
        F.col("o_custkey").alias("c_custkey"), "o_orderkey",
    )
    plan = _plan(skew_join(orders, cust, "c_custkey", hot_keys=[1, 2, 3]))
    # hot branch: broadcast hash join (no shuffle for the hot keys);
    # cold branch still a shuffle join; two branches unioned
    assert "BroadcastHashJoin" in plan
    assert "Union" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_salted_join_is_hash_join_no_cartesian(spark):
    from sed_spark.dfops import salted_join
    from sed_spark.suite.common import load

    cust = load(spark, SF_DIR, "customer").select("c_custkey", "c_name")
    orders = load(spark, SF_DIR, "orders").select(
        F.col("o_custkey").alias("c_custkey"), "o_orderkey",
    )
    plan = _plan(salted_join(orders, cust, "c_custkey", salt=8))
    # the salted key participates in the join: an equi-join (hash-based),
    # never a cartesian with post-filter
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) \
        or ("BroadcastHashJoin" in plan)
    assert "__salt" in plan


def test_dense_binning_is_one_partial_final_aggregate(spark, monkeypatch):
    # a 100^4 = 1e8-cell cube plans as partial count -> one hash exchange
    # on __idx -> final count: no repartition below the aggregate
    import numpy as np

    from sed_spark.binning import core

    seen = []

    def spy(proj, cube, out_dtype="uint32"):
        seen.append(core._groupby_sparse_agg(proj))
        return np.zeros(cube, dtype=out_dtype)  # untouched pages, no job

    monkeypatch.setattr(core, "_dense_via_groupby", spy)
    axes = ["a", "b", "c", "d"]
    df = spark.range(0, 1000).select(
        *[F.col("id").cast("double").alias(a) for a in axes],
    )
    res = core.bin_dataframe(df, bins=[100] * 4, axes=axes,
                             ranges=[(0.0, 1000.0)] * 4)
    assert res.shape == (100,) * 4
    plan = _plan(seen[0])
    assert "partial_count(1)" in plan
    assert plan.count("HashAggregate(") == 2
    assert plan.count("Exchange ") == 1
    assert plan.count("Exchange hashpartitioning(__idx") == 1
    assert "__blk" not in plan
    assert "REPARTITION_BY_NUM" not in plan


def test_prefix_similarity_join_is_equi_join_no_cartesian(spark):
    # the prefix self-join must plan as a hash/sort-merge equi-join on the
    # shingle with the id inequality as a post-join condition — never a
    # cartesian/nested-loop — and verification joins stay id-keyed
    from sed_spark.ext.dedup import prefix_similarity_join
    from sed_spark.suite.common import load

    docs = load(spark, SF_DIR, "documents")
    plan = _plan(prefix_similarity_join(docs, threshold=0.5))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_asof_nearest_keyed_single_exchange_two_sorts(spark):
    # keyed nearest computes BOTH directional carries as window functions
    # over the same user_id hash partitioning: exactly one Exchange for
    # the window stage (plus the two input scans' none), never a second
    # shuffle for the reverse-order carry, and no cartesian anywhere
    from sed_spark.dfops import asof_join
    from sed_spark.suite.common import load

    ev = load(spark, SF_DIR, "events").select(
        "event_id", "user_id", F.col("value").alias("ts"),
    )
    right = ev.groupBy("user_id", "ts").agg(F.min("event_id").alias("m"))
    plan = _plan(
        asof_join(ev, right, on="ts", by="user_id", direction="nearest",
                  suffix="_r"),
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    # windows over the union: every hash Exchange partitions on user_id
    # (the aggregate pre-shuffle shares the same key set)
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "user_id" in line, line


def test_dfield_join_is_one_broadcast_join_without_literal_rows(spark):
    # a 256² field takes the join path; its 66k-row corner relation must
    # enter the plan as an RDD-backed leaf, not as LocalRelation rows
    import numpy as np

    from sed_spark.calibrator.momentum import apply_dfield

    dfield = np.random.default_rng(3).uniform(0, 2048, (2, 256, 256))
    events = spark.range(1000).select(
        (F.col("id") * 2.0).alias("X"), F.lit(1.5).alias("Xm"),
        (F.col("id") * 1.5).alias("Y"), F.col("id"),
    )
    out = apply_dfield(events, dfield)
    logical = out._jdf.queryExecution().optimizedPlan().toString()
    plan = _plan(out)
    assert plan.count("BroadcastHashJoin") == 1
    for leaf in ("LocalRelation", "LocalTableScan"):
        assert leaf not in logical and leaf not in plan
    # Xm keeps its position; Ym is appended
    assert out.columns == ["X", "Xm", "Y", "id", "Ym"]
    plain = apply_dfield(events.drop("Xm"), dfield)
    assert plain.columns == ["X", "Y", "id", "Xm", "Ym"]


def test_compute_cuts_do_not_repeat_the_dfield_blend(spark, monkeypatch):
    # compute's range cuts live in the bin-index projection: no Filter may
    # carry the dfield blend (a pushed-down kx cut would repeat it per
    # conjunct), while the max_file_id predicate stays a real Filter
    import numpy as np

    from sed_spark.binning import core
    from sed_spark.processor import SedProcessor

    seen = []
    real = core._dense_via_groupby

    def spy(proj, cube, out_dtype="uint32"):
        seen.append(proj)
        return real(proj, cube, out_dtype)

    monkeypatch.setattr(core, "_dense_via_groupby", spy)
    events = spark.createDataFrame(
        [(2.0 * k, 1.5 * k, k % 4) for k in range(1000)], "X double, Y double, file_id int",
    )
    dfield = np.random.default_rng(3).uniform(0, 2048, (2, 256, 256))
    proc = SedProcessor(spark=spark, config={"core": {"loader": "generic"}})
    proc.load(dataframe=events)
    proc.apply_momentum_correction(dfield)
    proc.apply_momentum_calibration(
        x_column="Xm", y_column="Ym", r_center=1024.0, c_center=1024.0,
        r_conversion=0.01, c_conversion=0.01, r_start=0.0, c_start=0.0,
        r_step=1.0, c_step=1.0,
    )
    proc.compute(
        bins=[10], axes=["Y"], ranges=[(0.0, 1500.0)], max_file_id=3,
        filters=[{"col": "kx", "lower_bound": -8.0, "upper_bound": 8.0},
                 {"col": "ky", "lower_bound": -8.0, "upper_bound": 8.0}],
    )
    plan = _plan(seen[-1])
    assert plan.count("BroadcastHashJoin") == 1
    filters = [ln for ln in plan.splitlines() if ln.lstrip(" :+-*()0123456789").startswith("Filter")]
    assert any("file_id" in ln for ln in filters), plan
    for ln in filters:
        assert "__fx" not in ln and "__fy" not in ln, ln
