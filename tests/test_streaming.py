"""Streaming ingestion: batch-equivalence of the live binning/timed paths."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from sed_spark.binning import sparse_histogram
from sed_spark.streaming import (
    read_event_stream,
    run_available_now,
    streaming_histogram,
    timed_table_stream,
)


@pytest.fixture(scope="module")
def stream_dir(tmp_path_factory, spark, events_pdf):
    """Events written as several parquet files, as a DAQ writer would."""
    d = tmp_path_factory.mktemp("stream")
    for f in range(4):
        events_pdf[events_pdf.file_id == f].to_parquet(d / f"chunk{f}.parquet")
    batch_df = spark.read.parquet(str(d))
    return str(d), batch_df


def test_streaming_histogram_matches_batch(spark, stream_dir):
    path, batch_df = stream_dir
    stream = read_event_stream(
        spark, path, batch_df.schema, timestamp_column="timeStamp",
    )
    hist = streaming_histogram(
        stream, bins=[20], axes=["t"], ranges=[(60_000.0, 120_000.0)],
        window_duration="1 hour",  # single window: all fixture events
    )
    run_available_now(hist, "hist_sink")
    got = (
        spark.table("hist_sink")
        .groupBy("__bin_t").agg(F.sum("count").alias("count"))
        .orderBy("__bin_t").toPandas()
    )
    want_df, _, _ = sparse_histogram(
        batch_df, [20], ["t"], [(60_000.0, 120_000.0)],
    )
    want = want_df.orderBy("__bin_t").toPandas()
    np.testing.assert_array_equal(
        got["__bin_t"].to_numpy(), want["__bin_t"].to_numpy(),
    )
    np.testing.assert_array_equal(
        got["count"].to_numpy(dtype=np.int64), want["count"].to_numpy(dtype=np.int64),
    )


def test_timed_table_stream_counts_all_events(spark, stream_dir):
    path, batch_df = stream_dir
    stream = read_event_stream(
        spark, path, batch_df.schema, timestamp_column="timeStamp",
    )
    timed = timed_table_stream(stream, time_unit=60.0)  # 1-minute buckets
    run_available_now(timed, "timed_sink")
    got = spark.table("timed_sink").toPandas()
    assert got["events"].sum() == batch_df.count()
    assert (got["events"] > 0).all()
    # fixture spans 600 s -> at most ~11 one-minute buckets
    assert 1 <= len(got) <= 12


def test_streaming_enrich_matches_batch_join(spark, tmp_path):
    from sed_spark.streaming import run_available_now, streaming_enrich

    src = str(tmp_path / "enrich_src")
    ev = spark.createDataFrame(
        [(i, i % 5) for i in range(40)], "event_id long, uid long",
    )
    ev.write.mode("overwrite").parquet(src)
    dim = spark.createDataFrame(
        [(0, "gold"), (1, "silver"), (2, "bronze")], "uid long, tier string",
    )
    stream = spark.readStream.schema(ev.schema).parquet(src)
    enriched = streaming_enrich(stream, dim, "uid", how="left")
    rollup = enriched.groupBy("tier").agg(F.count(F.lit(1)).alias("n"))
    spark.catalog.dropTempView("t_enrich_sink")
    run_available_now(rollup, "t_enrich_sink", output_mode="complete")
    got = {
        r["tier"]: r["n"] for r in spark.table("t_enrich_sink").collect()
    }
    want = {
        r["tier"]: r["n"]
        for r in ev.join(dim, "uid", "left")
        .groupBy("tier").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want and got[None] == 16  # uids 3,4 unmatched
    with pytest.raises(ValueError, match="how must be"):
        streaming_enrich(stream, dim, "uid", how="full")
