"""Structured Streaming ingestion for live single-event datastreams.

The reference is strictly batch over closed files (SURVEY §2.9) — its
"datastream" is the data's shape, not live ingestion; its timed table is a
pre-materialized 1 ms resample and forward-fill is a stateful propagation.
Both are natural Structured Streaming operators, so the live path is built
from the same expression library as batch:

* :func:`read_event_stream` — file-source stream over a growing directory
  of event parquet (what a DAQ writer produces), schema-declared like every
  other scan in this engine (no inference on the hot path).
* :func:`timed_table_stream` — the timed table as a tumbling-window
  aggregate of the live stream (+watermark for late events).
* :func:`streaming_histogram` — the N-D binning query on the stream: the
  SAME ``bin_index_nullable`` columns as batch binning, grouped per time
  window, in update mode. A dashboard reads the sink and densifies with
  the batch code path.

Scale note: every aggregation here keys on (window × bin indices) — state
size is bounded by cube size per open window, not by event rate, and the
watermark closes windows so state is evicted. That is the property that
lets this run indefinitely on a cluster.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from sed_spark.binning.core import _bin_columns
from sed_spark.binning.spec import normalize_bins

__all__ = [
    "read_event_stream",
    "timed_table_stream",
    "streaming_histogram",
    "streaming_sessionize",
    "streaming_enrich",
    "run_available_now",
    "state_store_partitions",
]


def state_store_partitions(spark: SparkSession) -> int:
    """Shuffle-partition override for short stateful drains, derived from
    the session's core count (``local[$SPARK_GRAFT_CPUS]`` in the bench).

    Every stateful operator allocates/opens/commits ONE state store per
    shuffle partition per micro-batch; for an availableNow drain whose
    data fits in seconds, the session default (2× cores) spends more
    wall on near-empty store lifecycle than on rows (measured 19.3 s →
    3.5 s on a stream-stream join drain at 64 → 8 partitions, local[32]).
    ``max(2, cores // 4)`` keeps per-query state parallelism a fixed
    fraction of the machine instead of a pinned constant: 32 cores → 8
    (the round-11 measured-good value), 4-8 cores → 2, and a 128-core
    cluster gets 32. Results are partition-count-invariant by design
    (the replay-equivalence tests pin that).
    """
    return max(2, spark.sparkContext.defaultParallelism // 4)


def read_event_stream(
    spark: SparkSession,
    path: str,
    schema: StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
    timestamp_column: str | None = None,
) -> DataFrame:
    """File-source stream over a directory a DAQ writer appends to.

    ``timestamp_column`` (float epoch seconds, as produced by the loaders)
    gains a companion ``__event_time`` TIMESTAMP column for windowing and
    watermarks.
    """
    reader = spark.readStream.schema(schema).format(fmt)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.load(path)
    if timestamp_column is not None:
        df = df.withColumn(
            "__event_time", F.timestamp_seconds(F.col(timestamp_column)),
        )
    return df


def timed_table_stream(
    df: DataFrame,
    time_unit: float = 0.001,
    watermark: str = "10 seconds",
    event_time_column: str = "__event_time",
) -> DataFrame:
    """The timed table as a live tumbling-window aggregate.

    Batch engines pre-materialize one row per ``time_unit`` of acquisition
    (reference buffer_handler.py:164-186); on a stream that is exactly a
    tumbling window count with a watermark to close windows. Emits
    (window_start, events) in update mode.
    """
    window = F.window(
        F.col(event_time_column), f"{int(time_unit * 1e6)} microseconds",
    )
    return (
        df.withWatermark(event_time_column, watermark)
        .groupBy(window.alias("w"))
        .agg(F.count(F.lit(1)).alias("events"))
        .select(F.col("w.start").alias("window_start"), "events")
    )


def streaming_histogram(
    df: DataFrame,
    bins,
    axes: Sequence[str] | None = None,
    ranges: Sequence[tuple[float, float]] | None = None,
    window_duration: str = "1 minute",
    watermark: str = "10 seconds",
    event_time_column: str = "__event_time",
) -> DataFrame:
    """N-D histogram per tumbling window on a live stream.

    Reuses the batch bin-index expressions verbatim (same edge semantics,
    same validity filter), so a window's sparse counts are bit-identical
    to running :func:`sed_spark.binning.sparse_histogram` over that
    window's events in batch — the streaming path is a grouping change,
    not a second binning implementation.
    """
    norm = normalize_bins(bins, axes, ranges)
    proj, bin_names = _bin_columns(df, norm)
    window = F.window(F.col(event_time_column), window_duration)
    return (
        proj.withWatermark(event_time_column, watermark)
        .groupBy(window.alias("w"), *[F.col(b) for b in bin_names])
        .agg(F.count(F.lit(1)).alias("count"))
        .select(F.col("w.start").alias("window_start"), *bin_names, "count")
    )


def streaming_sessionize(
    df: DataFrame,
    gap_us: int,
    group_col: str = "user_id",
    event_time_column: str = "__event_time",
    watermark: str | None = None,
) -> DataFrame:
    """Gap sessions on a live stream: Spark's ``session_window`` merges
    events of a group whose inter-arrival gap stays below ``gap_us``.
    Emits one row per closed-or-open session: (group, session_start,
    events).

    Batch parity: :func:`sed_spark.dfops.sessionize` opens a new session
    on ``diff > gap`` while ``session_window`` merges on ``diff < gap``
    — pass the batch gap **plus one** microsecond here and the two rules
    coincide exactly on integer-microsecond timestamps (the suite's
    ``sessionization`` row replay-checks that equality). Output modes:
    ``complete``/``append`` (Spark does not support ``update`` for
    session windows); with a ``watermark``, append mode emits sessions
    only once the watermark passes their close.
    """
    windowed = df
    if watermark is not None:
        windowed = windowed.withWatermark(event_time_column, watermark)
    return (
        windowed.groupBy(
            F.session_window(
                F.col(event_time_column), f"{int(gap_us)} microseconds",
            ).alias("w"),
            group_col,
        )
        .agg(F.count(F.lit(1)).alias("events"))
        .select(
            F.col(group_col),
            F.col("w.start").alias("session_start"),
            "events",
        )
    )


def _fast_checkpoint_dir() -> str | None:
    """A tmpfs-backed checkpoint parent for short-lived drains, or None.

    Every micro-batch commits offsets + per-partition state-store deltas
    as individual file writes/renames under the checkpoint location; for
    an availableNow drain whose lifetime is seconds, that metadata I/O on
    a spinning/virtual disk dominates the query. RAM-backed tmpfs removes
    it (same reasoning as the session's spark.local.dir choice). A real
    deployment needs a DURABLE checkpoint (the whole point of it is
    surviving the driver) — this parent is only used for the throwaway
    checkpoints of drain-and-stop replays, which are deleted on exit.
    """
    base = "/dev/shm/sed-spark-local"
    if not os.path.isdir("/dev/shm"):
        return None
    path = os.path.join(base, f"{os.getpid()}-ckpt")
    try:
        os.makedirs(path, exist_ok=True)
    except OSError:
        return None
    return path


def run_available_now(
    stream: DataFrame, query_name: str, output_mode: str = "complete",
) -> None:
    """Drain everything currently in the source into an in-memory sink and
    stop — the batch-equivalence harness used by the tests (a production
    deployment would use a real sink + continuous trigger). ``complete``
    emits open windows too; use ``append`` to observe watermark eviction."""
    writer = (
        stream.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    ckpt_parent = _fast_checkpoint_dir()
    ckpt = None
    if ckpt_parent is not None:
        ckpt = tempfile.mkdtemp(prefix=f"{query_name}-", dir=ckpt_parent)
        writer = writer.option("checkpointLocation", ckpt)
    q = writer.start()
    try:
        q.awaitTermination()
        q.stop()
    finally:
        if ckpt is not None:
            shutil.rmtree(ckpt, ignore_errors=True)


def streaming_enrich(
    stream: DataFrame,
    dim: DataFrame,
    on: str | list[str],
    how: str = "left",
) -> DataFrame:
    """STREAM-STATIC join: enrich a live event stream with a (small)
    dimension table — the lookup-table shape (user → segment, doc →
    license, host → datacenter) that completes the streaming join
    matrix.

    The static side is broadcast, so each micro-batch probes a
    replicated hash map instead of shuffling stream state — stream-
    static joins keep NO join state at all (only the stream side is
    unbounded, and it never waits for the dimension). Spark re-plans
    the static side per micro-batch, so a dimension backed by files
    picks up slowly-changing updates between batches; pin it with
    ``.persist()`` when per-batch consistency matters more than
    freshness. ``how`` is inner or left (left keeps unmatched stream
    rows with NULL dimension columns — right/full would need the
    unbounded side on the preserved right, which stream-static joins
    cannot express).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
    return stream.join(F.broadcast(dim), on, how)
