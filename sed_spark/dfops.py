"""Generic DataFrame operations.

Spark-first re-expression of the reference's generic ops
(reference: src/sed/core/dfops.py). Everything here is either a pure Column
expression (JVM-side, whole-stage-codegen friendly) or, where the semantics
genuinely need driver-held arrays (as-of interpolation), an Arrow-batched
pandas UDF over broadcast data. No row-at-a-time Python anywhere.

Scale notes
-----------
* ``forward_fill`` / ``backward_fill`` are EXACT cross-partition fills (the
  reference's iterated ``map_overlap`` is approximate, dfops.py:202-261).
  They use a per-group window plus a tiny carry-over table joined by
  broadcast, so no global single-partition sort is ever performed.
* ``offset_by_other_columns`` computes all required column means in ONE
  aggregate job and inlines them as literals, instead of one lazy scalar per
  column (reference dfops.py:400-414).
"""

from __future__ import annotations

import math
import secrets
from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

__all__ = [
    "apply_filter",
    "apply_jitter",
    "drop_column",
    "map_columns_2d",
    "forward_fill",
    "backward_fill",
    "offset_by_other_columns",
    "range_condition",
    "add_time_stamped_data",
    "split_channel_bitwise",
    "split_dld_time_from_sector_id",
    "with_row_index",
    "sessionize",
    "funnel_steps",
    "asof_join",
    "point_in_interval_join",
    "interval_overlap_join",
    "jitter_noise",
    "jitter_salt",
    "salted_join",
    "skew_join",
    "skew_report",
    "uniform_hash_expr",
]


# ---------------------------------------------------------------------------
# filters / projections
# ---------------------------------------------------------------------------

def range_condition(
    col: str,
    lower_bound: float = -math.inf,
    upper_bound: float = math.inf,
    index_column: str | None = None,
) -> Column | None:
    """The predicate of :func:`apply_filter`: ``lower < col < upper``, or
    None when both bounds are infinite.

    Strict inequalities; a null value gives a null (failing) predicate;
    NaN compares greater than every double in Spark, so it passes a lower
    bound alone and fails any finite upper bound.
    """
    if col == "index":
        if index_column is None:
            raise ValueError(
                "col='index' requires index_column naming the row-index column",
            )
        col = index_column
    cond = None
    if lower_bound != -math.inf:
        cond = F.col(col) > F.lit(lower_bound)
    if upper_bound != math.inf:
        upper = F.col(col) < F.lit(upper_bound)
        cond = upper if cond is None else (cond & upper)
    return cond


def apply_filter(
    df: DataFrame,
    col: str,
    lower_bound: float = -math.inf,
    upper_bound: float = math.inf,
    index_column: str | None = None,
) -> DataFrame:
    """Open-interval range filter ``lower < col < upper``.

    Mirrors reference src/sed/core/dfops.py:92-121 (strict inequalities,
    infinite defaults). ``col="index"`` filters on a row-index column; in the
    Spark model the caller must name the total-order column carrying the row
    index (``index_column``, e.g. ``event_id`` or a load-time row number),
    since Spark has no implicit index.
    """
    cond = range_condition(col, lower_bound, upper_bound, index_column)
    return df if cond is None else df.filter(cond)


def drop_column(df: DataFrame, column_name: str | Sequence[str]) -> DataFrame:
    """Drop one or more columns (reference src/sed/core/dfops.py:74-89)."""
    cols = [column_name] if isinstance(column_name, str) else list(column_name)
    return df.drop(*cols)


def with_row_index(df: DataFrame, name: str = "row_index") -> DataFrame:
    """Append a monotonically increasing 64-bit row id.

    Not globally contiguous (Spark semantics) but strictly increasing with
    row order within each file-partition — the Spark replacement for the
    dask per-partition index the reference filters on.
    """
    return df.withColumn(name, F.monotonically_increasing_id())


# ---------------------------------------------------------------------------
# jitter
# ---------------------------------------------------------------------------

def uniform_hash_expr(
    id_col: str, salt: str = "", method: str = "xxhash64",
) -> Column:
    """Deterministic uniform-[0,1) value from (id, salt) — the content-keyed
    noise source of :func:`apply_jitter`'s and the binning jitter's
    ``seed_column`` option, and the assignment primitive behind
    ``sed_spark.ext.corpus.hash_split`` and ``rate_sample``. The default
    (statistical) jitter draws from :func:`jitter_noise` instead.

    ``"xxhash64"`` (Spark-native, fastest): the signed 64-bit hash of the
    id's string form scaled into [0, 1); double precision (53 bits of the
    hash) is ample. ``"md5"``: the first 8 hex digits over 2^32 — slower
    per row, but any engine with an md5 builtin reproduces it bit-for-bit
    (DuckDB in the oracle, hashlib in tests).
    """
    if method == "xxhash64":
        return (
            F.xxhash64(F.col(id_col).cast("string"), F.lit(salt)).cast("double")
            / F.lit(float(2 ** 64))
            + F.lit(0.5)
        )
    if method == "md5":
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))),
                    1, 8,
                ),
                16, 10,
            ).cast("double")
            / F.lit(float(2 ** 32))
        )
    raise ValueError(f"unknown method {method!r}")


def jitter_salt(seed: int | str | None) -> str:
    """The hash salt of a jitter draw: ``str(seed)``, or a fresh random
    token when ``seed`` is None."""
    return secrets.token_hex(8) if seed is None else str(seed)


def _hashed_uniform(salt: str) -> Column:
    # the top 53 bits of xxhash64(row id, salt) as a double in [0, 1)
    row_id = F.monotonically_increasing_id()
    return F.shiftrightunsigned(F.xxhash64(row_id, F.lit(salt)), 11) * F.lit(2.0 ** -53)


def jitter_noise(jitter_type: str, salt: str) -> Column:
    """Unit jitter noise hashed from the row id
    (``monotonically_increasing_id``): uniform on [-1, 1), or standard
    normal (Box–Muller on two uniforms with different salts).

    Spark's ``rand(seed)`` writes its seed into the generated Java as a
    literal, so every fresh draw compiled a new class. Here the salt is a
    string literal, which codegen keeps in the class's reference array, so
    every draw reuses one compiled class. Like ``rand``, the expression is
    nondeterministic to Catalyst, so project it as its own column: such a
    projection is never inlined into its consumers, no filter is pushed
    below it, and it is evaluated for every row, so the row-id instances
    in it (two for a normal draw) count the same rows.
    """
    if jitter_type == "uniform":
        return _hashed_uniform(salt) * 2.0 - 1.0
    if jitter_type == "normal":
        u1 = _hashed_uniform(salt + ":r")
        u2 = _hashed_uniform(salt + ":a")
        return F.sqrt(F.log1p(-u1) * -2.0) * F.cos(u2 * (2.0 * math.pi))
    raise ValueError("jitter_type must be 'uniform' or 'normal'")


def apply_jitter(
    df: DataFrame,
    cols: str | Sequence[str],
    cols_jittered: str | Sequence[str] | None = None,
    amps: float | Sequence[float] = 0.5,
    jitter_type: str = "uniform",
    seed: int | str | None = None,
    seed_column: str | None = None,
    hash_method: str = "xxhash64",
) -> DataFrame:
    """Add jitter noise to one or more columns.

    Reference semantics (src/sed/core/dfops.py:17-71): ONE noise vector per
    row shared across all listed columns; uniform noise covers [-amp, amp),
    normal noise has stdev ``amp``; default amplitude 0.5 (half a digital
    step). Implemented as a single :func:`jitter_noise` column, hashed from
    the row id and reused by every target column — stays inside
    whole-stage codegen, no UDF, and the generated code does not depend on
    the seed.

    ``seed`` (salted as :func:`jitter_salt`) makes the draw reproducible on
    the same partition layout (the row id is partition index and row
    position, so re-partitioning the input changes the draw); ``None``
    gives a fresh draw. ``seed_column`` switches uniform jitter to a
    CONTENT-KEYED draw: the noise is a pure function of (row key, seed)
    via :func:`uniform_hash_expr`, so results are
    identical across partitionings, cluster sizes, and engines
    (``hash_method="md5"`` is reproducible outside Spark entirely) —
    reproducible-pipeline jitter rather than statistical jitter. Normal
    jitter has no content-keyed form (no portable inverse-CDF), so
    ``seed_column`` with ``jitter_type="normal"`` raises.
    """
    if isinstance(cols, str):
        cols = [cols]
    if isinstance(cols_jittered, str):
        cols_jittered = [cols_jittered]
    if cols_jittered is None:
        cols_jittered = [c + "_jittered" for c in cols]
    if isinstance(amps, (int, float)):
        amps = [float(amps)] * len(cols)
    if jitter_type not in ("uniform", "normal"):
        raise ValueError("jitter_type must be 'uniform' or 'normal'")

    if seed_column is not None:
        if jitter_type != "uniform":
            raise ValueError(
                "seed_column (content-keyed jitter) supports uniform only",
            )
        u = uniform_hash_expr(seed_column, salt=str(seed or 0), method=hash_method)
        noise = u * 2.0 - 1.0
    else:
        noise = jitter_noise(jitter_type, jitter_salt(seed))

    tmp = "__sed_jitter_noise__"
    out = df.withColumn(tmp, noise)
    for c, cj, amp in zip(cols, cols_jittered, amps):
        out = out.withColumn(cj, F.col(c) + F.lit(amp) * F.col(tmp))
    return out.drop(tmp)


# ---------------------------------------------------------------------------
# generic 2D column map
# ---------------------------------------------------------------------------

def map_columns_2d(
    df: DataFrame,
    map_2d,
    x_column: str,
    y_column: str,
    new_x_column: str | None = None,
    new_y_column: str | None = None,
    **kwds,
) -> DataFrame:
    """Apply a 2-in/2-out column mapping (reference src/sed/core/dfops.py:167-199).

    ``map_2d`` takes two pyspark Columns (plus kwargs) and returns two
    Columns. Stays fully declarative.
    """
    new_x_column = new_x_column or x_column
    new_y_column = new_y_column or y_column
    cx, cy = map_2d(F.col(x_column), F.col(y_column), **kwds)
    return df.withColumns({new_x_column: cx, new_y_column: cy})


# ---------------------------------------------------------------------------
# cross-partition forward / backward fill
# ---------------------------------------------------------------------------

def _fill_within_group(
    df: DataFrame,
    columns: Sequence[str],
    group_col: str,
    order_col: str,
    forward: bool,
) -> DataFrame:
    if forward:
        w = (
            Window.partitionBy(group_col)
            .orderBy(F.col(order_col).asc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        exprs = {c: F.last(F.col(c), ignorenulls=True).over(w) for c in columns}
    else:
        w = (
            Window.partitionBy(group_col)
            .orderBy(F.col(order_col).asc())
            .rowsBetween(0, Window.unboundedFollowing)
        )
        exprs = {c: F.first(F.col(c), ignorenulls=True).over(w) for c in columns}
    return df.withColumns(exprs)


def _carry_table(
    df: DataFrame,
    columns: Sequence[str],
    group_col: str,
    order_col: str,
    forward: bool,
) -> pd.DataFrame:
    """Per-group boundary values: for each group, the value of each column at
    the last (forward) / first (backward) non-null row. One aggregate job."""
    aggs = []
    for c in columns:
        ordv = F.when(F.col(c).isNotNull(), F.col(order_col))
        agg = F.max_by(F.col(c), ordv) if forward else F.min_by(F.col(c), ordv)
        aggs.append(agg.alias(c))
    pdf = df.groupBy(group_col).agg(*aggs).toPandas()
    return pdf.sort_values(group_col).reset_index(drop=True)


def forward_fill(
    df: DataFrame,
    columns: Sequence[str],
    order_col: str,
    group_col: str = "file_id",
) -> DataFrame:
    """Exact forward fill across the whole table, scalable.

    Replaces the reference's iterated ``map_overlap`` ffill
    (src/sed/core/dfops.py:202-261), which is approximate when consecutive
    partitions are all-NaN. Two phases:

    1. window ``last(ignorenulls)`` within each ``group_col`` partition
       (parallel, no global sort);
    2. a tiny per-group carry table (one row per group) is collected,
       forward-filled on the driver in group order, broadcast-joined back,
       and coalesced in for rows before a group's first non-null.

    ``group_col`` must sort in the same order as ``order_col`` ranges
    (true for load-time ``file_id`` + per-file row order).
    """
    if isinstance(columns, str):
        columns = [columns]
    filled = _fill_within_group(df, columns, group_col, order_col, forward=True)

    carry = _carry_table(df, columns, group_col, order_col, forward=True)
    # carry for group g = last non-null boundary value among groups < g
    for c in columns:
        carry[c] = carry[c].shift(1).ffill()
    spark = df.sparkSession
    carry_cols = {c: f"__carry_{c}" for c in columns}
    carry_sdf = spark.createDataFrame(
        carry.rename(columns=carry_cols),
        schema=None,
    )
    out = filled.join(F.broadcast(carry_sdf), on=group_col, how="left")
    for c in columns:
        out = out.withColumn(c, F.coalesce(F.col(c), F.col(carry_cols[c])))
    return out.drop(*carry_cols.values())


def backward_fill(
    df: DataFrame,
    columns: Sequence[str],
    order_col: str,
    group_col: str = "file_id",
) -> DataFrame:
    """Exact backward fill; mirror of :func:`forward_fill`
    (reference src/sed/core/dfops.py:264-321)."""
    if isinstance(columns, str):
        columns = [columns]
    filled = _fill_within_group(df, columns, group_col, order_col, forward=False)

    carry = _carry_table(df, columns, group_col, order_col, forward=False)
    for c in columns:
        carry[c] = carry[c].shift(-1).bfill()
    spark = df.sparkSession
    carry_cols = {c: f"__carry_{c}" for c in columns}
    carry_sdf = spark.createDataFrame(carry.rename(columns=carry_cols))
    out = filled.join(F.broadcast(carry_sdf), on=group_col, how="left")
    for c in columns:
        out = out.withColumn(c, F.coalesce(F.col(c), F.col(carry_cols[c])))
    return out.drop(*carry_cols.values())


# ---------------------------------------------------------------------------
# offsets
# ---------------------------------------------------------------------------

def offset_by_other_columns(
    df: DataFrame,
    target_column: str,
    offset_columns: str | Sequence[str],
    weights: float | Sequence[float],
    reductions: str | Sequence[str] | None = None,
    preserve_mean: bool | Sequence[bool] = False,
    inplace: bool = True,
    rename: str | None = None,
) -> DataFrame:
    """Offset a column by (weighted) other columns.

    Reference semantics (src/sed/core/dfops.py:324-416):
    ``reduction == "mean"`` adds ``w * mean(col)`` (a scalar); no reduction
    adds ``w * col`` per row; ``preserve_mean`` subtracts ``w * mean(col)``
    afterwards, i.e. centers the per-row offset.

    All means are computed in one aggregate job and inlined as literals —
    the broadcast-scalar join of SURVEY §2.3 collapsed to a constant fold.
    """
    if isinstance(offset_columns, str):
        offset_columns = [offset_columns]
    if isinstance(weights, (int, float)):
        weights = [float(weights)]
    if len(weights) != len(offset_columns):
        raise ValueError("weights and offset_columns must have the same length")
    if isinstance(reductions, str) or reductions is None:
        reductions = [reductions] * len(offset_columns)
    if any(r not in ("mean", None) for r in reductions):
        raise NotImplementedError("only 'mean' reduction is supported")
    if isinstance(preserve_mean, bool):
        preserve_mean = [preserve_mean] * len(offset_columns)
    if len(preserve_mean) != len(offset_columns):
        raise ValueError("preserve_mean and offset_columns must have the same length")

    need_mean = {
        c
        for c, r, p in zip(offset_columns, reductions, preserve_mean)
        if r == "mean" or p
    }
    means: dict[str, float] = {}
    if need_mean:
        row = df.agg(*[F.mean(c).alias(c) for c in sorted(need_mean)]).collect()[0]
        means = {c: row[c] for c in need_mean}

    if not inplace:
        rename = rename or target_column + "_offset"
    else:
        rename = target_column

    expr: Column = F.col(target_column).cast(DoubleType())
    for c, w, r in zip(offset_columns, weights, reductions):
        if r == "mean":
            expr = expr + F.lit(w * means[c])
        else:
            expr = expr + F.lit(w) * F.col(c)
    for c, w, p in zip(offset_columns, weights, preserve_mean):
        if p:
            expr = expr - F.lit(w * means[c])
    return df.withColumn(rename, expr)


# ---------------------------------------------------------------------------
# as-of interpolation join against a driver-held series
# ---------------------------------------------------------------------------

def add_time_stamped_data(
    df: DataFrame,
    time_stamps: np.ndarray,
    data: np.ndarray,
    dest_column: str,
    time_stamp_column: str,
) -> DataFrame:
    """Interpolate an external (timestamp, value) series onto every event.

    Reference semantics = ``np.interp`` per partition
    (src/sed/core/dfops.py:124-164): piecewise-linear between bracketing
    points, clamped to the endpoints outside the series range.

    The series is assumed small (instrument log); it is closed over and
    shipped with an Arrow-batched pandas UDF (Spark broadcasts the
    serialized closure to executors once per job). For a series too large to
    broadcast, express the same thing as a union + window as-of join.
    """
    ts = np.asarray(time_stamps, dtype=np.float64)
    vals = np.asarray(data, dtype=np.float64)
    if ts.shape != vals.shape:
        raise ValueError("time_stamps and data must have the same length")

    @F.pandas_udf(DoubleType())
    def _interp(s: pd.Series) -> pd.Series:
        return pd.Series(np.interp(s.to_numpy(dtype=np.float64), ts, vals))

    return df.withColumn(dest_column, _interp(F.col(time_stamp_column)))


# ---------------------------------------------------------------------------
# bitwise channel split
# ---------------------------------------------------------------------------

def split_channel_bitwise(
    df: DataFrame,
    input_column: str,
    output_columns: Sequence[str],
    bit_mask: int,
    overwrite: bool = False,
    types: Sequence[str] | None = None,
) -> DataFrame:
    """Split an int channel into low ``bit_mask`` bits and the remainder.

    Reference semantics (src/sed/loader/utils.py:101-145):
    ``out0 = col % 2**bit_mask`` (int8 if mask < 8 else int16),
    ``out1 = col >> bit_mask`` (int32). Pure bitwise Column exprs.
    """
    if len(output_columns) != 2:
        raise ValueError("output_columns must have exactly 2 elements")
    if types is None:
        types = ["tinyint" if bit_mask < 8 else "smallint", "int"]
    for c in output_columns:
        if c in df.columns and not overwrite:
            raise KeyError(f"column {c} already in dataframe (overwrite=False)")
    low = F.col(input_column).bitwiseAND(F.lit((1 << bit_mask) - 1)).cast(types[0])
    high = F.shiftright(F.col(input_column), bit_mask).cast(types[1])
    return df.withColumns({output_columns[0]: low, output_columns[1]: high})


def split_dld_time_from_sector_id(
    df: DataFrame,
    tof_column: str = "dldTimeSteps",
    sector_id_column: str = "dldSectorID",
    sector_id_reserved_bits: int = 3,
) -> DataFrame:
    """Unpack detector sector id from the low bits of the TOF channel
    (reference src/sed/loader/utils.py:148-206, k=3)."""
    return split_channel_bitwise(
        df,
        input_column=tof_column,
        output_columns=[sector_id_column, tof_column],
        bit_mask=sector_id_reserved_bits,
        overwrite=True,
    )


# ---------------------------------------------------------------------------
# sessionization
# ---------------------------------------------------------------------------

def sessionize(
    df: DataFrame,
    group_col: str,
    time_col: str,
    gap: float,
    order_cols: Sequence[str] = (),
    session_col: str = "session_id",
) -> DataFrame:
    """Gap-based session ids per group: a new session starts whenever the
    time since the previous row in the group exceeds ``gap``.

    Two stacked windows over the same (group, order) partitioning —
    ``lag`` to flag session starts, then a running ``sum`` of the flags —
    so Catalyst plans ONE shuffle + one sort for both (the second window
    reuses the first's distribution and ordering). Session ids count from
    0 in arrival order within each group.
    """
    from pyspark.sql import Window

    order = [F.col(time_col), *[F.col(c) for c in order_cols]]
    w = Window.partitionBy(group_col).orderBy(*order)
    new_session = F.when(
        F.col(time_col) - F.lag(time_col).over(w) > F.lit(gap), 1,
    ).otherwise(0)
    running = Window.partitionBy(group_col).orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow,
    )
    return df.withColumn(
        session_col, F.sum(new_session).over(running).cast("int"),
    )


def funnel_steps(
    df: DataFrame,
    steps: Sequence,
    group_col: str = "user_id",
    time_col: str = "ts",
    step_col: str = "event_type",
) -> DataFrame:
    """ORDERED multi-step funnel per group: for each user the earliest
    time of step ``i`` occurring STRICTLY AFTER their earliest
    qualifying step ``i-1`` — the signup → activation → purchase
    conversion question, where "purchased before signing up" must NOT
    count as conversion (a plain per-step ``min`` would).

    Returns one row per group that entered the funnel (performed
    ``steps[0]``): ``(group, step_ts_0..step_ts_{k-1}, steps_reached)``
    with NULL timestamps from the first missed step on — conversion
    between steps i and i+1 is ``count(step_ts_{i+1}) /
    count(step_ts_i)``. Groups that never performed ``steps[0]`` are
    absent (they are not in the funnel, not at step 0 of it), and so
    are NULL-key rows (no identity to convert — the filter is explicit
    so the equi-joins' NULL-dropping never decides semantics
    silently).

    Shape: step 0 is one hash aggregate; each later step joins its
    candidates against the PREVIOUS step's one-row-per-survivor frame
    (never the accumulated result — that would re-execute every earlier
    join once per later step) — k-1 equi-joins ALL keyed on
    ``group_col``, so after the first shuffle every stage reuses the
    same hash partitioning (no re-shuffle under AQE), plus k-1 final
    left joins to assemble the wide row. Same-timestamp events do not
    advance the funnel (strict ``>``): with integer-microsecond
    timestamps the comparison is exact on any engine.
    """
    if len(steps) < 2:
        raise ValueError(f"need at least 2 funnel steps, got {list(steps)}")
    base = df.select(
        F.col(group_col), F.col(step_col), F.col(time_col),
    ).filter(F.col(group_col).isNotNull())
    prev = (
        base.filter(F.col(step_col) == steps[0])
        .groupBy(group_col)
        .agg(F.min(time_col).alias("step_ts_0"))
    )
    frames = [prev]
    for i, s in enumerate(steps[1:], 1):
        prev = (
            base.filter(F.col(step_col) == s)
            .join(prev.select(group_col, f"step_ts_{i - 1}"), group_col)
            .filter(F.col(time_col) > F.col(f"step_ts_{i - 1}"))
            .groupBy(group_col)
            .agg(F.min(time_col).alias(f"step_ts_{i}"))
        )
        frames.append(prev)
    cur = frames[0]
    for f in frames[1:]:
        cur = cur.join(f, group_col, "left")
    reached = F.lit(1)
    for i in range(1, len(steps)):
        reached = reached + F.col(f"step_ts_{i}").isNotNull().cast("int")
    return cur.withColumn("steps_reached", reached)


# ---------------------------------------------------------------------------
# as-of join
# ---------------------------------------------------------------------------

def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: str | None = None,
    direction: str = "backward",
    suffix: str = "",
    tolerance: float | None = None,
    allow_exact_matches: bool = True,
    matched_on: str | None = None,
) -> DataFrame:
    """Distributed as-of join: for every left row, the latest right row
    with ``right.on <= left.on`` (``backward``; ``forward`` = earliest
    with ``>=``; ``nearest`` = whichever of the two candidates is closer
    in absolute distance, ties to backward), optionally per ``by`` key.

    The parameter surface matches ``pandas.merge_asof`` (the de-facto
    as-of API; the reference's time-stamped-data attachment at
    ``core/dfops.py:388-455`` is the backward special case):

    * ``tolerance`` — maximum |left.on − matched right.on| (in ``on``'s
      numeric units; timestamp columns compare in seconds). Candidates
      beyond it are discarded BEFORE the nearest pick, exactly like
      pandas: a backward match at distance 7 with tolerance 5 yields
      null even when no forward match exists.
    * ``allow_exact_matches=False`` — strict inequalities on the search
      (backward ``<``, forward ``>``, nearest both), implemented purely
      as the tie-sort order of the union spine: the left row sorts
      BEFORE equal-time right rows, so the running carry cannot see
      them. No extra pass in any path.
    * ``matched_on`` — optional output column carrying the matched right
      ``on`` value (null when unmatched / outside tolerance); also the
      internal mechanism for tolerance and nearest, so requesting it is
      free.

    ``nearest`` with ``by`` stays ONE shuffle: both directional carries
    are window functions over the same ``by`` partitioning (two in-
    partition sorts, no second exchange). Keyless ``nearest`` runs the
    bucketed fill once per direction over a row-id'd left (persisted,
    released via finalizer when the result is dropped) and joins the two
    on the row id — see :func:`_asof_join_nearest_keyless`.

    Spark has no native as-of join; the scalable formulation is the
    union-and-fill pattern (same as :func:`add_time_stamped_data`, but
    between two DataFrames and per key): tag both sides, union on the
    shared (by, on) spine, ONE window sorted by (on, side) carrying the
    right side's values via ``last_value(..., ignorenulls)``, then keep
    the left rows. One shuffle on ``by`` total — no row-by-row probing,
    no broadcast requirement on either side. Ties on ``on`` match (the
    right row sorts before the left row at equal times), which is
    DuckDB/pandas ``merge_asof`` backward semantics.

    Right-side duplicate (by, on) pairs should be pre-aggregated by the
    caller — otherwise which duplicate wins is the union order, not
    deterministic.

    With ``by=None`` there is no partition key, so a plain window would
    funnel the whole union through ONE task. Instead the keyless case
    range-partitions the union on ``on`` (equal keys co-located), fills
    within each physical partition via an Arrow-batched running carry
    (``mapInPandas`` sees a partition's batches in sorted order), and
    closes the seams with a B-row boundary-carry table — the
    :func:`forward_fill` pattern — broadcast back and coalesced in.
    Every stage is partition-parallel; the only driver-sized state is
    one row of last-seen right values per partition.
    Right-side value columns that collide with a left column must be
    disambiguated via ``suffix``; collisions raise up front.
    """
    from pyspark.sql import Window

    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"unknown direction {direction!r}")
    if tolerance is not None and not float(tolerance) >= 0.0:
        raise ValueError(
            f"tolerance must be non-negative, got {tolerance!r}",
        )
    if matched_on is not None and matched_on in left.columns:
        raise ValueError(
            f"matched_on column {matched_on!r} collides with left columns",
        )
    if direction == "nearest" and by is None:
        return _asof_join_nearest_keyless(
            left, right, on, suffix, tolerance, allow_exact_matches,
            matched_on,
        )
    tcol = matched_on if matched_on is not None else "__asof_t"
    need_t = (
        matched_on is not None
        or tolerance is not None
        or direction == "nearest"
    )
    if need_t:
        if tcol in right.columns or tcol == on:
            raise ValueError(
                f"matched_on column {tcol!r} collides with right columns",
            )
        right = right.withColumn(tcol, F.col(on))
    value_cols = [c for c in right.columns if c not in {on, by}]
    out_vals = [c + suffix if c != tcol else c for c in value_cols]
    clash = sorted(set(out_vals) & set(left.columns))
    if clash:
        raise ValueError(
            f"asof_join output columns {clash} collide with left columns; "
            "pass suffix= to disambiguate right-side value columns",
        )
    keys = ([by] if by else []) + [on]

    l_tag = left.select(
        *[F.col(c) for c in left.columns],
        F.lit(1).alias("__side"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(o)
          for c, o in zip(value_cols, out_vals)],
    )
    r_tag = right.select(
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in left.columns if c not in keys],
        *[F.col(k) for k in keys],
        F.lit(0).alias("__side"),
        *[F.col(c).alias(o) for c, o in zip(value_cols, out_vals)],
    ).select(*l_tag.columns)  # align union column order

    u = l_tag.unionByName(r_tag)
    backward = direction == "backward"
    # tie order at equal ``on``: right(0) before left(1) makes exact-time
    # right rows visible to the carry (allow_exact_matches=True, the
    # merge_asof default); left-first hides them (strict inequality)
    def _side_ord():
        return (
            F.col("__side").asc() if allow_exact_matches
            else F.col("__side").desc()
        )

    if by:
        def _w(asc: bool):
            return Window.partitionBy(by).orderBy(
                F.col(on).asc() if asc else F.col(on).desc(), _side_ord(),
            ).rowsBetween(Window.unboundedPreceding, Window.currentRow)

        if direction == "nearest":
            # both directional carries over the SAME partitioning: one
            # exchange, two in-partition sorts
            filled = u.select(
                *[c for c in left.columns],
                F.col("__side"),
                *[F.last(o, ignorenulls=True).over(_w(True)).alias(o)
                  for o in out_vals],
                *[F.last(o, ignorenulls=True).over(_w(False))
                  .alias("__f_" + o) for o in out_vals],
            )
            rows = filled.filter(F.col("__side") == 1).drop("__side")
            return _asof_pick_nearest(
                rows, on,
                [o for o in out_vals if o != tcol],
                tcol, "__f_" + tcol, tolerance, matched_on,
                keep_cols=list(left.columns),
            )
        filled = u.select(
            *[c for c in left.columns],
            F.col("__side"),
            *[F.last(o, ignorenulls=True).over(_w(backward)).alias(o)
              for o in out_vals],
        )
        rows = filled.filter(F.col("__side") == 1).drop("__side")
        if tolerance is not None:
            rows = _asof_tolerance_mask(rows, on, out_vals, tcol, tolerance)
        if need_t and matched_on is None:
            rows = rows.drop(tcol)
        return rows
    rows = _asof_fill_keyless(
        u, left.columns, on, out_vals, backward,
        exact=allow_exact_matches,
    )
    if tolerance is not None:
        rows = _asof_tolerance_mask(rows, on, out_vals, tcol, tolerance)
    if need_t and matched_on is None:
        rows = rows.drop(tcol)
    return rows


def _asof_tolerance_mask(
    df: DataFrame,
    on: str,
    out_vals: Sequence[str],
    tcol: str,
    tolerance: float,
) -> DataFrame:
    """Null out every matched value (including the matched-on column
    itself) where the matched right time is farther than ``tolerance``
    from the left time — merge_asof tolerance semantics. Single select,
    all conditions against the ORIGINAL ``tcol`` values."""
    ok = F.col(tcol).isNotNull() & (
        F.abs(F.col(on).cast("double") - F.col(tcol).cast("double"))
        <= F.lit(float(tolerance))
    )
    masked = {o: F.when(ok, F.col(o)).alias(o) for o in out_vals}
    return df.select(
        *[masked.get(c, F.col(c)) for c in df.columns],
    )


def _asof_pick_nearest(
    df: DataFrame,
    on: str,
    val_out: Sequence[str],
    bt: str,
    ft: str,
    tolerance: float | None,
    matched_on: str | None,
    keep_cols: Sequence[str],
) -> DataFrame:
    """merge_asof ``nearest`` resolution over pre-computed backward
    (plain-named values + ``bt`` time) and forward (``__f_``-prefixed
    values + ``ft`` time) carries: mask each candidate by tolerance
    FIRST, then pick the closer one, ties to backward. Pure column
    expressions — no extra shuffle."""
    lref = F.col(on).cast("double")
    db = lref - F.col(bt).cast("double")
    dfw = F.col(ft).cast("double") - lref
    b_ok = F.col(bt).isNotNull()
    f_ok = F.col(ft).isNotNull()
    if tolerance is not None:
        tol = F.lit(float(tolerance))
        b_ok = b_ok & (db <= tol)
        f_ok = f_ok & (dfw <= tol)
    # never null: b_ok false short-circuits; b_ok&f_ok => both distances
    # non-null
    use_b = b_ok & (~f_ok | (db <= dfw))
    use_f = f_ok & ~use_b
    picked = [
        F.when(use_b, F.col(o)).when(use_f, F.col("__f_" + o)).alias(o)
        for o in val_out
    ]
    extras = (
        [F.when(use_b, F.col(bt)).when(use_f, F.col(ft)).alias(matched_on)]
        if matched_on is not None else []
    )
    return df.select(
        *[F.col(c) for c in keep_cols], *picked, *extras,
    )


def _asof_join_nearest_keyless(
    left: DataFrame,
    right: DataFrame,
    on: str,
    suffix: str,
    tolerance: float | None,
    exact: bool,
    matched_on: str | None,
) -> DataFrame:
    """Keyless ``nearest``: the bucketed boundary-carry fill is a
    directional running scan, so nearest needs one fill per direction.
    The left side gets a row id and is persisted (both fills read the
    same cached blocks; a finalizer drops the cache with the result —
    recompute-on-eviction is safe for deterministic inputs, the same
    contract :func:`_asof_fill_keyless` already documents), then the two
    directional matches join back on the row id and resolve via
    :func:`_asof_pick_nearest`. Cost: two bucketed fills + one row-id
    equi-join — still no cartesian, no driver materialization."""
    import weakref

    rid = "__asof_rid"
    if rid in left.columns:
        raise ValueError(f"left column {rid!r} collides with internal name")
    bt, ft = "__asof_bt", "__asof_ft"
    l2 = left.withColumn(rid, F.monotonically_increasing_id()).persist()
    b = asof_join(
        l2, right, on, by=None, direction="backward", suffix=suffix,
        allow_exact_matches=exact, matched_on=bt,
    )
    f = asof_join(
        l2.select(rid, on), right, on, by=None, direction="forward",
        suffix=suffix, allow_exact_matches=exact, matched_on=ft,
    )
    val_out = [c for c in b.columns if c not in l2.columns and c != bt]
    f2 = f.select(
        F.col(rid), F.col(ft),
        *[F.col(o).alias("__f_" + o) for o in val_out],
    )
    joined = b.join(f2, rid)
    out = _asof_pick_nearest(
        joined, on, val_out, bt, ft, tolerance, matched_on,
        keep_cols=list(left.columns),
    )

    def _drop(d=l2):
        try:
            d.unpersist()
        except Exception:
            pass  # session already stopped

    weakref.finalize(out, _drop)
    return out


def _asof_fill_keyless(
    u: DataFrame,
    left_cols: Sequence[str],
    on: str,
    out_vals: Sequence[str],
    backward: bool,
    exact: bool = True,
) -> DataFrame:
    """Distributed keyless as-of fill: deterministic range buckets →
    in-bucket running carry → boundary-carry seam join.

    The bucket key is an EXPLICIT column (fixed-width ranges of ``on``
    from one min/max scan), like :func:`forward_fill`'s ``file_id`` —
    NOT ``spark_partition_id`` over a ``repartitionByRange``, whose
    sampled boundaries are not stable across the two jobs this plan
    runs (boundary collect + final fill); that instability was a
    measured ~1% wrong-seam rate. Fixed-width buckets trade perfect
    balance for bit-stable assignment; correctness never depends on
    balance. Buckets sharing a physical partition are fine: the fill
    resets its carry at every bucket change and the seam join repairs
    all cross-bucket fills.

    The bucketed union is ``persist()``-ed: the boundary collect (the
    first action) computes it once and caches, and the final fill reads
    the cached blocks instead of re-running both input scans — no extra
    materialization job (an eager ``localCheckpoint`` here measured +2.5 s
    on the sf0.1 suite row purely in job overhead + block writes). If a
    cached block is evicted under memory pressure it recomputes from
    lineage, which can diverge only when the UPSTREAM plan is
    nondeterministic (e.g. un-seeded sampling) — callers with such inputs
    should checkpoint them before the join; deterministic plans (every
    loader/scan in this engine) are unaffected.

    Right-side value columns must be ATOMIC types (numeric / string /
    boolean / timestamp / date): the seam-carry table round-trips one
    value per bucket through pandas, where array/struct values have no
    faithful null-handling, and integer columns are re-coerced from
    pandas' float64 null representation back to exact Python ints
    before ``createDataFrame`` (a bigint value column otherwise either
    raises on the non-Arrow path or relies on unsafe float→int casts).
    The per-key (``by=``) window path has no such restriction.
    """
    import pandas as pd
    from pyspark.sql.types import (
        AtomicType,
        DecimalType,
        FractionalType,
        IntegralType,
    )

    spark = u.sparkSession
    bad = [
        o for o in out_vals
        if not isinstance(u.schema[o].dataType, AtomicType)
    ]
    if bad:
        raise ValueError(
            f"keyless as-of join supports atomic value column types only; "
            f"columns {bad} have types "
            f"{[u.schema[o].dataType.simpleString() for o in bad]}. "
            "Pass by= to use the window path, or pack/unpack the value.",
        )
    nbuckets = max(spark.sparkContext.defaultParallelism, 2) * 4
    lo, hi = u.agg(
        F.min(F.col(on).cast("double")), F.max(F.col(on).cast("double")),
    ).collect()[0]
    if lo is None or hi is None or float(hi) == float(lo):
        bucket = F.lit(0)
        nbuckets = 1
    else:
        width = (float(hi) - float(lo)) / nbuckets
        bucket = F.least(
            F.floor((F.col(on).cast("double") - F.lit(float(lo))) / F.lit(width)),
            F.lit(nbuckets - 1),
        ).cast("int")
    # equal-``on`` ties: right(0) before left(1) => exact matches visible
    # to the carry; reversed for allow_exact_matches=False (cross-bucket
    # seams never tie — equal ``on`` values share a bucket by
    # construction, so the boundary-carry table is exactness-agnostic)
    side_ord = F.col("__side").asc() if exact else F.col("__side").desc()
    order = [F.col("__bkt").asc(), F.col(on).asc(), side_ord] \
        if backward else \
        [F.col("__bkt").asc(), F.col(on).desc(), side_ord]
    part = (
        u.withColumn("__bkt", bucket)
        .repartition(min(nbuckets, 1024), "__bkt")
        .sortWithinPartitions(*order)
        .persist()
    )
    schema = part.schema
    ovs = list(out_vals)
    # integral value columns arrive in pandas as float64 when any row is
    # null; hand them back to Arrow as nullable Int64 so the declared
    # integer schema needs no unsafe float cast
    int_ovs = {
        o for o in ovs if isinstance(u.schema[o].dataType, IntegralType)
    }

    def _fill(batches):
        carry: dict[str, object] = {o: None for o in ovs}
        cur_bkt = None
        for pdf in batches:
            if not len(pdf):
                continue
            bkts = pdf["__bkt"]
            for o in ovs:
                col = pdf[o]
                if (
                    carry[o] is not None
                    and bkts.iloc[0] == cur_bkt
                    and pd.isna(col.iloc[0])
                ):
                    # bucket continues from the previous batch: seed its
                    # head, groupwise ffill runs the carry down
                    col = col.copy()
                    col.iloc[0] = carry[o]
                filled = col.groupby(bkts, sort=False).ffill()
                pdf[o] = filled.astype("Int64") if o in int_ovs else filled
                last_bkt = bkts.iloc[-1]
                tail = filled.iloc[-1]
                if last_bkt != cur_bkt or not pd.isna(tail):
                    carry[o] = None if pd.isna(tail) else tail
            cur_bkt = bkts.iloc[-1]
            yield pdf

    filled = part.mapInPandas(_fill, schema)

    # seam carry: the right-side value each bucket hands across its seam
    # (tiny: one row per bucket, driver-filled in bucket order)
    pick = F.max_by if backward else F.min_by
    boundary = (
        part.filter(F.col("__side") == 0)
        .groupBy("__bkt")
        .agg(*[
            # null ord rows are ignored by max_by/min_by, so a null right
            # VALUE never shadows an earlier non-null one (matching the
            # window path's last(..., ignorenulls=True))
            pick(
                F.col(o), F.when(F.col(o).isNotNull(), F.col(on)),
            ).alias(o)
            for o in ovs
        ])
        .orderBy("__bkt")
        .toPandas()
    )
    carry_pdf = pd.DataFrame({"__bkt": range(nbuckets)})
    carry_pdf = carry_pdf.merge(boundary, on="__bkt", how="left")
    for o in ovs:
        shifted = carry_pdf[o].shift(1) if backward else carry_pdf[o].shift(-1)
        carry_pdf[o] = shifted.ffill() if backward else shifted.bfill()
    carry_cols = {o: f"__carry_{o}" for o in ovs}

    # coerce each carry value back to its DECLARED Spark type: the merge
    # injects NaN for empty buckets, silently promoting integer columns
    # to float64 — createDataFrame against the original bigint/int schema
    # must see Python ints/None, not numpy floats
    def _pyval(v, dt):
        if v is None or pd.isna(v):
            return None
        if isinstance(dt, IntegralType):
            return int(v)
        if isinstance(dt, FractionalType) and not isinstance(dt, DecimalType):
            return float(v)
        return v

    dts = {o: u.schema[o].dataType for o in ovs}
    carry_rows = [
        tuple(
            [int(carry_pdf["__bkt"].iloc[i])]
            + [_pyval(carry_pdf[o].iloc[i], dts[o]) for o in ovs],
        )
        for i in range(len(carry_pdf))
    ]
    carry_sdf = spark.createDataFrame(
        carry_rows,
        schema=(
            "__bkt int, " + ", ".join(
                f"{carry_cols[o]} {dts[o].simpleString()}" for o in ovs
            )
        ),
    )
    out = filled.join(F.broadcast(carry_sdf), "__bkt", "left")
    for o in ovs:
        out = out.withColumn(o, F.coalesce(F.col(o), F.col(carry_cols[o])))
    return (
        out.filter(F.col("__side") == 1)
        .select(*[F.col(c) for c in left_cols], *[F.col(o) for o in ovs])
    )


# ---------------------------------------------------------------------------
# range / interval joins
# ---------------------------------------------------------------------------

def point_in_interval_join(
    points: DataFrame,
    intervals: DataFrame,
    on: str,
    lo_col: str,
    hi_col: str,
    by: str | None = None,
    bucket_width: float | None = None,
    bounds: str = "[)",
    max_buckets: int = 4096,
    how: str = "inner",
    id_col: str | None = None,
    validate_id: bool = False,
) -> DataFrame:
    """Distributed point-in-interval (range) join: every point row paired
    with every interval row whose ``[lo, hi)`` (or ``[lo, hi]``) range
    contains it, optionally also matching a ``by`` key.

    Spark has no native range join; the naive formulation is a
    cross-join + filter (``O(n·m)`` — a non-starter at corpus scale).
    The scalable shape buckets the domain: each interval explodes into
    the ``width``-sized buckets it covers, each point computes its ONE
    bucket, and the join becomes a plain hash equi-join on
    ``(by, bucket)`` with an exact containment post-filter. A point
    matches an interval in exactly the point's own bucket, so no
    dedup pass is needed. Shuffle volume is ``n + m · ceil(len/width)``
    rows — pick ``bucket_width`` near the TYPICAL interval length so
    most intervals explode into 1-2 buckets; ``max_buckets`` turns a
    catastrophic mis-pick (one giant interval fanning out millions of
    rows) into an executor-side error instead of a silent blow-up.

    ``bucket_width=None`` derives it from the intervals (the mean
    length, one scalar aggregate = one job). ``how`` is ``inner`` or
    ``left`` (unmatched points kept with NULL interval columns).
    Column collisions between the two sides raise up front — rename
    before joining.

    For ``how='left'``, pass ``id_col`` naming a column of ``points``
    that is unique and non-null (an event id, a row key — at pipeline
    scale one always exists): the match-back join then uses it directly
    with NO surrogate id and NO persist. Without it the fallback
    synthesizes ``monotonically_increasing_id`` and must ``persist()``
    the points frame to pin one evaluation; those cached blocks stay
    until session LRU pressure or an explicit ``unpersist`` — fine for
    batch jobs, a slow leak in a long-lived session, so prefer
    ``id_col`` there.

    The ``id_col`` contract is NOT checked by default: a NULL id drops
    its row's matches (null-unsafe equi-join) and a duplicate id fans
    matches out multiplicatively — silently wrong results, not errors.
    Pass ``validate_id=True`` in debug/test paths to spend one aggregate
    job asserting the column is non-null and unique before joining.
    """
    if bounds not in ("[)", "[]"):
        raise ValueError(f"bounds must be '[)' or '[]', got {bounds!r}")
    if how not in ("inner", "left"):
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
    clash = sorted(
        (set(points.columns) & set(intervals.columns)) - ({by} if by else set()),
    )
    if clash:
        raise ValueError(
            f"point/interval column collision {clash}; rename before joining",
        )
    if bucket_width is None:
        row = intervals.agg(
            F.avg(F.col(hi_col) - F.col(lo_col)).alias("w"),
        ).collect()[0]
        if row["w"] is None or row["w"] <= 0:
            raise ValueError("cannot derive bucket_width from empty intervals")
        bucket_width = float(row["w"])
    if bucket_width <= 0:
        raise ValueError("bucket_width must be > 0")
    w = F.lit(bucket_width)
    lo_b = F.floor(F.col(lo_col) / w).cast("long")
    hi_b = F.floor(F.col(hi_col) / w).cast("long")
    n_b = hi_b - lo_b + 1
    guarded = F.when(
        n_b > max_buckets,
        F.raise_error(
            F.concat(
                F.lit(
                    f"interval spans more than max_buckets={max_buckets} "
                    f"buckets of width {bucket_width}; raise bucket_width "
                    "or max_buckets (interval length ",
                ),
                (F.col(hi_col) - F.col(lo_col)).cast("string"),
                F.lit(")"),
            ),
        ).cast("long"),
    ).otherwise(lo_b)
    iv = intervals.select(
        "*", F.explode(F.sequence(guarded, hi_b)).alias("__bucket"),
    )
    pt = points.withColumn(
        "__bucket", F.floor(F.col(on) / w).cast("long"),
    )
    keys = ([by] if by else []) + ["__bucket"]
    contain = (F.col(on) >= F.col(lo_col)) & (
        F.col(on) < F.col(hi_col)
        if bounds == "[)"
        else F.col(on) <= F.col(hi_col)
    )
    if how == "inner":
        return pt.join(iv, keys).filter(contain).drop("__bucket")
    # left: re-attach matches by a unique row id, NOT by equi-joining
    # on all point columns — a NULL in any point column would make a
    # genuinely matched row come back unmatched (null-unsafe keys), and
    # duplicate point rows would fan out multiplicatively.
    iv_cols = [c for c in intervals.columns if c != by]
    if id_col is not None:
        # caller-guaranteed unique non-null key: one plan, two reads of
        # the same deterministic source, nothing to pin, nothing cached
        if id_col not in points.columns:
            raise ValueError(f"id_col {id_col!r} not in points columns")
        if validate_id:
            chk = points.agg(
                F.count(F.lit(1)).alias("n"),
                F.count(id_col).alias("n_nonnull"),
                F.countDistinct(id_col).alias("n_distinct"),
            ).collect()[0]
            if chk["n_nonnull"] != chk["n"]:
                raise ValueError(
                    f"id_col {id_col!r} has "
                    f"{chk['n'] - chk['n_nonnull']} NULLs — a NULL id "
                    "silently drops its row's matches",
                )
            if chk["n_distinct"] != chk["n"]:
                raise ValueError(
                    f"id_col {id_col!r} is not unique "
                    f"({chk['n_distinct']} distinct of {chk['n']} rows) "
                    "— duplicate ids silently fan matches out",
                )
        matched = pt.join(iv, keys).filter(contain).drop("__bucket")
        return points.join(
            matched.select(id_col, *iv_cols), id_col, "left",
        )
    # fallback: monotonically_increasing_id values depend on partition
    # layout and `pts` feeds BOTH the matched branch and the outer join;
    # persist() pins one evaluation so the two consumers read the same
    # ids (the same guard, and the same cost rationale, as
    # _asof_fill_keyless: an eager localCheckpoint measured +2.5 s of
    # pure job overhead there). The blocks stay cached until session LRU
    # or unpersist — see the docstring; pass id_col to avoid this path.
    # If an evicted block recomputes, the ids reproduce as long as the
    # upstream plan is deterministic — callers whose `points` sits
    # downstream of nondeterministic sampling should checkpoint it
    # themselves, per the asof_join contract.
    pts = points.withColumn(
        "__pid", F.monotonically_increasing_id(),
    ).persist()
    pt = pts.withColumn("__bucket", F.floor(F.col(on) / w).cast("long"))
    matched = pt.join(iv, keys).filter(contain).drop("__bucket")
    return pts.join(
        matched.select("__pid", *iv_cols), "__pid", "left",
    ).drop("__pid")


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_lo: str,
    left_hi: str,
    right_lo: str,
    right_hi: str,
    by: str | None = None,
    bucket_width: float | None = None,
    max_buckets: int = 4096,
) -> DataFrame:
    """Distributed interval-overlap join: pairs of rows whose half-open
    ranges intersect (``l.lo < r.hi AND r.lo < l.hi``), optionally per
    ``by`` key.

    Same bucketing strategy as :func:`point_in_interval_join`, with the
    standard dedup rule for two exploded sides: a candidate pair can
    share many buckets, so it is emitted ONLY in the first bucket both
    occupy (``max(floor(l.lo/w), floor(r.lo/w))``) — a pure filter, no
    distinct shuffle. ``bucket_width=None`` derives the mean length of
    both sides combined.
    """
    clash = sorted(
        (set(left.columns) & set(right.columns)) - ({by} if by else set()),
    )
    if clash:
        raise ValueError(
            f"left/right column collision {clash}; rename before joining",
        )
    if bucket_width is None:
        l_len = left.select((F.col(left_hi) - F.col(left_lo)).alias("len"))
        r_len = right.select((F.col(right_hi) - F.col(right_lo)).alias("len"))
        row = l_len.unionByName(r_len).agg(F.avg("len").alias("w")).collect()[0]
        if row["w"] is None or row["w"] <= 0:
            raise ValueError("cannot derive bucket_width from empty inputs")
        bucket_width = float(row["w"])
    if bucket_width <= 0:
        raise ValueError("bucket_width must be > 0")
    w = F.lit(bucket_width)

    def expand(df, lo, hi):
        lo_b = F.floor(F.col(lo) / w).cast("long")
        hi_b = F.floor(F.col(hi) / w).cast("long")
        guarded = F.when(
            hi_b - lo_b + 1 > max_buckets,
            F.raise_error(F.lit(
                f"interval spans more than max_buckets={max_buckets} "
                f"buckets of width {bucket_width}",
            )).cast("long"),
        ).otherwise(lo_b)
        return df.select(
            "*", F.explode(F.sequence(guarded, hi_b)).alias("__bucket"),
        )

    keys = ([by] if by else []) + ["__bucket"]
    pairs = expand(left, left_lo, left_hi).join(
        expand(right, right_lo, right_hi), keys,
    )
    overlap = (F.col(left_lo) < F.col(right_hi)) & (
        F.col(right_lo) < F.col(left_hi)
    )
    first_shared = F.col("__bucket") == F.greatest(
        F.floor(F.col(left_lo) / w).cast("long"),
        F.floor(F.col(right_lo) / w).cast("long"),
    )
    return pairs.filter(overlap & first_shared).drop("__bucket")


# ---------------------------------------------------------------------------
# skew-aware joins
# ---------------------------------------------------------------------------

_SALTABLE = ("inner", "left", "left_semi", "left_anti")


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    how: str = "inner",
    salt: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Equi-join with the LEFT side's keys spread over ``salt`` sub-keys
    and the RIGHT side replicated ``salt`` times — the classic fix for a
    shuffle join whose left side concentrates on a few hot keys (one
    reducer gets the whole hot key and the stage runs at the speed of
    that straggler).

    Each left row draws a salt value in ``[0, salt)``; the right side
    explodes every row into all ``salt`` values, so any left row still
    meets every right row of its key — the result is row-identical to
    the plain join for any salt assignment, which is also why the
    per-row ``rand`` draw (deterministic per partition seed, but not
    content-keyed) is safe here: a task retry may re-draw, but every
    draw joins the same right rows. Supported ``how``: inner / left /
    left_semi / left_anti (the left-side variants — the right side is
    replicated, so right/full/right_semi would multiply or misalign
    unmatched right rows).

    The trade: right-side shuffle volume grows ``salt``-fold. Use when
    the right side is much smaller than the hot key's row count but too
    big (or too mid-plan) to broadcast; prefer AQE's skew-join handling
    when it applies (it only splits oversized PARTITIONS after the fact
    — a single hot KEY above the partition-split size still lands on
    one reducer, which is exactly the case this helper exists for).
    """
    if how not in _SALTABLE:
        raise ValueError(f"how must be one of {_SALTABLE}, got {how!r}")
    if salt < 2:
        raise ValueError("salt must be >= 2")
    keys = [on] if isinstance(on, str) else list(on)
    clash = {"__salt"} & (set(left.columns) | set(right.columns))
    if clash:
        raise ValueError("column __salt already present; rename it first")
    lsalt = left.withColumn(
        "__salt", F.floor(F.rand(seed) * salt).cast("int"),
    )
    rsalt = right.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))).alias("__salt"),
    )
    out = lsalt.join(rsalt, keys + ["__salt"], how)
    return out.drop("__salt")


def skew_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    how: str = "inner",
    hot_keys: Sequence | None = None,
    hot_threshold: int | None = None,
    max_hot_keys: int = 10_000,
) -> DataFrame:
    """Hot-key split join: left rows carrying a HOT key join the (small)
    hot slice of the right side with a broadcast hash join — no shuffle,
    no straggler reducer — while the remaining cold rows take the normal
    shuffle join; the two branches union to exactly the plain join's
    rows.

    Hot keys come from ``hot_keys`` (explicit values of a single join
    column) or are detected with one aggregate over the left side:
    every key with more than ``hot_threshold`` left rows. The detected
    set never leaves the cluster — routing is broadcast semi/anti joins
    against the hot-key frame, and only its bounded COUNT reaches the
    driver (more than ``max_hot_keys`` hot keys means the distribution
    isn't "a few hot keys" and this strategy is the wrong tool; the
    raise says so). ``max_hot_keys`` is enforced on the DETECTION path
    only: an explicit ``hot_keys`` list is caller-sized by construction,
    so an oversized one warns (the broadcast hot-key frame grows with
    it, and :func:`salted_join` is probably the better tool) but still
    runs — explicit callers keep their pre-existing behavior.

    Correctness shape: hot keys are defined by LEFT frequency, so a
    cold left row can never match a hot-key right row — the cold branch
    joins the right side's cold slice only, and the hot branch joins
    the hot slice only; no pair is lost or duplicated. Supported
    ``how``: inner / left / left_semi / left_anti (left-preserving
    forms split cleanly by the left row's own key).
    """
    if how not in _SALTABLE:
        raise ValueError(f"how must be one of {_SALTABLE}, got {how!r}")
    keys = [on] if isinstance(on, str) else list(on)
    if len(keys) != 1:
        raise ValueError("skew_join supports a single join column")
    key = keys[0]
    if hot_keys is None:
        if hot_threshold is None or hot_threshold < 1:
            raise ValueError("pass hot_keys or a positive hot_threshold")
        # the hot-key set stays a DataFrame end to end — routing below is
        # broadcast semi/anti joins against it, NEVER an isin() literal
        # list (a multi-million-value In expression blows up the plan and
        # a value collect() risks driver OOM exactly when skew is broad);
        # null keys never join under these left-preserving forms, so they
        # route through the cold branch regardless of frequency
        hotf = (
            left.filter(F.col(key).isNotNull())
            .groupBy(key)
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > hot_threshold)
            .select(key)
        )
        # only the COUNT comes to the driver, bounded by limit()
        n_hot = hotf.limit(max_hot_keys + 1).count()
        if n_hot > max_hot_keys:
            raise ValueError(
                f"more than {max_hot_keys} keys exceed hot_threshold="
                f"{hot_threshold}; that is broad skew, not a few hot keys "
                "— raise the threshold or use salted_join",
            )
        if n_hot == 0:
            return left.join(right, keys, how)
    else:
        # explicit lists stay caller-sized; a None hot key would poison
        # null-unsafe routing (nulls never equi-join, so they are always
        # cold) — strip it here too
        vals = [k for k in hot_keys if k is not None]
        if not vals:
            return left.join(right, keys, how)
        if len(vals) > max_hot_keys:
            # caller already holds the list — size is their informed
            # choice; warn (broadcast frame grows with it) but honor it
            import warnings

            warnings.warn(
                f"explicit hot_keys has {len(vals)} values, above "
                f"max_hot_keys={max_hot_keys} — that looks like broad "
                "skew; salted_join likely scales better",
                stacklevel=2,
            )
        hotf = left.sparkSession.createDataFrame(
            [(v,) for v in vals], schema=left.select(key).schema,
        )
    # all four routing joins broadcast the SAME hotf subtree, so Spark's
    # ReuseExchange materializes it once per query; null left keys fail
    # the semi probe and keep their cold-branch routing
    hot_part = left.join(F.broadcast(hotf), [key], "left_semi").join(
        F.broadcast(right.join(F.broadcast(hotf), [key], "left_semi")),
        keys, how,
    )
    cold_part = left.join(F.broadcast(hotf), [key], "left_anti").join(
        right.join(F.broadcast(hotf), [key], "left_anti"), keys, how,
    )
    return hot_part.unionByName(cold_part)


def skew_report(
    df: DataFrame,
    cols: str | Sequence[str],
    k: int = 20,
) -> DataFrame:
    """Top-``k`` heaviest key values of ``cols`` with their row share —
    the one-aggregate diagnostic that decides between a plain join,
    :func:`skew_join` (few hot keys) and :func:`salted_join` (broad
    skew). One hash aggregate + a TakeOrdered top-k; the total-row
    scalar rides in via a crossJoin of a one-row aggregate, never a
    global window. Returns ``(cols..., n_rows, share)`` ordered by
    weight desc (ties by key) — deterministic."""
    keys = [cols] if isinstance(cols, str) else list(cols)
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_rows"))
    total = df.agg(F.count(F.lit(1)).alias("__total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            *keys,
            "n_rows",
            F.round(F.col("n_rows") / F.col("__total"), 6).alias("share"),
        )
        .orderBy(
            F.col("n_rows").desc(),
            *[F.col(c).asc_nulls_last() for c in keys],
        )
        .limit(k)
    )
