"""sed-core operator queries (SURVEY.md §2.1-2.7) with DuckDB oracles.

Every query exercises one engine operator on the driver-generated tables.
The SQL oracles mirror the engine's expression trees exactly (same literals
via ``fl()``, same operation order) so results hash-match at the bit level,
except where noted (transcendentals → round 6).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Window
from pyspark.sql import functions as F

from sed_spark import dfops
from sed_spark.binning import normalize_bins, sparse_histogram
from sed_spark.calibrator import delay as delay_cal
from sed_spark.calibrator import energy as energy_cal
from sed_spark.calibrator import momentum as momentum_cal
from sed_spark.suite.common import fl, load, ts_us

QUERIES: dict[str, dict] = {}


def q(name):
    def deco(fn):
        QUERIES[name] = {"spark": fn, "sql": None}
        return fn

    return deco


def sql(name, text):
    QUERIES[name]["sql"] = text


# ---------------------------------------------------------------------------
# N-D histograms (binning engine, §2.4)
# ---------------------------------------------------------------------------

HIST_SPECS = {
    "hist_2d": ("lineitem", [("l_quantity", 25, (0.0, 50.0)),
                             ("l_discount", 10, (0.0, 0.1))]),
    "hist_4d": ("lineitem", [("l_quantity", 20, (0.0, 50.0)),
                             ("l_extendedprice", 20, (900.0, 105000.0)),
                             ("l_discount", 10, (0.0, 0.1)),
                             ("l_tax", 8, (0.0, 0.08))]),
}


def _hist_sql(table: str, axes) -> str:
    """Oracle mirroring bin_index_nullable: j = (x-lo)*delta + 5e-12,
    floor, last-edge-inclusive, strict in-range."""
    bin_cols, valid = [], []
    for ax in axes:
        delta = 1.0 / ((ax.hi - ax.lo) / ax.nbins)
        j = f"(({ax.name} - {fl(ax.lo)}) * {fl(delta)} + 5e-12)"
        bin_cols.append(
            f"CAST(least(floor({j}), {fl(float(ax.nbins - 1))}) AS INTEGER) "
            f"AS bin_{ax.name}",
        )
        valid.append(
            f"{ax.name} IS NOT NULL AND {j} >= 0 "
            f"AND {j} <= {fl(ax.nbins + 1e-11)}",
        )
    names = ", ".join(f"bin_{ax.name}" for ax in axes)
    return (
        f"SELECT {names}, COUNT(*) AS cnt FROM "
        f"(SELECT {', '.join(bin_cols)} FROM {table} WHERE {' AND '.join(valid)}) "
        f"GROUP BY {names}"
    )


def _make_hist(name, table, spec):
    axes_names = [s[0] for s in spec]
    bins = [s[1] for s in spec]
    ranges = [s[2] for s in spec]

    def fn(spark, sf_dir):
        df = load(spark, sf_dir, table)
        agg, norm, bin_names = sparse_histogram(
            df, bins=bins, axes=axes_names, ranges=ranges, count_alias="cnt",
        )
        return agg.select(
            *[F.col(b).alias(f"bin_{ax.name}") for b, ax in zip(bin_names, norm)],
            "cnt",
        )

    QUERIES[name] = {
        "spark": fn,
        "sql": _hist_sql(table, normalize_bins(bins, axes_names, ranges)),
    }


for _name, (_table, _spec) in HIST_SPECS.items():
    _make_hist(_name, _table, _spec)


# 1-D histogram in BOTH bin grammars, tag-unioned so one oracle row covers
# the uniform-range kernel AND the explicit-centers (non-uniform edges)
# aggregate-count path of bin_index_nullable.
_CENTERS = np.array([10.0, 30.0, 70.0, 150.0, 310.0, 470.0])
_H1_AXES = normalize_bins([100], ["value"], [(0.0, 500.0)])


_EQD_BINS = 8


@q("hist_1d")
def hist_1d(spark, sf_dir):
    df = load(spark, sf_dir, "events")
    agg_u, _, names_u = sparse_histogram(
        df, bins=[100], axes=["value"], ranges=[(0.0, 500.0)], count_alias="cnt",
    )
    uniform = agg_u.select(
        F.lit("uniform").alias("grammar"),
        F.col(names_u[0]).alias("bin_value"), "cnt",
    )
    agg_e, _, names_e = sparse_histogram(
        df, bins=[_CENTERS], axes=["value"], count_alias="cnt",
    )
    edges = agg_e.select(
        F.lit("edges").alias("grammar"),
        F.col(names_e[0]).alias("bin_value"), "cnt",
    )
    # equi-depth grammar (round 5): DATA-DRIVEN edges at the k/nbins
    # exact quantiles feed the same literal-edges bin expressions — the
    # oracle recomputes identical edges via quantile_cont (the proven
    # percentile parity of the filters row) and mirrors the bin CASE-sum
    from sed_spark.binning import axis_from_edges, equidepth_edges

    eqd_edges = equidepth_edges(df, "value", _EQD_BINS, exact=True)
    agg_q, _, names_q = sparse_histogram(
        df, bins=[axis_from_edges("value", eqd_edges)], count_alias="cnt",
    )
    eqd = agg_q.select(
        F.lit("equidepth").alias("grammar"),
        F.col(names_q[0]).alias("bin_value"), "cnt",
    )
    return uniform.unionAll(edges).unionAll(eqd)


def _edges_sql():
    from sed_spark.binning.spec import bin_centers_to_bin_edges

    edges = bin_centers_to_bin_edges(_CENTERS)
    inner = " + ".join(
        f"(CASE WHEN value >= {fl(e)} THEN 1 ELSE 0 END)" for e in edges[1:-1]
    )
    return (
        f"SELECT CAST({inner} AS INTEGER) AS bin_value, COUNT(*) AS cnt FROM events "
        f"WHERE value IS NOT NULL AND value >= {fl(edges[0])} AND value <= {fl(edges[-1])} "
        f"GROUP BY bin_value"
    )


def _equidepth_sql() -> str:
    n = _EQD_BINS
    qs = ", ".join(fl(k / n) for k in range(n + 1))
    # interior edges are list positions 2..n (1-based, inclusive slice);
    # last edge inclusive, same rule as the literal-edges branch
    return (
        f"SELECT CAST(len(list_filter(q.es[2:{n}], e -> value >= e)) "
        f"AS INTEGER) AS bin_value, COUNT(*) AS cnt "
        f"FROM events, (SELECT quantile_cont(value, [{qs}]) AS es "
        f"FROM events) q "
        f"WHERE value IS NOT NULL AND value >= q.es[1] "
        f"AND value <= q.es[{n + 1}] "
        f"GROUP BY bin_value"
    )


sql("hist_1d",
    f"SELECT 'uniform' AS grammar, * FROM ({_hist_sql('events', _H1_AXES)}) "
    f"UNION ALL SELECT 'edges' AS grammar, * FROM ({_edges_sql()}) "
    f"UNION ALL SELECT 'equidepth' AS grammar, * FROM ({_equidepth_sql()})")


# jitter + binning, ORACLE-CHECKED: the content-keyed draw (noise = a
# pure function of the event id, not of the partition-layout-dependent
# row id) makes the jittered histogram deterministic, so the row upgrades
# from rows-only to a full hash-match — and the md5 hash method lets
# DuckDB reproduce the identical noise. Row-id-hashed jitter remains the
# statistical default (dfops.apply_jitter without seed_column) and is
# exercised by the bench workflows.
@q("hist_1d_jitter")
def hist_1d_jitter(spark, sf_dir):
    df = load(spark, sf_dir, "events")
    agg, norm, bin_names = sparse_histogram(
        df, bins=[100], axes=["value"], ranges=[(0.0, 500.0)],
        jitter={"value": {"seed_column": "event_id", "hash_method": "md5"}},
        jitter_seed=42, count_alias="cnt",
    )
    return agg.select(F.col(bin_names[0]).alias("bin_value"), "cnt")


def _jitter_hist_sql() -> str:
    from sed_spark.suite.common import hex8

    # mirrors _axis_source_projection's content-keyed branch: amp 0.5 x
    # binsize 5.0, u from md5(event_id || '42') (jitter_seed 42, axis 0)
    u = f"(({hex8('h')}) / 4294967296.0)"
    src = (
        f"(SELECT (value + {fl(0.5 * 5.0)} * ({u} * 2.0 - 1.0)) AS value "
        "FROM (SELECT value, md5(CAST(event_id AS VARCHAR) || '42') AS h "
        "FROM events))"
    )
    return _hist_sql(src, _H1_AXES)


sql("hist_1d_jitter", _jitter_hist_sql())


# ---------------------------------------------------------------------------
# filters (§2.2)
# ---------------------------------------------------------------------------

# value-range and index-range variants of apply_filter, tag-unioned into one
# oracle row (each branch is the standalone operator; the tag keys the hash)
@q("filters")
def filters(spark, sf_dir):
    from sed_spark.ext.corpus import quantile_gates

    df = load(spark, sf_dir, "events")
    by_value = dfops.apply_filter(df, "value", 100.0, 400.0).select(
        F.lit("range").alias("which"), "event_id", "value",
    )
    by_index = dfops.apply_filter(
        df, "index", 2000.0, 7500.0, index_column="event_id",
    ).select(F.lit("index").alias("which"), "event_id", "value")
    # distribution-tail trim: exact percentile band (audit mode — the
    # approx sketch is the scale default but is engine-specific)
    by_quant = quantile_gates(df, "value", 0.05, 0.95, exact=True).select(
        F.lit("quantile").alias("which"), "event_id", "value",
    )
    return by_value.unionAll(by_index).unionAll(by_quant)


sql("filters",
    "SELECT 'range' AS which, event_id, value FROM events "
    "WHERE value > 100.0 AND value < 400.0 "
    "UNION ALL "
    "SELECT 'index' AS which, event_id, value FROM events "
    "WHERE event_id > 2000.0 AND event_id < 7500.0 "
    "UNION ALL "
    "SELECT 'quantile' AS which, event_id, value FROM events, "
    "(SELECT quantile_cont(value, 0.05) AS lo, "
    "quantile_cont(value, 0.95) AS hi FROM events) q "
    "WHERE value >= q.lo AND value <= q.hi")


# ---------------------------------------------------------------------------
# calibration transforms (§2.7) — pure expression parity
# ---------------------------------------------------------------------------

_TOF = dict(d=1.0, t0=-0.001, binwidth=0.001, binning=1, E0=10.0)
_POLY = [1e-14, -2e-9, 3e-4]


# all three TOF conversions (fit-form tof2ev, tof2evpoly, tof2ns) as three
# independent columns of ONE oracle row — each column is the standalone
# operator applied to the same tof input
@q("tof_conversions")
def tof_conversions(spark, sf_dir):
    df = load(spark, sf_dir, "events").withColumnRenamed("value", "t")
    out = energy_cal.append_energy_axis(
        df, calibration_type="fit", energy_scale="kinetic",
        energy_column="energy_fit", **_TOF,
    )
    out = energy_cal.append_energy_axis(
        out, calibration_type="poly", coeffs=_POLY, E0=5.0,
        energy_column="energy_poly",
    )
    out = out.withColumn(
        "t_ns", energy_cal.tof2ns_expr(F.col("t"), 4.125e-12, 2),
    )
    return out.select("event_id", "energy_fit", "energy_poly", "t_ns")


sql("tof_conversions",
    f"SELECT event_id, 2.84281e-12 * ({fl(_TOF['d'])} / tt) * ({fl(_TOF['d'])} / tt)"
    f" + {fl(_TOF['E0'])} AS energy_fit, "
    f"(({fl(_POLY[0])} * value + {fl(_POLY[1])}) * value + "
    f"{fl(_POLY[2])}) * value + 5.0 AS energy_poly, "
    f"value * {fl(1e9)} * {fl(4.125e-12)} * {fl(2.0)} AS t_ns FROM "
    f"(SELECT event_id, value, value * {fl(_TOF['binwidth'])} * "
    f"{fl(float(_TOF['binning']))} - {fl(_TOF['t0'])} AS tt FROM events)")


# energy correction surfaces over synthesized detector coords X=4v, Y=3v
_XY = "SELECT event_id, value AS t, value * 4.0 AS X, value * 3.0 AS Y FROM events"
_CENTER = (1000.0, 750.0)


def _with_xy(spark, sf_dir):
    df = load(spark, sf_dir, "events")
    return df.select(
        "event_id",
        F.col("value").alias("t"),
        (F.col("value") * 4.0).alias("X"),
        (F.col("value") * 3.0).alias("Y"),
    )


_R2 = (
    f"(X - {fl(_CENTER[0])}) * (X - {fl(_CENTER[0])}) + "
    f"(Y - {fl(_CENTER[1])}) * (Y - {fl(_CENTER[1])})"
)


# all four correction_function surfaces (spherical, Lorentzian, Gaussian,
# Lorentzian_asymmetric) as four columns of ONE oracle row. Spherical is
# sqrt-only and bit-stable; the other three round to 6 on both sides
# (duckdb's compiled a*b+c can FMA-contract, exp() is not cross-engine
# bit-stable).
@q("energy_corrections")
def energy_corrections(spark, sf_dir):
    out = _with_xy(spark, sf_dir)
    out = energy_cal.apply_energy_correction(
        out, correction_type="spherical", center=_CENTER,
        amplitude=2.0, diameter=4000.0, new_tof_column="tm_sph",
    )
    out = energy_cal.apply_energy_correction(
        out, correction_type="Lorentzian", center=_CENTER,
        amplitude=2.0, gamma=700.0, new_tof_column="tm_lor",
    )
    out = energy_cal.apply_energy_correction(
        out, correction_type="Gaussian", center=_CENTER,
        amplitude=2.0, sigma=700.0, new_tof_column="tm_gau",
    )
    out = energy_cal.apply_energy_correction(
        out, correction_type="Lorentzian_asymmetric", center=_CENTER,
        amplitude=2.0, gamma=700.0, gamma2=500.0, amplitude2=1.5,
        new_tof_column="tm_asym",
    )
    return out.select(
        "event_id", "tm_sph",
        F.round(F.col("tm_lor"), 6).alias("tm_lor"),
        F.round(F.col("tm_gau"), 6).alias("tm_gau"),
        F.round(F.col("tm_asym"), 6).alias("tm_asym"),
    )


def _corrections_sql():
    import math

    pref_l = 100000.0 * 2.0 / (700.0 * math.pi)
    g2 = 700.0**2
    pref_g = 20000.0 * 2.0 / math.sqrt(2 * math.pi * 700.0**2)
    pref_ay = 100000.0 * 2.0 / (700.0 * math.pi)
    pref_ax = 100000.0 * 1.5 / (500.0 * math.pi)
    dx = f"(X - {fl(_CENTER[0])})"
    dy = f"(Y - {fl(_CENTER[1])})"
    sph = (
        f"t + -((1.0 - sqrt(1.0 - ({_R2}) / {fl(4000.0 ** 2)})) * "
        f"{fl(100.0 * 2.0)})"
    )
    lor = f"round(t + {fl(pref_l)} * ({fl(g2)} / (({_R2}) + {fl(g2)}) - 1.0), 6)"
    gau = (
        f"round(t + {fl(pref_g)} * (exp(-({_R2}) / {fl(2 * 700.0 ** 2)})"
        f" - 1.0), 6)"
    )
    asym = (
        f"round(t + ({fl(pref_ay)} * ({fl(700.0 ** 2)} / "
        f"({dy} * {dy} + {fl(700.0 ** 2)}) - 1.0) + {fl(pref_ax)} * "
        f"({fl(500.0 ** 2)} / ({dx} * {dx} + {fl(500.0 ** 2)}) - 1.0)), 6)"
    )
    return (
        f"SELECT event_id, {sph} AS tm_sph, {lor} AS tm_lor, "
        f"{gau} AS tm_gau, {asym} AS tm_asym FROM ({_XY})"
    )


sql("energy_corrections", _corrections_sql())


# ---------------------------------------------------------------------------
# bitwise split + sector alignment (§2.3/§2.7)
# ---------------------------------------------------------------------------

_SECTOR_DELAYS = [0.0, -1.5, 2.25, 0.5, -0.75, 1.0, -2.0, 3.125]


@q("sector_align")
def sector_align(spark, sf_dir):
    df = load(spark, sf_dir, "events")
    df = df.select("event_id", F.col("event_id").alias("dldTimeSteps"))
    df = dfops.split_dld_time_from_sector_id(df)
    out = energy_cal.align_dld_sectors(df, _SECTOR_DELAYS)
    return out.select(
        "event_id",
        F.col("dldSectorID").cast("int").alias("sector"),
        F.col("dldTimeSteps").cast("double").alias("tof_aligned"),
    )


def _sector_sql():
    arr = ", ".join(fl(d) for d in _SECTOR_DELAYS)
    return (
        "SELECT event_id, CAST(event_id % 8 AS INTEGER) AS sector, "
        f"CAST(CAST(CAST(event_id // 8 AS INTEGER) AS DOUBLE) - "
        f"list_extract([{arr}], CAST(event_id % 8 AS INTEGER) + 1) AS FLOAT)::DOUBLE "
        "AS tof_aligned FROM events"
    )


sql("sector_align", _sector_sql())


# ---------------------------------------------------------------------------
# forward / backward fill (§2.5) — exact cross-partition fill
# ---------------------------------------------------------------------------

def _sparse_col_df(spark, sf_dir):
    df = load(spark, sf_dir, "events")
    return df.withColumn(
        "v", F.when(F.col("event_type") == "click", F.col("value")),
    ).withColumn("chunk", F.floor(F.col("event_id") / 1000).cast("int"))


# forward AND backward exact cross-partition fill on the same sparse
# column, one output column per direction in one oracle row
@q("ffill_bfill")
def ffill_bfill(spark, sf_dir):
    df = _sparse_col_df(spark, sf_dir)
    df = df.withColumn("vf", F.col("v")).withColumn("vb", F.col("v"))
    out = dfops.forward_fill(df, ["vf"], order_col="event_id", group_col="chunk")
    out = dfops.backward_fill(out, ["vb"], order_col="event_id", group_col="chunk")
    return out.select(
        "event_id",
        F.col("vf").alias("v_ffill"),
        F.col("vb").alias("v_bfill"),
    )


sql("ffill_bfill",
    "SELECT event_id, last_value(CASE WHEN event_type = 'click' THEN value END "
    "IGNORE NULLS) OVER (ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING AND "
    "CURRENT ROW) AS v_ffill, "
    "first_value(CASE WHEN event_type = 'click' THEN value END "
    "IGNORE NULLS) OVER (ORDER BY event_id ROWS BETWEEN CURRENT ROW AND "
    "UNBOUNDED FOLLOWING) AS v_bfill FROM events")


# ---------------------------------------------------------------------------
# FEL channel alignment (§2.3) — the flash MultiIndex concat as joins,
# plus the per-pulse electron counter (§2.5)
# ---------------------------------------------------------------------------

def _granularity_frames(spark, sf_dir):
    """Synthesize per-electron / per-pulse / per-train tables from events:
    trainId = event_id DIV 64, pulseId = (event_id DIV 8) % 8."""
    ev = load(spark, sf_dir, "events")
    electron = ev.select(
        "event_id",
        (F.col("event_id") / 64).cast("long").alias("trainId"),
        ((F.col("event_id") / 8) % 8).cast("long").alias("pulseId"),
        F.col("value").alias("dldPos"),
    )
    pulse = electron.groupBy("trainId", "pulseId").agg(
        F.avg("dldPos").alias("bam"),
    )
    train = electron.groupBy("trainId").agg(
        F.count(F.lit(1)).cast("double").alias("gmd"),
    )
    return electron, pulse, train


@q("channel_align")
def channel_align(spark, sf_dir):
    from sed_spark.loader.flash import align_channels, assign_electron_id

    electron, pulse, train = _granularity_frames(spark, sf_dir)
    electron = assign_electron_id(electron, order_col="event_id")
    out = align_channels(electron, pulse, train)
    return out.select("event_id", "trainId", "pulseId", "electronId",
                      "dldPos", "bam", "gmd")


sql("channel_align", """
WITH electron AS (
  SELECT event_id,
         CAST(event_id // 64 AS BIGINT) AS trainId,
         CAST((event_id // 8) % 8 AS BIGINT) AS pulseId,
         value AS dldPos
  FROM events
), e2 AS (
  SELECT *, row_number() OVER (PARTITION BY trainId, pulseId
                               ORDER BY event_id) - 1 AS electronId
  FROM electron
), pulse AS (
  SELECT trainId, pulseId, avg(dldPos) AS bam FROM electron
  GROUP BY trainId, pulseId
), train AS (
  SELECT trainId, CAST(COUNT(*) AS DOUBLE) AS gmd FROM electron GROUP BY trainId
)
SELECT e2.event_id, e2.trainId, e2.pulseId, e2.electronId, e2.dldPos,
       pulse.bam, train.gmd
FROM e2
LEFT JOIN pulse USING (trainId, pulseId)
LEFT JOIN train USING (trainId)
""")


# ---------------------------------------------------------------------------
# SXP ragged-record segmentation (§2.1, reference loader/sxp/loader.py:
# 259-352) — the Spark side chops per-record hit ARRAYS with pure Column
# expressions (boundaries at int32 diff < -1, trainId = base + segment,
# pulse = mib % num_pulses - offset, electron counter); the oracle derives
# the identical result through a WINDOW-function formulation over the
# un-nested rows — two independent formulations of the same semantics.
# ---------------------------------------------------------------------------

@q("sxp_segment")
def sxp_segment(spark, sf_dir):
    from sed_spark.loader.sxp import segment_trains

    ev = load(spark, sf_dir, "events").select(
        (F.col("event_id") % 64).alias("rec"),
        F.floor(F.col("event_id") / 64).cast("long").alias("pos"),
        F.col("value"),
    )
    hits = ev.select(
        "rec",
        F.struct(
            F.col("pos"),
            (F.col("pos") % 23).cast("double").alias("mib"),
            F.col("value").alias("x"),
        ).alias("h"),
    )
    records = (
        hits.groupBy("rec")
        .agg(F.array_sort(F.collect_list("h")).alias("hs"))
        .select(
            (F.col("rec") * 1000).cast("long").alias("trainId"),
            F.col("hs").getField("mib").alias("pulseId"),
            F.col("hs").getField("x").alias("x"),
        )
    )
    out = segment_trains(records, electron_channels=["x"],
                         num_pulses=7, ubid_offset=2)
    return out.select(
        "trainId", "pulseId",
        F.col("electronId").cast("long").alias("electronId"), "x",
    )


sql("sxp_segment", """
WITH h AS (
  SELECT CAST(event_id % 64 AS BIGINT) AS rec,
         CAST((event_id // 64) % 23 AS BIGINT) AS mib,
         CAST(event_id // 64 AS BIGINT) AS pos,
         value AS x
  FROM events
),
d AS (
  SELECT rec, pos, mib, x,
         CASE WHEN lead(mib) OVER w - mib < -1 THEN 1 ELSE 0 END AS is_end
  FROM h WINDOW w AS (PARTITION BY rec ORDER BY pos)
),
k AS (
  SELECT rec, pos, mib, x, is_end,
         COALESCE(SUM(is_end) OVER (PARTITION BY rec ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nk,
         SUM(is_end) OVER (PARTITION BY rec) AS total
  FROM d
),
e AS (
  SELECT CAST(rec * 1000 + nk AS BIGINT) AS trainId,
         CAST((mib % 7) - 2 AS BIGINT) AS pulseId,
         pos, x
  FROM k
  WHERE is_end = 0 AND nk < total
)
SELECT trainId, pulseId,
       CAST(row_number() OVER (PARTITION BY trainId, pulseId ORDER BY pos) - 1
            AS BIGINT) AS electronId,
       x
FROM e
WHERE pulseId NOT BETWEEN -2 AND -1
""")


# ---------------------------------------------------------------------------
# per-file attribute broadcast (§2.3, reference loader/mpes/loader.py:
# 155-169 add_value) — the dask per-partition constant becomes a broadcast
# join against a file-dimension table keyed on the explicit file column.
# ---------------------------------------------------------------------------

@q("file_attr_broadcast")
def file_attr_broadcast(spark, sf_dir):
    from sed_spark.loader.mpes import attach_file_attrs

    df = load(spark, sf_dir, "events").withColumn(
        "fid", (F.col("event_id") % 7).cast("long"),
    )
    attrs = {
        i: {"sampleBias": 10.0 + 0.5 * i, "extractorVoltage": 6000.0 - 25.0 * i}
        for i in range(7)
    }
    out = attach_file_attrs(df, attrs, file_col="fid")
    return out.select("event_id", "sampleBias", "extractorVoltage")


sql("file_attr_broadcast", """
SELECT event_id,
       10.0 + 0.5 * CAST(event_id % 7 AS DOUBLE) AS sampleBias,
       6000.0 - 25.0 * CAST(event_id % 7 AS DOUBLE) AS extractorVoltage
FROM events
""")


# ---------------------------------------------------------------------------
# offsets (§2.7) — mean reduction + preserve_mean
# ---------------------------------------------------------------------------

# offset_by_other_columns in BOTH modes (scalar mean-reduction offset and
# per-row offset with preserve_mean) as two columns of one oracle row
@q("offsets")
def offsets(spark, sf_dir):
    df = load(spark, sf_dir, "lineitem")
    out = dfops.offset_by_other_columns(
        df, "l_extendedprice", ["l_quantity"], [0.5], reductions="mean",
        inplace=False, rename="price_adj_mean",
    )
    out = dfops.offset_by_other_columns(
        out, "l_extendedprice", ["l_quantity"], [0.01], preserve_mean=True,
        inplace=False, rename="price_adj_pm",
    )
    return out.select(
        "l_orderkey", "l_linenumber", "price_adj_mean", "price_adj_pm",
    )


sql("offsets",
    "SELECT l_orderkey, l_linenumber, l_extendedprice + "
    "0.5 * (SELECT avg(l_quantity) FROM lineitem) AS price_adj_mean, "
    "(l_extendedprice + 0.01 * l_quantity) - "
    "0.01 * (SELECT avg(l_quantity) FROM lineitem) AS price_adj_pm "
    "FROM lineitem")


# ---------------------------------------------------------------------------
# delay calibration + momentum affine (§2.7)
# ---------------------------------------------------------------------------

# delay calibration + delay add_offsets (per-row column offset with
# preserve_mean, then constant, then axis flip — reference
# src/sed/calibrator/delay.py:82-402, flip applied last): the calibrated
# axis and the adjusted axis are two columns of one oracle row
@q("delay_pipeline")
def delay_pipeline(spark, sf_dir):
    df = load(spark, sf_dir, "events").withColumnRenamed("value", "ADC")
    # small-int offset column: its double sum is exact, so Spark's and the
    # oracle's avg agree to the bit (a raw user_id sum can exceed 2^53)
    df = df.withColumn("bam", (F.col("user_id") % 100).cast("double"))
    out = delay_cal.append_delay_axis(
        df, adc_range=(0.0, 500.0), delay_range=(-5.0, 5.0),
    )
    out = out.withColumn("delay_cal", F.col("delay"))
    out = delay_cal.add_offsets(
        out, columns="bam", weights=0.01, preserve_mean=True,
        constant=1.5, flip_delay_axis=True,
    )
    return out.select(
        "event_id",
        F.col("delay_cal").alias("delay"),
        F.col("delay").alias("delay_adj"),
    )


sql("delay_pipeline", """
SELECT event_id,
       -5.0 + (value - 0.0) * 10.0 / 500.0 AS delay,
       -((((-5.0 + (value - 0.0) * 10.0 / 500.0)
           + 0.01 * CAST(user_id % 100 AS DOUBLE))
          - 0.01 * (SELECT avg(CAST(user_id % 100 AS DOUBLE)) FROM events))
         + 1.5) AS delay_adj
FROM events
""")


_KPARAMS = dict(
    r_start=0.0, c_start=0.0, r_center=256.0, c_center=256.0,
    r_conversion=0.0195, c_conversion=0.0195, r_step=2.0, c_step=2.0,
)


# map_columns_2d (2-in/2-out rotation-style map, reference
# src/sed/core/dfops.py:167-199) + detector→k affine conversion, four
# columns of one oracle row; both transforms read the same X/Y input
@q("affine_transforms")
def affine_transforms(spark, sf_dir):
    def rot(x, y):
        return (
            F.lit(0.8) * x - F.lit(0.6) * y,
            F.lit(0.6) * x + F.lit(0.8) * y,
        )

    out = dfops.map_columns_2d(
        _with_xy(spark, sf_dir), rot, "X", "Y",
        new_x_column="Xr", new_y_column="Yr",
    )
    out = momentum_cal.append_k_axis(out, **_KPARAMS)
    return out.select("event_id", "Xr", "Yr", "kx", "ky")


def _affine_sql():
    p = _KPARAMS
    rdet0 = p["r_start"] + p["r_step"] * p["r_center"]
    cdet0 = p["c_start"] + p["c_step"] * p["c_center"]
    return (
        f"SELECT event_id, 0.8 * X - 0.6 * Y AS Xr, 0.6 * X + 0.8 * Y AS Yr, "
        f"{fl(p['r_conversion'])} * ((X - {fl(rdet0)}) / "
        f"{fl(p['r_step'])}) AS kx, {fl(p['c_conversion'])} * ((Y - {fl(cdet0)}) / "
        f"{fl(p['c_step'])}) AS ky FROM ({_XY})"
    )


sql("affine_transforms", _affine_sql())


# ---------------------------------------------------------------------------
# apply_dfield (§2.7) — bilinear inverse-deformation-field lookup, the one
# non-affine transform (reference calibrator/momentum.py:2104-2140). Both
# physical strategies (broadcast-join corner table / Arrow pandas UDF) are
# oracle-checked against the same pure-SQL floor/frac + 4-gather bilinear
# blend on the flattened grid (SURVEY §4.3).
# ---------------------------------------------------------------------------

# 4x4 deterministic grid over detector ranges (0,2048)x(0,1536): events map
# to index space [0, ~3.9]x[0, ~3.9], so interior cells, the zero-padded
# top/right edge, and fractional blends are all exercised.
_DF_RANGES = ((0.0, 2048.0), (0.0, 1536.0))
_DF_H = _DF_W = 4


def _dfield_grids():
    i = np.arange(_DF_H, dtype=np.float64)[:, None]
    j = np.arange(_DF_W, dtype=np.float64)[None, :]
    fx = 100.0 + 7.0 * i + 3.0 * j + 0.5
    fy = 200.0 + 2.0 * i + 5.0 * j + 0.25
    return np.broadcast_to(fx, (_DF_H, _DF_W)), np.broadcast_to(fy, (_DF_H, _DF_W))


def _dfield_warp(spark, sf_dir, build):
    out = build(
        _with_xy(spark, sf_dir), np.stack(_dfield_grids()),
        "X", "Y", "Xm", "Ym", _DF_RANGES,
    )
    return out.select("event_id", "Xm", "Ym")


# BOTH physical strategies of apply_dfield (JVM broadcast-join corner
# lookup and Arrow pandas-UDF grid gather) in one oracle row: each
# strategy's output is its own column pair, equi-joined on event_id
@q("dfield_warp")
def dfield_warp(spark, sf_dir):
    via_join = _dfield_warp(spark, sf_dir, momentum_cal._apply_dfield_join).select(
        "event_id",
        F.col("Xm").alias("Xm_join"),
        F.col("Ym").alias("Ym_join"),
    )
    via_udf = _dfield_warp(spark, sf_dir, momentum_cal._apply_dfield_udf).select(
        "event_id",
        F.col("Xm").alias("Xm_udf"),
        F.col("Ym").alias("Ym_udf"),
    )
    return via_join.join(via_udf, "event_id")


def _dfield_sql():
    fx, fy = _dfield_grids()
    (xmin, xmax), (ymin, ymax) = _DF_RANGES
    xs = _DF_H / (xmax - xmin)
    ys = _DF_W / (ymax - ymin)
    lits = {
        "fx": "[" + ", ".join(fl(v) for v in np.asarray(fx).ravel()) + "]",
        "fy": "[" + ", ".join(fl(v) for v in np.asarray(fy).ravel()) + "]",
    }

    def corner(p, dr, dc):
        # grid[r0+dr, c0+dc] with constant-0 outside, 1-based list_extract
        idx = f"(CAST(r0 AS BIGINT) + {dr}) * {_DF_W} + (CAST(c0 AS BIGINT) + {dc}) + 1"
        ok = (
            f"r0 + {dr} >= 0 AND r0 + {dr} <= {_DF_H - 1} "
            f"AND c0 + {dc} >= 0 AND c0 + {dc} <= {_DF_W - 1}"
        )
        return f"CASE WHEN {ok} THEN list_extract({lits[p]}, {idx}) ELSE 0.0 END"

    def blend(p):
        top = f"({corner(p, 0, 0)} * (1.0 - fc) + {corner(p, 0, 1)} * fc)"
        bot = f"({corner(p, 1, 0)} * (1.0 - fc) + {corner(p, 1, 1)} * fc)"
        return f"({top} * (1.0 - fr) + {bot} * fr)"

    return f"""
WITH xy AS ({_XY}),
rc AS (
  SELECT event_id,
         (X - {fl(xmin)}) * {fl(xs)} AS rows_,
         (Y - {fl(ymin)}) * {fl(ys)} AS cols_
  FROM xy
),
frac AS (
  SELECT event_id, floor(rows_) AS r0, floor(cols_) AS c0,
         rows_ - floor(rows_) AS fr, cols_ - floor(cols_) AS fc
  FROM rc
)
SELECT event_id, {blend("fx")} AS Xm_join, {blend("fy")} AS Ym_join,
       {blend("fx")} AS Xm_udf, {blend("fy")} AS Ym_udf FROM frac
"""


sql("dfield_warp", _dfield_sql())


# ---------------------------------------------------------------------------
# flagship end-to-end momentum workflow (SURVEY §7.4) — the reference's full
# per-event chain (workflows/recipes: MomentumCorrector → EnergyCalibrator →
# DelayCalibrator → compute, reference src/sed/core/processor.py) as ONE
# declarative plan: dfield warp (broadcast join) → k affine → spherical
# energy correction → poly energy axis → delay axis → 4-D sparse histogram.
# Catalyst fuses every per-event transform into a single whole-stage-codegen
# projection feeding one hash aggregate: at 100 TB this is one scan + one
# shuffle of (bin-tuple, partial count), no intermediate materialization.
# ---------------------------------------------------------------------------

_FLAG_AXES = ["kx", "ky", "energy", "delay"]
_FLAG_BINS = [8, 8, 8, 8]
_FLAG_RANGES = [(-6.0, 0.0), (-6.0, 0.0), (4.95, 5.2), (-5.0, 5.0)]
_FLAG_ADC_RANGE = (0.0, 150.0)
_FLAG_DELAY_RANGE = (-5.0, 5.0)


def _flagship_src(spark, sf_dir):
    df = load(spark, sf_dir, "events")
    return df.select(
        "event_id",
        F.col("value").alias("t"),
        (F.col("value") * 4.0).alias("X"),
        (F.col("value") * 3.0).alias("Y"),
        F.col("user_id").cast("double").alias("ADC"),
    )


@q("flagship_momentum")
def flagship_momentum(spark, sf_dir):
    fx, fy = _dfield_grids()
    wf = momentum_cal.apply_dfield(
        _flagship_src(spark, sf_dir), np.stack([fx, fy]),
        detector_ranges=_DF_RANGES,
    )
    wf = momentum_cal.append_k_axis(wf, x_column="Xm", y_column="Ym", **_KPARAMS)
    wf = energy_cal.apply_energy_correction(
        wf, correction_type="spherical", center=_CENTER,
        amplitude=2.0, diameter=4000.0, new_tof_column="tm",
    )
    wf = energy_cal.append_energy_axis(
        wf, tof_column="tm", calibration_type="poly", coeffs=_POLY, E0=5.0,
    )
    wf = delay_cal.append_delay_axis(
        wf, adc_range=_FLAG_ADC_RANGE, delay_range=_FLAG_DELAY_RANGE,
    )
    agg, norm, bin_names = sparse_histogram(
        wf, bins=_FLAG_BINS, axes=_FLAG_AXES, ranges=_FLAG_RANGES,
        count_alias="cnt",
    )
    return agg.select(
        *[F.col(b).alias(f"bin_{ax.name}") for b, ax in zip(bin_names, norm)],
        "cnt",
    )


def _flagship_sql():
    fx, fy = _dfield_grids()
    (xmin, xmax), (ymin, ymax) = _DF_RANGES
    xs = _DF_H / (xmax - xmin)
    ys = _DF_W / (ymax - ymin)
    lits = {
        "fx": "[" + ", ".join(fl(v) for v in np.asarray(fx).ravel()) + "]",
        "fy": "[" + ", ".join(fl(v) for v in np.asarray(fy).ravel()) + "]",
    }

    def corner(p, dr, dc):
        idx = f"(CAST(r0 AS BIGINT) + {dr}) * {_DF_W} + (CAST(c0 AS BIGINT) + {dc}) + 1"
        ok = (
            f"r0 + {dr} >= 0 AND r0 + {dr} <= {_DF_H - 1} "
            f"AND c0 + {dc} >= 0 AND c0 + {dc} <= {_DF_W - 1}"
        )
        return f"CASE WHEN {ok} THEN list_extract({lits[p]}, {idx}) ELSE 0.0 END"

    def blend(p):
        top = f"({corner(p, 0, 0)} * (1.0 - fc) + {corner(p, 0, 1)} * fc)"
        bot = f"({corner(p, 1, 0)} * (1.0 - fc) + {corner(p, 1, 1)} * fc)"
        return f"({top} * (1.0 - fr) + {bot} * fr)"

    p = _KPARAMS
    rdet0 = p["r_start"] + p["r_step"] * p["r_center"]
    cdet0 = p["c_start"] + p["c_step"] * p["c_center"]
    (a_lo, a_hi) = _FLAG_ADC_RANGE
    (d_lo, d_hi) = _FLAG_DELAY_RANGE
    poly = (
        f"(({fl(_POLY[0])} * tm + {fl(_POLY[1])}) * tm + {fl(_POLY[2])}) * tm + 5.0"
    )
    hist = _hist_sql("axes_t", normalize_bins(_FLAG_BINS, _FLAG_AXES, _FLAG_RANGES))
    return f"""
WITH src AS (
  SELECT event_id, value AS t, value * 4.0 AS X, value * 3.0 AS Y,
         CAST(user_id AS DOUBLE) AS ADC
  FROM events
),
frac AS (
  SELECT *, floor(rows_) AS r0, floor(cols_) AS c0,
         rows_ - floor(rows_) AS fr, cols_ - floor(cols_) AS fc
  FROM (
    SELECT *, (X - {fl(xmin)}) * {fl(xs)} AS rows_,
           (Y - {fl(ymin)}) * {fl(ys)} AS cols_
    FROM src
  )
),
warp AS (
  SELECT event_id, t, X, Y, ADC, {blend("fx")} AS Xm, {blend("fy")} AS Ym
  FROM frac
),
corrected AS (
  SELECT *, t + -((1.0 - sqrt(1.0 - ({_R2}) / {fl(4000.0 ** 2)})) * {fl(100.0 * 2.0)}) AS tm
  FROM warp
),
axes_t AS (
  SELECT event_id,
         {fl(p["r_conversion"])} * ((Xm - {fl(rdet0)}) / {fl(p["r_step"])}) AS kx,
         {fl(p["c_conversion"])} * ((Ym - {fl(cdet0)}) / {fl(p["c_step"])}) AS ky,
         {poly} AS energy,
         {fl(d_lo)} + (ADC - {fl(a_lo)}) * {fl(d_hi - d_lo)} / {fl(a_hi - a_lo)} AS delay
  FROM corrected
)
{hist}
"""


sql("flagship_momentum", _flagship_sql())


# ---------------------------------------------------------------------------
# as-of interpolation join (§2.3) — np.interp parity
# ---------------------------------------------------------------------------

# BOTH as-of operators in one oracle row, joined on event_id:
# add_time_stamped_data (np.interp-parity interpolation against a
# driver-held series) and the distributed per-key asof_join.
#: attribution window length for the asof_ops range-join branch (µs)
_RJ_WIN_US = 3_600_000_000

#: tolerance for the asof_ops merge_asof-tolerance branch (1 day in µs —
#: wide enough to keep most matches, narrow enough that the null band is
#: populated, so both sides of the mask are exercised)
_ASOF_TOL_US = 86_400_000_000


@q("asof_ops")
def asof_ops(spark, sf_dir):
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    # time domain is MICROSECONDS: duckdb holds these timestamps at µs
    # precision, so the oracle can only see µs
    df = load(spark, sf_dir, "events")
    df = df.withColumn("ts_us", ts_us(df))

    def build_interp():
        series = (
            df.filter(F.col("event_type") == "signup")
            .groupBy(F.col("ts_us").cast("double").alias("x"))
            .agg(F.min("value").alias("y"))
            .orderBy("x")
            .toPandas()
        )
        return dfops.add_time_stamped_data(
            df.withColumn("ts_d", F.col("ts_us").cast("double")),
            series["x"].to_numpy(),
            series["y"].to_numpy(),
            dest_column="interp_v",
            time_stamp_column="ts_d",
        ).select("event_id", F.round("interp_v", 6).alias("interp_v"))

    withts = df.withColumn("ts_d", F.col("ts_us").cast("double"))
    left = withts.select("event_id", "user_id", "ts_d")
    right = (
        withts.filter(F.col("event_type") == "signup")
        .groupBy("user_id", "ts_d")
        .agg(F.min("value").alias("mark"))
    )
    # ONE keyed as-of with matched_on serves BOTH the per_user branch
    # and the tolerance branch (round 11): merge_asof tolerance is by
    # definition the backward match nulled where the matched distance
    # exceeds the bound (see _asof_tolerance_mask — the same mask the
    # tolerance= parameter applies), so the second identical
    # union-and-fill pass is redundant work, not a different result.
    pu = dfops.asof_join(
        left, right, on="ts_d", by="user_id", matched_on="__pu_on",
    )
    per_user_tol = pu.select(
        "event_id", "user_id", "mark",
        F.when(
            F.col("__pu_on").isNotNull()
            & (F.col("ts_d") - F.col("__pu_on")
               <= F.lit(float(_ASOF_TOL_US))),
            F.col("mark"),
        ).alias("tol_mark"),
    )
    # keyless global as-of exercises the range-bucket + boundary-carry
    # path (no partition key; see dfops._asof_fill_keyless)
    gright = (
        withts.filter(F.col("event_type") == "signup")
        .groupBy("ts_d")
        .agg(F.min("value").alias("gmark"))
    )
    # the backward fill serves BOTH glob and the nearest branch's
    # backward candidate; one extra forward fill completes nearest —
    # two keyless fills instead of three (direction='nearest' would
    # internally run backward + forward again). The nearest pick below
    # is literally the oracle's g_near CASE: backward wins when present
    # and at least as close (ties to backward, exact hits distance 0).
    # The three eager-build branches — the interp series collect and each
    # keyless fill's min/max + boundary-carry jobs — are independent, so
    # build them concurrently (guide §2.6 overlap independent jobs)
    # instead of paying ~5 small driver jobs back to back.
    def build_gb():
        return dfops.asof_join(
            left.select("event_id", "ts_d"), gright, on="ts_d",
            matched_on="__b_on",
        )

    def build_gf():
        return dfops.asof_join(
            left.select("event_id", "ts_d"),
            gright.withColumnRenamed("gmark", "__f_gmark"),
            on="ts_d", direction="forward", matched_on="__f_on",
        )

    with ThreadPoolExecutor(max_workers=3) as pool:
        futs = [
            pool.submit(inheritable_thread_target(fn))
            for fn in (build_interp, build_gb, build_gf)
        ]
        interp, gb, gf = (f.result() for f in futs)
    glob_near = gb.join(
        gf.select("event_id", "__f_gmark", "__f_on"), "event_id",
    ).select(
        "event_id",
        "gmark",
        F.when(
            F.col("__b_on").isNotNull()
            & (
                F.col("__f_on").isNull()
                | (F.col("ts_d") - F.col("__b_on")
                   <= F.col("__f_on") - F.col("ts_d"))
            ),
            F.col("gmark"),
        ).otherwise(F.col("__f_gmark")).alias("near_gmark"),
    )
    # bucketed range join (round 5): every event against the per-user
    # signup attribution windows [signup_ts, signup_ts + _RJ_WIN_US) —
    # the point-in-interval complement of the as-of join above
    # (dfops.point_in_interval_join: interval -> covered buckets, point
    # -> its one bucket, hash equi-join + exact containment filter)
    iv = (
        withts.filter(F.col("event_type") == "signup")
        .select(
            F.col("event_id").alias("iv_id"),
            F.col("user_id").alias("iv_user"),
            F.col("ts_d").alias("iv_lo"),
            (F.col("ts_d") + F.lit(float(_RJ_WIN_US))).alias("iv_hi"),
        )
    )
    rj = dfops.point_in_interval_join(
        left.select(
            "event_id", F.col("user_id").alias("iv_user"), "ts_d",
        ),
        iv,
        on="ts_d",
        lo_col="iv_lo",
        hi_col="iv_hi",
        by="iv_user",
        bucket_width=float(_RJ_WIN_US),
    )
    in_windows = rj.groupBy("event_id").agg(
        F.count(F.lit(1)).alias("n_windows_hit"),
        F.min("iv_id").alias("first_window_id"),
    )
    return (
        interp.join(per_user_tol, "event_id")
        .join(glob_near, "event_id")
        .join(in_windows, "event_id", "left")
        .withColumn(
            "n_windows_hit", F.coalesce("n_windows_hit", F.lit(0)),
        )
        # pin the pre-round-11 column order (the branch fusion above
        # changed join order; the row VALUES are unchanged)
        .select(
            "event_id", "interp_v", "user_id", "mark", "gmark",
            "near_gmark", "tol_mark", "n_windows_hit", "first_window_id",
        )
    )


sql("asof_ops", """
WITH series AS (
  SELECT CAST(epoch_us(ts) AS DOUBLE) AS x, min(value) AS y
  FROM events WHERE event_type = 'signup' GROUP BY 1
),
ev AS (SELECT event_id, CAST(epoch_us(ts) AS DOUBLE) AS x FROM events),
u AS (
  SELECT x, FALSE AS is_ev, NULL::BIGINT AS event_id, x AS sx, y AS sy FROM series
  UNION ALL
  SELECT x, TRUE, event_id, NULL, NULL FROM ev
),
w AS (
  SELECT event_id, x, is_ev,
    last_value(sx IGNORE NULLS) OVER
      (ORDER BY x, is_ev ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS x0,
    last_value(sy IGNORE NULLS) OVER
      (ORDER BY x, is_ev ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS y0,
    first_value(sx IGNORE NULLS) OVER
      (ORDER BY x, is_ev ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS x1,
    first_value(sy IGNORE NULLS) OVER
      (ORDER BY x, is_ev ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS y1
  FROM u
),
interp AS (
  SELECT event_id, round(CASE
      WHEN x0 IS NULL THEN (SELECT y FROM series ORDER BY x LIMIT 1)
      WHEN x1 IS NULL THEN y0
      ELSE ((y1 - y0) / (x1 - x0)) * (x - x0) + y0
    END, 6) AS interp_v
  FROM w WHERE is_ev
),
r AS (
  SELECT user_id, CAST(epoch_us(ts) AS DOUBLE) AS ts_d, min(value) AS mark
  FROM events WHERE event_type = 'signup' GROUP BY 1, 2
),
l AS (SELECT event_id, user_id, CAST(epoch_us(ts) AS DOUBLE) AS ts_d
      FROM events),
per_user AS (
  SELECT l.event_id, l.user_id, r.mark
  FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts_d >= r.ts_d
),
gr AS (
  SELECT CAST(epoch_us(ts) AS DOUBLE) AS ts_d, min(value) AS gmark
  FROM events WHERE event_type = 'signup' GROUP BY 1
),
g_asof AS (
  SELECT l.event_id, gr.gmark
  FROM l ASOF LEFT JOIN gr ON l.ts_d >= gr.ts_d
),
iv AS (
  SELECT event_id AS iv_id, user_id AS iv_user,
    CAST(epoch_us(ts) AS DOUBLE) AS iv_lo,
    CAST(epoch_us(ts) AS DOUBLE) + 3600000000.0 AS iv_hi
  FROM events WHERE event_type = 'signup'
),
rj AS (
  SELECT l.event_id, count(*) AS n_windows_hit, min(iv.iv_id) AS first_window_id
  FROM l JOIN iv ON iv.iv_user = l.user_id
    AND l.ts_d >= iv.iv_lo AND l.ts_d < iv.iv_hi
  GROUP BY l.event_id
),
-- merge_asof NEAREST against the global series: the w CTE already
-- carries the backward (x0,y0) and forward (x1,y1) candidates; at an
-- exact hit x0 = x (distance 0) wins via the tie-to-backward rule, so
-- x1's excluded-exact frame is immaterial
g_near AS (
  SELECT event_id, CASE
      WHEN x0 IS NOT NULL AND (x1 IS NULL OR x - x0 <= x1 - x) THEN y0
      WHEN x1 IS NOT NULL THEN y1 END AS near_gmark
  FROM w WHERE is_ev
),
-- merge_asof TOLERANCE: backward match is unique, so the mask is a
-- post-filter on the matched distance
per_user_tol AS (
  SELECT l.event_id,
    CASE WHEN r.ts_d IS NOT NULL AND l.ts_d - r.ts_d <= 86400000000.0
         THEN r.mark END AS tol_mark
  FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts_d >= r.ts_d
)
SELECT i.event_id, i.interp_v, p.user_id, p.mark, g.gmark,
  gn.near_gmark, pt.tol_mark,
  COALESCE(rj.n_windows_hit, 0) AS n_windows_hit, rj.first_window_id
FROM interp i JOIN per_user p ON i.event_id = p.event_id
JOIN g_asof g ON i.event_id = g.event_id
JOIN g_near gn ON i.event_id = gn.event_id
JOIN per_user_tol pt ON i.event_id = pt.event_id
LEFT JOIN rj ON rj.event_id = i.event_id
""")


# ---------------------------------------------------------------------------
# dwell-time normalization histogram (§2.4) — lag + binned sum, exact int ns
# ---------------------------------------------------------------------------

_DWELL_AX = normalize_bins([10], ["value"], [(0.0, 500.0)])[0]


@q("dwell_norm")
def dwell_norm(spark, sf_dir):
    from sed_spark.binning.core import bin_index_nullable

    df = load(spark, sf_dir, "events")
    df = df.withColumn("ts_us", ts_us(df))
    w = Window.partitionBy("user_id").orderBy("event_id")
    dt = F.col("ts_us") - F.lag("ts_us").over(w)
    return (
        df.withColumn("dt_us", dt)
        .withColumn("bin_value", bin_index_nullable(_DWELL_AX, F.col("value")))
        .filter(F.col("bin_value").isNotNull())
        .groupBy("bin_value")
        .agg(F.sum("dt_us").alias("dwell_us"))
    )


def _dwell_sql():
    ax = _DWELL_AX
    delta = 1.0 / ((ax.hi - ax.lo) / ax.nbins)
    j = f"((value - {fl(ax.lo)}) * {fl(delta)} + 5e-12)"
    return (
        "WITH d AS (SELECT value, epoch_us(ts) - lag(epoch_us(ts)) OVER "
        "(PARTITION BY user_id ORDER BY event_id) AS dt_us FROM events) "
        f"SELECT CAST(least(floor({j}), {fl(float(ax.nbins - 1))}) AS INTEGER) "
        "AS bin_value, "
        "CAST(SUM(dt_us) AS BIGINT) AS dwell_us FROM d "
        f"WHERE value IS NOT NULL AND {j} >= 0 AND {j} <= {fl(ax.nbins + 1e-11)} "
        "GROUP BY bin_value"
    )


sql("dwell_norm", _dwell_sql())


# ---------------------------------------------------------------------------
# per-file aggregates (§2.4: elapsed time, count rate) keyed on user_id
# ---------------------------------------------------------------------------

_TNORM_AX = normalize_bins([20], ["value"], [(0.0, 500.0)])[0]


@q("timed_norm")
def timed_norm(spark, sf_dir):
    """normalization_histogram_from_timed_dataframe (§2.4), oracle-checked:
    synthesize a timed table (one row per (user, second) of activity) from
    events, histogram it on the normalization axis, scale by time_unit."""
    df = load(spark, sf_dir, "events")
    df = df.withColumn("ts_s", F.floor(ts_us(df) / F.lit(1e6)).cast("long"))
    timed = df.groupBy("user_id", "ts_s").agg(F.min("value").alias("value"))
    agg, _, names = sparse_histogram(
        timed, bins=[20], axes=["value"], ranges=[(0.0, 500.0)],
        count_alias="cnt",
    )
    return agg.select(
        F.col(names[0]).alias("bin_value"),
        (F.col("cnt") * F.lit(0.001)).alias("acq_time"),
    )


def _timed_norm_sql():
    ax = _TNORM_AX
    delta = 1.0 / ((ax.hi - ax.lo) / ax.nbins)
    j = f"((value - {fl(ax.lo)}) * {fl(delta)} + 5e-12)"
    return f"""
WITH timed AS (
  SELECT user_id, CAST(floor(epoch_us(ts) / {fl(1e6)}) AS BIGINT) AS ts_s,
         min(value) AS value
  FROM events GROUP BY 1, 2
)
SELECT CAST(least(floor({j}), {fl(float(ax.nbins - 1))}) AS INTEGER)
  AS bin_value,
  CAST(COUNT(*) AS DOUBLE) * CAST(0.001 AS DOUBLE) AS acq_time
FROM timed
WHERE value IS NOT NULL AND {j} >= 0 AND {j} <= {fl(ax.nbins + 1e-11)}
GROUP BY bin_value
"""


sql("timed_norm", _timed_norm_sql())


_SESSION_GAP_US = 1.8e9  # 30 min


@q("sessionization")
def sessionization(spark, sf_dir):
    """Gap sessionization (``dfops.sessionize``), tag-unioned with two
    rollups of its sessions: ``batch`` = per-event session ids from the
    two-window gap scan; ``overlap`` = per-session signup-window overlap
    counts; ``funnel`` = the ordered signup -> view -> purchase steps."""
    df = load(spark, sf_dir, "events")
    df = df.withColumn("ts_d", ts_us(df).cast("double"))
    out = dfops.sessionize(
        df, "user_id", "ts_d", gap=_SESSION_GAP_US, order_cols=["event_id"],
    )
    batch = out.select(
        F.lit("batch").alias("part"),
        F.col("event_id").alias("k1"),
        F.col("user_id").alias("k2"),
        F.col("session_id").cast("long").alias("v"),
    )
    # interval-overlap branch (round 5): each session's [first, last+1µs)
    # span overlap-joined against the user's signup attribution windows
    # via the bucketed dfops.interval_overlap_join (first-shared-bucket
    # dedup — no distinct pass), rolled up per session. Single-event
    # sessions get the 1 µs width so they can still overlap.
    spans = out.groupBy(
        F.col("user_id").alias("u"),
        F.col("session_id").alias("sid"),
    ).agg(
        F.min("ts_d").alias("s_lo"),
        (F.max("ts_d") + F.lit(1.0)).alias("s_hi"),
    )
    wins = df.filter(F.col("event_type") == "signup").select(
        F.col("user_id").alias("u"),
        F.col("ts_d").alias("w_lo"),
        (F.col("ts_d") + F.lit(float(_RJ_WIN_US))).alias("w_hi"),
    )
    hits = dfops.interval_overlap_join(
        spans, wins, "s_lo", "s_hi", "w_lo", "w_hi", by="u",
        bucket_width=float(_RJ_WIN_US),
    )
    overlap = (
        hits.groupBy("u", "s_lo")
        .agg(F.count(F.lit(1)).alias("n_overlaps"))
        .select(
            F.lit("overlap").alias("part"),
            F.col("u").alias("k1"),
            F.col("s_lo").cast("long").alias("k2"),
            F.col("n_overlaps").cast("long").alias("v"),
        )
    )
    # funnel branch (round 7): the ORDERED signup -> view -> purchase
    # conversion (dfops.funnel_steps — per-user earliest step-i event
    # strictly after the earliest qualifying step i-1; a purchase before
    # signup must NOT convert). Long form: one row per user per REACHED
    # step, k2 = step index, v = that step's integer-µs timestamp.
    evf = df.withColumn("ts_us", ts_us(df))
    fun = dfops.funnel_steps(
        evf, ["signup", "view", "purchase"],
        group_col="user_id", time_col="ts_us", step_col="event_type",
    )
    fun_rows = fun.select(
        "user_id",
        F.posexplode(
            F.array("step_ts_0", "step_ts_1", "step_ts_2"),
        ).alias("step", "step_ts"),
    ).filter(F.col("step_ts").isNotNull()).select(
        F.lit("funnel").alias("part"),
        F.col("user_id").alias("k1"),
        F.col("step").cast("long").alias("k2"),
        F.col("step_ts").cast("long").alias("v"),
    )
    return batch.unionAll(overlap).unionAll(fun_rows)


sql("sessionization", f"""
WITH sess AS (
  SELECT event_id, user_id, ts_d,
    SUM(newf) OVER (PARTITION BY user_id ORDER BY ts_d, event_id
      ROWS UNBOUNDED PRECEDING) AS session_id
  FROM (
    SELECT event_id, user_id, ts_d,
      CASE WHEN ts_d - lag(ts_d) OVER (PARTITION BY user_id
        ORDER BY ts_d, event_id) > {fl(_SESSION_GAP_US)} THEN 1 ELSE 0 END AS newf
    FROM (SELECT event_id, user_id, CAST(epoch_us(ts) AS DOUBLE) AS ts_d
          FROM events)
  )
)
SELECT 'batch' AS part, event_id AS k1, user_id AS k2,
  CAST(session_id AS BIGINT) AS v
FROM sess
UNION ALL
SELECT 'overlap' AS part, s.u AS k1, CAST(s.s_lo AS BIGINT) AS k2,
  count(*) AS v
FROM (
  SELECT user_id AS u, min(ts_d) AS s_lo, max(ts_d) + 1.0 AS s_hi
  FROM sess GROUP BY user_id, session_id
) s
JOIN (
  SELECT user_id AS u, CAST(epoch_us(ts) AS DOUBLE) AS w_lo,
    CAST(epoch_us(ts) AS DOUBLE) + {fl(float(_RJ_WIN_US))} AS w_hi
  FROM events WHERE event_type = 'signup'
) w ON w.u = s.u AND s.s_lo < w.w_hi AND w.w_lo < s.s_hi
GROUP BY s.u, s.s_lo
UNION ALL
SELECT 'funnel' AS part, k1, k2, v FROM (
  WITH f0 AS (
    SELECT user_id, min(epoch_us(ts)) AS t0 FROM events
    WHERE event_type = 'signup' GROUP BY user_id
  ),
  f1 AS (
    SELECT e.user_id, min(epoch_us(e.ts)) AS t1
    FROM events e JOIN f0 ON f0.user_id = e.user_id
    WHERE e.event_type = 'view' AND epoch_us(e.ts) > f0.t0
    GROUP BY e.user_id
  ),
  f2 AS (
    SELECT e.user_id, min(epoch_us(e.ts)) AS t2
    FROM events e JOIN f1 ON f1.user_id = e.user_id
    WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > f1.t1
    GROUP BY e.user_id
  )
  SELECT user_id AS k1, CAST(0 AS BIGINT) AS k2, t0 AS v FROM f0
  UNION ALL
  SELECT user_id, CAST(1 AS BIGINT), t1 FROM f1
  UNION ALL
  SELECT user_id, CAST(2 AS BIGINT), t2 FROM f2
)
""")


# get_elapsed_time + get_count_rate in one aggregate (one oracle row):
# the rate is derived from the same elapsed/count pair the reference's two
# stats calls compute (src/sed/loader/flash/loader.py get_count_rate /
# get_elapsed_time)
@q("run_stats")
def run_stats(spark, sf_dir):
    """Per-user elapsed/count/rate (reference get_elapsed_time /
    get_count_rate), widened round 7 with GROUPED PERCENTILES
    (``corpus.quantile_by`` audit mode): per-user p50/p90 of the event
    value — one extra hash aggregate on the same key, joined back; the
    oracle recomputes via quantile_cont (the proven cross-engine
    linear-interpolation parity)."""
    from sed_spark.ext.corpus import quantile_by

    df = load(spark, sf_dir, "events")
    df = df.withColumn("ts_us", ts_us(df))
    agg = df.groupBy("user_id").agg(
        (F.max("ts_us") - F.min("ts_us")).alias("elapsed_us"),
        F.count(F.lit(1)).alias("n_events"),
    )
    base = agg.select(
        "user_id", "elapsed_us", "n_events",
        (
            F.col("n_events").cast("double")
            / (F.col("elapsed_us").cast("double") / F.lit(1e6))
        ).alias("rate_hz"),
    )
    qs = quantile_by(df, "value", "user_id", [0.5, 0.9], exact=True)
    wide = (
        qs.groupBy("user_id")
        .pivot("prob", [0.5, 0.9])
        .agg(F.first("q"))
        .select(
            "user_id",
            F.col("`0.5`").alias("v_p50"),
            F.col("`0.9`").alias("v_p90"),
        )
    )
    # freshness branch (round 7): per-user time-decayed activity
    # (corpus.decayed_stats_by, 1 h half-life on the µs clock) in the
    # order-independent quantized audit mode — exact decimal sums of
    # per-row-rounded weights, so the oracle's arbitrary-order sum
    # agrees bit-for-bit
    from sed_spark.ext.corpus import decayed_stats_by

    dec = decayed_stats_by(
        df, "user_id", "ts_us", "value",
        half_life=3.6e9, quantize_decimals=9,
    ).select("user_id", "decayed_n", "decayed_sum")
    # robust branch (round 7): per-user median/MAD + |x-med| > 3*MAD
    # outlier counts (corpus.robust_stats_by, exact audit mode) — the
    # corrupt-shard gate; the oracle recomputes the same three
    # quantile_cont/count passes arithmetically
    from sed_spark.ext.corpus import robust_stats_by

    rob = robust_stats_by(df, "value", "user_id", k=3.0, exact=True).select(
        "user_id",
        F.col("mad").alias("v_mad"),
        F.col("n_outliers").alias("v_n_out"),
    )
    # heavy-hitters branch (round 9): per-user top-2 event types
    # (corpus.top_items_by — hash aggregate + row_number over the
    # AGGREGATED table, ties by type ASC), pivoted to columns; a user
    # with one distinct type keeps NULLs in the rank-2 pair
    from sed_spark.ext.corpus import top_items_by

    ti = top_items_by(df, "user_id", "event_type", k=2)
    t1 = ti.filter(F.col("rank") == 1).select(
        "user_id",
        F.col("event_type").alias("top_type"),
        F.col("n").alias("top_type_n"),
    )
    t2 = ti.filter(F.col("rank") == 2).select(
        "user_id",
        F.col("event_type").alias("top2_type"),
        F.col("n").alias("top2_type_n"),
    )
    return (
        base.join(wide, "user_id").join(dec, "user_id").join(rob, "user_id")
        .join(t1, "user_id").join(t2, "user_id", "left")
    )


sql("run_stats",
    "WITH tmax AS (SELECT CAST(max(epoch_us(ts)) AS DOUBLE) AS T FROM events), "
    "med AS (SELECT user_id, quantile_cont(value, 0.5) AS med "
    "FROM events GROUP BY user_id), "
    "madt AS (SELECT e.user_id, "
    "quantile_cont(abs(e.value - m.med), 0.5) AS mad "
    "FROM events e JOIN med m USING (user_id) GROUP BY e.user_id), "
    "rob AS (SELECT e.user_id, round(t.mad, 6) AS v_mad, "
    "CAST(SUM(CASE WHEN abs(e.value - m.med) > 3.0 * t.mad "
    "THEN 1 ELSE 0 END) AS BIGINT) AS v_n_out "
    "FROM events e JOIN med m USING (user_id) JOIN madt t USING (user_id) "
    "GROUP BY e.user_id, t.mad), "
    "tc AS (SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n "
    "FROM events GROUP BY user_id, event_type), "
    "tr AS (SELECT user_id, event_type, n, row_number() OVER "
    "(PARTITION BY user_id ORDER BY n DESC, event_type ASC) AS rn FROM tc) "
    "SELECT user_id, elapsed_us, n_events, "
    "CAST(n_events AS DOUBLE) / (CAST(elapsed_us AS DOUBLE) / "
    f"{fl(1e6)}) AS rate_hz, v_p50, v_p90, decayed_n, decayed_sum, "
    "v_mad, v_n_out, "
    "t1.event_type AS top_type, t1.n AS top_type_n, "
    "t2.event_type AS top2_type, t2.n AS top2_type_n "
    "FROM (SELECT user_id, CAST(max(epoch_us(ts)) - "
    "min(epoch_us(ts)) AS BIGINT) AS elapsed_us, COUNT(*) AS n_events, "
    "round(quantile_cont(value, 0.5), 6) AS v_p50, "
    "round(quantile_cont(value, 0.9), 6) AS v_p90, "
    "round(CAST(CAST(SUM(CAST(round(pow(2.0, -(T - "
    "CAST(epoch_us(ts) AS DOUBLE)) / 3600000000.0), 9) "
    "AS DECIMAL(38,9))) AS VARCHAR) AS DOUBLE), 6) AS decayed_n, "
    "round(CAST(CAST(SUM(CAST(round(pow(2.0, -(T - "
    "CAST(epoch_us(ts) AS DOUBLE)) / 3600000000.0) "
    "* value, 9) AS DECIMAL(38,9))) AS VARCHAR) AS DOUBLE), 6) "
    "AS decayed_sum "
    "FROM events, tmax GROUP BY user_id) "
    "JOIN rob USING (user_id) "
    "JOIN (SELECT * FROM tr WHERE rn = 1) t1 USING (user_id) "
    "LEFT JOIN (SELECT * FROM tr WHERE rn = 2) t2 USING (user_id)")


@q("file_stats")
def file_stats(spark, sf_dir):
    """get_stats / get_parquet_metadata equivalent (SURVEY §2.1): per-file
    row count + column min/max over the file_id dimension the loader
    materializes (reference src/sed/loader/utils.py:209-266)."""
    from sed_spark.loader.generic import GenericLoader
    from sed_spark.loader.stats import file_stats_df

    df, _ = GenericLoader(spark).read_dataframe(
        files=[f"{sf_dir}/lineitem.parquet"],
    )
    return file_stats_df(df, ["l_quantity", "l_extendedprice", "l_shipdate"])


sql("file_stats",
    "SELECT 0 AS file_id, COUNT(*) AS num_rows, "
    "min(l_quantity) AS l_quantity_min, max(l_quantity) AS l_quantity_max, "
    "min(l_extendedprice) AS l_extendedprice_min, "
    "max(l_extendedprice) AS l_extendedprice_max, "
    "min(l_shipdate) AS l_shipdate_min, max(l_shipdate) AS l_shipdate_max "
    "FROM lineitem")
