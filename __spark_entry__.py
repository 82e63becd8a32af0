"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship workflow on sf0.001: load events, run the full
sed-style calibration chain (jitter → dfield warp → k axis → energy
correction → energy axis → delay axis), and return the sparse 2-D
(energy × delay) histogram.

``queries()`` / ``oracle_sql()`` — the 23 sed operator queries from
SURVEY.md §2 with their DuckDB oracles; see ``sed_spark/suite/``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    import numpy as np
    from pyspark.sql import functions as F

    from sed_spark.binning import sparse_histogram
    from sed_spark.calibrator import delay as delay_cal
    from sed_spark.calibrator import energy as energy_cal
    from sed_spark.calibrator import momentum as momentum_cal
    from sed_spark.dfops import apply_jitter
    from sed_spark.suite.common import load

    df = load(spark, "/root/testdata/sf0.001", "events")
    df = df.select(
        "event_id",
        (F.col("value") * 1000.0 + 60000.0).alias("t"),
        ((F.col("user_id") % 150).cast("double") * 13.0).alias("X"),
        ((F.col("event_id") % 2048).cast("double")).alias("Y"),
        (F.col("value") * 36.0 + 2000.0).alias("ADC"),
    )
    df = apply_jitter(df, ["X", "Y", "t", "ADC"],
                      cols_jittered=["X", "Y", "t", "ADC"], seed=42)
    # inverse deformation field (identity + ripple) applied as the JVM
    # broadcast-join bilinear lookup; X/Y stay detector coordinates
    g = np.linspace(0.0, 2048.0, 64)
    gx, gy = np.meshgrid(g, g, indexing="ij")
    dfield = np.stack([gx + 5.0 * np.sin(gy / 300.0),
                       gy + 5.0 * np.sin(gx / 300.0)])
    df = momentum_cal.apply_dfield(
        df, dfield, new_x_column="X", new_y_column="Y",
        detector_ranges=((0.0, 2048.0), (0.0, 2048.0)),
    )
    df = energy_cal.apply_energy_correction(
        df, correction_type="spherical", center=(1024.0, 1024.0),
        amplitude=2.0, diameter=3000.0,
    )
    df = energy_cal.append_energy_axis(
        df, calibration_type="poly", coeffs=[1e-14, -2e-9, 3e-4], E0=1.0,
    )
    df = delay_cal.append_delay_axis(
        df, adc_range=(2000.0, 20000.0), delay_range=(-5.0, 5.0),
    )
    agg, norm, bin_names = sparse_histogram(
        df, bins=[50, 40], axes=["energy", "delay"],
        ranges=[(-500.0, 2000.0), (-5.0, 5.0)], count_alias="cnt",
    )
    return agg.select(
        F.col(bin_names[0]).alias("bin_energy"),
        F.col(bin_names[1]).alias("bin_delay"),
        "cnt",
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    from sed_spark import suite

    return suite.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalent for each query."""
    from sed_spark import suite

    return suite.oracle_sql()
