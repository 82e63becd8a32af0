"""Shared helpers for the query/oracle suite."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def fl(x: float) -> str:
    """Exact round-trip literal for a Python float (both Spark SQL and
    DuckDB parse the repr back to the identical double)."""
    return repr(float(x))


def hex8(col: str) -> str:
    """SQL for the first 8 hex digits of an md5 column as an integer
    (digit-by-digit parse — portable, no hex-literal casts). Mirrors the
    Spark side of ``sed_spark.dfops.uniform_hash_expr('md5')`` when
    divided by 2^32."""
    return " + ".join(
        f"{16 ** (7 - i)} * "
        f"(strpos('0123456789abcdef', substr({col}, {i + 1}, 1)) - 1)"
        for i in range(8)
    )


def configure(spark: SparkSession) -> None:
    """Make any session (including the driver's) read the testdata:
    TIMESTAMP(NANOS) -> int64, ms timestamps -> TIMESTAMP_NTZ."""
    for k, v in {
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.parquet.inferTimestampNTZ.enabled": "true",
    }.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Scan DataFrame for one testdata table, memoized per session.

    ``spark.read.parquet`` costs ~0.1 s of driver work (schema read +
    relation resolution over py4j) per call, and a suite build opens the
    same handful of tables again and again — semi_anti_join alone calls
    this 7 times. A DataFrame is an immutable logical plan, so handing
    back the same object is pure query-syntax memoization: every action
    still scans the parquet itself. The cache lives on the session
    object, so a stopped/replaced session (the bench uses several) drops
    its entries with it, and `configure` runs once per session for the
    same reason."""
    cache = getattr(spark, "_sed_load_cache", None)
    if cache is None:
        cache = {}
        spark._sed_load_cache = cache
        configure(spark)
    key = (sf_dir, table)
    df = cache.get(key)
    if df is None:
        df = cache[key] = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    return df


def ts_us(df: DataFrame, col: str = "ts"):
    """Epoch-microseconds Column for the events timestamp, whatever the
    parquet stored it as: int64 nanos (TIMESTAMP(NANOS) read back as long
    under ``nanosAsLong``) → integer ``DIV 1000``; TIMESTAMP_NTZ micros →
    timezone-independent ``timestampdiff`` from the epoch (matches DuckDB's
    ``epoch_us(ts)`` on a naive timestamp exactly, bit-for-bit integers)."""
    from pyspark.sql import functions as F

    dtype = dict(df.dtypes).get(col, "")
    if dtype in ("bigint", "long", "int"):
        return F.expr(f"{col} DIV 1000")
    return F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', "
        f"CAST({col} AS TIMESTAMP_NTZ))",
    )
