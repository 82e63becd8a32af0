"""Loader tests: file discovery, file_id model, FEL channel alignment
(reference tests/loader/test_loaders.py, tests/loader/flash/*)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from sed_spark.loader.flash import (
    BufferStage,
    FlashLikeLoader,
    SchemaMismatchError,
    align_channels,
    assign_electron_id,
    schema_check,
    timed_dataframe_from_pulses,
)
from sed_spark.loader.generic import GenericLoader, gather_files, natural_sort


def test_natural_sort():
    files = ["run_10.parquet", "run_2.parquet", "run_1.parquet"]
    assert natural_sort(files) == ["run_1.parquet", "run_2.parquet", "run_10.parquet"]


def test_generic_loader_file_id(spark, tmp_path):
    for i, n in enumerate([3, 4]):
        pd.DataFrame({"x": np.arange(n, dtype=float) + 10 * i}).to_parquet(
            tmp_path / f"f{i}.parquet",
        )
    loader = GenericLoader(spark=spark)
    df, meta = loader.read_dataframe(folder=str(tmp_path))
    assert df.count() == 7
    per_file = {r["file_id"]: r["n"] for r in
                df.groupBy("file_id").agg(F.count("*").alias("n")).collect()}
    assert per_file == {0: 3, 1: 4}
    assert len(meta["file_statistics"]["files"]) == 2


def test_generic_loader_rejects_held_file_id(spark, tmp_path):
    # an input file_id would be replaced by the file rank (100..102 -> 0..2)
    for i in range(3):
        pd.DataFrame({"x": [1.0], "file_id": [100 + i]}).to_parquet(
            tmp_path / f"f{i}.parquet",
        )
    loader = GenericLoader(spark=spark)
    with pytest.raises(ValueError, match="'file_id'.*with_file_id=False"):
        loader.read_dataframe(folder=str(tmp_path))
    df, _ = loader.read_dataframe(folder=str(tmp_path), with_file_id=False)
    assert sorted(r["file_id"] for r in df.collect()) == [100, 101, 102]


def test_generic_loader_reads_orc(spark, tmp_path):
    # columnar alternative to parquet; same file_id model
    src = spark.createDataFrame(
        [(float(i),) for i in range(5)], ["x"],
    )
    out = str(tmp_path / "orc")
    src.coalesce(1).write.orc(out)
    import glob as _glob

    files = _glob.glob(f"{out}/*.orc")
    loader = GenericLoader(spark=spark)
    df, meta = loader.read_dataframe(files=files, ftype="orc")
    assert df.count() == 5
    assert {r["file_id"] for r in df.select("file_id").distinct().collect()} == {0}

    with pytest.raises(ValueError, match="file type"):
        loader.read_dataframe(files=files, ftype="avro")


def test_gather_files_range(tmp_path):
    for i in range(5):
        (tmp_path / f"a{i}.parquet").touch()
    files = gather_files(str(tmp_path), f_start=1, f_end=4)
    assert [f.split("/")[-1] for f in files] == ["a1.parquet", "a2.parquet", "a3.parquet"]


@pytest.fixture()
def granularity(spark):
    electron = spark.createDataFrame(
        pd.DataFrame({
            "trainId": [0, 0, 0, 0, 1, 1],
            "pulseId": [0, 0, 1, -1, 0, 0],
            "dldPos": [1.0, 2.0, 3.0, 4.0, 5.0, np.nan],
            "order": [0, 1, 2, 3, 4, 5],
        }),
    )
    pulse = spark.createDataFrame(
        pd.DataFrame({"trainId": [0, 0, 1], "pulseId": [0, 1, 0],
                      "bam": [0.1, 0.2, 0.3]}),
    )
    train = spark.createDataFrame(
        pd.DataFrame({"trainId": [0, 1], "gmd": [9.0, 8.0]}),
    )
    return electron, pulse, train


def test_align_channels(granularity):
    electron, pulse, train = granularity
    out = align_channels(electron, pulse, train).orderBy("order").toPandas()
    # the pulseId = -1 row is dropped (dataframe.py:307 semantics)
    assert len(out) == 5
    assert out["bam"].tolist() == [0.1, 0.1, 0.2, 0.3, 0.3]
    assert out["gmd"].tolist() == [9.0, 9.0, 9.0, 8.0, 8.0]


def test_align_dropna_electron_channels(granularity):
    electron, pulse, train = granularity
    out = align_channels(electron, pulse, train, electron_channels=["dldPos"])
    assert out.count() == 4  # NaN electron hit dropped too


def test_assign_electron_id(granularity):
    electron, _, _ = granularity
    out = assign_electron_id(electron, order_col="order").orderBy("order").toPandas()
    assert out["electronId"].tolist() == [0, 1, 0, 0, 0, 1]


def test_timed_dataframe(granularity):
    electron, pulse, train = granularity
    aligned = align_channels(electron, pulse, train)
    timed = timed_dataframe_from_pulses(aligned, pulse_channels=["bam"])
    assert timed.count() == 3


def test_schema_check(granularity):
    electron, _, _ = granularity
    schema_check(electron, ["trainId", "pulseId"], extra_ok=["dldPos", "order"])
    with pytest.raises(SchemaMismatchError):
        schema_check(electron, ["trainId", "missing_channel"])


def test_buffer_stage_write_once(spark, granularity, tmp_path):
    electron, _, _ = granularity
    stage = BufferStage(str(tmp_path))
    p1 = stage.materialize(electron, "file0")
    mtime = __import__("os").path.getmtime(p1 + "/_SUCCESS")
    stage.materialize(electron, "file0")  # no-op second time
    assert __import__("os").path.getmtime(p1 + "/_SUCCESS") == mtime
    assert stage.load(spark, ["file0"]).count() == 6


def test_flash_like_loader_end_to_end(spark, granularity):
    electron, pulse, train = granularity
    loader = FlashLikeLoader(spark=spark, config={
        "channels": {"dldPos": {"format": "per_electron"}},
    })
    # "order" is a fixture-only helper column; the tightened schema_check
    # correctly rejects it as staged-schema drift
    df, meta = loader.read_dataframe(
        electron=electron.drop("order"), pulse=pulse, train=train,
    )
    assert df.count() == 5
    assert set(df.columns) >= {"trainId", "pulseId", "dldPos", "bam", "gmd"}


def test_align_channels_drops_negative_pulses(spark):
    import pandas as pd

    from sed_spark.loader.flash import align_channels

    electron = spark.createDataFrame(
        pd.DataFrame(
            {
                "trainId": [1, 1, 1, 2],
                "pulseId": [0, -1, 5, -2],
                "dldPosX": [1.0, 2.0, 3.0, 4.0],
            },
        ),
    )
    out = align_channels(electron).toPandas()
    # reference flash/dataframe.py:306: rows with negative pulseId dropped
    assert sorted(out["pulseId"]) == [0, 5]
    kept = align_channels(electron, drop_negative_pulses=False).toPandas()
    assert len(kept) == 4
