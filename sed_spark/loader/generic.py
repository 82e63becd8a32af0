"""Generic file loader: parquet / csv / json folders or explicit file lists.

Re-expresses the reference's ``GenericLoader`` + ``BaseLoader`` file
discovery (reference: src/sed/loader/generic/loader.py:30-100,
src/sed/loader/base/loader.py:66-144, src/sed/loader/utils.py:19-57):
folder glob with natural sort, extension dispatch, optional file-range
selection.

The crucial model translation (SURVEY §1.4): dask partition identity becomes
an explicit ``file_id`` column — the natural-sort rank of the source file —
so partition-dependent operators (per-file scalars, partition pruning,
per-file traces) are plain predicates/joins and survive any repartitioning.
``file_id`` is derived from ``input_file_name()`` via a tiny broadcast map,
so the scan stays a single multi-path parquet read with full pushdown.
"""

from __future__ import annotations

import glob
import os
import re
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def natural_sort(files: Sequence[str]) -> list[str]:
    """Natural (numeric-aware) sort, like the reference's natsorted
    (src/sed/loader/utils.py:47-48)."""

    def key(s: str):
        return [int(p) if p.isdigit() else p.lower() for p in re.split(r"(\d+)", s)]

    return sorted(files, key=key)


def gather_files(
    folder: str,
    extension: str = "parquet",
    f_start: int | None = None,
    f_end: int | None = None,
    f_step: int = 1,
) -> list[str]:
    """Folder glob + natural sort + optional [start:end:step] file range
    (reference src/sed/loader/base/loader.py:66-144)."""
    files = natural_sort(glob.glob(os.path.join(folder, f"*.{extension}")))
    return files[slice(f_start, f_end, f_step)]


class GenericLoader:
    """Reads parquet/orc/csv/json into an event DataFrame with ``file_id``."""

    supported_file_types = ("parquet", "orc", "csv", "json")

    def __init__(self, spark: SparkSession | None = None, **_):
        self.spark = spark

    def read_dataframe(
        self,
        files: Sequence[str] | None = None,
        folder: str | None = None,
        ftype: str = "parquet",
        with_file_id: bool = True,
        **reader_options,
    ) -> tuple[DataFrame, dict]:
        """Load files/folder into one DataFrame (implicit multi-path union).

        Returns ``(df, metadata)``; metadata records the ordered file list.
        ``with_file_id`` appends the file rank as ``file_id``; files that
        already hold a ``file_id`` column raise ``ValueError`` rather than
        lose it, and load with ``with_file_id=False``.
        """
        spark = self.spark or SparkSession.active()
        if ftype not in self.supported_file_types:
            raise ValueError(f"file type {ftype!r} not in {self.supported_file_types}")
        if files is None:
            if folder is None:
                raise ValueError("provide files or folder")
            files = gather_files(folder, ftype)
        else:
            files = natural_sort([os.path.realpath(f) for f in files])
        if not files:
            raise FileNotFoundError("no files found to load")

        reader = spark.read.options(**reader_options)
        if ftype == "parquet":
            df = reader.parquet(*files)
        elif ftype == "orc":
            # columnar like parquet: same pushdown/pruning behavior
            df = reader.orc(*files)
        elif ftype == "csv":
            df = reader.option("header", "true").option("inferSchema", "true").csv(list(files))
        else:
            df = reader.json(list(files))

        if with_file_id:
            held = [c for c in df.columns if c.lower() == "file_id"]
            if held:
                raise ValueError(
                    f"the files already hold a {held[0]!r} column, which "
                    "file_id would replace with the file rank; load them "
                    "with with_file_id=False to keep it",
                )
            # natural-sort rank by source path; tiny literal map folded by
            # Catalyst — keeps the scan a plain pushdown-friendly read.
            mapping = F.create_map(
                *[
                    F.lit(v)
                    for pair in ((os.path.realpath(f), i) for i, f in enumerate(files))
                    for v in pair
                ],
            )
            df = df.withColumn(
                "file_id",
                mapping[
                    F.regexp_replace(F.input_file_name(), "^file:(//)?", "")
                ].cast("int"),
            )
        metadata = {"file_statistics": {"files": list(files)}}
        return df, metadata
