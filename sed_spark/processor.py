"""SedProcessor-style session facade.

Mirrors the user-facing API surface of the reference's ``SedProcessor``
(reference: src/sed/core/processor.py) on Spark: holds the lazy event and
timed DataFrames plus a metadata tree, and chains pure-expression transforms
onto both. Nothing executes until ``compute()`` (the histogram query) or an
explicit action — same lazy contract as the reference, but the "plan" is a
Catalyst logical plan instead of a dask task graph.
"""

from __future__ import annotations

import math
from collections.abc import Sequence
from typing import Any

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from sed_spark import dfops
from sed_spark.binning import (
    BinnedData,
    bin_dataframe,
    normalization_histogram_from_timed_dataframe,
    normalization_histogram_from_timestamps,
)
from sed_spark.binning.core import bin_dataframe_where
from sed_spark.calibrator import delay as delay_cal
from sed_spark.calibrator import energy as energy_cal
from sed_spark.calibrator import momentum as momentum_cal
from sed_spark.loader import get_loader
from sed_spark.metadata import MetaHandler
from sed_spark.session import get_spark


def _normalization_histogram(
    events: DataFrame,
    timed: DataFrame | None,
    axis: str,
    bin_centers: np.ndarray,
    time_stamp_column: str = "timeStamp",
    order_col: str = "row_index",
    time_unit: float = 0.001,
) -> BinnedData:
    """Acquisition time per ``axis`` bin: from the timed table when there
    is one, else from the events' timestamps."""
    if timed is None:
        return normalization_histogram_from_timestamps(
            events, axis, bin_centers, time_stamp_column, order_col,
        )
    return normalization_histogram_from_timed_dataframe(timed, axis, bin_centers, time_unit)


class SedProcessor:
    """Single-event data processing session on Spark."""

    def __init__(
        self,
        spark: SparkSession | None = None,
        config: dict[str, Any] | str | None = None,
        loader: str | None = None,
        metadata: dict | None = None,
        verbose: bool = False,
        **config_kwds,
    ) -> None:
        from sed_spark.config import parse_config

        self.spark = spark or get_spark()
        self.config = parse_config(config, **config_kwds)
        self.verbose = verbose
        self._dataframe: DataFrame | None = None
        self._timed_dataframe: DataFrame | None = None
        self._attributes = MetaHandler(metadata)
        self._files: list[str] = []
        self._binned: BinnedData | None = None
        self._normalization_histogram: BinnedData | None = None
        self._calibrations: dict[str, dict] = {}
        self._bias_series: dict[str, Any] | None = None
        self._features: np.ndarray | None = None
        self._deform_fields: tuple[np.ndarray, np.ndarray] | None = None
        loader_name = loader or self.config.get("core", {}).get("loader", "generic")
        self.loader = get_loader(loader_name, spark=self.spark, config=self.config)

    def _col(self, name: str) -> str:
        """Resolve an ``@`` column alias against the session config
        (reference src/sed/core/processor.py:1994-1996)."""
        from sed_spark.config import resolve_column_alias

        return resolve_column_alias(name, self.config)

    # -- loading -----------------------------------------------------------
    @property
    def dataframe(self) -> DataFrame:
        if self._dataframe is None:
            raise RuntimeError("no dataframe loaded — call load() first")
        return self._dataframe

    @property
    def timed_dataframe(self) -> DataFrame | None:
        return self._timed_dataframe

    @property
    def attributes(self) -> MetaHandler:
        return self._attributes

    @property
    def files(self) -> list[str]:
        """Files backing the loaded dataframe (reference processor.py:309)."""
        return self._files

    @property
    def binned(self) -> BinnedData:
        """Last :meth:`compute` result (reference processor.py:259-270)."""
        if self._binned is None:
            raise RuntimeError("no binned data available, run compute() first")
        return self._binned

    @property
    def normalized(self) -> BinnedData:
        """Last acquisition-time-normalized result (processor.py:272-287)."""
        if self._binned is None or "normalized" not in self._binned.attrs:
            raise RuntimeError(
                "no normalized data: run compute(normalize_to_acquisition_time=...)",
            )
        return self._binned

    @property
    def normalization_histogram(self) -> BinnedData:
        """Last normalization histogram (reference processor.py:289-300)."""
        if self._normalization_histogram is None:
            raise RuntimeError(
                "no normalization histogram: run "
                "compute(normalize_to_acquisition_time=...) first",
            )
        return self._normalization_histogram

    def add_attribute(self, attributes: dict, name: str, **kwds) -> None:
        """Add a metadata entry (reference processor.py:302-317)."""
        self._attributes.add(attributes, name, **kwds)

    def load(
        self,
        dataframe: DataFrame | None = None,
        files: Sequence[str] | None = None,
        folder: str | None = None,
        timed_dataframe: DataFrame | None = None,
        **kwds,
    ) -> "SedProcessor":
        """Load events from an existing DataFrame, file list, or folder
        (reference src/sed/core/processor.py:408-493)."""
        if dataframe is not None:
            self._dataframe = dataframe
            metadata: dict = {}
        else:
            self._dataframe, metadata = self.loader.read_dataframe(
                files=files, folder=folder, **kwds,
            )
        self._files = list(files or metadata.get("files", []) or [])
        self._timed_dataframe = timed_dataframe
        if metadata:
            self._attributes.add(metadata, "loader", duplicate_policy="merge")
        return self

    # -- helpers -----------------------------------------------------------
    def _apply_both(self, fn, timed_ok_columns: Sequence[str] | None = None, **kwargs):
        """Apply a transform to the event df and (when its inputs exist
        there) the timed df — the reference's double bookkeeping
        (src/sed/core/processor.py:854-866)."""
        self._dataframe = fn(self._dataframe, **kwargs)
        if self._timed_dataframe is not None:
            need = timed_ok_columns or []
            if all(c in self._timed_dataframe.columns for c in need):
                self._timed_dataframe = fn(self._timed_dataframe, **kwargs)

    # -- generic ops -------------------------------------------------------
    def filter_column(
        self,
        col: str,
        lower_bound: float = -math.inf,
        upper_bound: float = math.inf,
    ) -> "SedProcessor":
        """(reference src/sed/core/processor.py:495-534)"""
        col = self._col(col)
        self._apply_both(
            dfops.apply_filter,
            timed_ok_columns=[col],
            col=col,
            lower_bound=lower_bound,
            upper_bound=upper_bound,
        )
        self._attributes.add(
            {"filter": {"col": col, "lower_bound": lower_bound, "upper_bound": upper_bound}},
            "filter",
            duplicate_policy="merge",
        )
        return self

    def add_jitter(
        self,
        cols: Sequence[str] | None = None,
        amps: float | Sequence[float] | None = None,
        jitter_type: str = "uniform",
        seed: int | None = None,
    ) -> "SedProcessor":
        """In-place jitter on the listed columns, defaulting to the config's
        jitter_cols with @ aliases resolved
        (reference src/sed/core/processor.py:1974-2025).

        Records the columns, ``jitter_type``, per-column amplitudes and the
        seed under ``jitter`` (a later call under ``jitter_1``, ...).
        Without a seed it records the generated salt instead; passing it
        back as ``seed`` redraws the same noise on the same partition
        layout."""
        dfconf = self.config.get("dataframe", {})
        if cols is None:
            cols = dfconf.get("jitter_cols", [])
        if amps is None:
            amps = dfconf.get("jitter_amps", 0.5)
        cols = [self._col(c) for c in cols]
        salt = dfops.jitter_salt(seed)
        self._dataframe = dfops.apply_jitter(
            self._dataframe, cols, cols_jittered=cols, amps=amps,
            jitter_type=jitter_type, seed=salt,
        )
        if isinstance(amps, (int, float)):
            amps = [amps] * len(cols)
        self._attributes.add(
            {
                "cols": cols,
                "jitter_type": jitter_type,
                "amps": [float(a) for a in amps],
                "seed": salt if seed is None else seed,
            },
            "jitter",
            duplicate_policy="append",
        )
        return self

    def add_time_stamped_data(
        self,
        time_stamps: np.ndarray,
        data: np.ndarray,
        dest_column: str,
        time_stamp_column: str = "timeStamp",
    ) -> "SedProcessor":
        self._apply_both(
            dfops.add_time_stamped_data,
            timed_ok_columns=[time_stamp_column],
            time_stamps=time_stamps,
            data=data,
            dest_column=dest_column,
            time_stamp_column=time_stamp_column,
        )
        return self

    # -- calibration chain -------------------------------------------------
    def apply_energy_correction(self, **kwds) -> "SedProcessor":
        self._calibrations["energy_correction"] = dict(kwds)
        tof = kwds.get("tof_column", "t")
        self._apply_both(
            energy_cal.apply_energy_correction, timed_ok_columns=[tof], **kwds,
        )
        return self

    def append_energy_axis(self, **kwds) -> "SedProcessor":
        self._calibrations["energy_calibration"] = dict(kwds)
        tof = kwds.get("tof_column", "t")
        self._apply_both(energy_cal.append_energy_axis, timed_ok_columns=[tof], **kwds)
        return self

    def add_energy_offset(self, **kwds) -> "SedProcessor":
        self._calibrations["energy_offsets"] = dict(kwds)
        self._dataframe = energy_cal.add_offsets(self._dataframe, **kwds)
        return self

    def align_dld_sectors(self, sector_delays: Sequence[float], **kwds) -> "SedProcessor":
        self._dataframe = energy_cal.align_dld_sectors(
            self._dataframe, sector_delays, **kwds,
        )
        return self

    def append_tof_ns_axis(
        self,
        tof_column: str = "t",
        tof_ns_column: str = "t_ns",
        binwidth: float = 4.125e-12,
        binning: int = 1,
    ) -> "SedProcessor":
        def _fn(df):
            from pyspark.sql import functions as F

            return df.withColumn(
                tof_ns_column,
                energy_cal.tof2ns_expr(F.col(tof_column), binwidth, binning),
            )

        self._apply_both(_fn, timed_ok_columns=[tof_column])
        return self

    def apply_momentum_calibration(self, **kwds) -> "SedProcessor":
        x = kwds.get("x_column", "X")
        y = kwds.get("y_column", "Y")
        self._apply_both(momentum_cal.append_k_axis, timed_ok_columns=[x, y], **kwds)
        return self

    def apply_momentum_correction(self, dfield: np.ndarray, **kwds) -> "SedProcessor":
        """Distortion correction through the inverse deformation field
        ``dfield`` of shape ``(2, H, W)``; records the field's shape,
        detector ranges and content digest under ``momentum_correction``
        (reference src/sed/calibrator/momentum.py:1742-1813)."""
        dfield = np.ascontiguousarray(dfield, dtype=np.float64)
        self._dataframe = momentum_cal.apply_dfield(self._dataframe, dfield, **kwds)
        ranges = kwds.get("detector_ranges", momentum_cal.DEFAULT_DETECTOR_RANGES)
        self._attributes.add(
            {
                "applied": True,
                "dfield_shape": list(dfield.shape[1:]),
                "detector_ranges": [[float(lo), float(hi)] for lo, hi in ranges],
                "dfield_digest": momentum_cal.dfield_digest(dfield),
            },
            "momentum_correction",
            duplicate_policy="merge",
        )
        return self

    def calibrate_delay_axis(self, **kwds) -> "SedProcessor":
        self._calibrations["delay_calibration"] = dict(kwds)
        adc = kwds.get("adc_column", "ADC")
        self._apply_both(delay_cal.append_delay_axis, timed_ok_columns=[adc], **kwds)
        return self

    def add_delay_offset(self, **kwds) -> "SedProcessor":
        self._calibrations["delay_offsets"] = dict(kwds)
        self._dataframe = delay_cal.add_offsets(self._dataframe, **kwds)
        return self

    # -- the aggregation query --------------------------------------------
    def compute(
        self,
        bins,
        axes: Sequence[str] | None = None,
        ranges: Sequence[tuple[float, float]] | None = None,
        normalize_to_acquisition_time: bool | str = False,
        filters: Sequence[dict] | None = None,
        max_file_id: int | None = None,
        **kwds,
    ) -> BinnedData:
        """Run the N-D histogram (reference src/sed/core/processor.py:2150-2314).

        ``filters`` are :func:`sed_spark.dfops.apply_filter` range cuts.
        They are evaluated inside the bin-index projection
        (:func:`sed_spark.binning.core.bin_dataframe_where`), so a cut on a
        calibrated axis does not re-evaluate that axis's expression.

        ``max_file_id`` replaces the reference's partition pruning
        (processor.py:2229-2235) with a ``file_id`` predicate, kept a real
        filter so that it can prune files. ``file_id`` is derived from
        ``input_file_name()``, which Spark cannot prune on, so today the
        predicate filters rows after a scan of every file.

        ``normalize_to_acquisition_time`` divides by the acquisition time of
        the selected files only, as the reference does
        (processor.py:2296-2306): the ``file_id`` predicate also filters the
        timed table, or the events on the timestamps path. A timed table
        without ``file_id`` (such as the FEL table of
        :func:`sed_spark.loader.flash.timed_dataframe_from_pulses`) cannot
        be restricted to the selected files, so ``max_file_id`` with it
        raises ``ValueError`` before any Spark job.
        """
        df, timed = self._dataframe, self._timed_dataframe
        if max_file_id is not None:
            from pyspark.sql import functions as F

            selected = F.col("file_id") < max_file_id
            df = df.filter(selected)
            if normalize_to_acquisition_time and timed is not None:
                if "file_id" not in (c.lower() for c in timed.columns):
                    raise ValueError(
                        "the timed table has no 'file_id' column, so "
                        f"compute(max_file_id={max_file_id}) cannot normalize "
                        "by the acquisition time of the selected files",
                    )
                timed = timed.filter(selected)
        where = None
        for f in filters or ():
            cut = dfops.range_condition(
                f["col"], f.get("lower_bound", -math.inf), f.get("upper_bound", math.inf),
            )
            if cut is not None:
                where = cut if where is None else (where & cut)
        result = bin_dataframe_where(df, where, bins, axes, ranges, **kwds)

        if normalize_to_acquisition_time:
            axis = (
                normalize_to_acquisition_time
                if isinstance(normalize_to_acquisition_time, str)
                else result.dims[0]
            )
            norm = _normalization_histogram(df, timed, axis, result.coords[axis])
            self._normalization_histogram = norm
            with np.errstate(divide="ignore", invalid="ignore"):
                result.data = result.data / norm.data.reshape(
                    [-1 if d == axis else 1 for d in result.dims],
                )
            result.attrs["normalized"] = axis
        result.attrs["metadata"] = self._attributes.metadata
        self._binned = result
        return result

    def save(self, result: BinnedData, faddr: str, **kwds) -> None:
        """Extension-dispatched export of a computed result
        (reference src/sed/core/processor.py:2480-2573)."""
        from sed_spark import io as sio

        sio.save(result, faddr, **kwds)

    def get_normalization_histogram(
        self,
        axis: str,
        bin_centers: np.ndarray,
        use_time_stamps: bool = False,
        time_stamp_column: str = "timeStamp",
        order_col: str = "row_index",
        time_unit: float = 0.001,
    ) -> BinnedData:
        """(reference src/sed/core/processor.py:2316-2391)"""
        return _normalization_histogram(
            self._dataframe, None if use_time_stamps else self._timed_dataframe,
            axis, bin_centers, time_stamp_column, order_col, time_unit,
        )

    # -- pre-binning / inspection (headless variants of the reference's
    #    plotting methods: same computation, returned instead of drawn) ----

    def pre_binning(
        self,
        bins=None,
        axes: Sequence[str] | None = None,
        ranges: Sequence[tuple[float, float]] | None = None,
        df_partitions: int | None = 100,
        **kwds,
    ) -> BinnedData:
        """Histogram over the config's momentum axes on a file subset
        (reference src/sed/core/processor.py:2078-2148)."""
        mom = self.config.get("momentum", {})
        if axes is None:
            axes = [self._col(a) for a in mom.get("axes", ["@x_column", "@y_column"])]
        if bins is None:
            bins = mom.get("bins", [512, 512])
        if ranges is None:
            rr = mom.get("ranges", [[-256, 1792], [-256, 1792]])
            ranges = [tuple(r) for r in rr]
        df = self._dataframe
        if df_partitions is not None:
            from pyspark.sql import functions as F

            df = df.filter(F.col("file_id") < df_partitions)
        return bin_dataframe(df, bins, axes, ranges, **kwds)

    def view_event_histogram(
        self,
        dfpid: int | None = None,
        bins: Sequence[int] | None = None,
        axes: Sequence[str] | None = None,
        ranges: Sequence[tuple[float, float]] | None = None,
    ) -> dict[str, BinnedData]:
        """Per-axis 1-D histograms of one file's events — the reference
        plots these (processor.py:2027-2076); headless, they are returned
        keyed by axis."""
        hist = self.config.get("histogram", {})
        if axes is None:
            axes = [self._col(a) for a in hist.get("axes", ["@tof_column"])]
        if bins is None:
            bins = hist.get("bins", [80] * len(axes))
        if ranges is None:
            ranges = [tuple(r) for r in hist.get("ranges", [(0, 1000)] * len(axes))]
        df = self._dataframe
        if dfpid is not None:
            from pyspark.sql import functions as F

            df = df.filter(F.col("file_id") == dfpid)
        return {
            ax: bin_dataframe(df, [b], [ax], [r])
            for ax, b, r in zip(axes, bins, ranges)
        }

    # -- energy calibration workflow (driver-side estimation over
    #    distributed bias-series traces) -----------------------------------

    def load_bias_series(
        self,
        biases: Sequence[float] | None = None,
        tof_column: str | None = None,
        bins: int = 1000,
        tof_range: tuple[float, float] = (0.0, 1000.0),
        bias_key: str | None = None,
    ) -> "SedProcessor":
        """Bin per-file TOF traces for a bias series
        (reference src/sed/core/processor.py:1322-1424). ``biases`` come
        either inline or from staged per-file attributes
        (:func:`sed_spark.loader.mpes.extract_bias_from_attrs`)."""
        from sed_spark.calibrator.estimation import bin_traces

        tof_column = self._col(tof_column or "@tof_column")
        traces, tof, file_ids = bin_traces(
            self._dataframe, tof_column, bins, tof_range,
        )
        if biases is None:
            if bias_key is None:
                raise ValueError("pass biases or bias_key")
            from sed_spark.loader.mpes import extract_bias_from_attrs

            attrs = self._attributes.metadata.get("loader", {}).get("file_attrs", {})
            biases = extract_bias_from_attrs(attrs, bias_key)
        self._bias_series = {
            "traces": np.asarray(traces),
            "tof": np.asarray(tof),
            "biases": np.asarray(biases, dtype=np.float64),
            "file_ids": list(file_ids),
        }
        return self

    def find_bias_peaks(
        self,
        ranges: tuple[float, float] | Sequence[tuple[float, float]],
        ref_id: int = 0,
        infer_others: bool = True,
        radius: int = 0,
        **kwds,
    ) -> np.ndarray:
        """Peak positions per bias trace (reference processor.py:1426-1512,
        headless: no plot, returns the (n_traces, 2) peak array)."""
        from sed_spark.calibrator.estimation import (
            add_ranges_by_correspondence,
            peaksearch,
        )

        if self._bias_series is None:
            raise RuntimeError("run load_bias_series() first")
        traces = self._bias_series["traces"]
        tof = self._bias_series["tof"]
        if infer_others:
            featranges = add_ranges_by_correspondence(
                traces, tof, tuple(ranges), ref_id,
            )
        else:
            featranges = [tuple(r) for r in ranges]
        peaks = peaksearch(traces, tof, featranges, **kwds)
        self._bias_series["peaks"] = peaks
        self._bias_series["ref_id"] = ref_id
        return peaks

    def calibrate_energy_axis(
        self,
        ref_energy: float,
        method: str = "lmfit",
        energy_scale: str = "kinetic",
        **kwds,
    ) -> dict:
        """Fit the TOF→energy calibration from the bias-series peaks
        (reference processor.py:1514-1608). Returns and stores the
        calibration dict consumed by :meth:`append_energy_axis`."""
        from sed_spark.calibrator.estimation import (
            fit_energy_calibration,
            poly_energy_calibration,
        )

        if self._bias_series is None or "peaks" not in self._bias_series:
            raise RuntimeError("run load_bias_series() and find_bias_peaks() first")
        peaks = self._bias_series["peaks"]
        biases = self._bias_series["biases"]
        tof = self._bias_series["tof"]
        sign = 1.0 if energy_scale == "kinetic" else -1.0
        vals = -sign * biases
        if method in ("lmfit", "fit"):
            cal = fit_energy_calibration(
                peaks[:, 0], vals,
                kwds.pop("binwidth", 4.125e-12), kwds.pop("binning", 1),
                ref_energy, t=tof, energy_scale=energy_scale, **kwds,
            )
        elif method in ("lstsq", "poly"):
            cal = poly_energy_calibration(
                peaks[:, 0], vals, ref_energy, t=tof,
                energy_scale=energy_scale, **kwds,
            )
        else:
            raise ValueError(f"unknown calibration method {method!r}")
        self._calibrations["energy_calibration"] = cal
        return cal

    # -- momentum calibration workflow ------------------------------------

    def bin_and_load_momentum_calibration(
        self,
        bins: Sequence[int] | None = None,
        axes: Sequence[str] | None = None,
        ranges: Sequence[tuple[float, float]] | None = None,
        **kwds,
    ) -> BinnedData:
        """The 2-D detector image used for feature definition (reference
        processor.py:580-623; the widget is replaced by returning the
        image)."""
        img = self.pre_binning(bins=bins, axes=axes, ranges=ranges, **kwds)
        self._momentum_image = img
        return img

    def define_features(
        self,
        features: np.ndarray,
        rotation_symmetry: int = 6,
        include_center: bool = True,
    ) -> "SedProcessor":
        """Record symmetry-point features (reference processor.py:625-682;
        non-interactive: coordinates passed directly)."""
        self._features = np.asarray(features, dtype=np.float64)
        self._rotsym = int(rotation_symmetry)
        self._include_center = bool(include_center)
        return self

    def generate_splinewarp(
        self,
        targets: np.ndarray | None = None,
        shape: tuple[int, int] | None = None,
        center: tuple[float, float] | None = None,
    ) -> "SedProcessor":
        """Thin-plate-spline deformation field from the defined features
        (reference processor.py:684-740). Targets default to the ideal
        symmetric positions of the feature ring around its centroid."""
        from sed_spark.calibrator.momentum_estimation import spline_warp_field

        if self._features is None:
            raise RuntimeError("run define_features() first")
        feats = self._features
        ring = feats[:-1] if self._include_center else feats
        ctr = feats[-1] if self._include_center else ring.mean(axis=0)
        if targets is None:
            # ideal positions: equal-angle ring at the mean radius
            rel = ring - ctr
            radius = float(np.mean(np.hypot(rel[:, 0], rel[:, 1])))
            a0 = float(np.arctan2(rel[0, 1], rel[0, 0]))
            ang = a0 + 2.0 * np.pi * np.arange(len(ring)) / len(ring)
            targets = ctr + radius * np.column_stack([np.cos(ang), np.sin(ang)])
        if shape is None:
            mom = self.config.get("momentum", {})
            shape = tuple(mom.get("dfield_shape", (256, 256)))
        rdef, cdef = spline_warp_field(
            ring, np.asarray(targets, dtype=np.float64), shape,
            include_center=self._include_center,
            center=tuple(ctr),
        )
        self._deform_fields = (rdef, cdef)
        self._calibrations["splinewarp"] = {
            "features": feats.tolist(),
            "targets": np.asarray(targets).tolist(),
            "shape": list(shape),
        }
        return self

    def pose_adjustment(
        self,
        scale: float = 1.0,
        xtrans: float = 0.0,
        ytrans: float = 0.0,
        angle: float = 0.0,
        apply: bool = False,  # noqa: ARG002 - headless: always just composes
    ) -> "SedProcessor":
        """Compose an affine pose correction onto the deformation field
        (reference processor.py:742-812, widget-free)."""
        from sed_spark.calibrator.momentum_estimation import (
            coordinate_transform_field,
        )

        if self._deform_fields is None:
            raise RuntimeError("run generate_splinewarp() first")
        rdef, cdef = self._deform_fields
        shape = rdef.shape
        if xtrans or ytrans:
            rdef, cdef = coordinate_transform_field(
                shape, "translation", rdef, cdef, xtrans=xtrans, ytrans=ytrans,
            )
        if scale != 1.0:
            rdef, cdef = coordinate_transform_field(
                shape, "scaling", rdef, cdef, xscale=scale, yscale=scale,
            )
        if angle:
            rdef, cdef = coordinate_transform_field(
                shape, "rotation", rdef, cdef, angle=angle,
            )
        self._deform_fields = (rdef, cdef)
        self._calibrations["transformations"] = {
            "scale": scale, "xtrans": xtrans, "ytrans": ytrans, "angle": angle,
        }
        return self

    def apply_momentum_correction_from_fields(self, **kwds) -> "SedProcessor":
        """Apply the session's generated deformation field (the
        widget-driven end of the reference's pose workflow)."""
        if self._deform_fields is None:
            raise RuntimeError("run generate_splinewarp() first")
        dfield = np.stack(self._deform_fields)
        return self.apply_momentum_correction(dfield, **kwds)

    def calibrate_momentum_axes(
        self,
        point_a: Sequence[float],
        point_b: Sequence[float] | None = None,
        k_distance: float | None = None,
        k_coord_a: Sequence[float] | None = None,
        k_coord_b: Sequence[float] = (0.0, 0.0),
        equiscale: bool = True,
        apply: bool = False,
    ) -> dict:
        """Momentum conversion coefficients from two symmetry points
        (reference src/sed/calibrator/momentum.py:1612-1711 ``calibrate``):
        equiscale uses one k/pixel ratio |k_ab| / |pixel_ab|; otherwise the
        per-axis ratios from the two points' absolute k coordinates."""
        pa = np.asarray(point_a, dtype=np.float64)
        if point_b is None:
            mom = self.config.get("momentum", {})
            point_b = mom.get("center_pixel", [128.0, 128.0])
        pb = np.asarray(point_b, dtype=np.float64)
        if equiscale:
            if k_distance is None:
                raise ValueError("equiscale=True requires k_distance")
            pixel_distance = float(np.linalg.norm(pa - pb))
            ratio = k_distance / pixel_distance
            rconv = cconv = ratio
            k_b = np.asarray(k_coord_b, dtype=np.float64)
        else:
            if k_coord_a is None:
                raise ValueError("equiscale=False requires k_coord_a")
            k_a = np.asarray(k_coord_a, dtype=np.float64)
            k_b = np.asarray(k_coord_b, dtype=np.float64)
            rconv = (k_a[0] - k_b[0]) / (pa[0] - pb[0])
            cconv = (k_a[1] - k_b[1]) / (pa[1] - pb[1])
        cal = {
            "r_center": float(pb[0]),
            "c_center": float(pb[1]),
            "r_conversion": float(rconv),
            "c_conversion": float(cconv),
            "r_start": float(k_b[0]),
            "c_start": float(k_b[1]),
            "r_step": 1.0,
            "c_step": 1.0,
        }
        self._calibrations["momentum_calibration"] = cal
        if apply:
            self.apply_momentum_calibration(**cal)
        return cal

    # -- calibration persistence (reference's save_* family,
    #    processor.py: each writes its parameter dict to the folder-level
    #    config so later sessions pick it up) ------------------------------

    def _save_config_section(
        self, section: dict, filename: str = "sed_config.yaml",
    ) -> None:
        import os

        import yaml

        existing: dict = {}
        if os.path.exists(filename):
            with open(filename) as f:
                existing = yaml.safe_load(f) or {}

        def merge(dst: dict, src: dict) -> dict:
            for k, v in src.items():
                if isinstance(v, dict) and isinstance(dst.get(k), dict):
                    merge(dst[k], v)
                else:
                    dst[k] = v
            return dst

        merge(existing, section)
        with open(filename, "w") as f:
            yaml.safe_dump(existing, f, sort_keys=False)

    def _save_calibration(self, key: str, config_path: list[str], filename: str):
        if key not in self._calibrations:
            raise RuntimeError(f"no {key} parameters to save")
        node: dict = {}
        leaf = node
        for p in config_path[:-1]:
            leaf = leaf.setdefault(p, {})
        leaf[config_path[-1]] = _yaml_safe(self._calibrations[key])
        self._save_config_section(node, filename)

    def save_energy_correction(self, filename: str = "sed_config.yaml") -> None:
        self._save_calibration(
            "energy_correction", ["energy", "correction"], filename,
        )

    def save_energy_calibration(self, filename: str = "sed_config.yaml") -> None:
        self._save_calibration(
            "energy_calibration", ["energy", "calibration"], filename,
        )

    def save_energy_offset(self, filename: str = "sed_config.yaml") -> None:
        self._save_calibration("energy_offsets", ["energy", "offsets"], filename)

    def save_momentum_calibration(self, filename: str = "sed_config.yaml") -> None:
        self._save_calibration(
            "momentum_calibration", ["momentum", "calibration"], filename,
        )

    def save_splinewarp(self, filename: str = "sed_config.yaml") -> None:
        self._save_calibration(
            "splinewarp", ["momentum", "correction"], filename,
        )

    def save_transformations(self, filename: str = "sed_config.yaml") -> None:
        self._save_calibration(
            "transformations", ["momentum", "transformations"], filename,
        )

    def save_delay_calibration(self, filename: str = "sed_config.yaml") -> None:
        self._save_calibration(
            "delay_calibration", ["delay", "calibration"], filename,
        )

    def save_delay_offsets(self, filename: str = "sed_config.yaml") -> None:
        self._save_calibration("delay_offsets", ["delay", "offsets"], filename)

    def save_workflow_params(self, filename: str = "sed_config.yaml") -> None:
        """Persist every recorded calibration at once
        (reference processor.py: save_workflow_params)."""
        saved = False
        for key, path in [
            ("energy_correction", ["energy", "correction"]),
            ("energy_calibration", ["energy", "calibration"]),
            ("energy_offsets", ["energy", "offsets"]),
            ("momentum_calibration", ["momentum", "calibration"]),
            ("splinewarp", ["momentum", "correction"]),
            ("transformations", ["momentum", "transformations"]),
            ("delay_calibration", ["delay", "calibration"]),
            ("delay_offsets", ["delay", "offsets"]),
        ]:
            if key in self._calibrations:
                self._save_calibration(key, path, filename)
                saved = True
        if not saved:
            raise RuntimeError("no workflow parameters recorded yet")


def _yaml_safe(obj):
    """Recursively convert numpy scalars/arrays for yaml.safe_dump."""
    if isinstance(obj, dict):
        return {k: _yaml_safe(v) for k, v in obj.items()}
    if isinstance(obj, (list, tuple)):
        return [_yaml_safe(v) for v in obj]
    if isinstance(obj, np.ndarray):
        return obj.tolist()
    if isinstance(obj, np.generic):
        return obj.item()
    return obj
