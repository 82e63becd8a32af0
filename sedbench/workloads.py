"""The four benchmark workloads.

Each workload names its input family, computes its expected outputs from
the generator's arrays (outside timing), prepares whatever a session opens
before analysis (timed as set-up), and builds one *sequence*: the ordered
public-API operations a scientist waits on, each paired with its output
check. Spans go around every call into ``sed_spark``; probes (traced runs
only) time single layers from outside — a frame into Spark's ``noop`` sink,
or one layer call on its own.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np

import check as chk
import gen

# -- shared helpers ------------------------------------------------------


@dataclass
class Step:
    """One operation: a public call that returns a result, and its check."""

    name: str
    run: Callable[[], Any]
    check: Callable[[Any], tuple[bool, str]]


@dataclass
class Context:
    spark: Any
    tracer: Any
    data: gen.Dataset
    work: str
    expect: dict = field(default_factory=dict)
    state: dict = field(default_factory=dict)

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs)


def processor(ctx: Context):
    from sed_spark.processor import SedProcessor

    return SedProcessor(spark=ctx.spark, config={"core": {"loader": "generic"}})


def has_columns(df, want) -> tuple[bool, str]:
    missing = set(want) - set(df.columns)
    return (not missing), f"missing columns {sorted(missing)}" if missing else ""


def noop(df) -> None:
    """Run a frame to completion without keeping or writing its rows."""
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    family = ""
    # the histogram the binning probe re-runs: (bins, axes, ranges)
    main_bins: tuple = ()
    # per-layer metrics (name -> unit) only this workload measures
    extra_layers: dict = {}
    # untimed sequences before measuring. The first pays class loading,
    # imports and code generation; after it a sequence keeps getting faster
    # for tens of seconds while the JVM compiles Spark's hot code, so a
    # workload of short sequences warms up over more of them
    warmup_sequences = 2

    def prepare(self, ctx: Context) -> None:
        """Expected outputs from the generator's arrays (untimed)."""

    def setup(self, ctx: Context) -> None:
        """Open inputs and warm whatever a session keeps (timed set-up)."""
        processor(ctx).load(folder=ctx.data.root)

    def sequence(self, ctx: Context) -> list[Step]:
        raise NotImplementedError

    def events(self, ctx: Context) -> int:
        raise NotImplementedError

    def scan_frame(self, ctx: Context):
        """The frame the loader hands to analysis, for the scan probe."""
        p = processor(ctx)
        p.load(folder=ctx.data.root)
        return p.dataframe

    def binned_frame(self, ctx: Context):
        """The frame the main histogram bins, for the binning probe."""
        return self.scan_frame(ctx)

    def probes(self, ctx: Context) -> dict[str, float]:
        """Workload-specific layer numbers (traced runs only)."""
        return {}


# -- bulk_bin_4d ---------------------------------------------------------

BULK_AXES = ["X", "Y", "t", "ADC"]
BULK_BINS = [64, 64, 64, 64]
BULK_RANGES = [(0.0, 2048.0), (0.0, 2048.0), (64_000.0, 96_000.0), (500.0, 9_500.0)]


class BulkBin4D(Workload):
    name = "bulk_bin_4d"
    family = "uniform"
    main_bins = (BULK_BINS, BULK_AXES, BULK_RANGES)
    warmup_sequences = 4

    def prepare(self, ctx):
        ev = ctx.data.arrays["events"]
        ctx.expect["cube"] = chk.histogram(
            [ev[c] for c in BULK_AXES], BULK_BINS, BULK_RANGES,
        ).astype(np.float32)
        ctx.expect["coords"] = [chk.bin_centers(lo, hi, n)
                                for (lo, hi), n in zip(BULK_RANGES, BULK_BINS)]
        ctx.expect["rows"] = len(ev["X"])

    def events(self, ctx):
        return len(ctx.data.arrays["events"]["X"])

    def sequence(self, ctx):
        out = os.path.join(ctx.work, "cube.npz")
        st: dict[str, Any] = {}

        def load():
            st["p"] = p = processor(ctx)
            with ctx.span("processor.load"):
                return p.load(folder=ctx.data.root)

        def check_load(p):
            return chk.all_of(
                has_columns(p.dataframe, BULK_AXES),
                chk.exact("rows", p.dataframe.count(), ctx.expect["rows"]),
            )

        def compute():
            with ctx.span("processor.compute"):
                st["res"] = st["p"].compute(bins=BULK_BINS, axes=BULK_AXES,
                                            ranges=BULK_RANGES)
            return st["res"]

        def check_compute(res):
            return chk.all_of(
                chk.exact("cube", res.data, ctx.expect["cube"]),
                *[chk.close(f"coord {a}", res.coords[a], c)
                  for a, c in zip(BULK_AXES, ctx.expect["coords"])],
            )

        def save():
            with ctx.span("processor.save") as s:
                st["p"].save(st["res"], out)
                if s is not None:
                    s["attrs"]["bytes_written"] = os.path.getsize(out)
            return out

        def check_save(path):
            return chk.exact("saved cube", np.load(path)["data"], ctx.expect["cube"])

        return [Step("load", load, check_load), Step("compute", compute, check_compute),
                Step("save", save, check_save)]


# -- workflow_1d ---------------------------------------------------------

JITTER_COLS = ["X", "Y", "t", "ADC"]
DETECTOR = ((0.0, 2048.0), (0.0, 2048.0))
DFIELD_NODES = 256
K_CAL = {"r_center": 1024.0, "c_center": 1024.0, "r_conversion": 0.01,
         "c_conversion": 0.01, "r_start": 0.0, "c_start": 0.0,
         "r_step": 1.0, "c_step": 1.0}
E_CORR = {"correction_type": "spherical", "center": (1024.0, 1024.0),
          "amplitude": 2.0, "diameter": 5000.0, "x_column": "Xm", "y_column": "Ym"}
E_CAL = {"calibration_type": "poly", "coeffs": [1e-9, -3e-4], "E0": 30.0}
D_CAL = {"adc_range": (0.0, 10_000.0), "delay_range": (-2.0, 8.0)}
E_BINS, E_RANGE = 1000, (10.5, 14.5)
# (public call, its arguments, the columns the frame must hold after it)
CHAIN = [
    ("add_jitter", {"cols": JITTER_COLS}, JITTER_COLS),
    ("apply_momentum_correction",
     lambda ctx: {"dfield": ctx.state["dfield"], "detector_ranges": DETECTOR}, ["Xm", "Ym"]),
    ("apply_momentum_calibration", {"x_column": "Xm", "y_column": "Ym", **K_CAL}, ["kx", "ky"]),
    ("apply_energy_correction", E_CORR, ["t"]),
    ("append_energy_axis", E_CAL, ["energy"]),
    ("calibrate_delay_axis", D_CAL, ["delay"]),
]
CUTS = [{"col": "kx", "lower_bound": -8.0, "upper_bound": 8.0},
        {"col": "ky", "lower_bound": -8.0, "upper_bound": 8.0},
        {"col": "delay", "lower_bound": -1.0, "upper_bound": 7.0}]


def workflow_dfield() -> np.ndarray:
    """A smooth (2, 256, 256) inverse distortion field in detector units."""
    step = (DETECTOR[0][1] - DETECTOR[0][0]) / DFIELD_NODES
    r, c = np.meshgrid(np.arange(DFIELD_NODES) * step, np.arange(DFIELD_NODES) * step,
                       indexing="ij")
    return np.stack([r + 6.0 * np.sin(c / 300.0), c + 5.0 * np.cos(r / 250.0)])


def workflow_reference(ev: dict, dfield: np.ndarray) -> np.ndarray:
    """The calibration chain in numpy, without jitter."""
    x, y, t, adc = (ev[c].astype(np.float64) for c in ("X", "Y", "t", "ADC"))
    scale = DFIELD_NODES / (DETECTOR[0][1] - DETECTOR[0][0])
    rows = (x - DETECTOR[0][0]) * scale
    cols = (y - DETECTOR[1][0]) * scale
    xm = chk.bilinear(dfield[0], rows, cols)
    ym = chk.bilinear(dfield[1], rows, cols)
    kx = K_CAL["r_conversion"] * (xm - K_CAL["r_center"])
    ky = K_CAL["c_conversion"] * (ym - K_CAL["c_center"])
    cx, cy = E_CORR["center"]
    r2 = (xm - cx) ** 2 + (ym - cy) ** 2
    tm = t + -((1.0 - np.sqrt(1.0 - r2 / E_CORR["diameter"] ** 2))
                     * (100.0 * E_CORR["amplitude"]))
    a2, a1 = E_CAL["coeffs"]
    energy = (a2 * tm + a1) * tm + E_CAL["E0"]
    (adc0, adc1), (d0, d1) = D_CAL["adc_range"], D_CAL["delay_range"]
    delay = d0 + (adc - adc0) * (d1 - d0) / (adc1 - adc0)
    keep = np.ones(len(energy), dtype=bool)
    for cut, v in zip(CUTS, (kx, ky, delay)):
        keep &= (v > cut["lower_bound"]) & (v < cut["upper_bound"])
    return chk.histogram([energy[keep]], [E_BINS], [E_RANGE])


class Workflow1D(Workload):
    name = "workflow_1d"
    family = "uniform"
    main_bins = ([E_BINS], ["energy"], [E_RANGE])
    warmup_sequences = 4

    def prepare(self, ctx):
        ctx.state["dfield"] = workflow_dfield()
        ctx.expect["energy"] = workflow_reference(ctx.data.arrays["events"],
                                                  ctx.state["dfield"])

    def events(self, ctx):
        return len(ctx.data.arrays["events"]["X"])

    def setup(self, ctx):
        p = processor(ctx)
        with ctx.span("processor.load"):
            p.load(folder=ctx.data.root)
        events = p.dataframe.persist()
        events.count()
        ctx.state["events"] = events

    @staticmethod
    def transform(ctx, p, name, kwargs):
        """One calibration call on processor ``p``."""
        if callable(kwargs):
            kwargs = kwargs(ctx)
        with ctx.span(f"processor.{name}"):
            return getattr(p, name)(**kwargs)

    def chain(self, ctx, steps: int = len(CHAIN)):
        """A processor with the first ``steps`` calibration transforms applied."""
        p = processor(ctx)
        p.load(dataframe=ctx.state["events"])
        for name, kwargs, _ in CHAIN[:steps]:
            self.transform(ctx, p, name, kwargs)
        return p

    def sequence(self, ctx):
        st: dict[str, Any] = {}

        def load():
            st["p"] = p = processor(ctx)
            with ctx.span("processor.load"):
                return p.load(dataframe=ctx.state["events"])

        def compute():
            with ctx.span("processor.compute"):
                return st["p"].compute(bins=[E_BINS], axes=["energy"], ranges=[E_RANGE],
                                       filters=CUTS)

        def check_compute(res):
            return chk.marginal("energy histogram", res.data, ctx.expect["energy"])

        return [
            Step("load", load, lambda p: has_columns(p.dataframe, JITTER_COLS)),
            *[Step(name,
                   lambda name=name, kwargs=kwargs: self.transform(ctx, st["p"], name, kwargs),
                   lambda p, cols=cols: has_columns(p.dataframe, cols))
              for name, kwargs, cols in CHAIN],
            Step("compute", compute, check_compute),
        ]

    def binned_frame(self, ctx):
        from sed_spark.dfops import apply_filter

        df = self.chain(ctx).dataframe
        for cut in CUTS:
            df = apply_filter(df, cut["col"], cut["lower_bound"], cut["upper_bound"])
        return df

    def probes(self, ctx):
        """Noop-sink time of each chain prefix; a layer's time is the
        increase over the prefix before it."""
        t: dict[str, float] = {}
        for steps, key in enumerate(("base", "jitter", "dfield", "k_axis", None,
                                     "energy", "delay")):
            if key is None:  # energy correction and axis are timed together
                continue
            df = self.chain(ctx, steps).dataframe
            noop(df)  # warm the prefix's generated code
            times = []
            for _ in range(3):
                with ctx.span(f"probe.prefix.{key}") as s:
                    noop(df)
                times.append(s["end"] - s["start"])
            t[key] = float(np.median(times))
        return {
            "dfops.jitter_s": t["jitter"] - t["base"],
            "calibrator.dfield_s": t["dfield"] - t["jitter"],
            "calibrator.k_axis_s": t["k_axis"] - t["dfield"],
            "calibrator.energy_s": t["energy"] - t["k_axis"],
            "calibrator.delay_s": t["delay"] - t["energy"],
        }


# -- calibration_session -------------------------------------------------

TOF_BINS = 560
MOM_BINS, MOM_RANGE = [512, 512], [(0.0, 2048.0), (0.0, 2048.0)]
WARP_SHAPE = (1024, 1024)
WARP_SCALE = WARP_SHAPE[0] / 2048.0  # field nodes per detector pixel
VIEW_BINS = [320, 256, 256]
NORM_BINS = [16, 320]
NORM_RANGE_ADC = (1000.0, 9000.0)
PEAK_TOL = 3.0  # TOF trace bins
ENERGY_TOL = 0.05  # eV, bias-relative feature energies
INV_TOL = 0.01  # field nodes, forward(inverse(q)) - q
WARP_TOL = 0.05  # field nodes, deform(target) - feature


def ideal_targets(features: np.ndarray) -> np.ndarray:
    """Equal-angle ring at the mean radius through the first feature."""
    ring, ctr = features[:-1], features[-1]
    rel = ring - ctr
    radius = float(np.mean(np.hypot(rel[:, 0], rel[:, 1])))
    a0 = float(np.arctan2(rel[0, 1], rel[0, 0]))
    ang = a0 + 2.0 * np.pi * np.arange(len(ring)) / len(ring)
    return ctr + radius * np.column_stack([np.cos(ang), np.sin(ang)])


def tof2ev(d, t0, e0, t):
    tt = np.asarray(t, dtype=np.float64) * gen.BINWIDTH * gen.BINNING - t0
    return gen.TOF2EV_CONST * (d / tt) ** 2 + e0


class CalibrationSession(Workload):
    name = "calibration_session"
    family = "bias"
    extra_layers = {
        "calibrator.estimation_s": "s", "calibrator.inv_dfield_s": "s",
        "calibrator.self_s": "s",
        **{f"processor.{op}_s": "s" for op in (
            "load_bias_series", "find_bias_peaks", "calibrate_energy_axis",
            "bin_and_load_momentum_calibration", "define_features",
            "generate_splinewarp", "view_event_histogram")},
    }

    @property
    def main_bins(self):
        return (NORM_BINS, ["ADC", "t"], [NORM_RANGE_ADC, self.truth["tof_range"]])

    def prepare(self, ctx):
        self.truth = tr = ctx.data.truth
        files = ctx.data.arrays
        names = sorted(files)
        lo_hi = tr["tof_range"]
        ctx.expect["traces"] = np.vstack([
            chk.histogram([files[n]["t"]], [TOF_BINS], [lo_hi])[None] for n in names
        ]) if names else None
        cat = {c: np.concatenate([files[n][c] for n in names]) for c in ("X", "Y", "t", "ADC")}
        two = {c: np.concatenate([files[n][c] for n in names[:2]]) for c in ("X", "Y")}
        ctx.expect["image"] = chk.histogram([two["X"], two["Y"]], MOM_BINS, MOM_RANGE)
        self.view_file = len(names) // 2
        one = files[names[self.view_file]]
        view_ranges = [lo_hi, (0.0, 2048.0), (0.0, 2048.0)]
        ctx.expect["view"] = {
            ax: chk.histogram([one[ax]], [b], [r])
            for ax, b, r in zip(("t", "X", "Y"), VIEW_BINS, view_ranges)
        }
        counts = chk.histogram([cat["ADC"], cat["t"]], NORM_BINS, [NORM_RANGE_ADC, lo_hi])
        dwell = np.zeros(NORM_BINS[0])
        seen = np.zeros(NORM_BINS[0])
        for n in names:
            idx = chk.bin_index(files[n]["ADC"][1:], *NORM_RANGE_ADC, NORM_BINS[0])
            ok = idx >= 0
            dwell += np.bincount(idx[ok], weights=np.diff(files[n]["timeStamp"])[ok],
                                 minlength=NORM_BINS[0])
            seen += np.bincount(idx[ok], minlength=NORM_BINS[0])
        dwell[seen == 0] = np.nan
        with np.errstate(divide="ignore", invalid="ignore"):
            ctx.expect["normalized"] = counts / dwell[:, None]
        self.features = np.vstack([tr["spots"], tr["centre"]]) * WARP_SCALE
        # bytes of the files an op selects through file_id
        size = {os.path.splitext(os.path.basename(f))[0]: os.path.getsize(f)
                for f in ctx.data.files}
        ctx.state["selected"] = {
            "momentum": sum(size[n] for n in names[:2]),
            "view": size[names[self.view_file]],
        }

    def events(self, ctx):
        return sum(len(v["t"]) for v in ctx.data.arrays.values())

    def sequence(self, ctx):
        from sed_spark.calibrator.momentum_estimation import generate_inverse_dfield

        tr = self.truth
        st: dict[str, Any] = {}
        lo, hi = tr["tof_range"]
        tof_w = (hi - lo) / TOF_BINS

        def load():
            st["p"] = p = processor(ctx)
            with ctx.span("processor.load"):
                return p.load(folder=ctx.data.root)

        def check_load(p):
            return has_columns(p.dataframe, ["X", "Y", "t", "ADC", "timeStamp", "row_index",
                                             "file_id"])

        def bias_series():
            with ctx.span("processor.load_bias_series"):
                st["p"].load_bias_series(biases=tr["biases"], tof_column="t",
                                         bins=TOF_BINS, tof_range=(lo, hi))
            return st["p"]._bias_series

        def check_bias(bs):
            return chk.all_of(
                chk.exact("bias traces", bs["traces"], ctx.expect["traces"]),
                chk.close("trace axis", bs["tof"], chk.bin_centers(lo, hi, TOF_BINS)),
            )

        def peaks():
            ref = tr["peak_tof"][0]
            with ctx.span("processor.find_bias_peaks"):
                return st["p"].find_bias_peaks(ranges=(ref - 25 * tof_w, ref + 25 * tof_w),
                                               ref_id=0, pkwindow=3)

        def check_peaks(pk):
            return chk.within("bias peaks", pk[:, 0], tr["peak_tof"], PEAK_TOL * tof_w)

        def energy():
            with ctx.span("processor.calibrate_energy_axis"):
                return st["p"].calibrate_energy_axis(
                    ref_energy=-0.5, method="lmfit",
                    binwidth=gen.BINWIDTH, binning=gen.BINNING)

        def check_energy(cal):
            # d, t0 and E0 trade off against each other over a narrow TOF
            # window, so the check is on what the fit is for: the energies
            # it assigns to the true peak positions follow the biases
            e = tof2ev(cal["d"], cal["t0"], cal["E0"], tr["peak_tof"])
            return chk.within("feature energies", e - e[0],
                              -(tr["biases"] - tr["biases"][0]), ENERGY_TOL)

        def momentum():
            with ctx.span("processor.bin_and_load_momentum_calibration",
                          selected_bytes=ctx.state["selected"]["momentum"]):
                return st["p"].bin_and_load_momentum_calibration(
                    bins=MOM_BINS, axes=["X", "Y"], ranges=MOM_RANGE, df_partitions=2)

        def check_momentum(img):
            return chk.exact("momentum image", img.data, ctx.expect["image"])

        def splinewarp():
            p = st["p"]
            with ctx.span("processor.define_features"):
                p.define_features(self.features, rotation_symmetry=6, include_center=True)
            with ctx.span("processor.generate_splinewarp"):
                p.generate_splinewarp(shape=WARP_SHAPE)
            return p._deform_fields

        def check_warp(fields):
            tg = ideal_targets(self.features)
            got = np.column_stack([chk.bilinear(f, tg[:, 0], tg[:, 1]) for f in fields])
            return chk.all_of(
                chk.exact("field shape", fields[0].shape, WARP_SHAPE),
                chk.within("warp at targets", got, self.features[:-1], WARP_TOL),
            )

        def inverse():
            rdef, cdef = st["p"]._deform_fields
            with ctx.span("calibrator.generate_inverse_dfield"):
                return generate_inverse_dfield(rdef, cdef)

        def check_inverse(inv):
            rdef, cdef = st["p"]._deform_fields
            h, w = rdef.shape
            m = 64
            r, c = inv[0][m:-m, m:-m].ravel(), inv[1][m:-m, m:-m].ravel()
            rr, cc = np.meshgrid(np.arange(m, h - m), np.arange(m, w - m), indexing="ij")
            return chk.all_of(
                chk.within("forward(inverse) rows", chk.bilinear(rdef, r, c), rr.ravel(), INV_TOL),
                chk.within("forward(inverse) cols", chk.bilinear(cdef, r, c), cc.ravel(), INV_TOL),
            )

        def view():
            with ctx.span("processor.view_event_histogram",
                          selected_bytes=ctx.state["selected"]["view"]):
                return st["p"].view_event_histogram(
                    dfpid=self.view_file, bins=VIEW_BINS, axes=["t", "X", "Y"],
                    ranges=[(lo, hi), (0.0, 2048.0), (0.0, 2048.0)])

        def check_view(h):
            return chk.all_of(*[chk.exact(f"view {ax}", h[ax].data, want)
                                for ax, want in ctx.expect["view"].items()])

        def normalized():
            with ctx.span("processor.compute"):
                return st["p"].compute(bins=NORM_BINS, axes=["ADC", "t"],
                                       ranges=[NORM_RANGE_ADC, (lo, hi)],
                                       normalize_to_acquisition_time="ADC")

        def check_normalized(res):
            return chk.close("normalized histogram", res.data, ctx.expect["normalized"])

        return [
            Step("load", load, check_load),
            Step("load_bias_series", bias_series, check_bias),
            Step("find_bias_peaks", peaks, check_peaks),
            Step("calibrate_energy_axis", energy, check_energy),
            Step("bin_and_load_momentum_calibration", momentum, check_momentum),
            Step("generate_splinewarp", splinewarp, check_warp),
            Step("generate_inverse_dfield", inverse, check_inverse),
            Step("view_event_histogram", view, check_view),
            Step("compute_normalized", normalized, check_normalized),
        ]


# -- fel_ingest ----------------------------------------------------------

FEL_IMAGE_BINS = [300, 300]
FEL_IMAGE_RANGE = [(0.0, float(gen.FEL_DETECTOR))] * 2
FEL_DELAY_RANGE = (0.25, 0.25 + 0.5 * gen.FEL_DELAY_STEPS)
FEL_TOF_BINS = [gen.FEL_DELAY_STEPS, 250]
FEL_TIME_UNIT = 0.001  # seconds per pulse, the timed table's default


def fel_reference(tables: dict) -> dict:
    """Channel alignment in numpy: drop negative pulses, forward-fill the
    sparse per-train delay across trains, bin."""
    e, train = tables["electron"], tables["train"]
    keep = e["pulseId"] >= 0
    delay_by_train = np.full(int(train["trainId"].max()) + 1, np.nan)
    filled, last = np.empty(len(train["delayStage"])), np.nan
    for i, v in enumerate(train["delayStage"]):
        last = v if not np.isnan(v) else last
        filled[i] = last
    delay_by_train[train["trainId"]] = filled
    tid, pid = e["trainId"][keep], e["pulseId"][keep]
    delay = delay_by_train[tid]
    counts = chk.histogram([delay, e["dldTime"][keep]], FEL_TOF_BINS,
                           [FEL_DELAY_RANGE, gen.FEL_TOF])
    pulses = np.unique(tid * 1_000_000 + pid)
    pidx = chk.bin_index(delay_by_train[pulses // 1_000_000], *FEL_DELAY_RANGE,
                         FEL_TOF_BINS[0])
    per_bin = np.bincount(pidx[pidx >= 0], minlength=FEL_TOF_BINS[0]) * FEL_TIME_UNIT
    with np.errstate(divide="ignore", invalid="ignore"):
        normalized = counts / per_bin[:, None]
    return {
        "rows": int(keep.sum()),
        "image": chk.histogram([e["dldPosX"][keep], e["dldPosY"][keep]],
                               FEL_IMAGE_BINS, FEL_IMAGE_RANGE),
        "normalized": normalized,
    }


class FelIngest(Workload):
    name = "fel_ingest"
    family = "fel"
    main_bins = (FEL_IMAGE_BINS, ["dldPosX", "dldPosY"], FEL_IMAGE_RANGE)
    extra_layers = {"loader.align_s": "s", "loader.stage_write_s": "s",
                    "loader.stage_bytes": "bytes", "loader.self_s": "s"}
    warmup_sequences = 3

    def prepare(self, ctx):
        ctx.expect.update(fel_reference(ctx.data.arrays))

    def events(self, ctx):
        return len(ctx.data.arrays["electron"]["trainId"])

    def setup(self, ctx):
        from sed_spark.loader.flash import BufferStage, FlashLikeLoader

        ctx.state["loader"] = FlashLikeLoader(spark=ctx.spark,
                                              config={"fill_channels": ["delayStage"]})
        ctx.state["stage"] = BufferStage(os.path.join(ctx.work, "stage"))

    def aligned(self, ctx):
        df, _ = ctx.state["loader"].read_dataframe(folder=ctx.data.root)
        return df

    def sequence(self, ctx):
        from sed_spark.loader.flash import timed_dataframe_from_pulses

        st: dict[str, Any] = {}
        want_cols = {"trainId", "pulseId", "dldPosX", "dldPosY", "dldTime", "bam",
                     "delayStage", "gmd"}

        def read():
            with ctx.span("loader.read_dataframe"):
                st["aligned"] = self.aligned(ctx)
            return st["aligned"]

        def check_read(df):
            return has_columns(df, want_cols)

        def materialize():
            with ctx.span("loader.materialize") as s:
                path = ctx.state["stage"].materialize(st["aligned"], "run", force=True)
                if s is not None:
                    s["attrs"]["stage_bytes"] = gen.path_bytes(path)
            return path

        def check_materialize(path):
            ok = os.path.isdir(path) and gen.path_bytes(path) > 0
            return ok, "" if ok else f"no staged parquet at {path}"

        def read_back():
            with ctx.span("loader.stage_load"):
                st["back"] = ctx.state["stage"].load(ctx.spark, ["run"])
                return st["back"].count()

        def check_rows(n):
            return chk.exact("staged rows", n, ctx.expect["rows"])

        def image():
            st["p"] = p = processor(ctx)
            with ctx.span("processor.load"):
                p.load(dataframe=st["back"], timed_dataframe=timed_dataframe_from_pulses(
                    st["back"], pulse_channels=["delayStage"]))
            with ctx.span("processor.compute"):
                return p.compute(bins=FEL_IMAGE_BINS, axes=["dldPosX", "dldPosY"],
                                 ranges=FEL_IMAGE_RANGE)

        def check_image(res):
            return chk.exact("detector image", res.data, ctx.expect["image"])

        def tof():
            with ctx.span("processor.compute"):
                return st["p"].compute(bins=FEL_TOF_BINS, axes=["delayStage", "dldTime"],
                                       ranges=[FEL_DELAY_RANGE, gen.FEL_TOF],
                                       normalize_to_acquisition_time="delayStage")

        def check_tof(res):
            return chk.close("normalized TOF histogram", res.data, ctx.expect["normalized"])

        return [
            Step("read_dataframe", read, check_read),
            Step("materialize", materialize, check_materialize),
            Step("read_back", read_back, check_rows),
            Step("detector_image", image, check_image),
            Step("tof_histogram", tof, check_tof),
        ]

    def scan_frame(self, ctx):
        return ctx.spark.read.parquet(os.path.join(ctx.data.root, "electron.parquet"))

    def binned_frame(self, ctx):
        return ctx.state["stage"].load(ctx.spark, ["run"])

    def probes(self, ctx):
        df = self.aligned(ctx)
        noop(df)
        times = []
        for _ in range(3):
            with ctx.span("probe.loader.align") as s:
                noop(df)
            times.append(s["end"] - s["start"])
        return {"loader.align_s": float(np.median(times))}


WORKLOADS = {w.name: w for w in (BulkBin4D, Workflow1D, CalibrationSession, FelIngest)}
