"""Seeded input generator for the sed benchmark.

Every workload's inputs are a pure function of ``(family, seed)`` at the
family's size in ``SIZES``: the arrays are drawn in memory from
``numpy.random.default_rng(seed)`` and written once per ``(family, seed,
size)`` into the data cache, outside any
timed region. The program under test only ever receives the written files;
the in-memory arrays feed the benchmark's own numpy output checks.

Detector-style columns (``X``, ``Y``, ``t``, ``ADC``, ``dldPos*``,
``dldTime``) are integer-valued float32, as digital detector readouts are.

Families:

* ``uniform`` — uniform events over a box slightly wider than the binning
  ranges (so some events fall out of range), split over 16 parquet files.
  Used by ``bulk_bin_4d`` and ``workflow_1d``.
* ``bias`` — a bias series: one parquet file per bias voltage. Each file's
  TOF holds a main photoemission peak whose position follows the physical
  TOF→energy model for that bias, plus a weaker side peak and background;
  ``X``/``Y`` hold a 6-fold spot pattern around the detector centre;
  ``ADC`` scans slowly over each file's acquisition; ``timeStamp`` and
  ``row_index`` give per-file acquisition order. Data is peaked, so
  histogram occupancy is low. Used by ``calibration_session``.
* ``fel`` — FEL-style per-electron, per-pulse and per-train tables: a few
  electrons carry negative pulse ids, the per-pulse ``bam`` channel has
  gaps, and the per-train ``delayStage`` channel is recorded on only some
  trains (the loader forward-fills it). Used by ``fel_ingest``.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# TOF→energy model constants (kinetic energy E = C·(d/(t·bw·binning − t0))² + E0)
TOF2EV_CONST = 2.84281e-12
BINWIDTH = 4.125e-12
BINNING = 2

# number of generated datasets kept in the cache before the oldest is evicted
CACHE_KEEP = 4

# Sizes are chosen so that every workload's op sequence runs in seconds on
# a 4-core host. The generator functions take a ``scale`` that multiplies the
# event counts, so tests can draw tiny inputs; the benchmark uses scale 1.
SIZES = {
    "uniform": {"events": 2_000_000, "files": 16},
    "bias": {"files": 16, "events_per_file": 60_000},
    "fel": {"trains": 2_000, "pulses": 100, "electrons_per_pulse": 5.0},
}

UNIFORM_BOX = {"X": (-64, 2112), "Y": (-64, 2112), "t": (63_000, 97_000), "ADC": (0, 10_000)}

FEL_DETECTOR = 3000
FEL_TOF = (5_000, 7_500)
FEL_DELAY_STEPS = 20


@dataclass
class Dataset:
    """Generated inputs: where the files are, and the arrays behind them."""

    family: str
    seed: int
    root: str
    files: list[str]
    arrays: dict[str, dict[str, np.ndarray]]
    truth: dict = field(default_factory=dict)

    @property
    def nbytes(self) -> int:
        return sum(path_bytes(f) for f in self.files)

    def describe(self) -> dict:
        return {
            "family": self.family,
            "seed": self.seed,
            "files": len(self.files),
            "bytes": self.nbytes,
            "rows": {k: int(len(next(iter(v.values())))) for k, v in self.arrays.items()},
        }


def path_bytes(path: str) -> int:
    if os.path.isdir(path):
        return sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(path) for f in fs
        )
    return os.path.getsize(path)


def _ints(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    return rng.integers(lo, hi, n).astype(np.float32)


def uniform_events(seed: int, scale: float = 1.0) -> dict[str, dict[str, np.ndarray]]:
    """Uniform integer-valued events; ``file_id`` is the file each row goes to."""
    size = SIZES["uniform"]
    n = max(size["files"], int(size["events"] * scale))
    rng = np.random.default_rng(seed)
    cols = {c: _ints(rng, lo, hi, n) for c, (lo, hi) in UNIFORM_BOX.items()}
    cols["file_id"] = (np.arange(n) * size["files"] // n).astype(np.int32)
    return {"events": cols}


def tof_of_energy(ek: np.ndarray, d: float, t0: float) -> np.ndarray:
    """TOF (in bins) of electrons with kinetic energy ``ek`` (model inverse)."""
    return (d * np.sqrt(TOF2EV_CONST / ek) + t0) / (BINWIDTH * BINNING)


def bias_truth(files: int) -> dict:
    """The calibration the bias series is generated from."""
    d, t0, e0 = 1.1, 1.5e-7, -50.0
    biases = 10.0 + 0.5 * np.arange(files)
    ek = -e0 - biases
    pos = tof_of_energy(ek, d, t0)
    ring_ang = np.deg2rad(15.0) + 2 * np.pi * np.arange(6) / 6
    radius = np.array([400.0, 410.0, 392.0, 405.0, 396.0, 402.0])
    centre = np.array([1024.0, 1024.0])
    spots = centre + radius[:, None] * np.column_stack([np.cos(ring_ang), np.sin(ring_ang)])
    return {
        "d": d, "t0": t0, "E0": e0,
        "biases": biases, "peak_tof": pos,
        "spots": spots, "centre": centre,
        # TOF window holding every file's features, on whole-bin edges
        "tof_range": (float(np.floor(pos.min() / 100) * 100 - 1200),
                      float(np.ceil(pos.max() / 100) * 100 + 1200)),
    }


def bias_series(seed: int, scale: float = 1.0) -> tuple[dict, dict]:
    size = SIZES["bias"]
    files = size["files"]
    per = max(100, int(size["events_per_file"] * scale))
    truth = bias_truth(files)
    rng = np.random.default_rng(seed)
    lo, hi = truth["tof_range"]
    out: dict[str, dict[str, np.ndarray]] = {}
    for k in range(files):
        n_main, n_side = int(per * 0.55), int(per * 0.2)
        n_bg = per - n_main - n_side
        side = tof_of_energy(-truth["E0"] - truth["biases"][k] - 3.0, truth["d"], truth["t0"])
        t = np.concatenate([
            rng.normal(truth["peak_tof"][k], 40.0, n_main),
            rng.normal(side, 60.0, n_side),
            rng.uniform(lo, hi, n_bg),
        ])
        which = rng.integers(0, 8, per)  # 6 spots, centre, background
        pts = np.vstack([truth["spots"], truth["centre"]])
        xy = pts[np.minimum(which, 6)] + rng.normal(0.0, 25.0, (per, 2))
        bg = which == 7
        xy[bg] = rng.uniform(0, 2048, (int(bg.sum()), 2))
        order = rng.permutation(per)
        gaps = rng.exponential(1e-4, per)
        out[f"bias_{k:02d}"] = {
            "X": np.rint(xy[:, 0]).astype(np.float32),
            "Y": np.rint(xy[:, 1]).astype(np.float32),
            "t": np.rint(t[order]).astype(np.float32),
            # delay-stage readout scanning once per acquisition; half-integer
            # so it never sits on an integer bin edge
            "ADC": (np.floor(1000 + 8000 * np.arange(per) / per
                             + rng.normal(0, 20, per)) + 0.5).astype(np.float32),
            "timeStamp": 1.7e9 + 600.0 * k + np.cumsum(gaps),
            "row_index": np.arange(per, dtype=np.int64),
        }
    return out, truth


def fel_tables(seed: int, scale: float = 1.0) -> dict[str, dict[str, np.ndarray]]:
    size = SIZES["fel"]
    trains = max(8, int(size["trains"] * scale))
    pulses = size["pulses"]
    rng = np.random.default_rng(seed)
    per_pulse = rng.poisson(size["electrons_per_pulse"], trains * pulses)
    train_of_pulse = np.repeat(np.arange(trains, dtype=np.int64), pulses)
    pulse_of_pulse = np.tile(np.arange(pulses, dtype=np.int64), trains)
    train_id = np.repeat(train_of_pulse, per_pulse)
    pulse_id = np.repeat(pulse_of_pulse, per_pulse)
    n = len(train_id)
    # a few hits outside the pulse pattern carry negative pulse ids
    neg = rng.random(n) < 0.002
    pulse_id = np.where(neg, -1 - rng.integers(0, 3, n), pulse_id)
    electron = {
        "trainId": train_id,
        "pulseId": pulse_id,
        "dldPosX": _ints(rng, 0, FEL_DETECTOR, n),
        "dldPosY": _ints(rng, 0, FEL_DETECTOR, n),
        "dldTime": np.rint(np.where(
            rng.random(n) < 0.6,
            rng.normal(6_000, 300, n),
            rng.uniform(FEL_TOF[0] - 200, FEL_TOF[1] + 200, n),
        )).astype(np.float32),
    }
    bam = rng.normal(0.0, 1.0, trains * pulses)
    bam[rng.random(trains * pulses) < 0.3] = np.nan
    pulse = {"trainId": train_of_pulse, "pulseId": pulse_of_pulse, "bam": bam}
    # the delay stage steps every 100 trains and is read out on every 4th
    step = (np.arange(trains) // 100) % FEL_DELAY_STEPS
    delay = 0.5 * step + 0.25
    delay[np.arange(trains) % 4 != 0] = np.nan
    train = {
        "trainId": np.arange(trains, dtype=np.int64),
        "delayStage": delay,
        "gmd": rng.normal(50.0, 5.0, trains),
    }
    return {"electron": electron, "pulse": pulse, "train": train}


def _table(cols: dict[str, np.ndarray]) -> pa.Table:
    # NaN marks a channel value that was not recorded: stage it as null,
    # as pandas-written buffers do
    return pa.table({k: pa.array(v, from_pandas=True) for k, v in cols.items()})


def _write_table(cols: dict[str, np.ndarray], path: str, parts: int = 1) -> None:
    n = len(next(iter(cols.values())))
    if parts == 1:
        pq.write_table(_table(cols), path)
        return
    os.makedirs(path)
    for p in range(parts):
        sl = slice(n * p // parts, n * (p + 1) // parts)
        pq.write_table(_table({k: v[sl] for k, v in cols.items()}),
                       os.path.join(path, f"part-{p:03d}.parquet"))


def _write(family: str, arrays: dict, root: str) -> list[str]:
    files = []
    if family == "uniform":
        ev = arrays["events"]
        cols = {c: ev[c] for c in UNIFORM_BOX}
        for k in range(SIZES["uniform"]["files"]):
            sel = ev["file_id"] == k
            path = os.path.join(root, f"events_{k:03d}.parquet")
            pq.write_table(pa.table({c: v[sel] for c, v in cols.items()}), path)
            files.append(path)
    elif family == "bias":
        for name, cols in arrays.items():
            path = os.path.join(root, f"{name}.parquet")
            pq.write_table(pa.table(cols), path)
            files.append(path)
    else:
        for name, parts in (("electron", 8), ("pulse", 1), ("train", 1)):
            path = os.path.join(root, f"{name}.parquet")
            _write_table(arrays[name], path, parts)
            files.append(path)
    return files


def build(family: str, seed: int, data_root: str) -> Dataset:
    """Draw the family's arrays for ``seed`` and write them once to the cache.

    A cached dataset is reused only if it was written at the family's
    current size."""
    truth: dict = {}
    if family == "uniform":
        arrays = uniform_events(seed)
    elif family == "bias":
        arrays, truth = bias_series(seed)
    elif family == "fel":
        arrays = fel_tables(seed)
    else:
        raise ValueError(f"unknown input family {family!r}")
    root = os.path.join(data_root, f"{family}-seed{seed}")
    manifest = os.path.join(root, "manifest.json")
    cached = None
    if os.path.exists(manifest):
        with open(manifest) as f:
            cached = json.load(f)
    if cached is not None and cached["size"] == SIZES[family]:
        files = [os.path.join(root, p) for p in cached["files"]]
        os.utime(root)
    else:
        os.makedirs(data_root, exist_ok=True)
        tmp = f"{root}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        names = [os.path.basename(p) for p in _write(family, arrays, tmp)]
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump({"files": names, "size": SIZES[family]}, f)
        shutil.rmtree(root, ignore_errors=True)
        os.rename(tmp, root)
        files = [os.path.join(root, p) for p in names]
        _evict(data_root, keep=root)
    return Dataset(family, seed, root, files, arrays, truth)


def _evict(data_root: str, keep: str) -> None:
    """Drop the least recently used datasets beyond ``CACHE_KEEP``."""
    dirs = [os.path.join(data_root, d) for d in os.listdir(data_root)]
    dirs = [d for d in dirs if os.path.isdir(d) and d != keep]
    dirs.sort(key=os.path.getmtime, reverse=True)
    for d in dirs[CACHE_KEEP - 1:]:
        shutil.rmtree(d, ignore_errors=True)
