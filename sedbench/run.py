"""Run one sed benchmark workload and print its metrics.

    python3 sedbench/run.py --workload bulk_bin_4d --seed 1 --seconds 10 --trace 0

Run from the repository root. The benchmark generates the workload's inputs
from ``--seed`` (cached under ``.sedbench/data``), starts a SparkSession on
``local[nproc]`` with a driver heap sized from the host's memory, and sets
up ``SETUPS`` times (stopping and restarting the session in between) to
report the median set-up time. It then runs the workload's untimed warm-up
sequences and a closed loop with one client: each sequence of operations
starts only after the previous one finished, until ``--seconds`` have
passed. Every operation's output is checked against an independent numpy
reference.

``--trace 1`` alternates untraced and traced sequences (the difference of
their medians is the tracing overhead), then times single layers with
probes, and prints per-layer metrics instead of end-to-end ones; its spans
and Spark stage counters go to ``.sedbench/traces/``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before it
is a JSON report of the host, the inputs, the time of each phase, the
failure ratio and the first failures.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import threading
import time
import traceback
from collections import defaultdict
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".sedbench")
SETUPS = 5
# stop starting new sequences this long after launch, so a slow host still
# exits well inside the 180 s a run may take
DEADLINE_S = 140.0
# timed repetitions of each layer probe in a traced run
PROBE_REPS = 2

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "events_per_s": "events/s",
    "ok_ratio": "ratio",
    "py_peak_mb": "MB",
}

# public SedProcessor calls the workloads in BENCHMARK.json make; the other
# workloads add theirs through ``Workload.extra_layers``
PROCESSOR_OPS = (
    "load", "compute", "save", "add_jitter", "apply_momentum_correction",
    "apply_momentum_calibration", "apply_energy_correction", "append_energy_axis",
    "calibrate_delay_axis",
)
SELF_LAYERS = ("bench", "processor")

PER_LAYER = {
    "session.start_s": "s",
    "loader.scan_s": "s",
    "loader.input_bytes": "bytes",
    "loader.rows": "count",
    "loader.read_amplification": "ratio",
    "dfops.jitter_s": "s",
    "calibrator.dfield_s": "s",
    "calibrator.k_axis_s": "s",
    "calibrator.energy_s": "s",
    "calibrator.delay_s": "s",
    "binning.bin_s": "s",
    "binning.agg_s": "s",
    "binning.densify_s": "s",
    "binning.cube_cells": "count",
    "binning.occupied_cells": "count",
    "binning.in_range_ratio": "ratio",
    "io.save_s": "s",
    "io.bytes_written": "bytes",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.executor_run_s": "s",
    "spark.gc_s": "s",
    **{f"processor.{op}_s": "s" for op in PROCESSOR_OPS},
    **{f"{layer}.self_s": "s" for layer in SELF_LAYERS},
    "trace.overhead_s": "s",
}

ESTIMATION_SPANS = ("processor.find_bias_peaks", "processor.calibrate_energy_axis",
                    "processor.generate_splinewarp")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


# -- host ------------------------------------------------------------------

def host_config() -> dict:
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    mem_mb = mem_kb // 1024
    # a fifth of the host's memory, between 1 and 4 GiB: the driver JVM
    # shares the host with the Python process that holds the dense cube
    heap_mb = int(min(4096, max(1024, mem_mb // 5)))
    import numpy
    import pyspark

    return {
        "nproc": nproc,
        "mem_total_mb": mem_mb,
        "driver_heap_mb": heap_mb,
        "loadavg": list(os.getloadavg()),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "numpy": numpy.__version__,
    }


def spark_conf(host: dict, work: str, tmp: str, trace: bool) -> dict:
    conf = {
        "spark.driver.memory": f"{host['driver_heap_mb']}m",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a heap at its full size from the start: a growing heap collects
        # more often while it grows, which reads as a slow warm-up
        "spark.driver.extraJavaOptions": (f"-Xms{host['driver_heap_mb']}m "
                                          f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if trace else "false",
    }
    if trace:
        conf.update({
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedTasks": "1000",
        })
    return conf


def release_free_memory() -> None:
    """Collect garbage and hand freed heap back to the OS, so each
    sequence's peak resident set starts from the same floor."""
    import ctypes

    import pyarrow

    gc.collect()
    pyarrow.default_memory_pool().release_unused()
    try:
        trim = ctypes.CDLL("libc.so.6").malloc_trim
    except (OSError, AttributeError):  # not glibc
        return
    trim.argtypes, trim.restype = [ctypes.c_size_t], ctypes.c_int
    trim(0)


class PeakRss:
    """Peak resident set of this process, sampled while the block runs."""

    def __init__(self, interval_s: float = 0.005):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._sample, daemon=True)

    def _rss(self) -> int:
        with open("/proc/self/statm") as f:
            return int(f.read().split()[1]) * self._page

    def _sample(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._rss())
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self.peak = self._rss()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, self._rss())


# -- running sequences -----------------------------------------------------

class Tally:
    """Operations attempted and failed, with the first failures' reasons."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def record(self, name: str, ok: bool, why: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.reasons) < 20:
                self.reasons.append(f"{name}: {why}")


def run_sequence(wl, ctx, tally: Tally) -> list[tuple[str, float]]:
    """Run one sequence; returns (op name, latency) of the ops that passed.

    An op that raises ends the sequence: it and every op after it count as
    failed, since later ops depend on earlier results.
    """
    steps = wl.sequence(ctx)
    done = []
    for k, step in enumerate(steps):
        try:
            with ctx.span("bench.op", op=step.name):
                t0 = time.perf_counter()
                out = step.run()
                dt = time.perf_counter() - t0
        except Exception:  # noqa: BLE001 - the run must go on and report it
            traceback.print_exc(file=sys.stderr)
            tally.record(step.name, False, "raised (traceback on stderr)")
            for rest in steps[k + 1:]:
                tally.record(rest.name, False, "skipped after an earlier failure")
            break
        try:
            ok, why = step.check(out)
        except Exception as exc:  # noqa: BLE001 - a crashing check is a failed op
            ok, why = False, f"check raised {exc!r}"
        tally.record(step.name, ok, why)
        if ok:
            done.append((step.name, dt))
    return done


# -- per-layer metrics -----------------------------------------------------

def span_s(s: dict) -> float:
    return s["end"] - s["start"]


def probe_layers(wl, ctx) -> dict[str, float]:
    """Single-layer timings from outside: scan, histogram, aggregate."""
    import numpy as np
    from sed_spark.binning import bin_dataframe

    from workloads import noop

    df = wl.scan_frame(ctx)
    bins, axes, ranges = wl.main_bins
    bdf = wl.binned_frame(ctx)
    rows = bdf.count()
    # one untimed pass each compiles the plans; then PROBE_REPS timed ones
    for rep in range(1 + PROBE_REPS):
        timed = rep > 0
        with ctx.span("probe.loader.scan", selected_bytes=ctx.data.nbytes) if timed else nullcontext():
            noop(df)
        with ctx.span("probe.binning.bin") if timed else nullcontext():
            res = bin_dataframe(bdf, bins, axes, ranges)
    out = {
        "binning.cube_cells": float(np.prod(bins)),
        "binning.occupied_cells": float(np.count_nonzero(res.data)),
        "binning.in_range_ratio": float(res.data.sum()) / rows if rows else 0.0,
    }
    out.update(wl.probes(ctx))
    return out


def layer_metrics(tracer, traced_runs: set, probed: dict, starts: list,
                  overhead_s: float, names: dict) -> dict[str, float]:
    from spans import median, self_times

    selft = self_times(tracer.spans)
    per_run: dict[int, dict[str, float]] = {r: defaultdict(float) for r in traced_runs}
    for s in tracer.spans:
        if s["run"] not in per_run:
            continue
        acc = per_run[s["run"]]
        dur = span_s(s)
        acc[f"{s['name']}_s"] += dur
        acc[f"{s['name'].split('.')[0]}.self_s"] += selft[s["id"]]
        for k, v in s.get("spark", {}).items():
            acc[f"spark.{k}"] += v
        if s["name"] in ESTIMATION_SPANS:
            acc["calibrator.estimation_s"] += dur
        if s["name"] == "calibrator.generate_inverse_dfield":
            acc["calibrator.inv_dfield_s"] += dur
        if s["name"] == "processor.save":
            acc["io.save_s"] += dur
            acc["io.bytes_written"] += s["attrs"].get("bytes_written", 0)
        if s["name"] == "loader.materialize":
            acc["loader.stage_bytes"] += s["attrs"].get("stage_bytes", 0)
        if "selected_bytes" in s["attrs"]:
            acc["selected_bytes"] += s["attrs"]["selected_bytes"]
            acc["selected_read_bytes"] += s["jvm_read_bytes"]

    runs = list(per_run.values())

    def per_seq(name: str) -> float:
        return median(r.get(name, 0.0) for r in runs)

    out = {name: per_seq(name) for name in names}
    probes = [s for s in tracer.spans if s["run"] == "probe"]

    def probe_median(name: str, field: str | None = None) -> float:
        vals = [span_s(s) if field is None else s.get("spark", {}).get(field, 0.0)
                for s in probes if s["name"] == name]
        return median(vals)

    out["session.start_s"] = median(starts)
    out["loader.scan_s"] = probe_median("probe.loader.scan")
    out["loader.input_bytes"] = median(s["jvm_read_bytes"] for s in probes
                                       if s["name"] == "probe.loader.scan")
    out["loader.rows"] = probe_median("probe.loader.scan", "input_records")
    # bytes the driver JVM read per byte of the files an op selects: file
    # selection ops when the workload has them, else the plain scan
    selected = sum(r.get("selected_bytes", 0.0) for r in runs)
    if selected:
        read = sum(r.get("selected_read_bytes", 0.0) for r in runs)
    else:
        scans = [s for s in probes if s["name"] == "probe.loader.scan"]
        selected = sum(s["attrs"]["selected_bytes"] for s in scans)
        read = sum(s["jvm_read_bytes"] for s in scans)
    out["loader.read_amplification"] = read / selected if selected else 0.0
    out["binning.bin_s"] = probe_median("probe.binning.bin")
    # the aggregate is the Spark job inside the histogram call; the
    # driver-side rest (Arrow feed, scatter into the dense cube) is densify
    out["binning.agg_s"] = probe_median("probe.binning.bin", "job_s")
    out["binning.densify_s"] = out["binning.bin_s"] - out["binning.agg_s"]
    out.update({k: v for k, v in probed.items() if k in names})
    if "loader.align_s" in probed:
        out["loader.stage_write_s"] = per_seq("loader.materialize_s") - probed["loader.align_s"]
    out["trace.overhead_s"] = overhead_s
    return out


# -- main --------------------------------------------------------------------

def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)


def run(args) -> dict:
    launched = time.perf_counter()
    tmp = os.path.join(STATE, "tmp")
    work = os.path.join(STATE, "work", str(os.getpid()))
    for d in (tmp, work):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # Spark prefers this variable over spark.local.dir; keep shuffle files
    # inside the checkout whatever the caller's environment says
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tempfile.tempdir = None

    from sed_spark.session import get_spark

    import gen
    from spans import Tracer, fail_accounting, median
    from workloads import WORKLOADS, Context

    phases: dict[str, float] = {}
    mark = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal mark
        now = time.perf_counter()
        phases[name] = now - mark
        mark = now

    host = host_config()
    wl = WORKLOADS[args.workload]()
    data = gen.build(wl.family, args.seed, os.path.join(STATE, "data"))
    phase("generate")
    tracer = Tracer(False)
    ctx = Context(None, tracer, data, work)
    wl.prepare(ctx)
    inputs = data.describe()
    events = wl.events(ctx)
    data.arrays = {}  # the checks only need the expected outputs now
    phase("reference")

    conf = spark_conf(host, work, tmp, bool(args.trace))
    master = f"local[{host['nproc']}]"
    spark = None
    tally = Tally()
    try:
        setups, starts = [], []
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = get_spark(app_name="sedbench", master=master, extra_conf=conf)
            t1 = time.perf_counter()
            spark.sparkContext.setLogLevel("ERROR")
            ctx.spark = spark
            tracer.bind(spark)
            wl.setup(ctx)
            setups.append(time.perf_counter() - t0)
            starts.append(t1 - t0)
        host["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
        phase("setup")

        for _ in range(wl.warmup_sequences):
            run_sequence(wl, ctx, tally)
        phase("warmup")

        seq_s: dict[bool, list[float]] = {False: [], True: []}
        ops: list[tuple[str, float]] = []
        traced_runs: set = set()
        with PeakRss() as rss:
            t_start = time.perf_counter()
            i = 0
            while True:
                elapsed = time.perf_counter() - t_start
                need = 2 if args.trace else 1
                if i >= need and (elapsed >= args.seconds
                                  or time.perf_counter() - launched > DEADLINE_S):
                    break
                traced = bool(args.trace) and i % 2 == 1
                tracer.enabled = traced
                tracer.run_id = i
                release_free_memory()  # untimed, between sequences
                done = run_sequence(wl, ctx, tally)
                tracer.enabled = False
                if traced:
                    traced_runs.add(i)
                if done:
                    seq_s[traced].append(sum(dt for _, dt in done))
                    if not traced:
                        ops.extend(done)
                i += 1
        phase("measure")

        if not args.trace:
            run_s = median(seq_s[False])
            metrics = {
                "setup_s": median(setups),
                "run_s": run_s,
                "events_per_s": events / run_s if run_s else 0.0,
                "ok_ratio": fail_accounting(tally.attempted, tally.failed),
                "py_peak_mb": rss.peak / 2**20,
            }
            units = END_TO_END
        else:
            tracer.enabled = True
            tracer.run_id = "probe"
            probed = probe_layers(wl, ctx)
            tracer.enabled = False
            tracer.attach_stage_metrics()
            overhead = median(seq_s[True]) - median(seq_s[False])
            units = {**PER_LAYER, **wl.extra_layers}
            metrics = layer_metrics(tracer, traced_runs, probed, starts, overhead, units)
            phase("probe")
            os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
            tracer.dump(
                os.path.join(STATE, "traces", f"{args.workload}-seed{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed, "host": host,
                 "inputs": inputs, "metrics": metrics},
            )
        report = {
            "workload": args.workload, "seed": args.seed, "host": host,
            "inputs": inputs, "events_per_sequence": events,
            "setups_s": setups,
            "sequences_s": {"untraced": seq_s[False], "traced": seq_s[True]},
            "op_samples": len(ops), "phases_s": phases,
            "fail_ratio": tally.failed / tally.attempted, "failures": tally.reasons,
            "op_median_s": {name: median(dt for n, dt in ops if n == name)
                            for name in dict.fromkeys(n for n, _ in ops)},
        }
        print(json.dumps(report), flush=True)
        return {
            "correct": tally.failed == 0,
            "attempted": tally.attempted,
            "failed": tally.failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": u}
                        for k, u in units.items()},
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import sed_spark  # noqa: F401
    except ImportError:
        print("sed_spark is not importable: run from the root of a checkout of the "
              "repository", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
