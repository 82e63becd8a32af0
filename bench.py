#!/usr/bin/env python
"""Benchmark harness — prints ONE JSON line for the round driver.

Three phases, ordered so the headline baseline-parity numbers are measured
on a cold, isolated session (round-4 recorded binning_4d at 3.8x baseline
purely because the synthetic phase ran AFTER the 72 s suite phase had
heated the JVM heap and page cache; the same plan measured 0.61x in
interleaved A/B runs):

1. ``inv_dfield`` — pure numpy, measured before any Spark JVM exists;
2. baseline-parity synthetic benchmarks in a DEDICATED SparkSession that is
   stopped before anything else runs: 1e8 rows x (X, Y, t, ADC) uniform in
   the reference's physical ranges (seeded ``rand``), with ``binning_1d``,
   ``binning_4d``, ``workflow_1d``, ``workflow_4d`` timed exactly like the
   reference (full lazy transform chain re-executed per ``compute()``;
   dense result densified on the driver) — reference
   ``benchmarks/benchmark_sed.py:24-63``;
3. every suite query timed at ``$SPARK_GRAFT_SF_DIR`` (default sf0.1) in a
   second SparkSession, materialized through the noop sink (measures
   compute, not collect).

Every metric records ALL rep times (``reps`` in the JSON), not just the
best-of-N, so a noisy host is visible in the artifact itself. Round 10
added the CANARY GATE: each rep waits (bounded) for the contention canary
to return to the quiet band before starting, and the record carries an
explicit ``canary_ok`` verdict — a contaminated run can no longer read
as a clean one.

Round 11 makes the record RESUMABLE PER METRIC: the full record carries a
``canary_ok_by_metric`` map (each metric's own reps judged against the
quiet band), and ``SPARK_GRAFT_BENCH_ONLY=<names>`` re-runs just those
metrics/phases and SPLICES them into the existing ``BENCH_full.json``
(all other rows kept verbatim), recomputing totals + verdicts. Sustained
host noise rarely spans a whole 900 s window AND a later quiet retry, so
contaminated rows can be replaced one by one until every row is clean —
``canary_ok`` is now simply "every metric's own band was quiet".
Accepted tokens: any metric name (``inv_dfield``, ``binning_4d``,
``q_asof_ops``, ...), the phase aliases ``synthetic`` (all four phase-2
metrics) and ``suite`` (every registered query).

Output: {"metric": "suite_total", "value": <sec>, "unit": "sec",
         "queries": {...}, "canary_ok": bool, "sf": <sf>}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SYNTH_METRICS = ("binning_1d", "binning_4d", "workflow_1d", "workflow_4d")


def band_ok(vals: list[float], abs_ceiling: float) -> bool:
    """Per-metric canary verdict: a metric's reps are trustworthy iff its
    own canary samples sat in the quiet band — min must touch the
    absolute quiet ceiling (an all-loud metric must not self-certify via
    a relative band around an inflated floor) and max must stay within
    1.5x of that quiet floor (or the ceiling, whichever is larger)."""
    return (
        bool(vals)
        and min(vals) <= abs_ceiling
        and max(vals) <= max(1.5 * min(vals), abs_ceiling)
    )


def parse_only(raw: str, registry_names) -> set[str] | None:
    """Parse ``SPARK_GRAFT_BENCH_ONLY`` into the selected metric set.
    Empty/unset → None = full run. Tokens: metric names, ``synthetic``
    (all four phase-2 metrics), ``suite`` (every registered query)."""
    raw = (raw or "").strip()
    if not raw:
        return None
    selected: set[str] = set()
    for tok in (t.strip() for t in raw.split(",")):
        if not tok:
            continue
        if tok == "synthetic":
            selected.update(SYNTH_METRICS)
        elif tok == "suite":
            selected.update(f"q_{n}" for n in registry_names)
        elif tok in ("inv_dfield", *SYNTH_METRICS) or (
            tok.startswith("q_") and tok[2:] in registry_names
        ):
            selected.add(tok)
        else:
            raise SystemExit(
                f"bench: unknown SPARK_GRAFT_BENCH_ONLY token {tok!r} "
                "(metric name, 'synthetic', or 'suite')",
            )
    return selected


def min_rep_flanked_ok(
    reps: list[float],
    canaries: list[list[float]],
    ceilings: tuple[float, ...],
) -> bool:
    """Certify a best-of-N metric: its RECORDED value is min(reps), so
    what must be quiet is the canary sampling that FLANKS that min rep —
    the sample taken just before it and (when recorded) the one taken
    just after (each canary list may carry one trailing post-run sample,
    so rep i is flanked by samples i and i+1). Quiet = at or under the
    absolute ceiling for that canary kind; other reps may have run loud
    without invalidating the min. A mid-rep noise pulse invisible to
    both flanking samples remains the residual risk — the same limit the
    manual quiet-flank adjudication protocol has."""
    if not reps or any(not c for c in canaries):
        return False
    i = reps.index(min(reps))
    for samples, ceiling in zip(canaries, ceilings):
        if i >= len(samples) or samples[i] > ceiling:
            return False
        if i + 1 < len(samples) and samples[i + 1] > ceiling:
            return False
    return True


def compute_verdicts(
    reps_log: dict,
    canary_log: dict,
    canary_bw_log: dict,
    canary_lat_log: dict,
    ceilings: tuple[float, float, float],
) -> tuple[dict[str, bool], list[str], bool]:
    """Per-metric + overall canary verdicts over (possibly spliced)
    canary sample logs. Evaluated per metric so a spliced record's
    verdicts stay local to each metric's own run."""
    by_metric = {
        name: min_rep_flanked_ok(
            reps_log.get(name, []),
            [
                canary_log.get(name, []),
                canary_bw_log.get(name, []),
                canary_lat_log.get(name, []),
            ],
            ceilings,
        )
        for name in canary_log
    }
    contaminated = sorted(n for n, ok in by_metric.items() if not ok)
    return by_metric, contaminated, bool(by_metric) and not contaminated


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count())
    n_synth = int(float(os.environ.get("SPARK_GRAFT_BENCH_N", "1e8")))
    # baseline parity: the reference records min-of-5 runs
    # (benchmark_sed.py:58-63, BASELINE.md "Assertion rule") — matching
    # best-of-5 also absorbs this VM's 2-3x run-to-run shuffle/GC variance
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEAT", "5"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    from sed_spark import suite

    # -- resume selection ---------------------------------------------------
    # SPARK_GRAFT_BENCH_ONLY: run only the named metrics/phases, splice
    # into the prior BENCH_full.json. Unset/empty = full run from scratch.
    only_raw = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").strip()
    full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "BENCH_full.json")
    base: dict = {}
    selected = parse_only(only_raw, suite.REGISTRY)
    if selected is not None:
        if not os.path.exists(full_path):
            raise SystemExit(
                "bench: SPARK_GRAFT_BENCH_ONLY set but no BENCH_full.json "
                "to splice into — run the full bench first",
            )
        with open(full_path) as fh:
            base = json.load(fh)
        if base.get("sf") != sf or base.get("synthetic_rows") != n_synth:
            raise SystemExit(
                "bench: prior BENCH_full.json was recorded at "
                f"sf={base.get('sf')}/n={base.get('synthetic_rows')} but "
                f"this run is sf={sf}/n={n_synth} — splicing across scales "
                "would fabricate a record; run the full bench instead",
            )

    def _want(name: str) -> bool:
        return selected is None or name in selected

    timings: dict[str, float] = dict(base.get("queries", {}))
    # older records kept trainer fit_* timings inside queries; the
    # trainers are gone, so drop them on splice
    for k in [k for k in timings if k.startswith("fit_")]:
        timings.pop(k)
    reps_log: dict[str, list[float]] = dict(base.get("reps", {}))
    canary_log: dict[str, list[float]] = dict(base.get("canary", {}))
    canary_bw_log: dict[str, list[float]] = dict(base.get("canary_bw", {}))
    canary_lat_log: dict[str, list[float]] = dict(base.get("canary_lat", {}))
    canary_sched_log: dict[str, list[float]] = dict(base.get("canary_sched", {}))
    canary_jit_log: dict[str, list[float]] = dict(base.get("canary_jit", {}))
    load_log: dict[str, list[float]] = dict(base.get("loadavg", {}))

    # contention canary: the SAME fixed single-threaded numpy workload
    # (sort of 2^21 pinned floats, ~0.23-0.31 s on this host unloaded)
    # timed immediately before every rep. The metric reps alone can't
    # separate "this code got slower" from "the host was contended
    # during this run" (documented ~3x same-day band); the canary can —
    # it runs unchanged code by construction, so canary inflation ==
    # external load, while metric inflation at flat canary == a real
    # regression.
    _canary_buf: list = []

    def _canary() -> float:
        import numpy as _np

        if not _canary_buf:
            _canary_buf.append(_np.random.RandomState(0).rand(1 << 21))
        t0 = time.perf_counter()
        _np.sort(_canary_buf[0], kind="mergesort")
        return round(time.perf_counter() - t0, 4)

    # bandwidth canary (round 10): the sort canary's 16 MB working set
    # is cache-resident, so it stays FLAT through this VM's worst noise
    # mode — memory-bandwidth interference. Observed 2026-08-16: a run
    # with sort band [0.252, 0.446] (gate green) recorded inv_dfield
    # reps of [35.6, 17.5, 34.0, 42.5, 7.4] s on unchanged pure-numpy
    # code — 5-30x, invisible to the sort. A streaming sum over a
    # 512 MB buffer (quiet ~0.065-0.08 s here) IS slowed by that mode
    # (25x observed), so the gate now watches both.
    _bw_buf: list = []

    def _canary_bw() -> float:
        import numpy as _np

        if not _bw_buf:
            _bw_buf.append(_np.random.RandomState(1).rand(1 << 26))
            _bw_buf[0].sum()  # absorb first-touch faulting outside timing
        t0 = time.perf_counter()
        _bw_buf[0].sum()
        return round(time.perf_counter() - t0, 4)

    # latency canary (round 10, the decisive one): 16M random gathers
    # from a 256 MB array — LATENCY-bound (no prefetch), the access
    # profile of inv_dfield's fancy-indexing kernel. Measured on this
    # VM 2026-08-16 while BOTH other canaries read quiet: the probe
    # swung 0.29 s → 16.3 s (55x) second-to-second, and inv_dfield
    # tracked it (1-2 s quiet → 10-55 s). Streaming prefetch hides
    # interference a dependent-load gather pays in full, so this is the
    # band that actually certifies the phase-1 numbers.
    _lat_buf: list = []

    def _canary_lat() -> float:
        import numpy as _np

        if not _lat_buf:
            rng = _np.random.RandomState(2)
            _lat_buf.append(rng.rand(1 << 25))
            _lat_buf.append(rng.permutation(1 << 25)[: 1 << 24])
            _lat_buf[0][_lat_buf[1]].sum()  # absorb first touch
        t0 = time.perf_counter()
        _lat_buf[0][_lat_buf[1]].sum()
        return round(time.perf_counter() - t0, 4)

    # scheduler-jitter canary (round 11, OBSERVATIONAL — recorded per
    # rep, never gates): a 25 ms single-threaded spin recording the
    # worst gap between consecutive perf_counter() samples. Quiet host:
    # 0.1-2 ms. The noise mode diagnosed 2026-08-17 — host-wide loadavg
    # pulses with this container idle and ~2% steal — slowed
    # micro-batch-commit-heavy rows (q_stream_dedup_replay 4.4 s quiet
    # -> 16-84 s) while ALL THREE existing canaries read quiet, because
    # compute/bandwidth/pointer-chase probes cannot see per-op
    # scheduling latency; an involuntary-preemption gap can. Kept out of
    # the wait-for-quiet gate; QUIET BAND CALIBRATED round 12 from 360
    # samples across two canary-clean full runs: p50 0.05 ms, p99
    # 2.7 ms, max 8.8 ms — adjudication rule: a rep whose sched sample
    # exceeds 0.010 s ran under the preemption noise mode and is not
    # comparable (zero false positives on clean runs at that ceiling).
    # canary_jit has NO host band — large deltas on early reps are
    # legitimate compilation; the mechanical rule there is "slow rep +
    # large jit delta + later reps settle = compile churn, not a plan
    # regression" (see the canary_jit comment below).
    def _canary_sched() -> float:
        t_end = time.perf_counter() + 0.025
        prev = time.perf_counter()
        worst = 0.0
        while prev < t_end:
            now = time.perf_counter()
            gap = now - prev
            if gap > worst:
                worst = gap
            prev = now
        return round(worst, 5)

    # JIT-churn attribution (round 11, OBSERVATIONAL — recorded per rep,
    # never gates): the driver JVM's cumulative HotSpot compilation time
    # (CompilationMXBean) sampled before and after each rep; the record
    # carries the per-rep DELTA in seconds. Diagnosed 2026-08-18:
    # fresh-session best-of-2 reps of codegen-heavy queries
    # (q_fingerprints) swung 1.4-26 s exec for the SAME plan with 30-64 s
    # of compile-time delta on the slow reps and 5-8 s on the fast ones
    # — GC and the janino generated-class cache both ruled out — so a
    # slow rep with a large jit delta is C2 warm-up/recompile churn, not
    # a plan regression or host noise. getTotalCompilationTime() SUMS
    # across all HotSpot compiler threads, so a delta can legitimately
    # exceed the rep's wall-clock (e.g. 40 s of summed C1+C2 thread time
    # inside a 13.7 s rep) — it is a churn-magnitude signal, not a
    # wall-time share. -1.0 = no JVM yet (phase 1) or the session's
    # bean was unreadable.
    _jit_sampler: list = [None]

    def _bind_jit_sampler(sc) -> None:
        try:
            bean = (sc._jvm.java.lang.management.ManagementFactory
                    .getCompilationMXBean())

            def sample() -> float | None:
                try:
                    return float(bean.getTotalCompilationTime())
                except Exception:
                    return None

            _jit_sampler[0] = sample
        except Exception:
            _jit_sampler[0] = None

    def _jit_now() -> float | None:
        return _jit_sampler[0]() if _jit_sampler[0] is not None else None

    # canary GATE: (1) wait-for-quiet — before each rep, if the canary
    # exceeds max(1.5x the run's quiet floor, CANARY_*_ABS) the rep
    # WAITS (5 s steps) until the host calms down or a bounded wall
    # budget (SPARK_GRAFT_CANARY_WAIT, default 900 s across the whole
    # run) is exhausted; (2) the record carries per-metric + overall
    # canary verdicts so a contaminated artifact can never read as a
    # clean one, and contaminated rows can be individually re-run.
    CANARY_QUIET_ABS = float(os.environ.get("SPARK_GRAFT_CANARY_ABS", "0.45"))
    CANARY_BW_ABS = float(os.environ.get("SPARK_GRAFT_CANARY_BW_ABS", "0.15"))
    CANARY_LAT_ABS = float(os.environ.get("SPARK_GRAFT_CANARY_LAT_ABS", "0.6"))
    _wait_budget = [float(os.environ.get("SPARK_GRAFT_CANARY_WAIT", "900"))]
    _floor = [float("inf")]
    _bw_floor = [float("inf")]
    _lat_floor = [float("inf")]

    # transient-vs-sustained disambiguation (round 11): a memory-heavy
    # query (the ANN/embedding rows; also bare JVM spawn) leaves the
    # probe buffers' pages reclaimed/compacted, so the FIRST sample
    # after it reads ~3x loud while the very next one is quiet again —
    # measured on an idle host (loadavg 0.09): lat probe 0.95/1.02
    # immediately after q_ann_batch_topk / q_embedding_near_dup, then
    # 0.29-0.33 on every following sample. That one-shot self-churn is
    # not host contention and was permanently failing those two rows'
    # flanking verdicts. Real contention SUSTAINS across consecutive
    # probes, so: when a sample exceeds its quiet ceiling, re-probe once
    # and keep the min — a transient collapses to the quiet value, a
    # contended host stays loud. (Noise pulsing faster than two
    # back-to-back probes remains the documented residual risk.)
    def _resample(fn, ceiling: float) -> float:
        v = fn()
        return min(v, fn()) if v > ceiling else v

    def _canary_gated() -> tuple[float, float, float]:
        # the budget is decremented by REAL elapsed wall (sleep + probe
        # time): a loud latency probe itself costs seconds, and a
        # 5s-per-iteration accounting would let the nominal 900 s
        # budget stretch to an hour of wall under sustained noise
        c, b, l = (
            _resample(_canary, CANARY_QUIET_ABS),
            _resample(_canary_bw, CANARY_BW_ABS),
            _resample(_canary_lat, CANARY_LAT_ABS),
        )
        while True:
            _floor[0] = min(_floor[0], c)
            _bw_floor[0] = min(_bw_floor[0], b)
            _lat_floor[0] = min(_lat_floor[0], l)
            ok = (
                c <= max(1.5 * _floor[0], CANARY_QUIET_ABS)
                and b <= max(1.5 * _bw_floor[0], CANARY_BW_ABS)
                and l <= max(1.5 * _lat_floor[0], CANARY_LAT_ABS)
            )
            if ok or _wait_budget[0] <= 0:
                return c, b, l
            t0 = time.perf_counter()
            time.sleep(5.0)
            c, b, l = (
                _resample(_canary, CANARY_QUIET_ABS),
                _resample(_canary_bw, CANARY_BW_ABS),
                _resample(_canary_lat, CANARY_LAT_ABS),
            )
            _wait_budget[0] -= time.perf_counter() - t0

    def timed(name: str, fn, n: int = 1, jvm=None) -> None:
        import gc as _gc

        reps: list[float] = []
        cans: list[float] = []
        bws: list[float] = []
        lats: list[float] = []
        scheds: list[float] = []
        jits: list[float] = []
        loads: list[float] = []
        for _ in range(n):
            c, b, l = _canary_gated()
            cans.append(c)
            bws.append(b)
            lats.append(l)
            scheds.append(_canary_sched())
            loads.append(round(os.getloadavg()[0], 2))
            j0 = _jit_now()
            t0 = time.perf_counter()
            fn()
            reps.append(round(time.perf_counter() - t0, 4))
            j1 = _jit_now()
            jits.append(
                round((j1 - j0) / 1000.0, 3)
                if j0 is not None and j1 is not None else -1.0,
            )
            if jvm is not None:
                # release this rep's shuffle files between reps: drop the
                # Python-side plan refs, then ask the driver JVM to GC so
                # ContextCleaner can reap the ShuffleDependency — heavy
                # reps otherwise accumulate GBs of tmpfs shuffle garbage
                # that squeezes the very RAM the next rep shuffles into
                _gc.collect()
                try:
                    jvm.System.gc()
                except Exception:
                    pass
        # one ungated post-run sample so the LAST rep has an after-flank:
        # the min-rep verdict needs quiet samples on both sides of the
        # recorded rep, and without this the final rep would only ever
        # have its before-sample
        cans.append(_resample(_canary, CANARY_QUIET_ABS))
        bws.append(_resample(_canary_bw, CANARY_BW_ABS))
        lats.append(_resample(_canary_lat, CANARY_LAT_ABS))
        scheds.append(_canary_sched())
        timings[name] = min(reps)
        reps_log[name] = reps
        canary_log[name] = cans
        canary_bw_log[name] = bws
        canary_lat_log[name] = lats
        canary_sched_log[name] = scheds
        canary_jit_log[name] = jits
        load_log[name] = loads

    # -- phase 1: driver-side numpy metric, measured FIRST ----------------
    # inv_dfield is pure numpy (fixed-point inversion of a 2048x2048
    # deformation field, baseline 4.109 s). Timing it after the JVM holds
    # a multi-GB persisted cache + shuffle remnants measured 2.5x slower
    # (9.7 s vs 3.9 s standalone) from memory pressure alone, so it runs
    # before any Spark JVM exists — the reference benchmarks it in
    # isolation too (benchmark_sed.py).
    import numpy as np

    if _want("inv_dfield"):
        from sed_spark.calibrator.momentum_estimation import (
            generate_inverse_dfield,
        )

        g2 = np.arange(2048, dtype=np.float64)
        gx2, gy2 = np.meshgrid(g2, g2, indexing="ij")
        rdef = gx2 + 5.0 * np.sin(gy2 / 300.0)
        cdef = gy2 + 5.0 * np.sin(gx2 / 300.0)
        timed("inv_dfield", lambda: generate_inverse_dfield(rdef, cdef),
              repeats)

    # -- phase 2: baseline-parity synthetic workload, dedicated session ----
    from sed_spark.session import get_spark

    session_conf = {
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
        "spark.driver.maxResultSize": "8g",
        "spark.log.level": "ERROR",
    }

    if any(_want(m) for m in SYNTH_METRICS):
        from pyspark.sql import functions as F

        from sed_spark.binning import bin_dataframe

        spark = get_spark(
            app_name="sed-spark-bench-synthetic",
            master=f"local[{cpus}]",
            shuffle_partitions=int(cpus) * 2,
            extra_conf=session_conf,
        )
        _bind_jit_sampler(spark.sparkContext)

        # mirrors reference benchmark_sed.py:24-34: uniform X/Y/t/ADC, seeded
        ranges = {"X": (0.0, 2048.0), "Y": (0.0, 2048.0),
                  "t": (60000.0, 120000.0), "ADC": (2000.0, 20000.0)}
        base_df = spark.range(0, n_synth, 1, int(cpus) * 4)
        synth = base_df.select(
            *[
                (F.rand(seed=42 + i) * (hi - lo) + lo).alias(col)
                for i, (col, (lo, hi)) in enumerate(ranges.items())
            ],
        ).persist()
        synth.count()  # materialize like the reference's in-memory dask frame

        # codegen/JIT warmup on a small slice so the timed reps measure the
        # steady-state plan, not first-compile (reference benchmark_sed.py
        # equally reports timeit best-of on a warm worker pool)
        bin_dataframe(
            synth.limit(100_000), [10, 10, 10, 10], ["X", "Y", "t", "ADC"],
            [(0.0, 2048.0), (0.0, 2048.0), (60000.0, 120000.0),
             (2000.0, 20000.0)],
        )

        jvm = spark.sparkContext._jvm
        if _want("binning_1d"):
            timed(
                "binning_1d",
                lambda: bin_dataframe(synth, [1000], ["t"],
                                      [(60000.0, 120000.0)]),
                repeats,
                jvm=jvm,
            )
        if _want("binning_4d"):
            timed(
                "binning_4d",
                lambda: bin_dataframe(
                    synth, [100, 100, 100, 100], ["X", "Y", "t", "ADC"],
                    [(0.0, 2048.0), (0.0, 2048.0), (60000.0, 120000.0),
                     (2000.0, 20000.0)],
                ),
                repeats,
                jvm=jvm,
            )

        if _want("workflow_1d") or _want("workflow_4d"):
            # workflow chain (lazy — re-executed per compute, like the
            # reference)
            from sed_spark.calibrator import delay as delay_cal
            from sed_spark.calibrator import energy as energy_cal
            from sed_spark.calibrator import momentum as momentum_cal
            from sed_spark.dfops import apply_jitter

            # synthetic smooth inverse deformation field (identity +
            # ripple); scipy-free stand-in for the spline-warp estimate,
            # same lookup cost
            g = np.linspace(0, 2048, 256)
            gx, gy = np.meshgrid(g, g, indexing="ij")
            dfield = np.stack(
                [
                    gx + 5.0 * np.sin(gy / 300.0),
                    gy + 5.0 * np.sin(gx / 300.0),
                ],
            ).astype(np.float64)

            wf = apply_jitter(
                synth, ["X", "Y", "t", "ADC"],
                cols_jittered=["X", "Y", "t", "ADC"], seed=1,
            )
            wf = momentum_cal.apply_dfield(
                wf, dfield, new_x_column="Xm", new_y_column="Ym",
                detector_ranges=((0.0, 2048.0), (0.0, 2048.0)),
            )
            wf = momentum_cal.append_k_axis(
                wf, x_column="Xm", y_column="Ym",
                r_start=0.0, c_start=0.0, r_center=1024.0, c_center=1024.0,
                r_conversion=0.00195, c_conversion=0.00195,
                r_step=1.0, c_step=1.0,
            )
            wf = energy_cal.apply_energy_correction(
                wf, correction_type="spherical", center=(1024.0, 1024.0),
                amplitude=2.0, diameter=3000.0,
            )
            wf = energy_cal.append_energy_axis(
                wf, calibration_type="poly", coeffs=[1.0 / 3000.0], E0=-30.0,
            )
            wf = delay_cal.append_delay_axis(
                wf, adc_range=(2000.0, 20000.0), delay_range=(-500.0, 1500.0),
            )

            if _want("workflow_1d"):
                timed(
                    "workflow_1d",
                    lambda: bin_dataframe(wf, [1000], ["energy"],
                                          [(-10.0, 10.0)]),
                    repeats,
                    jvm=jvm,
                )
            if _want("workflow_4d"):
                timed(
                    "workflow_4d",
                    lambda: bin_dataframe(
                        wf, [100, 100, 100, 100],
                        ["kx", "ky", "energy", "delay"],
                        [(-2.0, 2.0), (-2.0, 2.0), (-10.0, 10.0),
                         (-1000.0, 1000.0)],
                    ),
                    repeats,
                    jvm=jvm,
                )
        synth.unpersist()
        # tear the synthetic session down completely: the suite phase gets a
        # fresh SparkContext and cannot inherit cached blocks / shuffle files
        spark.stop()

    # -- phase 3: suite queries on parquet, second session -----------------
    wanted_queries = [n for n in suite.REGISTRY if _want(f"q_{n}")]
    if wanted_queries:
        spark = get_spark(
            app_name="sed-spark-bench-suite",
            master=f"local[{cpus}]",
            shuffle_partitions=int(cpus) * 2,
            extra_conf=session_conf,
        )
        _bind_jit_sampler(spark.sparkContext)

        def run_noop(df) -> None:
            df.write.mode("overwrite").format("noop").save()

        # best-of-2 so a query's recorded time is its executed plan, not
        # its first-run Catalyst/codegen compile (the reference's timings
        # are equally min-of-N on a warm pool, benchmark_sed.py:58-63)
        for name in wanted_queries:
            spec = suite.REGISTRY[name]
            try:
                timed(
                    f"q_{name}",
                    lambda spec=spec: run_noop(spec["spark"](spark, sf_dir)),
                    n=2,
                )
            except Exception as exc:  # one bad query must not kill the bench
                timings[f"q_{name}"] = -1.0
                print(f"bench: query {name} failed: {exc}", file=sys.stderr)

    # suite queries only (q_ prefix) — phase-1/2 synthetic metrics
    # (inv_dfield etc.) are separate headline numbers, not suite members
    suite_total = round(
        sum(v for k, v in timings.items() if k.startswith("q_") and v > 0), 4,
    )

    # -- verdicts -----------------------------------------------------------
    canary_ok_by_metric, contaminated, canary_ok = compute_verdicts(
        reps_log, canary_log, canary_bw_log, canary_lat_log,
        (CANARY_QUIET_ABS, CANARY_BW_ABS, CANARY_LAT_ABS),
    )
    if not canary_ok:
        print(
            "bench: CANARY GATE FAILED on "
            f"{len(contaminated)}/{len(canary_ok_by_metric)} metrics "
            f"({', '.join(contaminated[:8])}"
            f"{', ...' if len(contaminated) > 8 else ''}) — those rows ran "
            "on a contended host and are NOT comparable across rounds; "
            "re-run just them on quiet load via "
            f"SPARK_GRAFT_BENCH_ONLY={','.join(contaminated[:8])}",
            file=sys.stderr,
        )

    all_canary = [c for cs in canary_log.values() for c in cs]
    all_bw = [b for bs in canary_bw_log.values() for b in bs]
    all_lat = [x for xs in canary_lat_log.values() for x in xs]

    # Full record (per-query timings, per-rep samples) goes
    # to a sidecar file: round 5 proved that putting the reps dict on the
    # stdout line pushes it past the driver's 2000-char tail capture and the
    # whole round loses its headline bench (BENCH_r05.json parsed:null).
    with open(full_path, "w") as fh:
        json.dump(
            {
                "metric": "suite_total",
                "value": suite_total,
                "unit": "sec",
                "queries": timings,
                "reps": reps_log,
                # per-rep contention canaries (fixed numpy sort /
                # 512 MB streaming sum / 16M random gathers before every
                # rep) and 1-min load average at rep start: canary
                # inflation on a slow rep == external host load, flat
                # canary == the measured code itself changed
                "canary": canary_log,
                "canary_bw": canary_bw_log,
                "canary_lat": canary_lat_log,
                # observational scheduler-jitter band (worst 25 ms spin
                # gap, seconds) — diagnoses the preemption noise mode the
                # three gating canaries cannot see; not part of the gate
                "canary_sched": canary_sched_log,
                # observational per-rep HotSpot compile-time DELTA
                # (seconds): a slow rep with a large delta is JVM C2
                # warm-up/recompile churn, not a plan change or host
                # noise; -1.0 = no JVM (phase 1). Not part of the gate.
                "canary_jit": canary_jit_log,
                "canary_ok": canary_ok,
                "canary_ok_by_metric": canary_ok_by_metric,
                "contaminated": contaminated,
                "loadavg": load_log,
                "sf": sf,
                "synthetic_rows": n_synth,
                "phase_order": "inv_dfield -> synthetic (own session) -> "
                               "suite",
                "spliced_only": sorted(selected) if selected else [],
            },
            fh,
            indent=1,
        )

    # Compact line (LAST stdout line, well under the driver's 2000-char
    # capture): the five headline baseline-parity metrics + totals.
    headline = {
        k: timings[k]
        for k in ("inv_dfield", "binning_1d", "binning_4d",
                  "workflow_1d", "workflow_4d")
        if k in timings
    }
    print(
        json.dumps(
            {
                "metric": "suite_total",
                "value": suite_total,
                "unit": "sec",
                "queries": headline,
                "sf": sf,
                "synthetic_rows": n_synth,
                # host-contention summary: each canary workload's
                # [min, max] over the whole (possibly spliced) record —
                # per-rep and per-metric detail in BENCH_full.json
                "canary_band": [
                    round(min(all_canary), 3), round(max(all_canary), 3),
                ] if all_canary else [],
                "canary_bw_band": [
                    round(min(all_bw), 3), round(max(all_bw), 3),
                ] if all_bw else [],
                "canary_lat_band": [
                    round(min(all_lat), 3), round(max(all_lat), 3),
                ] if all_lat else [],
                # gate verdict: true = EVERY metric's own canary band was
                # quiet; false = the listed count of metrics ran contended
                # (re-run them via SPARK_GRAFT_BENCH_ONLY to splice clean
                # numbers — see BENCH_full.json "contaminated")
                "canary_ok": canary_ok,
                "n_contaminated": len(contaminated),
                "full_record": "BENCH_full.json",
            },
        ),
    )


def _auto_retry() -> None:
    """Self-healing pass: after a FULL run, re-run any canary-contaminated
    metrics in fresh subprocesses (``SPARK_GRAFT_BENCH_ONLY`` splice mode)
    until every row is quiet or the retry budget is spent. A fresh process
    per retry keeps phase-1 pristine (no JVM has ever existed in it) and
    gives every phase a cold session, exactly like the primary run. Each
    retry prints the spliced record's compact summary as the new LAST
    stdout line, so the driver's tail capture always reads the most
    up-to-date verdict."""
    import subprocess

    full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "BENCH_full.json")
    retries = int(os.environ.get("SPARK_GRAFT_BENCH_RETRY", "2"))
    for attempt in range(retries):
        try:
            with open(full_path) as fh:
                contaminated = json.load(fh).get("contaminated", [])
        except Exception:
            return
        if not contaminated:
            return
        env = dict(os.environ)
        env["SPARK_GRAFT_BENCH_ONLY"] = ",".join(contaminated)
        env["SPARK_GRAFT_BENCH_RETRY"] = "0"
        print(
            f"bench: retry {attempt + 1}/{retries} for "
            f"{len(contaminated)} contaminated metric(s): "
            f"{', '.join(contaminated[:8])}"
            f"{', ...' if len(contaminated) > 8 else ''}",
            file=sys.stderr,
        )
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__)],
            env=env, capture_output=True, text=True,
        )
        sys.stderr.write(proc.stderr)
        lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
        if proc.returncode != 0 or not lines:
            print(f"bench: retry subprocess failed (rc={proc.returncode})",
                  file=sys.stderr)
            return
        print(lines[-1])


if __name__ == "__main__":
    main()
    # a targeted ONLY run is already a retry — never recurse
    if not os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").strip():
        _auto_retry()
