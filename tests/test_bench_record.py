"""Unit tests for bench.py's record logic — the selection parser,
per-metric canary verdicts, and the ONLY-mode splice. The driver's round
record depends on these; none need Spark (bench.main() is never run)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def test_band_ok_quiet_and_burst_and_all_loud():
    assert bench.band_ok([0.25, 0.3, 0.28], 0.45)
    assert bench.band_ok([0.3, 0.44], 0.45)  # within the abs ceiling
    assert bench.band_ok([0.2, 0.29], 0.45)  # within 1.5x floor
    assert not bench.band_ok([0.3, 2.0], 0.45)  # burst mid-run
    # an all-loud metric must NOT self-certify via the relative band
    assert not bench.band_ok([1.0, 1.2], 0.45)
    assert not bench.band_ok([], 0.45)  # no samples = no verdict


def test_parse_only_tokens_and_aliases():
    reg = {"asof_ops": 1, "filters": 2}
    assert bench.parse_only("", reg) is None  # full run
    sel = bench.parse_only("inv_dfield,q_asof_ops", reg)
    assert sel == {"inv_dfield", "q_asof_ops"}
    assert bench.parse_only("synthetic", reg) == set(bench.SYNTH_METRICS)
    assert bench.parse_only("suite", reg) == {"q_asof_ops", "q_filters"}
    with pytest.raises(SystemExit, match="unknown"):
        bench.parse_only("q_nonsense", reg)
    with pytest.raises(SystemExit, match="unknown"):
        bench.parse_only("banana", reg)


def test_min_rep_flanked_ok_semantics():
    C = (0.45, 0.15, 0.6)
    # min rep (index 1) flanked by quiet samples at 1 and 2 — the loud
    # first rep does not invalidate a best-of-N record
    assert bench.min_rep_flanked_ok(
        [9.0, 2.0, 8.5],
        [[2.0, 0.3, 0.3, 0.4], [0.5, 0.08, 0.09, 0.1],
         [5.0, 0.4, 0.5, 0.4]],
        C,
    )
    # loud AFTER-flank on the min rep → contaminated
    assert not bench.min_rep_flanked_ok(
        [9.0, 2.0, 8.5],
        [[2.0, 0.3, 3.0, 0.4], [0.5, 0.08, 0.09, 0.1],
         [5.0, 0.4, 0.5, 0.4]],
        C,
    )
    # loud BEFORE-flank on the min rep → contaminated
    assert not bench.min_rep_flanked_ok(
        [2.0, 9.0], [[3.0, 0.3, 0.3], [0.08, 0.08, 0.08],
                     [0.4, 0.4, 0.4]], C,
    )
    # pre-r11 record shape (no trailing post sample): last rep is min,
    # only its before-sample exists — judged on that alone
    assert bench.min_rep_flanked_ok(
        [9.0, 2.0], [[2.0, 0.3], [0.5, 0.08], [5.0, 0.4]], C,
    )
    # missing canary samples / empty logs cannot certify
    assert not bench.min_rep_flanked_ok([2.0], [[], [0.1], [0.4]], C)
    assert not bench.min_rep_flanked_ok([], [[0.3], [0.1], [0.4]], C)


def test_compute_verdicts_per_metric_locality():
    ceilings = (0.45, 0.15, 0.6)
    by_metric, contaminated, ok = bench.compute_verdicts(
        {"a": [1.0, 1.1], "b": [1.0, 1.1]},
        {"a": [0.3, 0.3, 0.3], "b": [0.3, 3.0, 3.0]},
        {"a": [0.08, 0.08, 0.08], "b": [0.08, 0.09, 0.09]},
        {"a": [0.4, 0.4, 0.4], "b": [0.35, 0.4, 0.4]},
        ceilings,
    )
    # b's sort canary burst flanks b's min rep, but must not
    # contaminate a's verdict
    assert by_metric == {"a": True, "b": False}
    assert contaminated == ["b"] and ok is False
    # a metric present in the canary log but missing reps → uncertified
    by3, _, _ = bench.compute_verdicts(
        {}, {"a": [0.3]}, {"a": [0.08]}, {"a": [0.4]}, ceilings,
    )
    assert by3 == {"a": False}


def test_only_mode_refuses_without_prior_record(tmp_path):
    # ONLY splice mode needs a BENCH_full.json to splice into; against a
    # missing record it must exit loudly, not fabricate one. Run in a
    # temp cwd via subprocess with the repo's bench.py and a poisoned
    # full_path — simplest faithful check: point HOME/cwd at tmp and use
    # a copy of bench.py next to NO record.
    bench_copy = tmp_path / "bench.py"
    bench_copy.write_text(
        open(os.path.join(os.path.dirname(bench.__file__), "bench.py"))
        .read(),
    )
    env = dict(os.environ)
    env["SPARK_GRAFT_BENCH_ONLY"] = "inv_dfield"
    env["PYTHONPATH"] = os.path.dirname(bench.__file__)
    proc = subprocess.run(
        [sys.executable, str(bench_copy)],
        env=env, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert "no BENCH_full.json" in proc.stderr + proc.stdout


def test_only_mode_refuses_cross_scale_splice(tmp_path):
    bench_copy = tmp_path / "bench.py"
    bench_copy.write_text(
        open(os.path.join(os.path.dirname(bench.__file__), "bench.py"))
        .read(),
    )
    (tmp_path / "BENCH_full.json").write_text(
        json.dumps({"sf": 0.01, "synthetic_rows": 1000, "queries": {}}),
    )
    env = dict(os.environ)
    env["SPARK_GRAFT_BENCH_ONLY"] = "inv_dfield"
    env["SPARK_GRAFT_SF_DIR"] = "/root/testdata/sf0.1"
    env["PYTHONPATH"] = os.path.dirname(bench.__file__)
    proc = subprocess.run(
        [sys.executable, str(bench_copy)],
        env=env, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert "splicing across scales" in proc.stderr + proc.stdout
