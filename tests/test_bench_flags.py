"""Pin bench.py's count gate and the scale sweep's scaling verdict.

bench.py flags a query when any of its exact steady-run counts (construct
jobs, execution jobs, stages, exchanges, shuffle records, input bytes) grows
past bench_budgets.json; a count below budget is an improvement. The gate
and the budget update are pure functions, pinned here without a
SparkSession; one subprocess smoke test runs the instrument end to end
through scripts/profile_query.py.
"""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

from test_incremental_join import SF_DIR

_REPO = Path(__file__).resolve().parents[1]
_spec = importlib.util.spec_from_file_location("bench_module", _REPO / "bench.py")
bench = importlib.util.module_from_spec(_spec)
sys.modules.setdefault("bench_module", bench)
_spec.loader.exec_module(bench)

_REC = {"construct_jobs": 0, "exec_jobs": 7, "stages": 7, "exchanges": 6,
        "shuffle_records": 5, "input_bytes": 200_000}


def _budgets(**counts):
    return bench.recorded_counts(0.1, 4, {"q": dict(_REC), **counts})


@pytest.mark.parametrize("key", bench.COUNTS)
def test_growth_in_any_count_flags(key):
    grown = {**_REC, key: _REC[key] + 1}
    out = bench.check_counts(_budgets(), 0.1, 4, {"q": grown})
    assert out["comparable"] and out["n_flagged"] == 1
    assert out["flagged"] == {"q": {key: [_REC[key], _REC[key] + 1]}}
    assert out["improved"] == {}


def test_decrease_is_an_improvement_not_a_flag():
    fewer = {**_REC, "exec_jobs": 6, "input_bytes": 150_000}
    out = bench.check_counts(_budgets(), 0.1, 4, {"q": fewer})
    assert out["n_flagged"] == 0 and out["flagged"] == {}
    assert out["improved"] == {"q": {"exec_jobs": [7, 6],
                                     "input_bytes": [200_000, 150_000]}}


def test_equal_counts_pass_and_unbudgeted_queries_are_listed():
    out = bench.check_counts(_budgets(), 0.1, 4, {"q": dict(_REC), "new": dict(_REC)})
    assert out["comparable"] and out["n_checked"] == 1
    assert out["n_flagged"] == 0 and out["n_improved"] == 0
    assert out["unbudgeted"] == ["new"]


@pytest.mark.parametrize("sf,cpus", [(1.0, 4), (0.1, 8)])
def test_sf_or_cpus_mismatch_is_not_comparable(sf, cpus):
    grown = {**_REC, "exchanges": 99}
    out = bench.check_counts(_budgets(), sf, cpus, {"q": grown})
    assert out["comparable"] is False
    assert "flagged" not in out
    assert f"sf {sf} on {cpus} cpus" in out["reason"]


def test_budgets_without_cpus_are_not_comparable():
    # the wall-budget format bench_budgets.json had before counts
    old = {"sf": 0.1, "budgets": {"q": 1.0}, "byte_budgets": {}}
    assert bench.check_counts(old, 0.1, 4, {"q": dict(_REC)})["comparable"] is False


def test_update_rewrites_the_counts():
    bud = _budgets()
    grown = {**_REC, "shuffle_records": 50}
    assert bench.check_counts(bud, 0.1, 4, {"q": grown})["n_flagged"] == 1
    new = bench.recorded_counts(0.1, 4, {"q": grown})
    assert new == {"sf": 0.1, "cpus": 4, "counts": {"q": grown}}
    assert bench.check_counts(new, 0.1, 4, {"q": grown})["n_flagged"] == 0
    # the update stores a copy: later edits to the run's record don't leak in
    grown["shuffle_records"] = 0
    assert new["counts"]["q"]["shuffle_records"] == 50


def test_committed_budgets_hold_every_headline_query():
    bud = json.loads((_REPO / "bench_budgets.json").read_text())
    assert set(bud) == {"sf", "cpus", "counts"}
    assert set(bud["counts"]) == set(bench.HEADLINE)
    for rec in bud["counts"].values():
        assert tuple(rec) == bench.COUNTS


def test_profile_query_prints_the_bench_record():
    """The tracer end to end in its own process (the Spark UI is on there,
    unlike in the test session): catches drift in perfbench's API."""
    env = {**os.environ, "SPARK_GRAFT_SF_DIR": SF_DIR,
           "SPARK_GRAFT_WARMUP_DIR": SF_DIR, "SPARK_GRAFT_WARMUP2_DIR": ""}
    out = subprocess.run(
        [sys.executable, str(_REPO / "scripts" / "profile_query.py"),
         "q1_pricing_summary"],
        env=env, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    rec = json.loads(next(
        line for line in out.stdout.splitlines() if line.startswith("{")))
    assert rec["query"] == "q1_pricing_summary"
    assert set(bench.COUNTS) <= set(rec)
    assert rec["exec_jobs"] >= 1 and rec["stages"] >= rec["exec_jobs"]


# ------------------------------------- scale-sweep linearity arbitration
def _load_scale_sweep():
    p = Path(__file__).resolve().parents[1] / "scripts" / "scale_sweep.py"
    spec = importlib.util.spec_from_file_location("scale_sweep_module", p)
    mod = importlib.util.module_from_spec(spec)
    sys.modules.setdefault("scale_sweep_module", mod)
    spec.loader.exec_module(mod)
    return mod


classify_scaling = _load_scale_sweep().classify_scaling

_KB = {"wall": 0.3, "shuffle_write": 2048, "input_bytes": 3_000_000}


def test_scale_wall_only_noise_is_suspect_not_superlinear():
    # The round-9 artifact's failure mode: 14x wall on a kilobyte-shuffle
    # sub-second query whose bytes scale linearly. Without a surviving
    # retime this must NOT count as super-linear.
    lo = dict(_KB)
    hi = {"wall": 4.3, "shuffle_write": 20_480, "input_bytes": 30_000_000}
    cls = classify_scaling(lo, hi, data_ratio=10.0)
    assert cls["linear"] is True and cls.get("wall_suspect") is True


def test_scale_wall_cleared_by_retime():
    lo = dict(_KB)
    hi = {"wall": 4.3, "shuffle_write": 20_480, "input_bytes": 30_000_000}
    cls = classify_scaling(lo, hi, data_ratio=10.0, retime_wall=2.9)
    assert cls["linear"] is True and cls["wall_ratio"] <= 12.5
    assert cls["retime_wall"] == 2.9


def test_scale_wall_confirmed_by_retime_counts():
    lo = dict(_KB)
    hi = {"wall": 4.3, "shuffle_write": 20_480, "input_bytes": 30_000_000}
    cls = classify_scaling(lo, hi, data_ratio=10.0, retime_wall=4.2)
    assert cls["linear"] is False and cls["reasons"] == ["wall_confirmed"]


def test_scale_byte_growth_is_authoritative_without_retime():
    # A real shuffle (above floor at BOTH scales) growing 30x on 10x data
    # is the engine's fault — load-immune, flags immediately.
    lo = {"wall": 1.0, "shuffle_write": 1_000_000, "input_bytes": 10_000_000}
    hi = {"wall": 9.0, "shuffle_write": 30_000_000, "input_bytes": 100_000_000}
    cls = classify_scaling(lo, hi, data_ratio=10.0)
    assert cls["linear"] is False and "shuffle_write" in cls["reasons"]


def test_scale_aqe_broadcast_flip_is_informational():
    # broadcast at small SF (sub-floor shuffle) -> SMJ at large SF: a
    # legitimate planner regime change, recorded as byte_flip, not counted.
    lo = {"wall": 1.0, "shuffle_write": 423, "input_bytes": 10_000_000}
    hi = {"wall": 9.0, "shuffle_write": 11_500_000, "input_bytes": 100_000_000}
    cls = classify_scaling(lo, hi, data_ratio=10.0)
    assert cls["linear"] is True and cls["byte_flip"] == ["shuffle_write"]


def test_scale_subfloor_shuffles_never_flag_bytes():
    lo = {"wall": 0.3, "shuffle_write": 59, "input_bytes": 100}
    hi = {"wall": 0.9, "shuffle_write": 30_000, "input_bytes": 40_000}
    cls = classify_scaling(lo, hi, data_ratio=10.0)
    assert cls["linear"] is True and "byte_flip" not in cls


def test_scale_single_segment_step_is_informational():
    # The broadcast->SMJ staircase: joins against scaled tables lose
    # their broadcast somewhere in the range, so end-to-end growth looks
    # super-linear while one segment is linear. byte_step, not counted.
    lo = {"wall": 0.6, "shuffle_write": 300_000, "input_bytes": 3_000_000}
    mid = {"wall": 0.8, "shuffle_write": 950_000, "input_bytes": 9_000_000}
    hi = {"wall": 1.1, "shuffle_write": 65_000_000, "input_bytes": 30_000_000}
    cls = classify_scaling(
        lo, hi, data_ratio=10.0, mid_rec=mid, mid_data_ratio=3.0
    )
    assert cls["linear"] is True
    assert cls["byte_step"] == ["shuffle_write"]
    assert cls["shuffle_write_seg_ratios"][1] > 10


def test_scale_every_segment_super_stays_authoritative():
    # True quadratic pair expansion grows super-linearly in EVERY
    # segment — no staircase excuse.
    lo = {"wall": 1.0, "shuffle_write": 500_000, "input_bytes": 5_000_000}
    mid = {"wall": 4.0, "shuffle_write": 4_500_000, "input_bytes": 15_000_000}
    hi = {"wall": 30.0, "shuffle_write": 50_000_000, "input_bytes": 50_000_000}
    cls = classify_scaling(
        lo, hi, data_ratio=10.0, mid_rec=mid, mid_data_ratio=3.0
    )
    assert cls["linear"] is False and cls["reasons"] == ["shuffle_write"]


def test_scale_without_mid_record_keeps_single_span_rule():
    lo = {"wall": 1.0, "shuffle_write": 1_000_000, "input_bytes": 10_000_000}
    hi = {"wall": 9.0, "shuffle_write": 30_000_000, "input_bytes": 100_000_000}
    cls = classify_scaling(lo, hi, data_ratio=10.0)
    assert cls["linear"] is False and "shuffle_write" in cls["reasons"]


arbitrate_bytes_by_pinned_plan = _load_scale_sweep().arbitrate_bytes_by_pinned_plan


def test_pinned_plan_linear_records_clear_byte_flag():
    # Measured q17 case: default-config shuffle 95x (broadcast->SMJ flip)
    # but pinned-strategy RECORDS 12.7x on 10x data -> planner regime
    # change, cleared with the evidence recorded.
    cls = {"reasons": ["shuffle_write"], "linear": False}
    nb_lo = {"shuffle_write": 4_473_348, "shuffle_records": 620_763,
             "input_bytes": 1}
    nb_hi = {"shuffle_write": 77_768_289, "shuffle_records": 7_908_007,
             "input_bytes": 10}
    out = arbitrate_bytes_by_pinned_plan(cls, nb_lo, nb_hi, data_ratio=10.0)
    assert out["linear"] is True
    assert out["byte_flip_arbitrated"] == ["shuffle_write"]
    assert out["shuffle_write_pinned_basis"] == "records"
    assert out["shuffle_write_pinned_ratio"] == 12.74


def test_pinned_plan_super_records_stay_authoritative():
    # Measured media-phash case: pinned records 23x on 10x data — the
    # quadratic candidate class, no demotion.
    cls = {"reasons": ["shuffle_write"], "linear": False}
    nb_lo = {"shuffle_write": 2_310_599, "shuffle_records": 197_598}
    nb_hi = {"shuffle_write": 53_566_255, "shuffle_records": 4_572_212}
    out = arbitrate_bytes_by_pinned_plan(cls, nb_lo, nb_hi, data_ratio=10.0)
    assert out["linear"] is False and out["reasons"] == ["shuffle_write"]


def test_pinned_plan_falls_back_to_bytes_without_records():
    cls = {"reasons": ["input_bytes"], "linear": False}
    nb_lo = {"input_bytes": 1_000_000}
    nb_hi = {"input_bytes": 12_000_000}
    out = arbitrate_bytes_by_pinned_plan(cls, nb_lo, nb_hi, data_ratio=10.0)
    assert out["linear"] is True
    assert out["input_bytes_pinned_basis"] == "bytes"


def test_pinned_plan_output_growth_demotes_with_evidence():
    # Measured wide-phash case: the scaled corpus genuinely contains
    # super-linearly many near-dup pairs (result rows 54 -> 181,505 =
    # 3361x), and the engine moves only 27x records to produce them —
    # movement is carrying the answer, not wasted.
    cls = {"reasons": ["shuffle_write"], "linear": False}
    nb_lo = {"shuffle_write": 2_000_000, "shuffle_records": 170_000}
    nb_hi = {"shuffle_write": 55_000_000, "shuffle_records": 4_600_000}
    out = arbitrate_bytes_by_pinned_plan(
        cls, nb_lo, nb_hi, data_ratio=10.0, result_ratio=3361.2
    )
    assert out["linear"] is True
    assert out["output_cardinality_growth"] == ["shuffle_write"]
    assert out["result_ratio"] == 3361.2


def test_pinned_plan_quadratic_movement_for_linear_answer_still_flags():
    # Lost blocking: all-pairs volume for a linear-sized answer. The
    # result_ratio bound cannot excuse it.
    cls = {"reasons": ["shuffle_write"], "linear": False}
    nb_lo = {"shuffle_write": 1_000_000, "shuffle_records": 100_000}
    nb_hi = {"shuffle_write": 100_000_000, "shuffle_records": 10_000_000}
    out = arbitrate_bytes_by_pinned_plan(
        cls, nb_lo, nb_hi, data_ratio=10.0, result_ratio=9.8
    )
    assert out["linear"] is False and out["reasons"] == ["shuffle_write"]
