"""Streaming throughput/state regression bounds.

Drives the streaming bench harness (scripts/streaming_bench.py) at small
SF and asserts the engine-level invariants that must survive any refactor:

- every pipeline completes under Trigger.AvailableNow in multiple
  micro-batches (the file source actually batches; not one giant batch);
- watermarked state PLATEAUS: the final batch's state-row count does not
  exceed the mid-run maximum (state is expired, not accumulated) — the
  property that makes 100-TB/unbounded streams feasible;
- sustained throughput stays above a deliberately conservative floor
  (~10x below what this container measures) so a 10x regression — a
  Python-row path sneaking into the hot loop, state misconfiguration —
  fails the suite while boot-to-boot machine variance (~1.4x) does not.
"""

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))

from streaming_bench import (  # noqa: E402
    PIPELINES,
    prepare_source,
    run_pipeline,
    steady_summary,
)


@pytest.fixture(scope="module")
def bench_results(spark):
    src = prepare_source(spark, "/root/testdata/sf0.01", 8)
    out = {name: run_pipeline(spark, src, name, 2) for name in PIPELINES}
    import shutil

    shutil.rmtree(src, ignore_errors=True)
    return out


@pytest.mark.parametrize("name", list(PIPELINES))
def test_streaming_pipeline_batches_and_state_plateau(bench_results, name):
    r = bench_results[name]
    # sf0.01 events = 10k rows, every row processed; the stream-stream
    # self-join scans the source once per side, so its input count doubles
    expected = 20_000 if name == "purchase_click_join" else 10_000
    assert r["total_rows"] == expected
    assert r["n_batches"] >= 3  # the source really micro-batches
    # state plateaus: expiry works (equality allowed — plateau, not growth)
    assert r["final_state_rows"] <= r["max_state_rows"]
    assert r["max_state_rows"] > 0  # the pipeline is actually stateful


def test_streaming_throughput_floor(bench_results):
    # conservative: this container sustains >> 10k rows/s on the rollup;
    # the floor catches order-of-magnitude regressions only.
    assert bench_results["hourly_rollup"]["rows_per_sec"] > 1_000
    assert bench_results["stateful_dedup"]["rows_per_sec"] > 500


def _batch(rate, ms, state_rows):
    return {"rows": 1000, "ms": ms, "proc_rows_per_sec": rate,
            "state_rows": state_rows, "state_bytes": 10 * state_rows}


def test_rate_stress_summary_has_no_steady_rate_from_cold_batches():
    """A stress that completed only its two cold batches reports no rate:
    its cold batches' rows/s is not its ceiling."""
    cold = [_batch(570_000.0, 16_300, 5), _batch(410_000.0, 15_900, 7)]
    s = steady_summary(cold, "ceiling")
    assert s["n_batches"] == 2 and s["n_steady_batches"] == 0
    assert s["ceiling_rows_per_sec_p50"] is None
    assert s["ceiling_rows_per_sec_max"] is None
    assert s["batch_ms_p50"] is None
    assert (s["max_state_rows"], s["max_state_bytes"]) == (7, 70)
    # from the third batch on, only the steady batches count
    s = steady_summary(
        cold + [_batch(90_000.0, 950, 3), _batch(110_000.0, 850, 4)],
        "unsaturated",
    )
    assert s["n_steady_batches"] == 2
    assert s["unsaturated_rows_per_sec_p50"] == 100_000.0
    assert s["unsaturated_rows_per_sec_max"] == 110_000.0
    assert s["batch_ms_p50"] == 900
    assert s["max_state_rows"] == 7
