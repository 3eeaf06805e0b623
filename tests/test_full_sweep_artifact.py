"""Gates on the committed verification artifacts.

The driver's CORRECTNESS gate samples ~50 registry queries per round; the
committed ``CORRECTNESS_full_r*.json`` (written by ``scripts/full_sweep.py``)
is the full-registry proof, and ``EDGE_r*.json`` (written by
``scripts/edge_sweep.py``) is the robustness proof on empty/tiny/nulls/fuzz
inputs. These tests make both artifacts load-bearing: they must exist, be
all-green, and cover exactly the CURRENT registry — so adding or renaming a
query without re-running the sweeps fails the suite instead of silently
shipping an unverified query."""

from __future__ import annotations

import json
import re
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent


def _latest(pattern: str) -> Path:
    # Keep only glob hits whose stem actually carries a round number — a
    # stray file like CORRECTNESS_full_rc1.json matches the glob but not
    # the regex, and must produce a clear failure rather than an
    # AttributeError inside the sort key.
    matched = [
        (p, re.search(r"_r(\d+)", p.stem)) for p in ROOT.glob(pattern)
    ]
    cands = sorted(
        (p for p, m in matched if m),
        key=lambda p: int(re.search(r"_r(\d+)", p.stem).group(1)),
    )
    if not cands:
        stray = [p.name for p, m in matched if not m]
        pytest.fail(
            f"no committed {pattern} artifact with a _r<N> round number — "
            "run the sweep script and commit its output"
            + (f" (ignored non-matching: {stray})" if stray else "")
        )
    return cands[-1]


def _registry_names() -> set[str]:
    from polars_ad_etl_spark.operators import QUERIES

    return set(QUERIES)


def test_full_sweep_artifact_is_current_and_green():
    p = _latest("CORRECTNESS_full_r*.json")
    art = json.loads(p.read_text())
    meta, results = art["meta"], art["results"]
    names = _registry_names()
    assert set(results) == names, (
        f"{p.name} covers {len(results)} queries but the registry has "
        f"{len(names)} — re-run scripts/full_sweep.py and commit"
    )
    bad = {n: r for n, r in results.items() if r["status"] != "match"}
    assert not bad, f"{p.name} has non-green entries: {sorted(bad)[:10]}"
    assert meta["mismatch"] == 0 and meta["crash"] == 0
    assert meta["ok"] == len(names)


def test_cluster_probe_artifact_is_current_and_green():
    """The local-cluster probe (separate executor JVMs — the only sweep
    that catches closure-serialization / executor-local-state bugs that
    local[N]'s single JVM hides) must be a committed, all-green artifact
    covering exactly the current registry."""
    p = _latest("CLUSTER_r*.json")
    art = json.loads(p.read_text())
    meta, results = art["meta"], art["results"]
    assert "local-cluster" in meta["session"]
    names = _registry_names()
    assert set(results) == names, (
        f"{p.name} covers {len(results)} queries but the registry has "
        f"{len(names)} — re-run scripts/local_cluster_probe.py and commit"
    )
    bad = {n: r for n, r in results.items() if r["status"] != "match"}
    assert not bad, f"{p.name} has non-green entries: {sorted(bad)[:10]}"
    assert meta["mismatch"] == 0 and meta["crash"] == 0
    assert meta["ok"] == len(names)


def test_streaming_bench_artifact_has_all_stateful_rows():
    """The committed streaming bench must carry a measured (non-zero,
    non-errored) row for every stateful pipeline INCLUDING both custom
    stateful APIs — the TWS row silently skipping would reopen the
    round-6 'one untested execution surface' gap."""
    p = _latest("BENCH_r*_streaming.json")
    art = json.loads(p.read_text())
    rows = [
        "rate_stress_session_windows",
        "rate_stress_stateful_dedup",
        "rate_stress_user_totals_legacy_api",
        "rate_stress_spend_alerts_tws",
    ]
    if int(re.search(r"_r(\d+)", p.stem).group(1)) >= 8:
        # round 8+: every stateful pipeline also carries its RocksDB twin
        # (the production store at 100 TB) — a heap-only artifact would
        # silently drop the provider the deployment actually runs
        rows += [
            "rate_stress_session_windows_rocksdb",
            "rate_stress_stateful_dedup_rocksdb",
            "rate_stress_user_totals_legacy_api_rocksdb",
        ]
        assert art.get("pipelines_rocksdb"), (
            f"{p.name} missing the pipelines_rocksdb file-replay block"
        )
    for row in rows:
        block = art.get(row)
        assert isinstance(block, dict) and not block.get("error"), (
            f"{p.name} missing/errored {row}: {block}"
        )
        # a stress offered a rate it sustains reports no ceiling
        rate = block.get("ceiling_rows_per_sec_p50",
                         block.get("unsaturated_rows_per_sec_p50", 0))
        assert rate > 0, (
            f"{p.name} {row} recorded no completed batches"
        )
        assert not block.get("query_error"), f"{p.name} {row}: {block['query_error']}"
    if int(re.search(r"_r(\d+)", p.stem).group(1)) >= 11:
        # round 11+: the labeled VECTOR admission sibling must carry a
        # measured row alongside the document decisions pipeline
        blk = art.get("ingest_embedding_decisions")
        assert isinstance(blk, dict) and blk.get("n_decisions", 0) > 0, (
            f"{p.name} missing/empty ingest_embedding_decisions: {blk}"
        )
    if int(re.search(r"_r(\d+)", p.stem).group(1)) >= 12:
        # round 12+: each decisions pipeline carries the full grid — the
        # persisted-index default, the derived comparison row, and the
        # 5x/10x batch-size rows proving the per-trigger overhead
        # amortizes (rows/s must IMPROVE with batch size, or batching
        # cannot be the keep-up lever at scale)
        for base in ("ingest_decisions", "ingest_embedding_decisions"):
            rows_ps = {}
            for sfx in ("", "_derived", "_fpt5x", "_fpt10x"):
                blk = art.get(base + sfx)
                assert isinstance(blk, dict) and blk.get(
                    "n_decisions", 0
                ) > 0, f"{p.name} missing/empty {base + sfx}: {blk}"
                rows_ps[sfx] = blk["rows_per_sec"]
            assert rows_ps["_fpt10x"] > 1.5 * rows_ps[""], (
                f"{p.name} {base}: 10x batches did not amortize the "
                f"per-trigger overhead: {rows_ps}"
            )


def test_edge_sweep_artifact_is_current_and_green():
    p = _latest("EDGE_r*.json")
    art = json.loads(p.read_text())
    names = _registry_names()
    variants = art["variants"]
    required = {"empty", "tiny", "nulls", "fuzz", "textfuzz"}
    if int(re.search(r"_r(\d+)", p.stem).group(1)) >= 12:
        # round 12+: per-row text VOLUME joins the robustness bar — MB-scale
        # documents stress shingle width, CDC chunking, and Arrow batch
        # sizing in ways the byte-level textfuzz variant cannot
        required |= {"longdoc"}
    assert set(variants) >= required, (
        f"{p.name} missing variants: have {sorted(variants)}"
    )
    for v, block in variants.items():
        assert block["total"] == len(names), (
            f"{p.name} variant {v!r} swept {block['total']} queries but "
            f"the registry has {len(names)} — re-run scripts/edge_sweep.py"
        )
        assert block["mismatch"] == 0 and block["crash"] == 0, (
            f"{p.name} variant {v!r} not green: {block}"
        )
