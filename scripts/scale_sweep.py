#!/usr/bin/env python
"""Scale-stress sweep: run the bench headline set PLUS the full dedup/ANN
family at several scale factors, recording per-query wall time AND
per-query shuffle read/write, input, spill, and peak execution memory
(attributed via _StageMetrics / the public monitoring REST API).

The point is evidence, not timing folklore: for each query the output
carries the wall and shuffle-byte ratios between the largest and smallest
SF, so "this plan scales ≲ linearly" is a measured number per query. The
sf0.3/sf1.0 inputs come from scripts/gen_scale.py (disjoint-key
replication: cardinalities scale exactly linearly by construction, so a
super-linear wall or shuffle ratio is the ENGINE's fault and a finding).

Usage: python scripts/scale_sweep.py OUT.json [SF_DIR:SF ...]
Defaults: /root/testdata/sf0.1:0.1 .localdata/sf0.3:0.3 .localdata/sf1.0:1.0
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import HEADLINE  # noqa: E402
from polars_ad_etl_spark.operators import QUERIES  # noqa: E402
from polars_ad_etl_spark.session import get_spark  # noqa: E402

FAMILY = sorted(n for n in QUERIES if n.startswith(("dedup_", "sim_")))


class _StageMetrics:
    """Per-query executor metrics via Spark's public monitoring REST API.

    Between ``snapshot()`` and ``delta()`` every *newly completed* stage
    (stage id above the snapshot's max) is attributed to the current query,
    and its shuffle read/write, input, spill, and peak execution memory are
    summed. Shuffle BYTES are what this sweep's byte-based verdict reads,
    and perfbench's Tracer leaves them out (they differ between runs), so
    this helper stays private to the sweep. Fail-soft: any REST hiccup
    turns metrics off for the run rather than failing the sweep."""

    def __init__(self, spark) -> None:
        self.ok = True
        self._url = None
        try:
            ui = spark.sparkContext.uiWebUrl
            app = spark.sparkContext.applicationId
            if ui:
                self._url = f"{ui}/api/v1/applications/{app}/stages?status=complete"
        except Exception:
            pass
        if not self._url:
            self.ok = False
        self._max_seen = -1

    def _stages(self):
        import urllib.request

        with urllib.request.urlopen(self._url, timeout=10) as r:
            return json.loads(r.read())

    def snapshot(self) -> None:
        if not self.ok:
            return
        try:
            ids = [s["stageId"] for s in self._stages()]
            self._max_seen = max(ids) if ids else self._max_seen
        except Exception:
            self.ok = False

    def delta(self) -> dict | None:
        if not self.ok:
            return None
        try:
            new = [s for s in self._stages() if s["stageId"] > self._max_seen]
            out = {
                "shuffle_read_bytes": sum(s.get("shuffleReadBytes", 0) for s in new),
                "shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in new),
                # records are the compression-independent movement measure:
                # the scale sweep arbitrates byte-ratio flags on them
                # (bytes can drift with encoding entropy across SFs).
                "shuffle_write_records": sum(
                    s.get("shuffleWriteRecords", 0) for s in new
                ),
                "input_bytes": sum(s.get("inputBytes", 0) for s in new),
                "spill_bytes": sum(
                    s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
                    for s in new
                ),
                "peak_execution_memory": max(
                    (s.get("peakExecutionMemory", 0) for s in new), default=0
                ),
            }
            if new:
                self._max_seen = max(s["stageId"] for s in new)
            return out
        except Exception:
            self.ok = False
            return None

# --- Scaling classification (round-10: retime/byte arbitration) ------------
# Round 9's sweep recorded `superlinear_count: 2` for two sub-second
# queries whose shuffles are ~2 KB and whose bytes scale linearly — wall
# noise recorded as a scale signal. Bytes are the load-immune evidence,
# walls need a surviving retime. The decision is a pure function so
# tests/test_bench_flags.py can pin it.
_BYTE_FLOOR = 65536  # bytes; sub-64KiB shuffles are scheduler/AQE jitter


def classify_scaling(
    lo_rec: dict,
    hi_rec: dict,
    data_ratio: float,
    tol: float = 1.25,
    retime_wall: float | None = None,
    mid_rec: dict | None = None,
    mid_data_ratio: float | None = None,
) -> dict:
    """Scale verdict for one query between the smallest and largest SF.

    ``linear`` goes False only on evidence that survives arbitration:

    - **byte growth** (shuffle_write / input_bytes ratio > tol x data
      ratio) with BOTH scales above the 64 KiB floor — a real shuffle
      growing super-linearly is the engine's fault and is load-immune.
      Two demotions for regime changes that are NOT the engine's fault:
      a sub-floor -> above-floor transition is ``byte_flip`` (the
      classic AQE broadcast->SMJ flip at the broadcast threshold), and —
      when a mid-scale record is available — super-linear growth
      confined to ONE segment is ``byte_step`` (a one-time plan-regime
      step somewhere in the range: measured on this harness, joins
      against the replicated part/customer tables lose their broadcast
      at different SFs, producing a staircase that looks super-linear
      end-to-end while each post-flip segment is linear). True
      super-linear work (quadratic pair expansion, lost pushdown at
      every scale) grows super-linearly in EVERY segment and stays
      authoritative. ``scripts/scale_sweep.py`` additionally arbitrates
      surviving byte flags by re-measuring with broadcast joins disabled
      (see main): if the no-broadcast bytes scale linearly, the
      default-config growth was join-strategy staircase, demoted to
      ``byte_flip_arbitrated``.
    - **wall growth that survives a retime**: a super-linear wall ratio
      with linear bytes is re-measured (``retime_wall``, fresh best-of-N
      at the large SF in a different host minute); only a ratio still
      super-linear after taking the min confirms. Without a retime value
      the wall stays a suspect (``wall_suspect``), never authoritative —
      wall-only evidence on a shared VM has been arbitrated to host
      variance every time it's been chased (rounds 7-9).
    """
    out: dict = {}
    wall_hi = hi_rec["wall"]
    if retime_wall is not None:
        out["retime_wall"] = round(retime_wall, 3)
        wall_hi = min(wall_hi, retime_wall)
    wall_ratio = wall_hi / max(lo_rec["wall"], 1e-9)
    out["wall_ratio"] = round(wall_ratio, 2)
    byte_reasons, flips, steps = [], [], []
    for key in ("shuffle_write", "input_bytes"):
        if key not in lo_rec or key not in hi_rec:
            continue
        if hi_rec[key] < _BYTE_FLOOR:
            continue  # tiny either way: jitter, never a scale signal
        ratio = hi_rec[key] / max(lo_rec[key], 1)
        if ratio <= data_ratio * tol:
            continue
        if lo_rec[key] < _BYTE_FLOOR:
            flips.append(key)
            continue
        if (
            mid_rec is not None
            and mid_data_ratio
            and key in mid_rec
        ):
            r1 = mid_rec[key] / max(lo_rec[key], 1)
            r2 = hi_rec[key] / max(mid_rec[key], 1)
            seg1_super = r1 > mid_data_ratio * tol
            seg2_super = r2 > (data_ratio / mid_data_ratio) * tol
            if not (seg1_super and seg2_super):
                steps.append(key)
                out[f"{key}_seg_ratios"] = [round(r1, 2), round(r2, 2)]
                continue
        byte_reasons.append(key)
        out[f"{key}_ratio"] = round(ratio, 2)
    wall_super = wall_ratio > data_ratio * tol
    reasons = list(byte_reasons)
    if wall_super:
        if retime_wall is not None:
            reasons.append("wall_confirmed")
        else:
            out["wall_suspect"] = True
    if flips:
        out["byte_flip"] = flips
    if steps:
        out["byte_step"] = steps
    out["linear"] = not reasons
    if reasons:
        out["reasons"] = reasons
    return out


def arbitrate_bytes_by_pinned_plan(
    cls: dict,
    nb_lo: dict,
    nb_hi: dict,
    data_ratio: float,
    pin_tol: float = 1.4,
    result_ratio: float | None = None,
) -> dict:
    """Join-strategy + output-cardinality arbitration for byte flags
    (pure; pinned in tests/test_bench_flags.py).

    ``nb_lo``/``nb_hi``: one-run metrics at the two endpoint SFs with
    broadcast joins DISABLED — pinning every join to shuffle removes the
    broadcast->SMJ staircase from the comparison. The pinned ratio is
    taken on shuffle RECORDS when available (compression-independent:
    byte ratios drift with encoding entropy across synthetic SFs), else
    bytes. Two demotions:

    - pinned ratio within ``pin_tol`` x data ratio: the underlying data
      movement is ~linear — the default-config growth was planner regime
      change, ``byte_flip_arbitrated``. ``pin_tol`` is looser than the
      flag tolerance on purpose: generator round-off sits within ~1.4x,
      while the quadratic class measures 5-100x over.
    - pinned ratio within ``pin_tol`` x the RESULT-ROW ratio
      (``result_ratio``): the movement is carrying the ANSWER. A query
      whose correct output grows super-linearly in the scaled corpus
      (measured here: cross-copy media near-dup pairs — replication
      produces genuinely similar documents, so the pair count itself is
      super-linear) must move at least proportionally many rows; flagging
      that would blame the engine for the dataset's answer. Demoted to
      ``output_cardinality_growth`` with both ratios recorded. An engine
      moving ~quadratic volume for a LINEAR-sized answer (lost blocking,
      all-pairs scan) still flags — its result_ratio is small.

    Ratios over both bounds stay authoritative."""
    flagged = [
        r for r in cls.get("reasons", [])
        if r in ("shuffle_write", "input_bytes")
    ]
    cleared = {}
    for key in flagged:
        if key == "shuffle_write" and nb_lo.get("shuffle_records"):
            r = nb_hi.get("shuffle_records", 0) / nb_lo["shuffle_records"]
            basis = "records"
        else:
            if not nb_lo.get(key):
                continue
            r = nb_hi.get(key, 0) / nb_lo[key]
            basis = "bytes"
        cls[f"{key}_pinned_ratio"] = round(r, 2)
        cls[f"{key}_pinned_basis"] = basis
        if r <= data_ratio * pin_tol:
            cls["reasons"].remove(key)
            cleared[key] = "byte_flip_arbitrated"
        elif result_ratio is not None and r <= result_ratio * pin_tol:
            cls["reasons"].remove(key)
            cleared[key] = "output_cardinality_growth"
            cls["result_ratio"] = round(result_ratio, 2)
    for key, label in cleared.items():
        cls.setdefault(label, []).append(key)
    if cleared:
        cls["linear"] = not cls["reasons"]
        if not cls["reasons"]:
            del cls["reasons"]
    return cls


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "BENCH_r5_sf1.json"
    if len(sys.argv) > 2:
        sfs = [(p.rsplit(":", 1)[0], float(p.rsplit(":", 1)[1])) for p in sys.argv[2:]]
    else:
        sfs = [
            ("/root/testdata/sf0.1", 0.1),
            (".localdata/sf0.3", 0.3),
            (".localdata/sf1.0", 1.0),
        ]
    # the combine-decay mitigation twins (rounds 11-12) scale-sweep
    # alongside their originals even though they are in neither HEADLINE
    # nor FAMILY — the _prepart repartition twins and the zero-shuffle
    # bucketed layout twins of the two confirmed-decay aggregates
    extra = sorted(n for n in QUERIES if n.endswith("_prepart")) + [
        "q18_large_volume_customers_bucketed",
        "window_rank_parts_by_revenue_bucketed",
    ]
    names = list(dict.fromkeys(HEADLINE + FAMILY + extra))
    # SPARK_GRAFT_EXCLUDE: comma list to drop (e.g. the documented
    # quadratic small-scale ground-truth controls on a big-SF stretch run)
    exclude = set(
        x for x in os.environ.get("SPARK_GRAFT_EXCLUDE", "").split(",") if x
    )
    if exclude:
        print(f"excluding {sorted(exclude & set(names))}", flush=True)
        names = [n for n in names if n not in exclude]
    # SPARK_GRAFT_ONLY: comma list to restrict (the sf3 stretch run sweeps
    # just the confirmed-decay queries + twins + the media-phash pair set)
    only = set(
        x for x in os.environ.get("SPARK_GRAFT_ONLY", "").split(",") if x
    )
    if only:
        names = [n for n in names if n in only]
    spark = get_spark(
        "scale-sweep",
        extra_conf={"spark.ui.enabled": "true", "spark.ui.port": "0"},
    )
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    # JIT/codegen warmup at tiny SFs (same rationale as bench.py)
    for d in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        for name in names:
            QUERIES[name](spark, d).count()

    runs = 2  # best-of-2 wall per query and scale, like bench.py
    metrics_src = _StageMetrics(spark)
    result: dict = {"sfs": [sf for _, sf in sfs], "runs": runs, "queries": {}}
    for name in names:
        result["queries"][name] = {}
    for sf_dir, sf in sfs:
        # Steady-state contract for the bucketed layout twins: they build
        # their materialized store on first touch (mtime-keyed cache).
        # Warm that ONE-TIME write outside the measured runs so the sweep
        # measures the production read path — the write-time shuffle is
        # amortized by design and measured separately in
        # scripts/layout_bench.py. (Measured r12: a cold q18 store build
        # at sf1.0 recorded 1.5M shuffled records per run against a warm
        # run's 200.)
        for name in names:
            if name.endswith("_bucketed"):
                QUERIES[name](spark, sf_dir).count()
        for name in names:
            fn = QUERIES[name]
            best = float("inf")
            n_rows = 0
            metrics_src.snapshot()
            for _ in range(runs):
                t0 = time.perf_counter()
                n_rows = fn(spark, sf_dir).count()
                best = min(best, time.perf_counter() - t0)
            rec = {"wall": round(best, 3), "rows": int(n_rows)}
            m = metrics_src.delta()
            if m:
                rec.update(
                    shuffle_read=m["shuffle_read_bytes"] // runs,
                    shuffle_write=m["shuffle_write_bytes"] // runs,
                    shuffle_records=m.get("shuffle_write_records", 0) // runs,
                    input_bytes=m["input_bytes"] // runs,
                    spill=m["spill_bytes"] // runs,
                    peak_mem=m["peak_execution_memory"],
                )
            result["queries"][name][str(sf)] = rec
            print(f"sf{sf} {name}: {rec['wall']}s", flush=True)

    lo, hi = str(sfs[0][1]), str(sfs[-1][1])
    lo_dir, hi_dir = sfs[0][0], sfs[-1][0]
    data_ratio = sfs[-1][1] / sfs[0][1]
    mid = str(sfs[1][1]) if len(sfs) > 2 else None
    mid_data_ratio = sfs[1][1] / sfs[0][1] if len(sfs) > 2 else None
    result["data_ratio"] = data_ratio

    _BCAST = ("spark.sql.autoBroadcastJoinThreshold",
              "spark.sql.adaptive.autoBroadcastJoinThreshold")

    def _no_broadcast_bytes(name: str, sf_dir: str) -> dict | None:
        """One no-broadcast run's byte/record metrics: the
        join-strategy-pinned measurement that arbitrates a byte flag (see
        arbitrate_bytes_by_pinned_plan).

        Disabling the thresholds removes THRESHOLD-driven broadcasts (the
        staircase source) but deliberately leaves explicit broadcast()
        hints in place (fixed dims like q10's nation; q18-bucketed's
        selective-by-construction probe side). That is sound, not a
        loophole: hints are size-independent, so a hinted join
        contributes no regime step for the pin to remove — and broadcast
        movement is invisible to shuffle-byte metrics in the DEFAULT run
        too, so no byte flag can ever be demoted on evidence it never
        contained. The pinned ratio compares exactly the movement the
        flag was raised on."""
        old = {c: spark.conf.get(c, None) for c in _BCAST}
        for c in _BCAST:
            spark.conf.set(c, "-1")
        try:
            metrics_src.snapshot()
            QUERIES[name](spark, sf_dir).count()
            m = metrics_src.delta()
        finally:
            for c, v in old.items():
                spark.conf.set(c, v) if v is not None else spark.conf.unset(c)
        if m is None:
            return None
        return {"shuffle_write": m["shuffle_write_bytes"],
                "shuffle_records": m.get("shuffle_write_records", 0),
                "input_bytes": m["input_bytes"]}

    for name, per_sf in result["queries"].items():
        a, b = per_sf[lo], per_sf[hi]
        m_rec = per_sf.get(mid) if mid else None
        if "shuffle_write" in a and "shuffle_write" in b:
            per_sf["shuffle_ratio"] = round(
                b["shuffle_write"] / max(a["shuffle_write"], 1), 2
            )
        cls = classify_scaling(
            a, b, data_ratio, mid_rec=m_rec, mid_data_ratio=mid_data_ratio
        )
        if cls.get("wall_suspect") and cls["linear"]:
            # wall-only super-linear suspect: arbitrate with a fresh
            # best-of-N retime at the large SF (different host minute)
            fn = QUERIES[name]
            best = float("inf")
            for _ in range(runs):
                t0 = time.perf_counter()
                fn(spark, hi_dir).count()
                best = min(best, time.perf_counter() - t0)
            cls = classify_scaling(
                a, b, data_ratio, retime_wall=best,
                mid_rec=m_rec, mid_data_ratio=mid_data_ratio,
            )
            print(
                f"retimed {name} at sf{hi}: {best:.3f}s -> "
                f"{'CONFIRMED superlinear' if not cls['linear'] else 'cleared'}",
                flush=True,
            )
        byte_flagged = [
            r for r in cls.get("reasons", [])
            if r in ("shuffle_write", "input_bytes")
        ]
        if byte_flagged:
            # Join-strategy arbitration: pin every join to shuffle (no
            # broadcasts) and re-measure the endpoints on shuffle RECORDS
            # — see arbitrate_bytes_by_pinned_plan. Still-super pinned
            # movement stays authoritative (quadratic pair expansion,
            # combine-decay past tolerance).
            nb_lo = _no_broadcast_bytes(name, lo_dir)
            nb_hi = _no_broadcast_bytes(name, hi_dir)
            result_ratio = (
                b["rows"] / a["rows"]
                if a.get("rows") and b.get("rows") is not None
                else None
            )
            if nb_lo and nb_hi:
                cls = arbitrate_bytes_by_pinned_plan(
                    cls, nb_lo, nb_hi, data_ratio,
                    result_ratio=result_ratio,
                )
                print(
                    f"pinned-plan arbitration {name}: "
                    + ", ".join(
                        f"{k}={cls.get(f'{k}_pinned_ratio')}x"
                        f"({cls.get(f'{k}_pinned_basis')})"
                        for k in byte_flagged
                    )
                    + (
                        f" -> cleared {cls.get('byte_flip_arbitrated')}"
                        if cls.get("byte_flip_arbitrated")
                        else " -> CONFIRMED"
                    ),
                    flush=True,
                )
        per_sf.update(cls)
    result["total_wall"] = {
        str(sf): round(
            sum(result["queries"][n][str(sf)]["wall"] for n in names), 2
        )
        for _, sf in sfs
    }
    n_super = sum(1 for q in result["queries"].values() if not q["linear"])
    result["superlinear_count"] = n_super
    result["superlinear_basis"] = (
        "byte growth above 64KiB floor at both scales OR wall ratio "
        "surviving a fresh retime (round 10+; see classify_scaling)"
    )
    Path(out_path).write_text(json.dumps(result, indent=1))
    print(f"totals {result['total_wall']}  superlinear={n_super}/{len(names)}")


if __name__ == "__main__":
    main()
