#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
compact JSON line AS THE FINAL LINE of stdout:
{"metric": ..., "value": total_sec, "unit": "sec",
 "queries": {name: sec, ...}, "sf": ...}.

Each query is executed to completion (count() action) after a warm-up of the
session; per-query time is wall-clock for plan + execution.

Emission contract (round-6 fix): the driver captures only a bounded tail of
stdout, so the final line MUST stay compact — per-query counts and the run
protocol go to a sidecar JSON file ($SPARK_GRAFT_BENCH_SIDECAR, default
bench_query_metrics.json next to this script), never the stdout line.

Measurement protocol (committed here so round-over-round comparisons are
like-for-like without footnotes):
  1. JVM warm-up + two compile-warmup passes (sf0.001 then sf0.01) so
     whole-stage-codegen compilation and class loading are off the clock.
     The JIT may still be warming: the session factory raises the driver's
     C2 thresholds tenfold, so a method can reach C2 during the measured
     runs. That moves walls, never counts;
  2. best-of-2 wall per query, reported only;
  3. exact steady-run counts: the second run of each query is traced with
     perfbench's Tracer (``operators.construct`` and ``operators.execute``
     spans), and its construct jobs, execution jobs, stages, exchanges,
     shuffle records and input bytes are compared with bench_budgets.json.
     A count above its budget flags the query; one below it is reported as
     an improvement. The counts repeat exactly between runs on identical
     code whatever the host load, so there is no tolerance.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from perfbench.tracing import Tracer, subtree  # noqa: E402
from perfbench.wl_registry import QUERY_NAMES, count_exchanges  # noqa: E402
from polars_ad_etl_spark.operators import QUERIES  # noqa: E402
from polars_ad_etl_spark.session import get_spark  # noqa: E402

# Headline set: one per operator family (agg, joins, window, topk, setop,
# dedup, similarity, text) — the queries a user would actually run
# repeatedly; the same 37, in the same order, as perfbench's
# registry_headline workload.
HEADLINE = list(QUERY_NAMES)

# The steady-run record of one query, in sidecar order.
COUNTS = ("construct_jobs", "exec_jobs", "stages", "exchanges",
          "shuffle_records", "input_bytes")
_JOBS = {"operators.construct": "construct_jobs",
         "operators.execute": "exec_jobs"}


def bench_session():
    """The bench's session with a perfbench Tracer attached (Spark UI on for
    its stage figures), warmed up so the first measured query doesn't pay
    JVM init. SPARK_GRAFT_BENCH_EXTRA_CONF ("k=v,k=v") adds conf overrides:
    the planted-regression protocol sets
    spark.sql.autoBroadcastJoinThreshold=-1 there and expects count flags."""
    extra = dict(Tracer.SPARK_CONF)
    for kv in os.environ.get("SPARK_GRAFT_BENCH_EXTRA_CONF", "").split(","):
        if "=" in kv:
            k, _, v = kv.partition("=")
            extra[k.strip()] = v.strip()
    spark = get_spark("polars-ad-etl-spark-bench", extra_conf=extra)
    tracer = Tracer()
    tracer.attach(spark)
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    return spark, tracer


def warm_up(spark, names) -> None:
    """Run each query once at the smallest SF first: whole-stage codegen
    compilation + JIT are one-time per query shape, not per-run work, so
    timing them against the target SF would measure compiler latency, not
    engine throughput. Two passes: sf0.001 compiles every query shape
    cheaply; sf0.01 pushes rows through the generated code so its hottest
    loops get JIT-compiled before the timed runs (measured with HotSpot's
    default thresholds: without it the first sf0.1 query pays ~3s of
    compiler time — 4.24s vs 1.16s for q1)."""
    warmup_dir = os.environ.get("SPARK_GRAFT_WARMUP_DIR", "/root/testdata/sf0.001")
    warmup_dirs = [warmup_dir, os.environ.get(
        "SPARK_GRAFT_WARMUP2_DIR", "/root/testdata/sf0.01")]
    for d in warmup_dirs:
        if d and os.path.isdir(d):
            for name in names:
                QUERIES[name](spark, d).count()


def timed_query(spark, tracer, name: str, sf_dir: str) -> tuple[float, dict]:
    """Best-of-2 wall of ``QUERIES[name](spark, sf_dir).count()`` and the
    counts of the second run, which is traced. Only the second run's counts
    repeat: the first read of a table at a new scale runs a parquet footer
    job that the base-relation cache then skips."""
    fn = QUERIES[name]
    t0 = time.perf_counter()
    fn(spark, sf_dir).count()
    first = time.perf_counter() - t0
    with tracer.op(name):
        t0 = time.perf_counter()
        with tracer.span("operators.construct"):
            df = fn(spark, sf_dir)
        with tracer.span("operators.execute"):
            df.count()
        steady = time.perf_counter() - t0
    plan = df._jdf.queryExecution().executedPlan().toString()
    return min(first, steady), steady_counts(tracer.op_spans[name],
                                             count_exchanges(plan))


def steady_counts(spans, exchanges: int) -> dict:
    """Sum each span's jobs and stage figures over the construct and execute
    subtrees of one traced op."""
    rec = dict.fromkeys(COUNTS, 0)
    rec["exchanges"] = exchanges
    for top in spans:
        if top.name not in _JOBS:
            continue
        for s in subtree(spans, top):
            rec[_JOBS[top.name]] += len(s.jobs)
            for k in ("stages", "shuffle_records", "input_bytes"):
                rec[k] += int(s.figures[k])
    return rec


def check_counts(budgets: dict, sf, cpus: int, counts: dict[str, dict]) -> dict:
    """Compare each query's counts with bench_budgets.json. Any count above
    its budget flags the query, any below it is an improvement. Shuffle
    records follow defaultParallelism, so budgets recorded at another scale
    factor or core count are not comparable."""
    if (budgets.get("sf"), budgets.get("cpus")) != (sf, cpus):
        return {"comparable": False,
                "reason": f"budgets are for sf {budgets.get('sf')} on "
                          f"{budgets.get('cpus')} cpus; this run is sf {sf} "
                          f"on {cpus} cpus"}
    flagged, improved = {}, {}
    for name, rec in counts.items():
        bud = budgets["counts"].get(name)
        if bud is None:
            continue
        up = {k: [bud[k], rec[k]] for k in COUNTS if rec[k] > bud[k]}
        down = {k: [bud[k], rec[k]] for k in COUNTS if rec[k] < bud[k]}
        if up:
            flagged[name] = up
        if down:
            improved[name] = down
    return {"comparable": True,
            "n_checked": sum(1 for n in counts if n in budgets["counts"]),
            "unbudgeted": sorted(n for n in counts if n not in budgets["counts"]),
            "n_flagged": len(flagged), "flagged": flagged,
            "n_improved": len(improved), "improved": improved}


def recorded_counts(sf, cpus: int, counts: dict[str, dict]) -> dict:
    """The bench_budgets.json that records this run's counts."""
    return {"sf": sf, "cpus": cpus,
            "counts": {n: dict(counts[n]) for n in sorted(counts)}}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark, tracer = bench_session()
    warm_up(spark, HEADLINE)
    times: dict[str, float] = {}
    counts: dict[str, dict] = {}
    for name in HEADLINE:
        best, counts[name] = timed_query(spark, tracer, name, sf_dir)
        times[name] = round(best, 3)
    tracer.close()

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "sf": float(sf) if sf.replace(".", "", 1).isdigit() else sf,
    }
    # Per-query count gate against the committed bench_budgets.json; walls
    # are reported only. SPARK_GRAFT_BENCH_UPDATE_BUDGETS=1 records this
    # run's counts; any host may record them, as counts do not follow load.
    cpus = spark.sparkContext.defaultParallelism
    budgets_path = Path(__file__).resolve().parent / "bench_budgets.json"
    budget_check = None
    if budgets_path.is_file():
        budget_check = check_counts(json.loads(budgets_path.read_text()),
                                    out["sf"], cpus, counts)
        if not budget_check["comparable"]:
            print(f"WARNING: counts not comparable: {budget_check['reason']}",
                  file=sys.stderr)
        elif budget_check["flagged"]:
            print("WARNING: counts above bench_budgets.json: " + ", ".join(
                f"{n} [{'+'.join(v)}]" for n, v in budget_check["flagged"].items()),
                file=sys.stderr)
    if os.environ.get("SPARK_GRAFT_BENCH_UPDATE_BUDGETS"):
        budgets_path.write_text(
            json.dumps(recorded_counts(out["sf"], cpus, counts), indent=1) + "\n")
        print("updated bench_budgets.json", file=sys.stderr)
    # Sidecar: everything that would bloat the stdout line beyond the
    # driver's bounded tail capture (round-5 post-mortem: query_metrics on
    # the stdout line pushed the JSON start outside a 2000-char tail and
    # the headline number was never recorded).
    sidecar = {
        "protocol": {
            "warmup": "jvm + per-query compile passes at sf0.001 and sf0.01",
            "runs_per_query": 2,
            "timing": "best-of-2 wall per query",
            "counts": "exact counts of the second (steady) run",
            "cpus": cpus,
        },
        "headline": out,
        "query_metrics": counts,
    }
    if budget_check is not None:
        sidecar["budget_check"] = budget_check
    sidecar_path = os.environ.get(
        "SPARK_GRAFT_BENCH_SIDECAR",
        str(Path(__file__).resolve().parent / "bench_query_metrics.json"),
    )
    try:
        Path(sidecar_path).write_text(json.dumps(sidecar, indent=1) + "\n")
    except OSError as e:
        print(f"WARNING: could not write sidecar {sidecar_path}: {e}",
              file=sys.stderr)
    # The compact headline JSON is the FINAL stdout line — keep it that way.
    line = json.dumps(out, separators=(",", ":"))
    if len(line) > 1800:
        # Bounded-tail safety: per-query times live in the sidecar anyway,
        # so degrade to the headline scalar rather than risk an unparseable
        # truncated line if HEADLINE ever grows past the capture window.
        print(f"WARNING: headline line {len(line)} chars > 1800; dropping "
              "per-query map from stdout (full copy is in the sidecar).",
              file=sys.stderr)
        line = json.dumps({k: v for k, v in out.items() if k != "queries"},
                          separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
