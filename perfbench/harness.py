"""Runs one workload: set-up, fixed warm-up, the timed closed loop and the
output checks, and turns them into the reported metrics."""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

from perfbench import proc, stats
from perfbench.wl_ads import AdDaily
from perfbench.wl_events import EventsStream
from perfbench.wl_registry import RegistryHeadline

WORKLOADS = {w.name: w for w in (AdDaily, RegistryHeadline, EventsStream)}

# Hard stop for a pathologically slow program: the timed section ends early
# (and the run reports what it measured) once it exceeds this many seconds.
MAX_TIMED_S = 120.0


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def run_workload(cls, seed: int, seconds: int, traced: bool, confs: dict,
                 work: Path, spans_dir: Path, t_process: float) -> dict:
    """One run; a traced run also writes its spans under ``spans_dir``."""
    from polars_ad_etl_spark.session import get_spark

    tracer = None
    if traced:
        from perfbench.tracing import Tracer

        tracer = Tracer()
        confs = dict(confs, **Tracer.SPARK_CONF)
    n_ops = cls.timed_ops(seconds)

    t = time.monotonic()
    spark = get_spark(extra_conf=confs)
    session_s = time.monotonic() - t
    if tracer:
        tracer.attach(spark)
    jvm = proc.jvm_pid(spark)

    wl = cls(spark, work, seed, n_ops)
    wl.tracer = tracer
    t = time.monotonic()
    wl.prepare()
    prepare_s = time.monotonic() - t
    t = time.monotonic()
    wl.warmup()
    warmup_s = time.monotonic() - t
    t_first = time.monotonic()
    setup_s = t_first - t_process

    py_cpu0, jvm_cpu0 = proc.self_cpu_s(), proc.tree_cpu_s(jvm)
    latencies: dict = {}
    rows = 0
    failed: dict = {}
    for k, i in enumerate(wl.timed_ids()):
        if time.monotonic() - t_first > MAX_TIMED_S:
            _log(f"timed section passed {MAX_TIMED_S:.0f} s; stopping after {k} ops")
            break
        modes = wl.trace_modes(k) if tracer else (False,)
        for on in modes:
            t = time.monotonic()
            try:
                if on:
                    with tracer.op(i):
                        n = wl.run_op(i, traced=True)
                else:
                    n = wl.run_op(i, traced=False)
            except Exception as e:  # an op that raises is a failed op
                failed[(i, on)] = f"op {i} raised {type(e).__name__}: {e}"
                continue
            latencies[(i, on)] = time.monotonic() - t
            rows += n  # reported by untraced runs only
    wall_s = time.monotonic() - t_first
    py_cpu1, jvm_cpu1 = proc.self_cpu_s(), proc.tree_cpu_s(jvm)

    t = time.monotonic()
    for key, err in wl.check(sorted(latencies)).items():
        failed.setdefault(key, err)
    wl.close()
    if tracer:
        tracer.close()
        spans_dir.mkdir(exist_ok=True)
        tracer.dump(spans_dir / f"{cls.name}-seed{seed}.jsonl")
        _log(f"spans written to {spans_dir.name}/{cls.name}-seed{seed}.jsonl")
    _log(f"{cls.name}: session {session_s:.1f} s, inputs {prepare_s:.1f} s,"
         f" warm-up {warmup_s:.1f} s, timed {wall_s:.1f} s,"
         f" checks {time.monotonic() - t:.1f} s")
    for err in list(failed.values())[:5]:
        _log(err)
    attempted = len(latencies) + len(set(failed) - set(latencies))
    n_failed = len(failed)
    _log(f"{cls.name}: {n_failed} of {attempted} ops failed"
         f" (share {stats.failure_share(attempted, n_failed):.3f})")

    if tracer:
        metrics = tracer.metrics(
            wl, latencies, session_s=session_s, warmup_s=warmup_s,
            python_cpu_s=py_cpu1 - py_cpu0, jvm_cpu_s=jvm_cpu1 - jvm_cpu0,
        )
    else:
        ok = [v for key, v in latencies.items() if key not in failed]
        if len(ok) <= stats.TAIL_MIN_BEYOND:
            raise RuntimeError(f"only {len(ok)} ops succeeded; cannot report a tail")
        p = stats.tail_percentile(len(ok))
        _log(f"{cls.name}: {len(ok)} timed ops, op_tail_s is p{p}")
        metrics = {
            "setup_s": (setup_s, "s"),
            "wall_s": (wall_s, "s"),
            "op_p50_s": (stats.median(ok), "s"),
            "op_tail_s": (stats.nearest_rank(ok, p), "s"),
            "rows_per_s": (rows / wall_s, "1/s"),
            "cpu_s": ((py_cpu1 - py_cpu0) + (jvm_cpu1 - jvm_cpu0), "s"),
            "peak_rss_mb": (proc.peak_rss_mb(jvm) + proc.peak_rss_mb(os.getpid()), "MB"),
        }
    return {
        "correct": n_failed == 0,
        "attempted": attempted,
        "failed": n_failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
