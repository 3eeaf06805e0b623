"""Records the warm-up plateau curve a workload's fixed warm-up count is
chosen from: op latency by op index in a fresh JVM, untraced.

    python3 perfbench/plateau.py --workload ad_daily --ops 40 --seed 0

Run from the root of a checkout. Writes ``perfbench/plateau/<workload>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import uuid
from pathlib import Path

sys.path.insert(0, str(Path.cwd().resolve()))

from perfbench.run import CHECKOUT, _isolate, _stop_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--ops", type=int, default=40)
    ap.add_argument("--seed", type=int, default=0)
    args = ap.parse_args()
    from perfbench.harness import WORKLOADS

    cls = WORKLOADS[args.workload]
    if not hasattr(cls, "for_plateau"):
        sys.exit(f"{args.workload} warms up with its check pass; it has no plateau curve")
    run_root = CHECKOUT / ".perfbench_work" / f"plateau-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    try:
        confs = _isolate(run_root)
        from polars_ad_etl_spark.session import get_spark

        t = time.monotonic()
        spark = get_spark(extra_conf=confs)
        session_s = time.monotonic() - t
        wl = cls.for_plateau(spark, run_root / "work", args.seed, args.ops)
        curve = []
        for i in wl.plateau_ids():
            t = time.monotonic()
            wl.run_op(i, traced=False)
            curve.append(round(time.monotonic() - t, 4))
            print(f"op {len(curve) - 1}: {curve[-1]:.3f} s", flush=True)
        wl.close()
    finally:
        _stop_spark()
        os.chdir(CHECKOUT)
        shutil.rmtree(run_root, ignore_errors=True)
    out = CHECKOUT / "perfbench" / "plateau" / f"{args.workload}.json"
    out.parent.mkdir(exist_ok=True)
    out.write_text(json.dumps({
        "workload": args.workload, "seed": args.seed, "cpus": os.cpu_count(),
        "session_s": round(session_s, 3), "op_latency_s": curve,
    }, indent=1) + "\n")


if __name__ == "__main__":
    main()
