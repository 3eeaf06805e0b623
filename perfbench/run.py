"""The repo benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload ad_daily --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. Builds nothing: the package is imported
from the checkout. Each run works in a private directory under
``.perfbench_work/`` (temp dir, Spark local dirs, warehouse, working dir,
stream checkpoints), removed when the run ends. The last line of stdout is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` —
the end-to-end metrics with ``--trace 0``, the per-layer metrics of a
traced run with ``--trace 1``. A traced run also writes its spans to
``.perfbench_spans/<workload>-seed<N>.jsonl``. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import uuid  # noqa: E402
from pathlib import Path  # noqa: E402

CHECKOUT = Path.cwd().resolve()
sys.path.insert(0, str(CHECKOUT))


def _fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _isolate(run_root: Path) -> dict[str, str]:
    """Point every on-disk location the program or Spark uses into
    ``run_root``; returns the Spark confs that complete the isolation."""
    dirs = {k: run_root / k for k in ("tmp", "local", "cwd", "warehouse", "work")}
    for d in dirs.values():
        d.mkdir(parents=True)
    os.environ["TMPDIR"] = str(dirs["tmp"])
    os.environ["SPARK_LOCAL_DIRS"] = str(dirs["local"])
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    tempfile.tempdir = None  # re-read TMPDIR
    os.chdir(dirs["cwd"])
    return {
        "spark.sql.warehouse.dir": str(dirs["warehouse"]),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']} -Xms2g",
    }


def _stop_spark() -> None:
    """Stop the session and the JVM this process launched, and wait for it."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    from perfbench.proc import descendants, wait_gone

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    workers = descendants(proc.pid) if proc is not None else []
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        wait_gone(workers, timeout_s=10)  # its Python workers exit on EOF too


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (CHECKOUT / "polars_ad_etl_spark" / "__init__.py").is_file():
        _fail(f"no polars_ad_etl_spark package under {CHECKOUT}; run from a checkout")
    try:
        import pyspark  # noqa: F401
    except ImportError:
        _fail("pyspark is not installed")
    from perfbench.harness import WORKLOADS, run_workload

    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    if args.seconds < 1:
        _fail("--seconds must be at least 1")

    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_root = CHECKOUT / ".perfbench_work" / f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    try:
        confs = _isolate(run_root)
        result = run_workload(
            WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace),
            confs, run_root / "work", CHECKOUT / ".perfbench_spans", T_PROCESS,
        )
    finally:
        try:
            _stop_spark()
        finally:
            os.chdir(CHECKOUT)
            shutil.rmtree(run_root, ignore_errors=True)
            try:
                (CHECKOUT / ".perfbench_work").rmdir()
            except OSError:
                pass
    print(json.dumps(result))


if __name__ == "__main__":
    main()
