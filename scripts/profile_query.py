#!/usr/bin/env python
"""Per-query profile through the bench's own instrument: for each named
query, the record bench.py writes to its sidecar (the steady run's construct
and execution jobs, stages, exchanges, shuffle records and input bytes) as
one JSON line, then one row per stage of that steady run.

Usage: python scripts/profile_query.py <query> [query ...]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
Each query is warmed like in bench.py (same warm-up dirs), then run twice;
the second run is traced. Its stages are found through the traced
spans' job ids, so each row belongs to that one execution.
"""

from __future__ import annotations

import json
import os
import sys
import urllib.request
from pathlib import Path

_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_ROOT))

import bench  # noqa: E402


def _stage_rows(spark, spans):
    """(span, job, completed stage attempt) for every job of the spans."""
    sc = spark.sparkContext
    rest = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/stages"
    tracker = sc.statusTracker()
    for s in sorted(spans, key=lambda s: s.start):
        for j in sorted(s.jobs):
            for sid in sorted(tracker.getJobInfo(j).stageIds):
                with urllib.request.urlopen(f"{rest}/{sid}", timeout=10) as r:
                    for a in json.loads(r.read()):
                        if a["status"] == "COMPLETE":
                            yield s.name, j, a


def main() -> int:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark, tracer = bench.bench_session()
    bench.warm_up(spark, names)
    for name in names:
        wall, rec = bench.timed_query(spark, tracer, name, sf_dir)
        print(json.dumps({"query": name, "wall": round(wall, 3), **rec}))
        print(f"{'span':<20} {'job':>4} {'stage':>5} {'tasks':>5} "
              f"{'exec_ms':>8} {'cpu_ms':>7} {'in_MB':>7} {'sh_rd_MB':>8} "
              f"{'sh_wr_MB':>8} {'sh_wrec':>8}  name")
        for span, job, a in _stage_rows(spark, tracer.op_spans[name]):
            print(
                f"{span:<20} {job:>4} {a['stageId']:>5} "
                f"{a['numCompleteTasks']:>5} {a['executorRunTime']:>8} "
                f"{a['executorCpuTime'] // 1_000_000:>7} "
                f"{a['inputBytes'] / 1e6:>7.2f} "
                f"{a['shuffleReadBytes'] / 1e6:>8.3f} "
                f"{a['shuffleWriteBytes'] / 1e6:>8.3f} "
                f"{a['shuffleWriteRecords']:>8}  {a['name'][:60]}"
            )
    tracer.close()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
