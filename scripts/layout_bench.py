#!/usr/bin/env python
"""Layout-amortization bench: flat parquet vs the bucketed stores.

The bucketed layouts (sources/star.py, written through
sinks/bucketed.py::write_bucketed) exist to amortize ONE write-time shuffle
over every downstream pass. The plan pins prove the Exchange is gone; this
script measures what that is worth and what it costs, producing a committed
artifact (BENCH_r{N}_layout.json) with, per workload twin:

- flat vs bucketed wall (median of 3 after a compile warmup) — host-noisy
  at small SF, reported for completeness;
- flat vs bucketed SHUFFLE RECORDS — the load-immune signal: the records
  a bucketed pass stops moving are exactly the records the flat pass
  shuffles, at every scale;
- the one-time materialization cost (wall + shuffle records) of each store;
- records-based break-even: materialization shuffle records divided by
  per-pass shuffle savings = number of passes after which the layout has
  paid for itself (the wall-based figure is printed alongside but records
  are the number that transfers to a 1000-executor cluster).

Shuffle records and input bytes come from perfbench's Tracer: each
measured pass is one traced op, and its figures sum over every job it ran.

Usage: python scripts/layout_bench.py [out.json] [sf_dir]
"""

from __future__ import annotations

import json
import shutil
import statistics
import sys
import time
from pathlib import Path

_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_ROOT))

from pyspark.sql import functions as F  # noqa: E402

from perfbench.tracing import Tracer  # noqa: E402
from polars_ad_etl_spark.operators.dedup import dedup_minhash_lsh_pairs  # noqa: E402
from polars_ad_etl_spark.operators.similarity import sim_lsh_bucketed_topk  # noqa: E402
from polars_ad_etl_spark.session import get_spark  # noqa: E402
from polars_ad_etl_spark.sources.star import (  # noqa: E402
    load_documents_bucketed_by_hash,
    load_documents_bucketed_by_id,
    load_embeddings,
    load_embeddings_bucketed,
)

from polars_ad_etl_spark.sources.star import _bucketed_root  # noqa: E402


def _figures(tracer, op) -> dict:
    """Shuffle records and input bytes of every job one traced op ran."""
    spans = tracer.op_spans[op]
    return {k: int(sum(s.figures[k] for s in spans))
            for k in ("shuffle_records", "input_bytes")}


def _timed(tracer, key, fn, n=3):
    """Median wall of n runs (after one compile warmup) + the last run's
    shuffle records and input bytes."""
    fn().write.format("noop").mode("overwrite").save()  # compile + warm
    walls = []
    for i in range(n):
        with tracer.op((key, i)):
            t0 = time.monotonic()
            fn().write.format("noop").mode("overwrite").save()
            walls.append(round(time.monotonic() - t0, 3))
    return {"wall_sec_median": statistics.median(walls), "walls": walls,
            **_figures(tracer, (key, n - 1))}


def main() -> int:
    out_path = Path(sys.argv[1]) if len(sys.argv) > 1 else None
    sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    spark = get_spark(
        "layout-bench", master="local[8]", shuffle_partitions=8,
        extra_conf=Tracer.SPARK_CONF,
    )
    tracer = Tracer()
    tracer.attach(spark)

    # fresh stores so materialization is really measured
    for t in list(spark.catalog.listTables()):
        if t.name.startswith(("documents_by_", "embeddings_by_")):
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")
    shutil.rmtree(_bucketed_root(), ignore_errors=True)

    mat = {}
    for name, loader in (
        ("documents_by_hash", load_documents_bucketed_by_hash),
        ("documents_by_id", load_documents_bucketed_by_id),
        ("embeddings_by_id", load_embeddings_bucketed),
    ):
        with tracer.op(("materialize", name)):
            t0 = time.monotonic()
            loader(spark, sf)
            wall = round(time.monotonic() - t0, 3)
        mat[name] = {"wall_sec": wall, **_figures(tracer, ("materialize", name))}

    flat_docs = lambda: spark.read.parquet(f"{sf}/documents.parquet")  # noqa: E731

    def exact_flat():
        return (flat_docs()
                .select(F.md5(F.lower(F.trim("text"))).alias("text_hash"), "doc_id")
                .groupBy("text_hash")
                .agg(F.min("doc_id").alias("keep_doc_id"),
                     F.count("*").alias("n_copies")))

    def exact_bucketed():
        return (load_documents_bucketed_by_hash(spark, sf)
                .groupBy("text_hash")
                .agg(F.min("doc_id").alias("keep_doc_id"),
                     F.count("*").alias("n_copies")))

    def pairs_flat():
        pairs = dedup_minhash_lsh_pairs(spark, sf)
        docs = flat_docs().select(
            "doc_id", F.octet_length("text").alias("b_bytes"))
        return pairs.join(docs, pairs.doc_b == docs.doc_id).select(
            "doc_a", "doc_b", "b_bytes")

    def pairs_bucketed():
        pairs = dedup_minhash_lsh_pairs(spark, sf)
        docs = load_documents_bucketed_by_id(spark, sf).select(
            "doc_id", F.octet_length("text").alias("b_bytes"))
        return pairs.join(docs, pairs.doc_b == docs.doc_id).select(
            "doc_a", "doc_b", "b_bytes")

    def fetch_flat():
        topk = sim_lsh_bucketed_topk(spark, sf)
        emb = load_embeddings(spark, sf).select("vec_id", "label")
        return topk.join(emb, topk.neighbor_id == emb.vec_id).select(
            "query_id", "neighbor_id", "cosine", "rnk", "label")

    def fetch_bucketed():
        topk = sim_lsh_bucketed_topk(spark, sf)
        emb = load_embeddings_bucketed(spark, sf).select("vec_id", "label")
        return topk.join(emb, topk.neighbor_id == emb.vec_id).select(
            "query_id", "neighbor_id", "cosine", "rnk", "label")

    twins = {
        "exact_dedup": (exact_flat, exact_bucketed, "documents_by_hash"),
        "lsh_pair_payload": (pairs_flat, pairs_bucketed, "documents_by_id"),
        "ann_payload_fetch": (fetch_flat, fetch_bucketed, "embeddings_by_id"),
    }
    # Two join regimes per twin. At test SF, AQE broadcasts the payload
    # side of the join twins, so flat and bucketed move identical bytes —
    # bucketing buys nothing a broadcast doesn't. The regime the layout
    # exists for is the one where the payload table is far past any
    # broadcast threshold (the 100-TB corpus): model it by disabling
    # broadcast joins, which forces the flat plan to shuffle the FULL
    # payload table per pass while the bucketed plan still reads it in
    # place. The aggregation twin (exact_dedup) has no broadcast escape
    # hatch at any scale, so its saving shows in both regimes.
    _BCAST_CONFS = ("spark.sql.autoBroadcastJoinThreshold",
                    "spark.sql.adaptive.autoBroadcastJoinThreshold")

    def _no_broadcast(fn):
        old = {c: spark.conf.get(c, None) for c in _BCAST_CONFS}
        for c in _BCAST_CONFS:
            spark.conf.set(c, "-1")
        try:
            return fn()
        finally:
            for c, v in old.items():
                if v is None:
                    spark.conf.unset(c)
                else:
                    spark.conf.set(c, v)

    results = {}
    for name, (flat_fn, bucketed_fn, store) in twins.items():
        modes = {}
        for mode, wrap in (("aqe_default", lambda f: f()),
                           ("no_broadcast", _no_broadcast)):
            flat = wrap(lambda: _timed(tracer, (name, mode, "flat"), flat_fn))
            bucketed = wrap(
                lambda: _timed(tracer, (name, mode, "bucketed"), bucketed_fn))
            saved = flat["shuffle_records"] - bucketed["shuffle_records"]
            w = mat[store]["shuffle_records"]
            be = round(w / saved, 2) if saved > 0 else None
            modes[mode] = {
                "flat": flat, "bucketed": bucketed,
                "shuffle_records_saved_per_pass": saved,
                "break_even_passes_records": be,
            }
            print(f"{name}[{mode}]: flat {flat['wall_sec_median']}s/"
                  f"{flat['shuffle_records']} shuffle records vs bucketed "
                  f"{bucketed['wall_sec_median']}s/"
                  f"{bucketed['shuffle_records']}; saved/pass {saved} "
                  f"records, break-even {be} passes", flush=True)
        modes["store"] = store
        results[name] = modes

    artifact = {"sf_dir": sf, "n_runs": 3,
                "materialization": mat, "twins": results,
                "note": ("shuffle records are the load-immune signal; "
                         "walls at this SF are host-noisy and fixed-cost "
                         "dominated. "
                         "no_broadcast models the 100-TB regime where the "
                         "payload side exceeds any broadcast threshold; "
                         "Spark's bucketBy write shuffles nothing (tasks "
                         "write bucket files in place), so break-even in "
                         "records is immediate — the write cost is sort time "
                         "and file-count amplification, visible in "
                         "materialization wall_sec")}
    if out_path:
        out_path.write_text(json.dumps(artifact, indent=1) + "\n")
        print(f"wrote {out_path}")
    tracer.close()
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
