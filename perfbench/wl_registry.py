"""``registry_headline``: one headline registry query per op, constructed and
executed to its full result (``df.write.format("noop")``), in seed-shuffled
order. The star schema is generated from a fixed data seed, the same for
every run like a shared test data set, so the seed changes the order only:
with seeded data, the cost of the text-dedup queries moved by up to 2x
between seeds.

The warm-up is the check pass: every query once, collected to pandas and
kept for the DuckDB comparison that runs after the timed section. It also
builds the derived on-disk layouts a query asks for, so those builds fall in
``setup_s``.
"""

from __future__ import annotations

import random
import re
import threading
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

from perfbench import gen_star, oracle
from perfbench.patching import Patches

# The headline set, pinned here so the workload does not follow edits to
# the repo's own bench script.
QUERY_NAMES = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q10_returned_items", "window_rank_parts_by_revenue",
    "window_running_customer_spend", "topk_orders_by_price", "agg_distinct_suppliers",
    "dedup_exact_documents", "dedup_minhash_signatures", "sim_bruteforce_topk",
    "text_quality_scores", "events_hourly_rollup", "events_session_windows",
    "etl_conform_union", "q6_forecast_revenue", "q18_large_volume_customers",
    "asof_purchase_last_click", "skew_salted_revenue_by_suppkey",
    "sim_lsh_bucketed_topk", "dedup_minhash_lsh_pairs", "curation_training_set",
    "q7_volume_shipping", "q9_product_type_profit", "q13_customer_order_distribution",
    "q17_small_quantity_revenue", "stats_moments_lineitem", "sim_ivf_probe_topk",
    "dedup_near_dup_keep_list", "events_multi_grain_rollup", "curation_doc_chunks",
    "q21_sole_returned_supplier", "text_repetition_scores",
    "curation_contamination_check", "events_purchase_click_attribution",
    "events_funnel_conversion", "events_weekly_cohort_retention",
)
# One timed round is every query once; a round took ~14 s on a 4-core host.
NOMINAL_ROUND_S = 14.0
CHECK_THREADS = 3
DATA_SEED = 42
_EXCHANGE = re.compile(r"\b(?:Exchange|BroadcastExchange|ShuffleExchange)\b")


def count_exchanges(plan: str) -> int:
    """Exchange operators in a physical plan's tree string."""
    return len(_EXCHANGE.findall(plan))


class RegistryHeadline:
    name = "registry_headline"

    def __init__(self, spark, work: Path, seed: int, n_ops: int):
        self.spark = spark
        self.sf = work / "sf"
        self.seed = seed
        self.rounds = n_ops // len(QUERY_NAMES)
        self.order: list[str] = []
        self.table_rows: dict[str, int] = {}
        self.rows_read: dict[str, int] = {}
        self.spark_results: dict = {}
        self.errors: dict[str, str] = {}
        self.tracer = None

    @staticmethod
    def timed_ops(seconds: int) -> int:
        return max(1, round(seconds / NOMINAL_ROUND_S)) * len(QUERY_NAMES)

    def prepare(self) -> None:
        self.table_rows = gen_star.write(DATA_SEED, self.sf)
        rng = random.Random(self.seed)
        for _ in range(self.rounds):
            names = list(QUERY_NAMES)
            rng.shuffle(names)
            self.order.extend(names)

    def warmup(self) -> None:
        """The check pass: every query once, its result kept for the oracle
        comparison and the tables it reads recorded. Queries run
        ``CHECK_THREADS`` at a time: this pass is set-up, not timed."""
        from polars_ad_etl_spark.operators import QUERIES
        from polars_ad_etl_spark.sources import star

        local = threading.local()
        real = star.read_star_parquet

        def recording(spark, path):
            local.read.add(Path(path).name.removesuffix(".parquet"))
            return real(spark, path)

        def check_one(q: str) -> None:
            local.read = set()
            try:
                pdf = QUERIES[q](self.spark, str(self.sf)).toPandas()
            except Exception as e:  # reported as a failure of q's ops
                self.errors[q] = f"{q} raised {type(e).__name__}: {e}"
                return
            self.spark_results[q] = oracle.normalize(pdf)
            self.rows_read[q] = sum(self.table_rows[t] for t in local.read)

        patches = Patches()
        patches.function(real, recording)
        try:
            with ThreadPoolExecutor(CHECK_THREADS) as pool:
                for f in [pool.submit(check_one, q) for q in QUERY_NAMES]:
                    f.result()
        finally:
            patches.undo()

    def timed_ids(self) -> range:
        return range(len(self.order))

    @staticmethod
    def trace_modes(k: int) -> tuple[bool, ...]:
        """A traced run repeats each op untraced and traced, in turn first."""
        return (False, True) if k % 2 == 0 else (True, False)

    def run_op(self, i: int, traced: bool) -> int:
        from polars_ad_etl_spark.operators import QUERIES

        q = self.order[i]
        if not traced:
            QUERIES[q](self.spark, str(self.sf)).write.format("noop").mode(
                "overwrite").save()
            return self.rows_read.get(q, 0)
        t = self.tracer
        t.label(q)
        with t.span("operators.construct"):
            df = QUERIES[q](self.spark, str(self.sf))
        with t.span("operators.plan"):
            plan = df._jdf.queryExecution().executedPlan().toString()
        t.add("operators.exchanges", count_exchanges(plan))
        with t.span("operators.execute"):
            df.write.format("noop").mode("overwrite").save()
        return self.rows_read.get(q, 0)

    def check(self, keys: list[tuple[int, bool]]) -> dict:
        """Compare every query's check-pass result with its DuckDB oracle;
        in a traced run, also with the result of a traced execution."""
        from polars_ad_etl_spark.operators import ORACLES, QUERIES

        if self.tracer is not None:
            for q, got in self.spark_results.items():
                with self.tracer.op(("validate", q)):
                    pdf = QUERIES[q](self.spark, str(self.sf)).toPandas()
                self.tracer.forget(("validate", q))
                err = oracle.diff(oracle.normalize(pdf), got)
                if err is not None:
                    self.errors[q] = f"{q} traced differs from untraced: {err}"

        con = oracle.connect(self.sf, self.table_rows)
        try:
            for q, got in self.spark_results.items():
                if q not in ORACLES:
                    self.errors[q] = f"{q} has no oracle"
                    continue
                want = oracle.normalize(con.execute(ORACLES[q]).df())
                err = oracle.diff(got, want)
                if err is not None:
                    self.errors[q] = f"{q}: {err}"
        finally:
            con.close()
        return {key: self.errors[self.order[key[0]]]
                for key in keys if self.order[key[0]] in self.errors}

    def close(self) -> None:
        pass
