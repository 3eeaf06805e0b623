"""The traced run: spans around calls into the program's layers, recorded from
the benchmark's side without editing the program.

Each public entry point below is wrapped at the module attribute (or class)
where the program looks it up. The wrapper opens a span, runs the real
function and closes the span. A span owns a Spark job group, so the jobs a
layer starts are attributed to it: job, stage and task counts come from
``SparkContext.statusTracker()``, shuffle, input, spill and GC figures from
the monitoring REST API (the UI is enabled in traced runs only). Spans stay
in memory until the run ends. A span's self time is its duration minus the
part its child spans cover; an op's ``op.unattributed_s`` is the self time of
its root span, the part of the op no layer span explains.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
import urllib.error
import urllib.request
from collections import defaultdict
from contextlib import contextmanager

from perfbench import stats
from perfbench.patching import Patches

_GROUP_KEY = "spark.jobGroup.id"

# layer metric -> span whose self time it sums
_TIMES = {
    "sources.read_s": "sources.read",
    "plans.build_s": "plans.build",
    "utils.date_range_s": "utils.date_range",
    "sinks.write_s": "sinks.write",
    "sinks.batch_write_s": "sinks.batch_write",
    "operators.construct_s": "operators.construct",
    "operators.plan_s": "operators.plan",
    "operators.execute_s": "operators.execute",
}
# layer metric -> span whose own jobs it counts
_SELF_JOBS = {
    "sources.jobs": "sources.read",
    "plans.jobs": "plans.build",
    "utils.jobs": "utils.date_range",
    "sinks.jobs": "sinks.write",
    "sinks.batch_jobs": "sinks.batch_write",
}
# subtree figures of the registry's construct and execute spans (shuffle
# bytes are left out: they differ between runs on identical inputs)
_SUBTREE = {
    "operators.construct_jobs": ("operators.construct", "jobs"),
    "operators.exec_jobs": ("operators.execute", "jobs"),
    "operators.exec_stages": ("operators.execute", "stages"),
    "operators.exec_tasks": ("operators.execute", "tasks"),
    "operators.shuffle_records": ("operators.execute", "shuffle_records"),
    "operators.input_bytes": ("operators.execute", "input_bytes"),
    "operators.spill_bytes": ("operators.execute", "spill_bytes"),
    "operators.gc_s": ("operators.execute", "gc_s"),
}
_COUNTERS = ("sources.files", "sinks.bytes", "operators.exchanges")
_STREAM = ("streaming.trigger_s", "streaming.add_batch_s", "streaming.wal_commit_s",
           "streaming.planning_s", "streaming.jobs_per_trigger", "streaming.state_rows",
           "streaming.state_bytes", "streaming.late_rows_dropped")


def per_layer_names(query_names) -> list[str]:
    """Every per-layer metric a traced run prints, in order."""
    return (
        ["session.start_s", "session.warmup_s", "cache.build_s"]
        + list(_TIMES) + list(_SELF_JOBS) + list(_SUBTREE) + list(_COUNTERS)
        + [f"operators.query_s.{q}" for q in query_names] + list(_STREAM)
        + ["proc.python_cpu_s", "proc.jvm_cpu_s", "op.unattributed_s",
           "trace.overhead_s"]
    )


def unit(name: str) -> str:
    if name.endswith("_s") or ".query_s." in name:
        return "s"
    if name.endswith("bytes"):
        return "bytes"
    return "count"


class Span:
    __slots__ = ("name", "start", "end", "parent", "group", "jobs", "figures")

    def __init__(self, name: str, parent: "Span | None"):
        self.name = name
        self.parent = parent
        self.group = f"perfbench-span-{id(self)}-{time.monotonic_ns()}"
        self.start = self.end = 0.0
        self.jobs: list[int] = []
        self.figures: dict[str, float] = {}


def self_times(spans: list[Span]) -> dict[int, float]:
    """id(span) -> self time, for spans that all belong to one op."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[id(s.parent)].append((s.start, s.end))
    return {id(s): stats.self_time(s.start, s.end, children[id(s)]) for s in spans}


def subtree(spans: list[Span], root: Span) -> list[Span]:
    """``root`` and every span below it."""
    below = {id(root)}
    out = [root]
    for s in sorted(spans, key=lambda s: s.start):
        if s.parent is not None and id(s.parent) in below and id(s) not in below:
            below.add(id(s))
            out.append(s)
    return out


class Tracer:
    SPARK_CONF = {
        "spark.ui.enabled": "true",
        "spark.ui.port": "0",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }

    def __init__(self):
        self.op_spans: dict = defaultdict(list)  # op id -> spans
        self.labels: dict = {}  # op id -> query name
        self.counters: dict = defaultdict(lambda: defaultdict(float))
        self.run_totals: dict[str, float] = defaultdict(float)
        self._tls = threading.local()
        self._op = None
        self._root: Span | None = None
        self._lock = threading.Lock()
        self._patches = Patches()
        self.sc = None
        self._rest = None

    # ------------------------------------------------------------ plumbing
    def attach(self, spark) -> None:
        """Bind to the session and wrap the program's entry points."""
        self.sc = spark.sparkContext
        ui = self.sc.uiWebUrl
        if not ui:
            raise RuntimeError("traced runs need the Spark UI for stage metrics")
        self._rest = f"{ui}/api/v1/applications/{self.sc.applicationId}"
        self._install()

    def close(self) -> None:
        self._patches.undo()

    def _stack(self) -> list[Span]:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    @contextmanager
    def _open(self, name: str, op):
        stack = self._stack()
        parent = stack[-1] if stack else self._root
        s = Span(name, parent)
        prev = self.sc.getLocalProperty(_GROUP_KEY)
        self.sc.setLocalProperty(_GROUP_KEY, s.group)
        stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(_GROUP_KEY, prev)
            with self._lock:
                self.op_spans[op].append(s)

    @contextmanager
    def timed(self, name: str):
        """Adds the block's duration to a run total, inside ops or not."""
        t = time.perf_counter()
        try:
            yield
        finally:
            with self._lock:
                self.run_totals[name] += time.perf_counter() - t

    @contextmanager
    def span(self, name: str):
        """A span inside the current op; a no-op while no op is traced."""
        op = self._op
        if op is None:
            yield None
            return
        with self._open(name, op) as s:
            yield s

    @contextmanager
    def op(self, op_id):
        """The root span of one traced op."""
        self._op = op_id
        try:
            with self._open("op", op_id) as root:
                self._root = root
                yield root
        finally:
            self._root = None
            self._op = None
        self._collect(self.op_spans[op_id])

    def forget(self, op_id) -> None:
        """Drop an op's spans from the metrics (a validation run)."""
        self.op_spans.pop(op_id, None)
        self.labels.pop(op_id, None)
        self.counters.pop(op_id, None)

    def label(self, name: str) -> None:
        self.labels[self._op] = name

    def add(self, counter: str, value: float) -> None:
        op = self._op
        if op is not None:
            with self._lock:
                self.counters[op][counter] += value

    # ------------------------------------------------------------- wrappers
    def _wrap(self, span_name: str, after=None):
        def make(fn):
            @functools.wraps(fn)
            def wrapper(*args, **kwargs):
                with self.span(span_name) as s:
                    out = fn(*args, **kwargs)
                    if s is not None and after is not None:
                        after(out)
                    return out
            return wrapper
        return make

    def _install(self) -> None:
        # import every module that may hold a reference before patching
        import polars_ad_etl_spark.operators  # noqa: F401
        import polars_ad_etl_spark.pipelines  # noqa: F401
        import polars_ad_etl_spark.streaming.events  # noqa: F401
        from polars_ad_etl_spark import cache, utils
        from polars_ad_etl_spark.plans.pipeline import MultiSourceAdETL
        from polars_ad_etl_spark.sinks import csv_bom, incremental
        from polars_ad_etl_spark.sources import star

        p = self._patches

        def count_frames(etl):
            self.add("sources.files", len(etl.frames))

        def count_file(_):
            self.add("sources.files", 1)

        def count_bytes(path):
            self.add("sinks.bytes", os.path.getsize(path))

        read = self._wrap("sources.read", count_frames)
        for name in ("read_tabular_files", "read_tabular_files_grouped"):
            p.method(MultiSourceAdETL, name, read)
        for name in ("capitalize_col_names", "assign_source", "clean_dataframes",
                     "standardize_dataframes", "merge"):
            p.method(MultiSourceAdETL, name, self._wrap("plans.build"))
        p.function(star.read_star_parquet,
                   self._wrap("sources.read", count_file)(star.read_star_parquet))
        for name in ("load_events", "load_documents", "load_embeddings", "load_tables"):
            fn = getattr(star, name)
            p.function(fn, self._wrap("sources.read")(fn))
        p.function(utils.make_date_filename,
                   self._wrap("utils.date_range")(utils.make_date_filename))
        p.function(csv_bom.write_csv_bom,
                   self._wrap("sinks.write", count_bytes)(csv_bom.write_csv_bom))
        p.function(incremental.write_agg_delta,
                   self._wrap("sinks.batch_write")(incremental.write_agg_delta))

        # derived-layout lookups and builds happen in set-up too, so they
        # are timed whether or not an op is being traced
        def timed_build(fn):
            @functools.wraps(fn)
            def wrapper(*args, **kwargs):
                with self.timed("cache.build"):
                    return fn(*args, **kwargs)
            return wrapper

        def timed_publish(fn):
            @contextmanager
            @functools.wraps(fn)
            def wrapper(*args, **kwargs):
                with self.timed("cache.build"), fn(*args, **kwargs) as tmp:
                    yield tmp
            return wrapper

        p.function(star._materialized_bucketed, timed_build(star._materialized_bucketed))
        p.function(cache.publish_dir, timed_publish(cache.publish_dir))

    # -------------------------------------------------------------- stages
    def _stage(self, sid: int) -> list[dict]:
        with urllib.request.urlopen(f"{self._rest}/stages/{sid}?details=false",
                                    timeout=10) as r:
            return json.loads(r.read())

    def settle(self) -> None:
        """Wait until Spark's status store has seen every event posted so
        far, so job and stage lookups are complete."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _collect(self, spans: list[Span]) -> None:
        """Jobs, stage and task counts, shuffle, input, spill and GC per span."""
        self.settle()
        tracker = self.sc.statusTracker()
        for s in spans:
            s.jobs = list(tracker.getJobIdsForGroup(s.group))
            fig = dict.fromkeys(("stages", "tasks", "shuffle_records", "input_bytes",
                                 "spill_bytes", "gc_s"), 0.0)
            for j in s.jobs:
                info = tracker.getJobInfo(j)
                if info is None:
                    raise RuntimeError(f"job {j} is no longer tracked")
                for sid in info.stageIds:
                    for attempt in self._stage_done(sid):
                        if attempt["status"] != "COMPLETE":
                            continue
                        fig["stages"] += 1
                        fig["tasks"] += attempt["numCompleteTasks"]
                        fig["shuffle_records"] += attempt["shuffleWriteRecords"]
                        fig["input_bytes"] += attempt["inputBytes"]
                        fig["spill_bytes"] += (attempt["memoryBytesSpilled"]
                                               + attempt["diskBytesSpilled"])
                        fig["gc_s"] += attempt.get("jvmGcTime", 0) / 1000
            s.figures = fig

    def _stage_done(self, sid: int) -> list[dict]:
        """A stage's attempts once the status store has settled on them."""
        for _ in range(50):
            try:
                attempts = self._stage(sid)
            except urllib.error.HTTPError as e:
                if e.code != 404:
                    raise
                return []  # a stage that never ran (skipped before submission)
            if all(a["status"] in ("COMPLETE", "SKIPPED", "FAILED") for a in attempts):
                return attempts
            time.sleep(0.02)
        raise RuntimeError(f"stage {sid} did not settle")

    def dump(self, path) -> None:
        """Write every op's spans as JSON lines: op, name, parent index,
        start and end (seconds from the op's start), self time and jobs."""
        with open(path, "w") as f:
            for op in sorted(self.op_spans):
                spans = sorted(self.op_spans[op], key=lambda s: s.start)
                index = {id(s): k for k, s in enumerate(spans)}
                own = self_times(spans)
                t0 = spans[0].start
                for s in spans:
                    f.write(json.dumps({
                        "op": op, "name": s.name,
                        "parent": index.get(id(s.parent)),
                        "start": s.start - t0, "end": s.end - t0,
                        "self_s": own[id(s)], "jobs": len(s.jobs),
                    }) + "\n")

    # ------------------------------------------------------------- metrics
    def metrics(self, wl, latencies: dict, *, session_s: float, warmup_s: float,
                python_cpu_s: float, jvm_cpu_s: float) -> dict:
        """The per-layer metrics: per traced op means, set-up totals, and
        the timed section's CPU."""
        from perfbench.wl_registry import QUERY_NAMES

        ops = sorted(self.op_spans)
        n = len(ops)
        if n == 0:
            raise RuntimeError("no traced op completed")
        total: dict[str, float] = defaultdict(float)
        query_s: dict[str, list[float]] = defaultdict(list)
        for op in ops:
            spans = self.op_spans[op]
            own = self_times(spans)
            root = next(s for s in spans if s.name == "op")
            for metric, name in _TIMES.items():
                total[metric] += sum(own[id(s)] for s in spans if s.name == name)
            for metric, name in _SELF_JOBS.items():
                total[metric] += sum(len(s.jobs) for s in spans if s.name == name)
            for metric, (name, figure) in _SUBTREE.items():
                for top in (s for s in spans if s.name == name):
                    for s in subtree(spans, top):
                        total[metric] += len(s.jobs) if figure == "jobs" else s.figures[figure]
            for counter in _COUNTERS:
                total[counter] += self.counters[op][counter]
            total["op.unattributed_s"] += own[id(root)]
            if op in self.labels:
                query_s[self.labels[op]].append(root.end - root.start)
        out = {name: (total[name] / n, unit(name))
               for name in list(_TIMES) + list(_SELF_JOBS) + list(_SUBTREE)
               + list(_COUNTERS) + ["op.unattributed_s"]}
        for q in QUERY_NAMES:
            v = query_s.get(q)
            out[f"operators.query_s.{q}"] = (sum(v) / len(v) if v else 0.0, "s")
        stream_figs = wl.stream_figures(ops, self) if hasattr(wl, "stream_figures") else {}
        for name in _STREAM:
            out[name] = (stream_figs.get(name, 0.0), unit(name))
        traced = [v for (i, on), v in latencies.items() if on]
        plain = [v for (i, on), v in latencies.items() if not on]
        out["trace.overhead_s"] = (
            sum(traced) / len(traced) - sum(plain) / len(plain), "s")
        out["session.start_s"] = (session_s, "s")
        out["session.warmup_s"] = (warmup_s, "s")
        out["cache.build_s"] = (self.run_totals["cache.build"], "s")
        out["proc.python_cpu_s"] = (python_cpu_s, "s")
        out["proc.jvm_cpu_s"] = (jvm_cpu_s, "s")
        return {k: out[k] for k in per_layer_names(QUERY_NAMES)}
