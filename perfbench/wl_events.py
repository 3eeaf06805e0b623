"""``events_stream``: land one events file into a watched directory, then wait
until the stream has committed it. The query is ``read_events_stream`` ->
``dedup_events_stream`` -> ``sinks.incremental.stream_incremental_agg``
keyed on ``event_type``."""

from __future__ import annotations

import os
from pathlib import Path

import pyarrow.parquet as pq

from perfbench import stats
from perfbench.gen_events import ROWS_PER_FILE, EventFiles

# Recorded plateau (perfbench/plateau/events_stream.json): the stream's first
# batch is cold (~6 s with the query start); batches settle near 1 s after ~5
# files. The warm-up is the first file plus one more.
WARMUP_OPS = 2
NOMINAL_OP_S = 1.05
KEY = "event_type"


class EventsStream:
    name = "events_stream"

    def __init__(self, spark, work: Path, seed: int, n_ops: int):
        self.spark = spark
        self.work = work
        self.n_ops = n_ops
        self.files = EventFiles(seed, work / "staging")
        self.src = work / "src"
        self.watched = self.src / "events.parquet"
        self.agg = work / "agg"
        self.query = None
        self.batch_of: dict[int, list[int]] = {}  # file index -> data batch ids
        self.op_batches: dict[int, list[int]] = {}  # file index -> all batch ids
        self.progress: dict[int, dict] = {}  # batch id -> progress
        self.stream_jobs: dict[int, int] = {}  # traced op -> jobs the stream ran
        self.tracer = None

    @staticmethod
    def timed_ops(seconds: int) -> int:
        return max(stats.TAIL_MIN_BEYOND + 1, round(seconds / NOMINAL_OP_S))

    @classmethod
    def for_plateau(cls, spark, work: Path, seed: int, n: int) -> "EventsStream":
        wl = cls(spark, work, seed, max(0, n - 1))
        wl.prepare()
        wl._start()
        return wl

    def plateau_ids(self) -> range:
        return range(1, 1 + self.n_ops)

    def prepare(self) -> None:
        """Write every file the run lands (the first seeds the directory)."""
        self.watched.mkdir(parents=True)
        for _ in range(WARMUP_OPS + self.n_ops):
            self.files.make()

    def _start(self) -> None:
        from polars_ad_etl_spark.sinks.incremental import stream_incremental_agg
        from polars_ad_etl_spark.streaming.events import (
            dedup_events_stream,
            read_events_stream,
        )

        # the source probes the table's schema, so it needs one file first
        self._land(0)
        events = dedup_events_stream(read_events_stream(self.spark, str(self.src)))
        self.query = stream_incremental_agg(
            events, self.agg, [KEY], "value", self.work / "checkpoint"
        )
        self._wait(0)

    def warmup(self) -> None:
        self._start()
        for i in range(1, WARMUP_OPS):
            self.run_op(i, traced=False)

    def timed_ids(self) -> range:
        return range(WARMUP_OPS, WARMUP_OPS + self.n_ops)

    @staticmethod
    def trace_modes(k: int) -> tuple[bool, ...]:
        """A traced run traces every other op (a file lands only once)."""
        return (k % 2 == 1,)

    def _land(self, i: int) -> None:
        src = self.files.files[i]
        os.rename(src, self.watched / src.name)

    def _wait(self, i: int) -> None:
        self.query.processAllAvailable()
        seen = max(self.progress, default=-1)
        new = [p for p in self.query.recentProgress if p["batchId"] > seen]
        for p in new:
            self.progress[p["batchId"]] = p
        self.op_batches[i] = [p["batchId"] for p in new]
        self.batch_of[i] = [p["batchId"] for p in new if p["numInputRows"] > 0]

    def _group_jobs(self) -> set[int]:
        """Jobs the stream ran under its own job group (the query's run id)."""
        self.tracer.settle()
        tracker = self.spark.sparkContext.statusTracker()
        return set(tracker.getJobIdsForGroup(str(self.query.runId)))

    def run_op(self, i: int, traced: bool) -> int:
        """Land file ``i`` and wait for its batch to commit."""
        if traced:
            before = self._group_jobs()
        self._land(i)
        self._wait(i)
        if traced:
            self.stream_jobs[i] = len(self._group_jobs() - before)
        return ROWS_PER_FILE

    def stream_figures(self, ops: list[int], tracer) -> dict[str, float]:
        """Per traced op means of the stream's progress figures, and jobs per
        trigger counting the sink's batch writes."""
        figs = dict.fromkeys(("streaming.trigger_s", "streaming.add_batch_s",
                              "streaming.wal_commit_s", "streaming.planning_s",
                              "streaming.state_rows", "streaming.state_bytes",
                              "streaming.late_rows_dropped"), 0.0)
        triggers = jobs = 0
        for i in ops:
            for b in self.op_batches[i]:
                p = self.progress[b]
                d = p["durationMs"]
                figs["streaming.trigger_s"] += d.get("triggerExecution", 0) / 1000
                figs["streaming.add_batch_s"] += d.get("addBatch", 0) / 1000
                figs["streaming.wal_commit_s"] += (
                    d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1000
                figs["streaming.planning_s"] += d.get("queryPlanning", 0) / 1000
                for st in p["stateOperators"]:
                    figs["streaming.late_rows_dropped"] += st["numRowsDroppedByWatermark"]
                triggers += 1
            last = self.progress[self.op_batches[i][-1]]["stateOperators"]
            figs["streaming.state_rows"] += sum(st["numRowsTotal"] for st in last)
            figs["streaming.state_bytes"] += sum(st["memoryUsedBytes"] for st in last)
            jobs += self.stream_jobs[i] + sum(
                len(s.jobs) for s in tracer.op_spans[i] if s.name == "sinks.batch_write")
        out = {k: v / len(ops) for k, v in figs.items()}
        out["streaming.jobs_per_trigger"] = jobs / triggers
        return out

    def check(self, keys: list[tuple[int, bool]]) -> dict:
        """Each op's delta must hold its file's new rows; the consolidated
        view must hold every file's."""
        from polars_ad_etl_spark.sinks.incremental import read_incremental_agg

        errors = {}
        for key in keys:
            i = key[0]
            got = {}
            for b in self.batch_of.get(i, []):
                t = pq.read_table(self.agg / f"batch_id={b}").to_pylist()
                for r in t:
                    c, s = got.get(r[KEY], (0, 0.0))
                    got[r[KEY]] = (c + r["cnt"], s + r["sum_value"])
            if got != self.files.expected[i]:
                errors[key] = f"op {i}: delta {got} != expected {self.files.expected[i]}"
        landed = 1 + max(i for i in self.batch_of)
        rows = read_incremental_agg(self.spark, self.agg, [KEY]).collect()
        got = {r[KEY]: (r["cnt"], r["sum_value"]) for r in rows}
        want = self.files.total(landed)
        if got != want:
            for key in keys:
                errors.setdefault(key, f"consolidated view {got} != expected {want}")
        late = sum(
            op.get("numRowsDroppedByWatermark", 0)
            for p in self.progress.values() for op in p["stateOperators"]
        )
        if late:
            for key in keys:
                errors.setdefault(key, f"{late} rows dropped as late")
        return errors

    def close(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None
