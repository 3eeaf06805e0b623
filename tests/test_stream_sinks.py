"""The foreachBatch incremental sinks cost one micro-batch and one Spark job
per landed file behind a de-duplicating stream, keep Spark's no-data batches
for upstreams that emit on watermark advance, and leave the caller's session
conf as they found it.

Files land one at a time in a watched directory (atomic rename), each drained
with ``processAllAvailable()``. The counts below are deterministic: progress
entries and the jobs Spark ran in the query's job group (its run id, where
foreachBatch actions run), not wall clock."""

from __future__ import annotations

import datetime as dt
import os
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from polars_ad_etl_spark.sinks.incremental import (
    compact_agg_deltas,
    read_incremental_agg,
    stream_incremental_agg,
    stream_to_partitioned_parquet,
    stream_upsert_latest,
)
from polars_ad_etl_spark.streaming import (
    dedup_events_stream,
    hourly_rollup_stream,
    read_events_stream,
)

NO_DATA = "spark.sql.streaming.noDataMicroBatches.enabled"
DAY = dt.datetime(2024, 1, 1)
SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")), ("user_id", pa.int64()),
    ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string()),
])


class Landing:
    """Writes event files beside a watched ``events.parquet`` directory and
    renames them in, so the file source sees each one whole."""

    def __init__(self, root: Path):
        self.root = root
        self.watched = root / "events.parquet"
        self.watched.mkdir(parents=True)
        self.n = 0

    def land(self, rows: list[tuple[int, dt.datetime, str, float]]) -> None:
        """``rows`` are (event_id, ts, event_type, value)."""
        cols = [
            [r[0] for r in rows], [r[1] for r in rows], [r[0] % 7 for r in rows],
            [r[2] for r in rows], [r[3] for r in rows], [None] * len(rows),
        ]
        table = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, SCHEMA)], schema=SCHEMA
        )
        staged = self.root / f"part-{self.n:05d}.parquet"
        pq.write_table(table, staged)
        os.rename(staged, self.watched / staged.name)
        self.n += 1


def _hour_rows(first_id: int, hour: int, n: int = 4) -> list[tuple]:
    """``n`` fresh events inside ``hour``, alternating two event types."""
    return [
        (first_id + i, DAY.replace(hour=hour, minute=5 * i),
         ("click", "view")[i % 2], 0.25 * (first_id + i))
        for i in range(n)
    ]


def _totals(spark, store: Path, keys: list[str]) -> dict:
    return {
        tuple(r[k] for k in keys): (r["cnt"], r["sum_value"])
        for r in read_incremental_agg(spark, store, keys).collect()
    }


def _stream_jobs(spark, query) -> int:
    """Jobs the query ran in its own job group, once the status store has
    seen every event posted so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = spark.sparkContext.statusTracker()
    return len(tracker.getJobIdsForGroup(str(query.runId)))


def test_dedup_stream_sink_runs_one_batch_and_one_job_per_file(spark, tmp_path):
    """Counter gate: behind ``dedup_events_stream`` every landed file is one
    micro-batch (no no-data batch, although each file moves the watermark
    far enough to evict state) and one Spark job (no isEmpty pre-pass)."""
    src = Landing(tmp_path / "src")
    store = tmp_path / "agg"
    src.land(_hour_rows(0, 10))
    q = stream_incremental_agg(
        dedup_events_stream(read_events_stream(spark, str(src.root))),
        store, ["event_type"], "value", tmp_path / "ckpt",
    )
    try:
        q.processAllAvailable()
        for k in (1, 2):
            src.land(_hour_rows(10 * k, 10 + 3 * k))
            q.processAllAvailable()
        progress = q.recentProgress
        jobs = _stream_jobs(spark, q)
    finally:
        q.stop()

    assert [p["batchId"] for p in progress] == [0, 1, 2]
    assert all(p["numInputRows"] > 0 for p in progress), progress
    assert jobs == len(progress)
    assert sorted(p.name for p in store.iterdir()) == [
        "batch_id=0", "batch_id=1", "batch_id=2"
    ]
    want_click = [r for k in range(3) for r in _hour_rows(10 * k, 10 + 3 * k)
                  if r[2] == "click"]
    assert _totals(spark, store, ["event_type"])[("click",)] == (
        len(want_click), sum(r[3] for r in want_click)
    )


def test_windowed_upstream_keeps_no_data_batches(spark, tmp_path):
    """A windowed aggregate emits a closed window when the watermark passes
    it, which happens in a no-data batch: the sink must keep those batches,
    so the hour-10 window reaches the store without a third file."""
    src = Landing(tmp_path / "src")
    store = tmp_path / "agg"
    src.land(_hour_rows(0, 10))
    q = stream_incremental_agg(
        hourly_rollup_stream(read_events_stream(spark, str(src.root))),
        store, ["hour_start", "event_type"], "total_value", tmp_path / "ckpt",
    )
    try:
        q.processAllAvailable()
        # 13:xx moves the 2-hour watermark past 11:00, closing hour 10
        src.land(_hour_rows(100, 13))
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r.hour_start.hour, r.event_type): (r.cnt, r.sum_total_value)
        for r in read_incremental_agg(
            spark, store, ["hour_start", "event_type"]
        ).collect()
    }
    assert got == {(10, "click"): (1, 0.5), (10, "view"): (1, 1.0)}


def test_all_duplicate_batch_leaves_no_delta(spark, tmp_path):
    """A file whose event ids were all seen before reduces to no rows: its
    batch runs, writes no delta dir, and the totals do not move."""
    src = Landing(tmp_path / "src")
    store = tmp_path / "agg"
    first = _hour_rows(0, 10)
    src.land(first)
    q = stream_incremental_agg(
        dedup_events_stream(read_events_stream(spark, str(src.root))),
        store, ["event_type"], "value", tmp_path / "ckpt",
    )
    try:
        q.processAllAvailable()
        before = _totals(spark, store, ["event_type"])
        src.land(first)
        q.processAllAvailable()
        progress = q.recentProgress
    finally:
        q.stop()

    assert [(p["batchId"], p["numInputRows"]) for p in progress] == [
        (0, len(first)), (1, len(first))
    ]
    assert [p.name for p in store.iterdir()] == ["batch_id=0"]
    assert _totals(spark, store, ["event_type"]) == before


_SINKS = {
    "incremental_agg": lambda df, out, ckpt: stream_incremental_agg(
        df, out, ["event_type"], "value", ckpt
    ),
    "partitioned_parquet": lambda df, out, ckpt: stream_to_partitioned_parquet(
        df, out, ["event_type"], ckpt
    ),
    "upsert_latest": lambda df, out, ckpt: stream_upsert_latest(
        df, out, ["user_id"], ["ts", "event_id"], ckpt
    ),
}


@pytest.mark.parametrize("sink", sorted(_SINKS))
def test_sink_start_leaves_session_conf_unchanged(spark, tmp_path, sink):
    """Each sink turns no-data batches off for its own query only: the
    session conf reads the same after ``start()`` returns and after it
    raises, and the started query still runs one batch per file."""
    start = _SINKS[sink]
    src = Landing(tmp_path / "src")
    src.land(_hour_rows(0, 10))
    before = spark.conf.get(NO_DATA)

    events = dedup_events_stream(read_events_stream(spark, str(src.root)))
    q = start(events, tmp_path / "out", tmp_path / "ckpt")
    try:
        assert spark.conf.get(NO_DATA) == before
        q.processAllAvailable()
        src.land(_hour_rows(10, 13))
        q.processAllAvailable()
        progress = q.recentProgress
    finally:
        q.stop()
    assert [p["numInputRows"] for p in progress] == [4, 4]

    # sorting a non-aggregated stream is rejected inside start()
    with pytest.raises(AnalysisException):
        start(events.orderBy("event_id"), tmp_path / "out2", tmp_path / "ckpt2")
    assert spark.conf.get(NO_DATA) == before


def test_dotted_names_through_stream_view_and_compaction(spark, tmp_path):
    """Key and value names holding a dot (ad headers such as "Avg. CPC")
    resolve as one column in the stream partial, the consolidated view and
    compaction, rather than as struct-field access."""
    src = tmp_path / "src"
    rows = [("a", 1.5), ("b", 2.0), ("a", 0.25)]
    spark.createDataFrame(rows, "`Ad.Type` string, `Avg. CPC` double").coalesce(
        1
    ).write.parquet(str(src))
    stream = spark.readStream.schema(
        "`Ad.Type` string, `Avg. CPC` double"
    ).parquet(str(src))
    store = tmp_path / "agg"
    q = stream_incremental_agg(stream, store, ["Ad.Type"], "Avg. CPC", tmp_path / "ckpt")
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    def view():
        return {
            r["Ad.Type"]: (r["cnt"], r["sum_Avg. CPC"])
            for r in read_incremental_agg(spark, store, ["Ad.Type"]).collect()
        }

    want = {"a": (2, 1.75), "b": (1, 2.0)}
    assert view() == want
    compact_agg_deltas(spark, store, ["Ad.Type"])
    assert [p.name for p in store.iterdir()] == ["batch_id=-1"]
    assert view() == want
