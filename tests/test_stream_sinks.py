"""The foreachBatch incremental sinks cost one micro-batch and one Spark job
per landed file behind a de-duplicating stream, keep Spark's no-data batches
for upstreams that emit on watermark advance, size a new stateful query's
state partitions from its per-trigger input (a checkpoint keeps the count it
was started with), and leave the caller's session conf as they found it.

Files land one at a time in a watched directory (atomic rename), each drained
with ``processAllAvailable()``. The counts below are deterministic: progress
entries and the jobs Spark ran in the query's job group (its run id, where
foreachBatch actions run), not wall clock."""

from __future__ import annotations

import datetime as dt
import json
import os
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from polars_ad_etl_spark.sinks import incremental
from polars_ad_etl_spark.sinks.incremental import (
    _query_confs,
    compact_agg_deltas,
    read_incremental_agg,
    stream_incremental_agg,
    stream_to_partitioned_parquet,
    stream_upsert_latest,
    write_agg_delta,
)
from polars_ad_etl_spark.streaming import (
    dedup_events_stream,
    hourly_rollup_stream,
    read_events_stream,
)

NO_DATA = "spark.sql.streaming.noDataMicroBatches.enabled"
PARTITIONS = "spark.sql.shuffle.partitions"
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


def _recorded_partitions(ckpt: Path) -> str:
    """The state partition count the checkpoint's first offset entry holds,
    which every later batch and restart of the query runs with."""
    meta = json.loads((ckpt / "offsets" / "0").read_text().splitlines()[1])
    return meta["conf"][PARTITIONS]


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
    """Each sink turns no-data batches off and sets the state partition
    count for its own query only: the session conf reads the same after
    ``start()`` returns and after it raises, and the started query still
    runs one batch per file."""
    start = _SINKS[sink]
    src = Landing(tmp_path / "src")
    src.land(_hour_rows(0, 10))
    before = spark.conf.get(NO_DATA)
    before_partitions = spark.conf.get(PARTITIONS)

    events = dedup_events_stream(read_events_stream(spark, str(src.root)))
    q = start(events, tmp_path / "out", tmp_path / "ckpt")
    try:
        assert spark.conf.get(NO_DATA) == before
        assert spark.conf.get(PARTITIONS) == before_partitions
        q.processAllAvailable()
        src.land(_hour_rows(10, 13))
        q.processAllAvailable()
        progress = q.recentProgress
    finally:
        q.stop()
    assert [p["numInputRows"] for p in progress] == [4, 4]
    # the upsert's batch Window shuffles its whole store, so that sink keeps
    # the session's count; the others size it from the one-file trigger
    want = before_partitions if sink == "upsert_latest" else "1"
    assert _recorded_partitions(tmp_path / "ckpt") == want

    # sorting a non-aggregated stream is rejected inside start()
    with pytest.raises(AnalysisException):
        start(events.orderBy("event_id"), tmp_path / "out2", tmp_path / "ckpt2")
    assert spark.conf.get(NO_DATA) == before
    assert spark.conf.get(PARTITIONS) == before_partitions


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


def _state_instances(progress: list) -> list[list[int]]:
    return [[op["numStateStoreInstances"] for op in p["stateOperators"]]
            for p in progress if p["numInputRows"] > 0]


def test_state_partitions_follow_trigger_input_at_first_start(
    spark, tmp_path, monkeypatch
):
    """A stateful plan over a file source that starts a new checkpoint gets
    ceil(maxFilesPerTrigger x largest file / byte target) state partitions,
    at most the session's count. Files under hidden directories do not
    count. Plans that keep no state (a stream-static join keeps none), read
    a source that is not such a file source, start a checkpoint that already
    holds an offset log, or are started with ``size_state=False`` keep the
    session's count."""
    src = Landing(tmp_path / "src")
    src.land(_hour_rows(0, 10))
    size = max(f.stat().st_size for f in src.watched.iterdir())
    session_n = int(spark.conf.get(PARTITIONS))
    assert session_n == 4

    def partitions(df, ckpt=tmp_path / "new", size_state=True):
        return _query_confs(df, ckpt, size_state).get(PARTITIONS)

    # one small file fills one partition at the module's byte target
    assert partitions(dedup_events_stream(read_events_stream(spark, str(src.root)))) == "1"
    static = spark.range(3).withColumnRenamed("id", "user_id")
    monkeypatch.setattr(incremental, "_STATE_PARTITION_BYTES", size // 2 + 1)
    hidden = src.watched / "_temporary" / "0"
    hidden.mkdir(parents=True)
    (hidden / "part-00000.parquet").write_bytes(b"x" * 10 * size)
    for files, want in ((1, "2"), (3, str(session_n))):
        events = read_events_stream(spark, str(src.root), files)
        assert partitions(dedup_events_stream(events)) == want
        assert partitions(hourly_rollup_stream(events)) == want
        assert partitions(dedup_events_stream(events), size_state=False) is None
        assert partitions(events) is None  # not stateful
        assert partitions(events.join(static, "user_id")) is None
    started = tmp_path / "started"
    (started / "offsets").mkdir(parents=True)
    (started / "offsets" / "0").write_text("v1")
    assert partitions(dedup_events_stream(events), started) is None
    rate = spark.readStream.format("rate").load()
    assert partitions(rate.withWatermark("timestamp", "1 minute")
                      .dropDuplicates(["value"])) is None
    empty = Landing(tmp_path / "empty")
    empty.watched.joinpath("_SUCCESS").touch()  # hidden: not a data file
    no_file = spark.readStream.schema(events.schema).option(
        "maxFilesPerTrigger", 1).parquet(str(empty.watched))
    assert partitions(no_file.dropDuplicates(["event_id"])) is None


def test_checkpoint_keeps_its_state_partition_count(spark, tmp_path):
    """A checkpoint first started at the session's 4 state partitions
    restarts through ``stream_incremental_agg`` at 4, and the same stream
    started fresh runs at 1; both give the exact totals."""
    src = Landing(tmp_path / "src")
    files = [_hour_rows(0, 10), _hour_rows(10, 13), _hour_rows(20, 16)]
    src.land(files[0])
    events = dedup_events_stream(read_events_stream(spark, str(src.root)))
    store, ckpt = tmp_path / "agg", tmp_path / "ckpt"

    def write_partial(batch_df, batch_id):
        write_agg_delta(batch_df.groupBy("event_type").agg(
            F.count("*").alias("cnt"), F.sum("value").alias("sum_value")
        ), store, batch_id)

    q = (events.writeStream.option("checkpointLocation", str(ckpt))
         .foreachBatch(write_partial).start())
    try:
        q.processAllAvailable()
        first = q.recentProgress
    finally:
        q.stop()
    for rows in files[1:]:
        src.land(rows)
    q = stream_incremental_agg(events, store, ["event_type"], "value", ckpt)
    try:
        q.processAllAvailable()
        restarted = q.recentProgress
    finally:
        q.stop()
    fresh_store = tmp_path / "fresh"
    q = stream_incremental_agg(
        events, fresh_store, ["event_type"], "value", tmp_path / "fresh_ckpt"
    )
    try:
        q.processAllAvailable()
        fresh = q.recentProgress
    finally:
        q.stop()

    assert _state_instances(first) == [[4]]
    assert _state_instances(restarted) == [[4], [4]]
    assert _state_instances(fresh) == [[1], [1], [1]]
    want = {}
    for r in (r for rows in files for r in rows):
        c, v = want.get((r[2],), (0, 0.0))
        want[(r[2],)] = (c + 1, v + r[3])
    assert _totals(spark, store, ["event_type"]) == want
    assert _totals(spark, fresh_store, ["event_type"]) == want
