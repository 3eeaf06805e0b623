"""Structured Streaming slice over the events table (SURVEY §7.1 M6).

The reference has no streaming surface; this is the Spark-native extension:
``readStream`` -> event-time windowed aggregation with watermarked late-data
handling -> sink. Every streaming query here has a batch-equivalent registered
in the oracle harness (``events_hourly_rollup``, ``events_session_windows``),
so the streaming path is validated against the same DuckDB answers by running
it to completion on the static table (tests/test_streaming.py).

Scale notes: state size is bounded by the watermark horizon; the windowed
aggregation state key is (window, event_type) — low cardinality; the
sessionization and dedup operators key state by user/event id and rely on
watermark expiry to keep state from growing without bound on an unbounded
stream.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from polars_ad_etl_spark.sources.star import read_star_parquet

# Streaming watermarks require TIMESTAMP (with local tz), not NTZ — so the
# stream path works on LTZ instants with the session pinned to UTC, and window
# bounds are cast back to NTZ at the output so results line up with the batch
# twins (which are NTZ end-to-end).
_TS_EXPR = "timestamp_micros(ts div 1000)"


def _events_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def _is_directory(spark: SparkSession, path: str) -> bool:
    """Directory probe through the Hadoop FileSystem API, so the
    directory-layout branch of :func:`read_events_stream` also triggers for
    remote URIs (s3a://, hdfs://, ...) where a driver-local
    ``os.path.isdir`` would silently answer False and mis-route a
    directory-layout table into the single-file glob branch (yielding an
    empty stream). Falls back to the local check if the JVM gateway is
    unavailable (e.g. Spark Connect)."""
    try:
        jvm = spark._jvm
        jsc = spark._jsc
        if jvm is None or jsc is None:
            raise AttributeError("no JVM gateway")
    except AttributeError:
        return os.path.isdir(path)
    try:
        # construction-phase failures mean Hadoop cannot REPRESENT the
        # path (e.g. a colon in a component, HADOOP-3257) — a plain local
        # path like that still streams fine, so fall back to the OS check
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(jsc.hadoopConfiguration())
    except Exception:
        return os.path.isdir(path)
    try:
        return bool(fs.getFileStatus(hpath).isDirectory())
    except Exception as e:
        # a missing path is simply "not a directory"; every OTHER remote
        # error (credentials, 403s, missing connector jars, timeouts) must
        # propagate — swallowing it here would silently mis-route a remote
        # directory table into the glob branch and yield an empty stream
        if "FileNotFoundException" in str(e):
            return False
        raise


def _dir_has_parquet(spark: SparkSession, path: str) -> bool:
    """Explicit "does this lake-resident index exist yet" probe for the
    foreachBatch seen-index sinks (documents/embeddings): True iff ``path``
    is a directory containing at least one parquet file (recursing through
    hive partition dirs). Only MISSING/EMPTY answers False — a genuine IO
    or permission failure while LISTING an existing directory propagates,
    same fail-loudly contract as sinks/ann_index.py::read_codes (round-11
    advice, low: a swallowed transient error would silently serve an empty
    seen set and mislabel duplicates as kept). Uses the Hadoop FileSystem
    API when available so remote URIs probe correctly; falls back to a
    local walk otherwise."""
    if not _is_directory(spark, path):
        return False
    try:
        jvm = spark._jvm
        jsc = spark._jsc
        if jvm is None or jsc is None:
            raise AttributeError("no JVM gateway")
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(jsc.hadoopConfiguration())
    except AttributeError:
        return any(
            f.endswith(".parquet")
            for _, _, files in os.walk(path)
            for f in files
        )
    it = fs.listFiles(hpath, True)  # recursive; listing errors propagate
    while it.hasNext():
        if it.next().getPath().getName().endswith(".parquet"):
            return True
    return False


def read_events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over the events parquet (in production: Kafka —
    same downstream plan). Explicit schema: streaming sources never infer —
    so probe the physical ``ts`` encoding with a batch footer read first.
    Generators have shipped this table as both TIMESTAMP(NANOS) (surfaces as
    bigint under the nanosAsLong legacy conf) and TIMESTAMP(MICROS)/no-tz
    (surfaces as timestamp_ntz); both normalize to micro-precision UTC
    instants here."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    probed = (
        read_star_parquet(spark, f"{sf_dir}/events.parquet").schema["ts"].dataType
    )
    reader = spark.readStream.schema(_events_schema(probed)).option(
        "maxFilesPerTrigger", max_files_per_trigger
    )
    path = f"{sf_dir}/events.parquet"
    if _is_directory(spark, path):
        # directory layout (real ingest: one file per micro-batch window) —
        # stream the directory itself so every part file is a batch unit
        raw = reader.parquet(path)
    else:
        # single-file layout (driver testdata): the file source wants a
        # directory; glob-filter to the events table
        raw = reader.option("pathGlobFilter", "events.parquet").parquet(
            str(sf_dir)
        )
    if isinstance(probed, T.LongType):
        out = raw.withColumn("ts", F.expr(_TS_EXPR))
    else:
        # NTZ wall-clock -> LTZ instant is identity under the UTC session pin
        out = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    # Event-time contract (same as sources/star.py::load_events): rows
    # without a timestamp can't be watermarked or windowed — excluded here,
    # quarantine upstream.
    return out.where(F.col("ts").isNotNull())


def hourly_rollup_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1-hour window x event_type counts/sums — the streaming twin of
    the batch ``events_hourly_rollup`` oracle query. The watermark bounds both
    late data admission and aggregation state."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(25,6)")).cast("double").alias(
                "total_value"
            ),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("hour_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sessionize_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Session windows per user: a session closes after ``gap`` of inactivity.
    Uses the native ``session_window`` operator — state merges adjacent
    events server-side, no custom state store code."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(25,6)")).cast("double").alias(
                "session_value"
            ),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("session_start"),
            F.col("w.end").cast("timestamp_ntz").alias("session_end"),
            "user_id",
            "n_events",
            "session_value",
        )
    )


def sliding_rollup_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """1-hour windows sliding every 15 minutes — the streaming twin of the
    oracle-checked batch ``events_sliding_windows``. Overlapping windows
    multiply state size by size/slide (4x here); the watermark still bounds
    it."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(25,6)")).cast("double").alias(
                "total_value"
            ),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def enrich_purchases_stream(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Stream-static join: purchase events enriched against a static
    dimension. Spark re-resolves the static side each micro-batch (picking
    up dimension updates) and broadcasts it — no stream-side shuffle, no
    state. Batch twin: ``events_enriched_purchases`` (oracle-checked)."""
    dim = customer.select("c_custkey", "c_mktsegment")
    return (
        events.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(dim), F.col("user_id") == F.col("c_custkey"))
        .select("event_id", "user_id", "c_mktsegment", "value")
    )


def attribute_purchases_stream(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Stream-stream interval self-join: purchases joined to the same user's
    clicks from the preceding hour. Both sides carry a watermark and the
    join condition bounds event-time distance, so Spark can expire click
    state once it falls an hour + watermark behind — without the time bound
    a stream-stream join would buffer both sides forever. Batch twin:
    ``events_purchase_click_attribution`` (oracle-checked range join)."""
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    ).withWatermark("p_ts", watermark)
    c = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    ).withWatermark("c_ts", watermark)
    return p.join(
        c,
        F.expr(
            "p_user = c_user"
            " AND c_ts >= p_ts - INTERVAL 1 HOUR AND c_ts <= p_ts"
        ),
    ).select(
        "purchase_id",
        "click_id",
        F.col("p_user").alias("user_id"),
        F.expr("timestampdiff(MICROSECOND, c_ts, p_ts)").alias("lag_us"),
    )


def user_totals_stream(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: running
    per-user event count + value total, emitted every micro-batch.

    This is the escape hatch for stateful logic the built-in operators can't
    express (the built-ins cover this particular rollup — the point here is
    the plumbing: Arrow-batched state access, explicit state schema, update
    output mode). State is one tiny row per user; on an unbounded keyspace
    add a timeout (``GroupStateTimeout.ProcessingTimeTimeout``) to expire
    idle keys — here the keyspace is bounded so NoTimeout is correct."""
    import pandas as pd  # local import: only the stateful path needs it

    def update(key, pdfs, state):
        if state.exists:
            n, total = state.get
        else:
            n, total = 0, 0.0
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def daily_active_users_stream(
    events: DataFrame, watermark: str = "1 second"
) -> DataFrame:
    """EXACT streaming DAU: chained stateful operators — per-day
    user dedup (state expires with the watermark) feeding a windowed count.
    Multiple stateful operators require append output mode, so a day's count
    emits once its window falls behind the watermark; the in-flight day stays
    in state. That is the correct production semantics for a daily report
    (emit finalized days); for a live intraday number use
    :func:`daily_active_users_approx_stream`.

    State size: |users active per un-finalized day| dedup keys + one counter
    per open window — bounded by the watermark horizon regardless of stream
    length."""
    deduped = (
        events.withWatermark("ts", watermark)
        .withColumn("day_start", F.date_trunc("DAY", F.col("ts")))
        .dropDuplicatesWithinWatermark(["user_id", "day_start"])
    )
    return (
        deduped.groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.count(F.lit(1)).alias("dau"))
        .select(
            F.to_date(F.col("w").start.cast("timestamp_ntz")).alias("day"), "dau"
        )
    )


def daily_active_users_approx_stream(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Approximate streaming DAU: ONE windowed ``approx_count_distinct``
    (HyperLogLog++) — no dedup state, emits updating intraday counts in
    complete/update mode. The HLL sketch is deterministic for a given input
    set, so the streaming result is bit-identical to the same aggregate run
    in batch (the test's twin). Sketch state is O(1) per day window vs the
    exact operator's O(|daily users|)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.approx_count_distinct("user_id").alias("dau_approx"))
        .select(
            F.to_date(F.col("w").start.cast("timestamp_ntz")).alias("day"),
            "dau_approx",
        )
    )


def dedup_events_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Stateful streaming dedup on event_id within the watermark horizon —
    ``dropDuplicatesWithinWatermark`` keys state by id and expires it with
    the watermark, so state stays bounded on an unbounded stream.

    Behind the foreachBatch sinks of ``sinks/incremental.py`` the query runs
    no no-data micro-batches, so expired keys are evicted at the next data
    batch rather than as soon as the watermark passes them. Duplicates within
    the threshold are dropped either way. A re-send that arrives after its
    key expired may be dropped instead of re-emitted; Spark already leaves
    that case to batch boundaries."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


from pyspark.sql.streaming.stateful_processor import (  # noqa: E402
    StatefulProcessor,
)


class _SpendAlertProcessor(StatefulProcessor):
    """StatefulProcessor emitting an alert row each time a user's cumulative
    purchase value crosses another multiple of ``threshold``. Defined
    module-level (not a closure) so the worker unpickles it without the repo
    on its path."""

    def __init__(self, threshold: float = 100.0):
        self.threshold = threshold

    def init(self, handle) -> None:
        self._total = handle.getValueState("total", "total double")

    def handleInputRows(self, key, rows, timer_values):
        import pandas as pd

        total = self._total.get()[0] if self._total.exists() else 0.0
        before = int(total // self.threshold)
        for pdf in rows:
            total += float(pdf["value"].fillna(0.0).sum())
        self._total.update((total,))
        after = int(total // self.threshold)
        if after > before:
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "alert_level": [after],
                    "total_value": [total],
                }
            )

    def handleExpiredTimer(self, key, timer_values, expired_timer_info):
        return iter(())

    def handleInitialState(self, key, initial_state, timer_values) -> None:
        pass

    def close(self) -> None:
        pass


def spend_alerts_stream(events: DataFrame, threshold: float = 100.0) -> DataFrame:
    """Custom stateful operator on the MODERN API
    (``transformWithStateInPandas``, Spark 4.x): per-user cumulative
    purchase value kept in a typed ValueState, emitting one alert row each
    time the running total crosses another ``threshold`` multiple — the
    shape of a real-time spend/fraud alerting stage.

    vs ``applyInPandasWithState`` (the legacy API, kept in
    :func:`user_totals_stream`): explicit named state variables with
    per-state schemas and optional TTL, a processor object lifecycle
    (init/close), and timer support — this is where custom streaming
    operators land going forward. State is one double per user; add a
    ``ttlDurationMs`` on the ValueState to expire idle users on an
    unbounded keyspace.

    Runtime requirements (the two things TWS needs that the legacy API
    doesn't): (1) the ``google.protobuf`` runtime in driver AND workers —
    ``streaming.pbcompat.ensure_protobuf()`` resolves a real install or
    the vendored public runtime and must run before the session starts;
    (2) the RocksDB state store provider
    (``spark.sql.streaming.stateStore.providerClass``), because typed
    state variables map to state-store column families the default HDFS
    provider doesn't support. Execution is tested end-to-end in
    tests/test_streaming.py and rate-source benched next to the
    ``user_totals_stream`` legacy twin in scripts/streaming_bench.py."""
    proc = _SpendAlertProcessor(threshold)
    return (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=proc,
            outputStructType="user_id long, alert_level int, total_value double",
            outputMode="Update",
            timeMode="None",
        )
    )


def cep_funnel_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of the batch ``events_cep_funnel_instances``: the
    same greedy view->click->purchase automaton held in per-user keyed
    state (``applyInPandasWithState``), emitting one row per completed
    match instance as the stream advances.

    Ordering contract: the automaton consumes each micro-batch's rows for
    a user sorted by (ts, event_id); correctness across batches requires
    event-time-ordered delivery (single ordered source here — in
    production, buffer within the watermark horizon and sort on expiry via
    a transformWithState timer before folding). State is three scalars per
    user and never grows with the stream."""
    import pandas as pd  # local import: only the stateful path needs it

    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        if state.exists:
            st, start = state.get
        else:
            st, start = 0, 0
        out_s, out_e = [], []
        rows = pd.concat(list(pdfs))
        rows = rows.sort_values(["ts", "event_id"])
        epoch = pd.Timestamp("1970-01-01")
        for ts, etype in zip(rows["ts"], rows["event_type"]):
            ts_us = (ts - epoch) // pd.Timedelta(microseconds=1)
            if st == 0 and etype == "view":
                st, start = 1, ts_us
            elif st == 1 and etype == "click":
                st = 2
            elif st == 2 and etype == "purchase":
                out_s.append(start)
                out_e.append(ts_us)
                st, start = 0, 0
        state.update((st, start))
        if out_s:
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(out_s),
                    "match_start_us": out_s,
                    "match_end_us": out_e,
                    "duration_us": [e - s for s, e in zip(out_s, out_e)],
                }
            )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=(
            "user_id long, match_start_us long, match_end_us long,"
            " duration_us long"
        ),
        stateStructType="state int, start_us long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
