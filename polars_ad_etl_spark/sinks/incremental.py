"""Incremental, idempotent loads: dynamic partition overwrite + a streaming
foreachBatch writer built on it.

The 100 TB incremental pattern: land data partitioned by event date/hour,
and re-process by **overwriting exactly the affected partitions** — never
the table, never row-level merges. Dynamic partition overwrite
(``partitionOverwriteMode=dynamic``) makes the write idempotent: re-running
a day's load replaces that day and touches nothing else, so retries and
backfills are safe by construction.

The streaming side reuses the same primitive through ``foreachBatch``:
each micro-batch rewrites the partitions it contains. Combined with a
checkpoint location this gives effectively-once output on a plain parquet
table (a replayed batch overwrites its own partitions with identical
content) — no transactional table format needed.

Every landed file costs one micro-batch. The three foreachBatch sinks start
through :func:`_start_foreach_batch`, which turns off Spark's no-data
micro-batches for that query when the only stateful operators upstream are
de-duplications: the sinks do nothing with an empty batch, and a
``Deduplicate``/``DeduplicateWithinWatermark`` never emits rows when the
watermark advances, so a no-data batch behind them would only evict state —
which the next data batch does with the same watermark. Upstreams that DO
emit on watermark advance (streaming aggregates and windows, stream-stream
joins, ``[FlatMap]GroupsWithState``, ``TransformWithState*``) keep Spark's
default, so closed windows reach the sink without waiting for more data.

The same helper sizes a stateful query's state partitions from its input.
Every batch commits one state store per state partition, however few rows
reach it, and AQE cannot coalesce a stateful shuffle. So a new stateful
query over file sources with ``maxFilesPerTrigger`` gets one state
partition per ``_STATE_PARTITION_BYTES`` (8 MB, where two partitions began
to beat one in a measured sweep) of one trigger's input, taken as
``maxFilesPerTrigger`` x the largest file now present, between 1 and the
session's ``spark.sql.shuffle.partitions``. Any other source keeps the
session's count, and so does the keyed-upsert sink, whose batch Window
shuffles its whole store. The count is fixed at the query's first start:
Spark records it in the checkpoint's offset log and a restart runs with the
recorded value, so a restart lists no files for it.
"""

from __future__ import annotations

import shutil
import threading
from fnmatch import fnmatch
from pathlib import Path
from typing import Callable

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from polars_ad_etl_spark.plans.schema import quote_ident

_NO_DATA_BATCHES = "spark.sql.streaming.noDataMicroBatches.enabled"
_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
# One state partition per this many bytes of one trigger's input. Measured
# on a 4-core host (de-dup -> stream_incremental_agg, one parquet file per
# trigger, 1/2/4 partitions, 3 runs): at 3.3 and 5.8 MB per trigger two
# partitions cut the batch p50 by 11-26 % for 8-17 % more CPU; at 10.9 MB
# they cut it by 35 % for 4 % less CPU, and at 44 MB four and two tie.
_STATE_PARTITION_BYTES = 8 << 20
# Name fragments of the logical operators that can emit rows when only the
# watermark moves (window/aggregate finalization, outer-join rows, state
# timeouts and timers). A plan with none of them needs no no-data batches.
_EMITS_ON_WATERMARK = ("Aggregate", "Distinct", "Join", "WithState")
# ... and of the operators that keep state across batches in a state store
# partitioned by spark.sql.shuffle.partitions (a Join only when both sides
# stream).
_STATEFUL = _EMITS_ON_WATERMARK + ("Deduplicate",)
# Serializes set-start-restore of the session conf across sink starts.
_START_LOCK = threading.Lock()


def _plan_nodes(stream_df: DataFrame) -> list:
    """Every node of the analyzed plan (classic-mode plan internals, as in
    ``plans/audit.py``)."""
    nodes, stack = [], [stream_df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        nodes.append(node)
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return nodes


def _keeps_state(node) -> bool:
    """True for a streaming node that keeps state across batches."""
    name = node.nodeName()
    if not node.isStreaming() or not any(k in name for k in _STATEFUL):
        return False
    kids = node.children()
    return "Join" not in name or all(
        kids.apply(i).isStreaming() for i in range(kids.size())
    )


def _hidden(name: str) -> bool:
    """A name the file source skips (``_SUCCESS``, ``_temporary``,
    ``_spark_metadata``, ``.crc`` files); ``_key=value`` partition
    directories are read."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _largest_file_bytes(spark, path: str, name_glob: str | None) -> int:
    """Size of the largest data file the file source would read under
    ``path`` now (hidden files and directories skipped, ``pathGlobFilter``
    applied to names); 0 when there is none yet."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    largest, dirs = 0, [s.getPath() for s in fs.globStatus(hpath) or []]
    while dirs:
        for status in fs.listStatus(dirs.pop()):
            name = status.getPath().getName()
            if _hidden(name):
                continue
            if status.isDirectory():
                dirs.append(status.getPath())
            elif not name_glob or fnmatch(name, name_glob):
                largest = max(largest, status.getLen())
    return largest


def _trigger_input_bytes(spark, nodes: list) -> int:
    """Upper bound on one trigger's input bytes: ``maxFilesPerTrigger`` x
    the largest file now present, summed over the streaming sources. 0 when
    any source is not such a file source (rate, Kafka, memory, no
    ``maxFilesPerTrigger``) or has no file yet."""
    to_java = spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava
    total = 0
    for node in nodes:
        if node.children().size() or not node.isStreaming():
            continue
        if node.nodeName() != "StreamingRelation":
            return 0
        opts = {k.lower(): v for k, v in to_java(node.dataSource().options()).items()}
        if "path" not in opts or "maxfilespertrigger" not in opts:
            return 0
        largest = _largest_file_bytes(spark, opts["path"], opts.get("pathglobfilter"))
        if not largest:
            return 0
        total += int(opts["maxfilespertrigger"]) * largest
    return total


def _has_offset_log(spark, checkpoint: str | Path) -> bool:
    """True once the query at ``checkpoint`` has planned a batch: its offset
    log then holds the state partition count every restart runs with."""
    offsets = spark._jvm.org.apache.hadoop.fs.Path(f"{checkpoint}/offsets")
    fs = offsets.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs.exists(offsets) and len(fs.listStatus(offsets)) > 0


def _query_confs(
    stream_df: DataFrame, checkpoint: str | Path, size_state: bool
) -> dict[str, str]:
    """The confs to set for this query's ``start()`` only.

    - No no-data micro-batches unless the plan emits on watermark advance.
    - With ``size_state``, a stateful plan over file sources that starts a
      new checkpoint gets one state partition per ``_STATE_PARTITION_BYTES``
      of one trigger's input, between 1 and the session's
      ``spark.sql.shuffle.partitions``. A state store cannot be coalesced
      after the fact, so each partition costs a state-store commit on every
      batch however few rows it holds."""
    spark = stream_df.sparkSession
    nodes = _plan_nodes(stream_df)
    names = [n.nodeName() for n in nodes]
    confs = {}
    if not any(k in name for name in names for k in _EMITS_ON_WATERMARK):
        confs[_NO_DATA_BATCHES] = "false"
    trigger_bytes = (
        size_state
        and any(map(_keeps_state, nodes))
        and not _has_offset_log(spark, checkpoint)
        and _trigger_input_bytes(spark, nodes)
    )
    if trigger_bytes:
        n = -(-trigger_bytes // _STATE_PARTITION_BYTES)
        session_n = int(spark.conf.get(_SHUFFLE_PARTITIONS))
        confs[_SHUFFLE_PARTITIONS] = str(min(n, session_n))
    return confs


def _start_foreach_batch(
    stream_df: DataFrame,
    checkpoint: str | Path,
    fn: Callable[[DataFrame, int], None],
    size_state: bool = True,
) -> StreamingQuery:
    """Start an append-mode foreachBatch query with :func:`_query_confs`
    set for this query only: Spark copies the session conf into the query
    at ``start()``, and the session's previous values are restored right
    after (a key that was unset is unset again), also when ``start()``
    raises. The confs are read and chosen under the lock too, so a
    concurrent start never sees another query's temporary values.

    The state partition count is fixed at the query's FIRST start: Spark
    records ``spark.sql.shuffle.partitions`` in the checkpoint's offset log
    and a restart runs with the recorded value, so a checkpoint written at
    any count keeps it (its files are then not listed at all). The batch
    frames inside ``fn`` run on the query's session and so use the same
    count for their own exchanges: a sink whose batch work grows with
    something other than the trigger passes ``size_state=False``."""
    writer = (
        stream_df.writeStream.outputMode("append")
        .option("checkpointLocation", str(checkpoint))
        .foreachBatch(fn)
    )
    conf = stream_df.sparkSession.conf
    with _START_LOCK:
        confs = _query_confs(stream_df, checkpoint, size_state)
        prev = {k: conf.get(k, None) for k in confs}
        for k, v in confs.items():
            conf.set(k, v)
        try:
            return writer.start()
        finally:
            for k, v in prev.items():
                if v is None:
                    conf.unset(k)
                else:
                    conf.set(k, v)


def write_partition_overwrite(
    df: DataFrame, path: str | Path, partition_cols: list[str]
) -> str:
    """Overwrite only the partitions present in ``df`` (dynamic mode set
    per-write, not globally, so other writers keep static semantics)."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(str(path))
    )
    return str(path)


def stream_to_partitioned_parquet(
    stream_df: DataFrame,
    path: str | Path,
    partition_cols: list[str],
    checkpoint: str | Path,
) -> StreamingQuery:
    """foreachBatch incremental sink: every micro-batch dynamic-overwrites
    the partitions it touches. Replays after failure rewrite the same
    partitions identically — idempotent without a transaction log.

    Correct ONLY when partitions are batch-aligned (one partition's rows
    never span micro-batches — e.g. hourly trigger writing hourly
    partitions of already-closed hours): a partition fed by two batches
    would be overwritten by the later one. For unaligned raw appends, use
    plain append mode and dedup on replay instead."""

    def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # an empty dynamic-overwrite write would still create an empty store
        if not batch_df.isEmpty():
            write_partition_overwrite(batch_df, path, partition_cols)

    return _start_foreach_batch(stream_df, checkpoint, _write_batch)


def upsert_latest_by_key(
    batch_df: DataFrame,
    path: str | Path,
    key_cols: list[str],
    version_cols: list[str],
) -> str:
    """Keyed upsert into a plain-parquet store: merge the batch with the
    existing table, keep the highest-``version_col`` row per key, rewrite.

    This is the CDC-apply / materialized-view maintenance primitive on
    storage with no transaction log: correctness comes from last-writer-wins
    on the explicit version ordering (event time + a tie-breaking id, or an
    LSN), so replaying a batch is idempotent. The rewrite cost is the whole store — the right call while
    the keyed state is much smaller than the event volume (the usual
    materialized-view regime); once the store itself is huge, switch to the
    partition-overwrite primitive above with key-range partitions so a batch
    rewrites only the ranges it touches.
    """
    spark = batch_df.sparkSession
    p = Path(path)
    merged = batch_df
    if p.exists():
        existing = spark.read.parquet(str(p))
        merged = existing.unionByName(batch_df)
    w = Window.partitionBy(*key_cols).orderBy(
        *[F.col(c).desc() for c in version_cols]
    )
    latest = (
        merged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    # write to a sibling then swap: the store is its own input, so a direct
    # overwrite would truncate before the read plan runs. Swap order matters
    # for durability: rename the live store ASIDE first, then the new store
    # into place, then drop the old copy — the window with no readable store
    # at `path` is a single rename, and a crash anywhere leaves a complete
    # copy under either `path`, `__old`, or `__new`.
    tmp = p.with_name(p.name + "__new")
    latest.write.mode("overwrite").parquet(str(tmp))
    old = p.with_name(p.name + "__old")
    if old.exists():  # leftover from a previous crash mid-swap
        shutil.rmtree(old)
    if p.exists():
        p.rename(old)
    tmp.rename(p)
    if old.exists():
        shutil.rmtree(old)
    return str(p)


def stream_upsert_latest(
    stream_df: DataFrame,
    path: str | Path,
    key_cols: list[str],
    version_cols: list[str],
    checkpoint: str | Path,
) -> StreamingQuery:
    """foreachBatch keyed-upsert sink: maintains a latest-per-key
    materialized view of the stream on plain parquet. Idempotent under
    batch replay because the merge is last-writer-wins on the version
    column."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        # an empty batch would otherwise rewrite the whole store
        if not batch_df.isEmpty():
            upsert_latest_by_key(batch_df, path, key_cols, version_cols)

    # each batch's Window shuffles the whole store, which outgrows any one
    # trigger, so the query keeps the session's partition count
    return _start_foreach_batch(stream_df, checkpoint, _apply, size_state=False)


# ------------------------------------------------ incremental aggregation
# The third incremental primitive: maintaining an ADDITIVE aggregate
# (count/sum per key) over a stream on plain parquet, exactly-once.
#
# Trick: additive state never needs row-level merge — each micro-batch
# writes its own PARTIAL aggregate under a batch-keyed directory
# (`.../batch_id=N`), which is an idempotent overwrite (a replayed batch
# rewrites the same dir with identical content, so re-delivery cannot
# double-count). The readable view is a plain parquet read + final combine
# over the delta dirs — the same partial/final split Spark's own hash
# aggregate uses, externalized to storage. Compaction folds deltas into a
# consolidated partial when the dir count grows; totals are invariant.
#
# One Spark action per batch: the partial is written while an Observation
# sums its cnt column (the batch's row count), instead of being probed with
# isEmpty() first, which would run the upstream stateful plan twice. A
# batch that reduced to no rows — empty, or every row a duplicate — has its
# just-written dir removed, so it leaves no delta, and a replay of it
# removes the same dir again.
#
# At 100 TB: each delta is |keys|-sized (tiny), the view's final combine is
# one map-side-combinable aggregate over |batches|x|keys| rows, and state
# never rewrites the whole store per batch (contrast upsert_latest_by_key).
#
# Column names are backtick-quoted throughout, so keys and values such as
# "Avg. CPC" resolve as one column rather than as struct-field access.


def _partial_agg(df: DataFrame, key_cols: list[str], value_col: str) -> DataFrame:
    """Per-key (cnt, sum_<value>) partial; the sum is decimal-exact."""
    return df.groupBy(*[F.col(quote_ident(c)) for c in key_cols]).agg(
        F.count("*").alias("cnt"),
        F.sum(F.col(quote_ident(value_col)).cast("decimal(25,6)"))
        .cast("double")
        .alias(f"sum_{value_col}"),
    )


def write_agg_delta(
    partial_df: DataFrame, path: str | Path, batch_id: int
) -> str:
    """Idempotently write one batch's per-key PARTIAL aggregate under its
    batch-keyed delta directory."""
    out = Path(path) / f"batch_id={batch_id}"
    partial_df.write.mode("overwrite").parquet(str(out))
    return str(out)


def read_incremental_agg(spark, path: str | Path, key_cols: list[str]) -> DataFrame:
    """The consolidated view: final-combine every delta's partial counts and
    sums. Columns named ``cnt`` and ``sum_*`` are combined additively."""
    deltas = spark.read.parquet(str(path))
    sum_cols = [
        c for c in deltas.columns
        if c == "cnt" or c.startswith("sum_")
    ]
    return deltas.groupBy(*[F.col(quote_ident(c)) for c in key_cols]).agg(
        *[F.sum(F.col(quote_ident(c))).alias(c) for c in sum_cols]
    )


def stream_incremental_agg(
    stream_df: DataFrame,
    path: str | Path,
    key_cols: list[str],
    value_col: str,
    checkpoint: str | Path,
) -> StreamingQuery:
    """foreachBatch additive-aggregate sink: per batch, reduce the raw rows
    to a per-key (cnt, sum_<value>) partial and idempotently write it under
    the batch's delta dir, in one Spark action. Exactly-once per key under
    replay because a re-delivered batch overwrites its own delta with
    identical content; a batch that reduces to no rows leaves no delta."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        obs = Observation()
        partial = _partial_agg(batch_df, key_cols, value_col)
        rows = F.coalesce(F.sum("cnt"), F.lit(0)).alias("rows")
        out = write_agg_delta(partial.observe(obs, rows), path, batch_id)
        if obs.get["rows"] == 0:
            shutil.rmtree(out)

    return _start_foreach_batch(stream_df, checkpoint, _apply)


def compact_agg_deltas(
    spark, path: str | Path, key_cols: list[str], keep_batch_id: int = -1
) -> str:
    """Fold every delta into one consolidated partial dir (batch_id=-1 by
    convention) and remove the originals. Run in a maintenance window (no
    concurrent writer for the same dirs); totals are invariant because the
    consolidated partial is itself just a partial."""
    p = Path(path)
    consolidated = read_incremental_agg(spark, p, key_cols)
    tmp = p.with_name(p.name + "__compact")
    consolidated.write.mode("overwrite").parquet(str(tmp))
    for d in p.iterdir():
        if d.is_dir() and d.name.startswith("batch_id="):
            shutil.rmtree(d)
    tmp.rename(p / f"batch_id={keep_batch_id}")
    return str(p)


# --------------------------------------------------------------------------
# Incremental JOIN-aggregate maintenance (delta propagation / IVM)
#
# The aggregate deltas above maintain single-table views; the other view
# class a warehouse materializes is a JOIN aggregate (revenue per customer
# = orders ⋈ lineitem, grouped). Recomputing it per batch is the 100 TB
# anti-pattern; the algebraic identity for APPEND-ONLY bases is
#
#   (A+ΔA) ⋈ (B+ΔB) = A⋈B  +  ΔA⋈(B+ΔB)  +  A⋈ΔB
#
# so the view's additive partial grows by exactly two joins, each with one
# DELTA side — small by definition, hence broadcast, hence no shuffle of
# the big bases at all. The result is a per-key PARTIAL in the same
# cnt/sum_* convention as write_agg_delta, so the existing delta-log,
# consolidated-view, and compaction machinery apply unchanged.
# (Retractions/updates need signed multiplicities — out of scope for the
# append-only feeds this repo models.)


def join_agg_delta(
    a_old: DataFrame,
    a_delta: DataFrame,
    b_old: DataFrame,
    b_delta: DataFrame,
    on: str,
    key_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Per-key partial (cnt, sum_<value>) contributed by one batch of
    append-only deltas to the A⋈B GROUP BY view. Append the result with
    ``write_agg_delta``; ``read_incremental_agg`` then serves the
    maintained view."""
    b_new = b_old.unionByName(b_delta)
    contributions = F.broadcast(a_delta).join(b_new, on).unionByName(
        a_old.join(F.broadcast(b_delta), on)
    )
    return _partial_agg(contributions, key_cols, value_col)
