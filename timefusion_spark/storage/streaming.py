"""Streaming ingest: Structured Streaming → the Table write path.

The reference's ingest stack — WAL append (wal.rs:462), MemBuffer time
buckets (mem_buffer.rs:35-73), background flush with sort + LWW dedup
(buffered_write_layer.rs:2211, 2651-2674), WAL replay on boot
(buffered_write_layer.rs:1256 `recover_from_wal`) — collapses into one
Structured Streaming query (SURVEY §1.4):

  - micro-batch trigger   = time-bucket flush interval
  - foreachBatch body     = coerce → stamp → in-batch LWW dedup → sorted
                            partitioned append (Table.append, the exact
                            batch write path — no second code path)
  - checkpoint directory  = WAL (offsets + commit log; replay on restart)
  - exactly-once          = checkpoint replay + version-key collapsing
                            redelivered rows at read time (the reference's
                            LWW guarantee, buffered_write_layer.rs:2506)

Restart recovery (tests/e2e/restart_recovery.rs analog): kill the query
mid-stream, start a new one on the same checkpoint — the unfinished batch
replays, its rows re-append, and the dedup read view serves each key once.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from timefusion_spark.storage.table import Table


def stateful_running_counts(stream: DataFrame, key_col: str) -> DataFrame:
    """Custom stateful streaming operator (SURVEY §2.10 / north-star brief):
    per-key running event counts maintained in the state store via
    applyInPandasWithState — the Spark shape for any custom accumulating
    operator the built-in windowed aggregations can't express.

    State survives restarts through the checkpoint (the WAL-replay
    guarantee: a resumed query continues counting, never resets) — pinned
    by tests/test_streaming.py. Arrow-batched: each group's rows arrive as
    pandas DataFrames, state is one scalar per key."""
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupStateTimeout

    def _update(key, pdf_iter, state):
        import pandas as pd

        total = state.get[0] if state.exists else 0
        for pdf in pdf_iter:
            total += len(pdf)
        state.update((total,))
        yield pd.DataFrame({key_col: [key[0]], "n_events": [total]})

    # key column keeps ITS OWN type — hardcoding 'string' would declare a
    # schema the Arrow batches don't carry for int/date-keyed streams
    out_schema = T.StructType(
        [
            T.StructField(key_col, stream.schema[key_col].dataType),
            T.StructField("n_events", T.LongType()),
        ]
    )
    return stream.groupBy(key_col).applyInPandasWithState(
        _update,
        outputStructType=out_schema,
        stateStructType="n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def ingest_stream(
    table: Table,
    stream: DataFrame,
    checkpoint_dir: str,
    trigger_seconds: int | None = None,
    query_name: str | None = None,
    rollup: tuple[str, object] | None = None,
) -> StreamingQuery:
    """Attach a streaming DataFrame to the table's write path.

    `stream` is any streaming source (file/rate/kafka/socket). Late rows are
    accepted unconditionally and land in their own timestamp's date
    partition — the reference's late-data policy (SURVEY §2.10): no
    watermark on the append path.

    Redeliveries are collapsed without stream state: a replayed
    micro-batch is skipped by the commit log's txn watermark (below), and
    rows redelivered through another query land as extra versions that
    append's in-batch dedup and the read view collapse to the greatest
    tiebreak, so a genuine later update always wins."""
    if not stream.isStreaming:
        raise ValueError("ingest_stream requires a streaming DataFrame")

    # Stable per-checkpoint transaction id: a restarted query on the same
    # checkpoint keeps the same app_id, so a replayed (uncommitted-at-kill)
    # micro-batch re-appends under its original batch_id and a batch the
    # table ALREADY committed is skipped — physical exactly-once through
    # the commit log's txn watermark (Delta txnAppId/txnVersion; the
    # reference's WAL watermark, buffered_write_layer.rs:2211), on top of
    # the read-view LWW collapse.
    app_id = f"ingest:{os.path.abspath(checkpoint_dir)}"

    def _write_batch(batch: DataFrame, batch_id: int) -> None:
        table.append(batch, txn=(app_id, batch_id))
        if rollup is not None:
            # Continuous aggregate maintained LIVE under ingest: after the
            # batch commits, refresh only the rollup tiles whose source
            # partitions changed (file-signature staleness) — the
            # TimescaleDB continuous-aggregate policy running inside the
            # micro-batch instead of on a schedule. Idempotent with the
            # txn skip above: a re-delivered batch appends nothing, so no
            # partition signature changes and the refresh is a no-op.
            from timefusion_spark.storage import maintenance

            rollup_path, agg_fn = rollup
            maintenance.refresh_rollup(table, rollup_path, agg_fn)

    writer = (
        stream.writeStream.foreachBatch(_write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if query_name:
        writer = writer.queryName(query_name)
    if trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def ingest_stream_multi(
    routes: dict[str, tuple[Table, object]],
    stream: DataFrame,
    checkpoint_dir: str,
    trigger_seconds: int | None = None,
    query_name: str | None = None,
) -> StreamingQuery:
    """One micro-batch feeding SEVERAL tables as ONE coalesced commit —
    the reference's flush path (database.rs:5181 commits multiple tables'
    buckets in a single transaction).

    `routes` maps a route name → (table, selector) where `selector(batch)`
    returns that table's slice of the micro-batch (e.g. a filter +
    projection). Per batch: every table's files stage and commit PENDING
    inside a shared CommitGroup, then the group resolution settles with
    one atomic create — a reader (batch scan, time travel, or change
    feed) either sees the batch in ALL tables or in NONE. Durability is
    TABLE-LOCAL: publish() drops a `_tf_log/_groups/<gid>.published`
    confirmation into every participating table's own log dir, so
    visibility never depends on the coordinator's marker directory — it
    lives under the checkpoint dir purely as scratch for the settle race,
    and resetting or relocating the checkpoint cannot un-publish
    anything. A crash between any two table commits leaves only invisible
    entries; the replayed batch re-appends cleanly because pending
    commits' txn watermarks are ignored on replay."""
    if not stream.isStreaming:
        raise ValueError("ingest_stream_multi requires a streaming DataFrame")
    from timefusion_spark.storage.commitlog import CommitGroup

    app_base = f"ingest:{os.path.abspath(checkpoint_dir)}"
    group_dir = os.path.join(os.path.abspath(checkpoint_dir), "_tf_groups")

    def _write_batch(batch: DataFrame, batch_id: int) -> None:
        import threading

        group = CommitGroup(group_dir)
        # keep the group's pending records young for as long as this
        # coordinator is ALIVE: a multi-table batch slower than the 60 s
        # streaming abort_after (an availableNow restart can replay a
        # large backlog as ONE batch) would otherwise be settled ABORTED
        # by a concurrent changefeed poll / checkpoint ager mid-batch,
        # making publish() raise and the replayed batch loop the same
        # failure forever (review r11). The heartbeat refreshes committed
        # records' mtimes every 15 s until publish/failure.
        stop = threading.Event()

        def _tick() -> None:
            while not stop.wait(15.0):
                group.heartbeat()

        beat = threading.Thread(target=_tick, daemon=True)
        beat.start()
        try:
            for name, (table, selector) in routes.items():
                table.append(
                    selector(batch),
                    txn=(f"{app_base}:{name}", batch_id),
                    group=group,
                )
            group.publish()
        finally:
            stop.set()
            beat.join(timeout=1.0)

    writer = (
        stream.writeStream.foreachBatch(_write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if query_name:
        writer = writer.queryName(query_name)
    if trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_counts(
    stream: DataFrame,
    time_col: str = "timestamp",
    key_col: str | None = None,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked tumbling-window aggregation — the standard Structured
    Streaming rollup the reference's dashboard count tiles map to at
    ingest time (a continuously-maintained `time_bucket` COUNT).

    Late data policy: rows later than `watermark` behind the max observed
    event time are dropped from the aggregation (their window already
    finalized); in append output mode a window is emitted exactly once,
    when the watermark passes its end — so a downstream sink (e.g. the
    rollup table of q_hypertable_rollup) receives each tile exactly once.
    State is bounded by watermark ÷ window tiles per key."""
    from pyspark.sql import functions as F

    if not stream.isStreaming:
        raise ValueError("windowed_counts requires a streaming DataFrame")
    stream = stream.withColumn(time_col, F.col(time_col).cast("timestamp"))
    keys = [F.window(F.col(time_col), window).alias("w")]
    if key_col:
        keys.append(F.col(key_col))
    return (
        stream.withWatermark(time_col, watermark)
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("bucket"),
            *([key_col] if key_col else []),
            "n",
        )
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    within: str = "10 minutes",
    watermark: str = "1 minute",
) -> DataFrame:
    """Watermarked stream-stream INNER join: pair each left event with
    right events of the same `key` whose time falls in
    [left_ts, left_ts + within).

    This is the attribution/correlation primitive (view→click,
    request→error) the reference serves by re-querying flushed batches;
    in Structured Streaming it runs continuously with BOUNDED state: the
    watermark on both sides plus the time-range condition let Spark
    expire buffered rows once no future match is possible (state ≈
    within + watermark of data per side, independent of stream length).
    Inner-join matches emit as soon as both sides arrive — no waiting on
    window finalization.

    Scale shape: both sides shuffle once on `key` into the same join
    state store partitions; skewed keys behave like any keyed stateful
    op (salt upstream if one key dominates)."""
    from pyspark.sql import functions as F

    if not (left.isStreaming and right.isStreaming):
        raise ValueError("stream_stream_join requires two streaming DataFrames")
    if left_ts == right_ts:
        # the output selects both under their caller-supplied names — a
        # shared name would produce duplicate columns that fail at the
        # sink, not here (review r13)
        raise ValueError(
            "stream_stream_join: left_ts and right_ts must differ (rename "
            "one side before joining, e.g. withColumnRenamed)"
        )
    lw = left.withWatermark(left_ts, watermark).alias("l")
    rw = right.withWatermark(right_ts, watermark).alias("r")
    return lw.join(
        rw,
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}"))
        & (
            F.col(f"r.{right_ts}")
            < F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {within}")
        ),
    ).select(
        F.col(f"l.{key}").alias(key),
        F.col(f"l.{left_ts}").alias(left_ts),
        F.col(f"r.{right_ts}").alias(right_ts),
    )
