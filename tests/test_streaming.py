"""Streaming ingest lifecycle: foreachBatch write path, checkpoint replay,
restart recovery with no duplicates or loss
(/root/reference/tests/e2e/restart_recovery.rs analog; SURVEY M5)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from timefusion_spark.storage import Table, load_schema_text
from timefusion_spark.storage.streaming import ingest_stream

YAML = """
table_name: stream_t
partitions: [project_id, date]
time_column: timestamp
dedup_keys: [timestamp, id]
dedup_tiebreak: updated_at
tombstone_column: deleted
version_append: true
sorting_columns:
  - {name: timestamp, descending: true, nulls_first: true}
fields:
  - {name: date, data_type: Date32, nullable: false}
  - {name: timestamp, data_type: 'Timestamp(Microsecond, Some("UTC"))', nullable: false}
  - {name: id, data_type: Utf8, nullable: false}
  - {name: value, data_type: Float64, nullable: true}
  - {name: project_id, data_type: Utf8, nullable: true}
  - {name: updated_at, data_type: 'Timestamp(Microsecond, Some("UTC"))', nullable: true}
  - {name: deleted, data_type: Boolean, nullable: true}
"""

SRC_SCHEMA = "timestamp string, id string, value double, project_id string"


def _write_source_file(src_dir: str, name: str, rows: list[dict]) -> None:
    os.makedirs(src_dir, exist_ok=True)
    with open(os.path.join(src_dir, name), "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")


def _rows(n0: int, n1: int) -> list[dict]:
    return [
        {
            "timestamp": f"2026-01-01 10:{i % 60:02d}:00",
            "id": f"id{i}",
            "value": float(i),
            "project_id": "p1",
        }
        for i in range(n0, n1)
    ]


@pytest.fixture()
def table(spark, tmp_path):
    return Table.create(spark, load_schema_text(YAML), str(tmp_path / "stream_t"))


def _stream(spark, src_dir: str):
    return (
        spark.readStream.schema(SRC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(src_dir)
    )


def test_stream_ingest_available_now(spark, tmp_path, table):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    _write_source_file(src, "batch0.json", _rows(0, 50))
    q = ingest_stream(table, _stream(spark, src), ckpt)
    q.awaitTermination(120)
    assert table.read().count() == 50

    # new file, same checkpoint: only the delta is processed
    _write_source_file(src, "batch1.json", _rows(50, 80))
    q = ingest_stream(table, _stream(spark, src), ckpt)
    q.awaitTermination(120)
    assert table.read().count() == 80


def test_restart_recovery_no_dupes_no_loss(spark, tmp_path, table):
    """Kill the query between micro-batches, restart on the same
    checkpoint: every source row is served exactly once by the read view."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    for i in range(4):
        _write_source_file(src, f"b{i}.json", _rows(i * 10, (i + 1) * 10))

    # First run: stop after the first completed micro-batch ("crash").
    q = ingest_stream(table, _stream(spark, src), ckpt, trigger_seconds=1)
    import time

    deadline = time.time() + 120
    while time.time() < deadline:
        if any(p.numInputRows > 0 for p in q.recentProgress):
            break
        time.sleep(0.5)
    q.stop()
    q.awaitTermination(60)
    partial = table.read().count()
    assert 0 < partial <= 40

    # Restart on the same checkpoint: remaining batches replay/resume.
    q = ingest_stream(table, _stream(spark, src), ckpt)
    q.awaitTermination(120)
    assert table.read().count() == 40
    # no physical duplicates either (checkpoint prevented re-processing)
    assert table.read_raw().count() == 40


def test_stateful_running_counts_survive_restart(spark, tmp_path):
    """applyInPandasWithState custom operator: per-user running counts
    accumulate across micro-batches AND across query restarts (state store
    lives in the checkpoint — the WAL-replay analog for operator state)."""
    from timefusion_spark.storage.streaming import stateful_running_counts

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    _write_source_file(src, "b0.json", [{"user": "u1"}] * 3 + [{"user": "u2"}] * 2)

    out_dir = str(tmp_path / "updates")

    def _run(run_id: int) -> dict:
        stream = spark.readStream.schema("user string").json(src)

        def _sink(batch, _bid):
            batch.withColumn("run", F.lit(run_id)).write.mode("append").parquet(out_dir)

        q = (
            stateful_running_counts(stream, "user")
            .writeStream.foreachBatch(_sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = spark.read.parquet(out_dir).where(F.col("run") == run_id).collect()
        return {r["user"]: r["n_events"] for r in rows}

    first = _run(1)
    assert first == {"u1": 3, "u2": 2}

    # restart with MORE data on the same checkpoint: counts continue
    _write_source_file(src, "b1.json", [{"user": "u1"}] * 4 + [{"user": "u3"}] * 1)
    second = _run(2)
    assert second == {"u1": 7, "u3": 1}  # u2 unchanged → not re-emitted (update mode)


def test_watermarked_window_agg_drops_late_rows(spark, tmp_path):
    """Watermark + windowed aggregation (SURVEY §2.10 late-data contract
    for AGGREGATING streams — the append-only ingest path accepts late
    rows unconditionally, but a windowed agg needs bounded state): rows
    later than the watermark are dropped from closed windows."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    # batch 1: two windows of events, max ts 10:30
    _write_source_file(
        src,
        "b0.json",
        [
            {"timestamp": "2026-01-01 10:00:30", "id": "a"},
            {"timestamp": "2026-01-01 10:00:40", "id": "b"},
            {"timestamp": "2026-01-01 10:30:00", "id": "c"},
        ],
    )

    def _run():
        stream = spark.readStream.schema("timestamp timestamp, id string").json(src)
        agg = (
            stream.withWatermark("timestamp", "5 minutes")
            .groupBy(F.window("timestamp", "1 minute").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").cast("string").alias("w_start"), "n")
        )
        q = (
            agg.writeStream.foreachBatch(
                lambda b, _id: b.write.mode("append").parquet(out)
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    _run()
    # batch 2: a row 35 minutes LATE (10:00:50 when watermark ≈ 10:25) and
    # one fresh row advancing time.
    _write_source_file(
        src,
        "b1.json",
        [
            {"timestamp": "2026-01-01 10:00:50", "id": "late"},
            {"timestamp": "2026-01-01 11:00:00", "id": "fresh"},
        ],
    )
    _run()
    _run()  # one more trigger so closable windows emit

    got = {r["w_start"]: r["n"] for r in spark.read.parquet(out).collect()}
    # the 10:00 window emitted with ONLY the two on-time rows — the late
    # row never re-opened it
    assert got.get("2026-01-01 10:00:00") == 2


def test_redelivery_collapsed_by_dedup_keys(spark, tmp_path, table):
    """At-least-once upstream: the same rows delivered through TWO separate
    streams (distinct checkpoints — e.g. a replayed producer) appear once in
    the read view; LWW keeps the latest stamp
    (buffered_write_layer.rs:2506 exactly-once semantics)."""
    src1, src2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    _write_source_file(src1, "b.json", _rows(0, 30))
    _write_source_file(src2, "b.json", _rows(0, 30))  # redelivery
    q = ingest_stream(table, _stream(spark, src1), str(tmp_path / "c1"))
    q.awaitTermination(120)
    q = ingest_stream(table, _stream(spark, src2), str(tmp_path / "c2"))
    q.awaitTermination(120)
    assert table.read_raw().count() == 60  # both deliveries landed
    assert table.read().count() == 30  # view serves each key once


def test_redelivery_and_later_update_serve_the_update(spark, tmp_path, table):
    """A redelivered batch and a genuine later update of one key both go
    through ingest_stream: the redelivery adds versions, the update wins
    (greatest tiebreak = latest append), and the view serves each key once
    with the updated value."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    update = dict(_rows(3, 4)[0], value=99.0)
    # one availableNow run per file keeps the delivery order fixed
    for name, rows in (
        ("b0.json", _rows(0, 10)),
        ("b1.json", _rows(0, 10)),  # full redelivery
        ("b2.json", [update]),  # same (timestamp, id), new value
    ):
        _write_source_file(src, name, rows)
        ingest_stream(table, _stream(spark, src), ckpt).awaitTermination(120)
    assert table.read_raw().count() == 21  # every delivery landed
    got = {r["id"]: r["value"] for r in table.read().collect()}
    assert got == {f"id{i}": 99.0 if i == 3 else float(i) for i in range(10)}


def test_windowed_counts_watermark_late_data(spark, tmp_path):
    """Watermarked tumbling-window rollup (SURVEY §2.10): windows are
    emitted exactly once when the watermark passes; rows arriving later
    than the watermark are dropped from their (already-emitted) window."""
    from timefusion_spark.storage.streaming import windowed_counts

    src = str(tmp_path / "wsrc")
    ckpt = str(tmp_path / "wckpt")
    tiles = str(tmp_path / "wtiles")

    def run_batch(name, rows):
        _write_source_file(src, name, rows)
        agg = windowed_counts(
            _stream(spark, src), time_col="timestamp", key_col="project_id",
            window="5 minutes", watermark="10 minutes",
        )
        # append-mode file sink: each finalized tile lands exactly once in
        # the rollup table (the continuous-aggregate story end-to-end).
        q = (
            agg.writeStream.format("parquet")
            .option("path", tiles)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            (r["bucket"].isoformat(), r["project_id"]): r["n"]
            for r in spark.read.parquet(tiles).collect()
        }

    # batch 0: 5 rows in 10:00-10:05, 5 in 10:05-10:10 (10:05:00 lands in
    # the second window), then an event at 11:00 that pushes the watermark
    # (11:00 - 10 min = 10:50) past both early windows -> they finalize.
    rows = [
        {"timestamp": f"2026-01-01 10:0{i}:00", "id": f"a{i}", "value": 1.0, "project_id": "p1"}
        for i in range(6)
    ] + [
        {"timestamp": f"2026-01-01 10:0{5 + i}:30", "id": f"b{i}", "value": 1.0, "project_id": "p1"}
        for i in range(4)
    ] + [
        {"timestamp": "2026-01-01 11:00:00", "id": "late-pusher", "value": 1.0, "project_id": "p1"}
    ]
    out = run_batch("w0.json", rows)
    assert out[("2026-01-01T10:00:00", "p1")] == 5
    assert out[("2026-01-01T10:05:00", "p1")] == 5

    # batch 1: a LATE row for the already-finalized 10:00 window (beyond
    # the 10:50 watermark) is dropped — the emitted tile never changes.
    out2 = run_batch("w1.json", [
        {"timestamp": "2026-01-01 10:01:30", "id": "too-late", "value": 1.0, "project_id": "p1"}
    ])
    assert out2.get(("2026-01-01T10:00:00", "p1"), 5) == 5


def test_live_rollup_maintained_under_ingest(spark, tmp_path, table):
    """Continuous aggregate maintained inside the micro-batch loop: after
    each batch commits, refresh_rollup recomputes only the stale tiles;
    at stream end the rollup equals a from-scratch batch recompute of the
    dedup view."""
    src = str(tmp_path / "src")
    rollup = str(tmp_path / "rollup")
    _write_source_file(src, "b0.json", _rows(0, 40))
    _write_source_file(src, "b1.json", _rows(40, 80))
    # duplicate redelivery of ids 60-79 (same keys) — LWW collapses them
    _write_source_file(src, "b2.json", _rows(60, 80))

    def agg(visible):
        return visible.groupBy("project_id", "date").agg(
            F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total")
        )

    q = ingest_stream(
        table, _stream(spark, src), str(tmp_path / "ckpt"), rollup=(rollup, agg)
    )
    q.awaitTermination(120)

    got = {
        (r["project_id"], str(r["date"])): (r["n"], r["total"])
        for r in spark.read.parquet(rollup).collect()
    }
    want = {
        (r["project_id"], str(r["date"])): (r["n"], r["total"])
        for r in agg(table.read()).collect()
    }
    assert got == want and got  # live rollup == from-scratch recompute


def test_streaming_ingest_parses_variant_once(spark, tmp_path):
    """Streaming ingest into a Variant-columned table: the foreachBatch
    write path parses incoming JSON text into the stored Variant binary
    (same coerce as batch), and the read view serves typed traversal."""
    import os

    from pyspark.sql import functions as F

    from timefusion_spark.storage import Table, load_schema
    from timefusion_spark.storage.streaming import ingest_stream

    schema_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "timefusion_spark", "schemas", "otel_logs_and_spans.yaml",
    )
    tbl = Table.create(spark, load_schema(schema_path), str(tmp_path / "otel"))
    rows = spark.range(20).select(
        F.col("id").cast("string").alias("id"),
        F.lit("2026-03-01 00:00:00").alias("timestamp"),
        F.lit("n").alias("name"),
        F.lit("p1").alias("project_id"),
        F.lit("s").alias("summary_raw"),
        F.to_json(F.struct((F.col("id") % 4).alias("k"))).alias("attributes"),
    )
    src = str(tmp_path / "src")
    rows.coalesce(1).write.json(src)
    stream = (
        spark.readStream.schema(
            "id string, timestamp string, name string, project_id string,"
            " summary_raw string, attributes string"
        )
        .json(src)
        .withColumn("summary", F.array(F.col("summary_raw")))
        .drop("summary_raw")
    )
    q = ingest_stream(tbl, stream, str(tmp_path / "ckpt"))
    q.awaitTermination(240)
    out = tbl.read()
    assert out.schema["attributes"].dataType.typeName() == "variant"
    got = out.select(F.variant_get("attributes", "$.k", "long").alias("k"))
    assert got.where(F.col("k") == 3).count() == 5
