"""SparkSession factory with the engine's standard configuration.

Mirrors the reference's session tuning (`database.rs:3021-3123`: pushdown
filters on, target_partitions = CPU quota, memory pool) with the Spark
equivalents: AQE, parquet filter pushdown (default-on), shuffle partitions
sized to cores, UTC session timezone so timestamps compare exactly against
microsecond-UTC semantics (`schemas/otel_logs_and_spans.yaml` Timestamp(µs,UTC)).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def _driver_memory() -> str:
    """Half the box's physical memory, at most 48g. In local mode the
    executors run inside the driver JVM; a heap cap above physical memory
    lets the heap grow instead of collecting until the kernel's OOM killer
    ends the JVM (a 48g cap on a 15 GB box was killed at ~14.6 GB RSS)."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):  # no sysconf (Windows)
        return "48g"
    return f"{max(1024, min(48 << 10, (phys >> 20) // 2))}m"


def get_spark(app_name: str = "timefusion_spark", cpus: str | int | None = None) -> SparkSession:
    """Build (or fetch) the engine session.

    local[N] for tests/bench; on a real cluster the same confs apply minus
    master. Every conf here is scale-motivated:
      - AQE + coalesce/skew-join: runtime re-plan at 100 TB (replaces the
        reference's hand-tuned target_partitions, database.rs:3046).
      - shuffle.partitions sized to cores locally; AQE coalesces up.
      - Arrow enabled: Pandas-UDF operators move columnar, not row-by-row.
      - parallelPartitionDiscovery.threshold raised past any file count:
        a table scan is built from the commit log's authoritative file
        list (Table.read_raw), so Spark only stats those paths, and on
        the local filesystem a driver-side stat is cheap. At the default
        of 32 paths, every view refresh, DML read basis and append past
        32 live files launched a Spark job to stat them. On an object
        store each stat is a HEAD request; there a file index filled from
        the manifest would skip the stats instead.

    The pgwire server plans a read without AQE when its input fits in
    one advisory partition (spark.sql.adaptive.advisoryPartitionSizeInBytes):
    on a clone of this session with AQE off and one shuffle partition,
    each file scan read as one partition (server._plan_read). At that
    size AQE would coalesce each shuffle to one partition anyway, yet it
    runs every shuffle stage as its own Spark job, and a static plan
    still writes and reads every shuffle; that per-stage cost dominates
    a dashboard read. With one-partition scans the statement runs as one
    stage and one task, with no exchange.
    """
    cpus = str(cpus or _DEFAULT_CPUS)
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold", str(2**31 - 1)
        )
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # µs-typed parquet timestamps (the reference's storage contract).
        # Spark's INT96 default writes timestamps with NO pushdown-usable
        # row-group stats — a `ts > now()-1h` scan then reads every row
        # (the reference's recent_window_pruning.rs over-read bug class).
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.ui.enabled", "false")
    )
    active = SparkSession.getActiveSession()
    if active is not None:
        # An existing session ignores builder confs; re-assert the
        # runtime-settable ones that affect CORRECTNESS (a driver-owned
        # session may carry a non-UTC zone or reject ns-parquet).
        ensure_runtime_confs(active)
        return active
    builder = builder.master(f"local[{cpus}]").config("spark.driver.memory", _driver_memory())
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_runtime_confs(spark: SparkSession) -> None:
    """Re-assert runtime-settable confs that affect correctness on a
    session the engine did not build (e.g. the driver's)."""
    for k, v in (
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"),
        # Maintenance jobs overwrite single partitions; static mode would
        # truncate the whole table/rollup directory on a driver-owned
        # session. The write sites also assert this locally (save/restore),
        # but a session-level default keeps ad-hoc callers safe too.
        ("spark.sql.sources.partitionOverwriteMode", "dynamic"),
    ):
        if spark.conf.get(k, None) != v:
            spark.conf.set(k, v)
