"""Storage-core / merge-on-read scenario queries.

Each query drives the REAL storage path — Table.create → append (coerce,
stamp, in-batch LWW dedup, sorted partitioned write) → DML version-appends →
dedup read view — and aggregates the result, while the DuckDB oracle
reproduces the same visible state in closed form over the source `orders`
table. This is the merge_on_read.slt scenario coverage
(/root/reference/tests/slt/merge_on_read.slt; read_dedup.rs semantics).

The scenario, derived deterministically from orders (o_orderkey <= 2000):
  1. base rows appended, version stamp 2026-01-01
  2. UPDATE value = value + 1000 WHERE o_orderkey % 10 = 0 (stamp 01-02)
  3. DELETE WHERE o_orderkey % 7 = 0                      (stamp 01-03)
so keep-greatest shows: deleted keys invisible, updated keys at +1000,
everything else at its base value; keep-first shows every base row live.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from timefusion_spark.queries._tables import _require, await_settled, t
from timefusion_spark.registry import query

_SCHEMA_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "schemas")

# The otel queries load only the in-repo declaration, never a schema tree
# found elsewhere on the box, so every run exercises the same table. The
# loader reads the reference's YAML grammar verbatim (pinned by
# tests/test_storage.py::TestReferenceSchemas).
_OTEL_SCHEMA = os.path.join(_SCHEMA_DIR, "otel_logs_and_spans.yaml")


_N = 2000


def _ts_5day(key: str):
    """Timestamp compressed onto a 5-day domain keyed by `key` — the
    oracle-mirrored date math every events-based scenario uses (one
    definition; review r12)."""
    return F.expr(
        f"timestamp'2026-03-01 00:00:00'"
        f" + make_interval(0,0,0,cast({key} % 5 as int),0,0,0)"
    )


def _orders_rows(orders: DataFrame) -> DataFrame:
    """The canonical orders -> MOR row projection shared by every storage
    scenario in this module: id, timestamp compressed onto a 5-day domain
    (a realistic (project_id, date) partition grid instead of one
    micro-partition per historical order date), name, value, project_id.
    ONE definition on purpose: every oracle's date math mirrors exactly
    this expression, so a drifted copy silently desynchronizes a query
    from its oracle (review r12 -- the block was copy-pasted 7x)."""
    return orders.select(
        F.col("o_orderkey").cast("string").alias("id"),
        _ts_5day("o_orderkey").alias("timestamp"),
        F.col("o_orderstatus").alias("name"),
        F.col("o_totalprice").alias("value"),
        F.concat(F.lit("p"), (F.col("o_orderkey") % 3).cast("string")).alias(
            "project_id"
        ),
    )


def _build_mor_table(spark: SparkSession, sf_dir: str):
    """Create a fresh mor_versioned table from orders and run the scenario."""
    from timefusion_spark.storage import Table, dml, load_schema

    schema = load_schema(os.path.join(_SCHEMA_DIR, "mor_versioned.yaml"))
    base_dir = tempfile.mkdtemp(prefix="tf_mor_")
    tbl = Table.create(spark, schema, os.path.join(base_dir, "mor_versioned"))

    orders = t(spark, sf_dir, "orders").where(F.col("o_orderkey") <= _N)
    # Compress the time domain to 5 days so the scenario lands in a
    # realistic (project_id, date) partition grid (15 dirs), not one
    # micro-partition per historical order date.
    base = _orders_rows(orders)
    # the batch is provably key-unique — id = o_orderkey (the orders PK)
    # and the dedup keys are (timestamp, id) — so append's in-batch LWW
    # window is a verifiable identity and is skipped (guide §8: use what
    # the caller knows; optimization r14)
    tbl.append(base, stamp="2026-01-01 00:00:00", batch_key_unique=True)
    dml.update(
        tbl,
        {"value": F.col("value") + 1000.0},
        predicate=(F.col("id").cast("bigint") % 10 == 0),
        stamp="2026-01-02 00:00:00",
    )
    dml.delete(
        tbl,
        predicate=(F.col("id").cast("bigint") % 7 == 0),
        stamp="2026-01-03 00:00:00",
    )
    return tbl, base_dir


@query(
    "q_mor_merge_on_read",
    oracle=f"""
    SELECT 'p' || CAST(o_orderkey % 3 AS VARCHAR) AS project_id,
           COUNT(*) AS n_live,
           CAST(COUNT(*) FILTER (WHERE o_orderkey % 10 = 0) AS BIGINT) AS n_updated,
           ROUND(SUM(CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1000 ELSE o_totalprice END), 2) AS total_value
    FROM orders
    WHERE o_orderkey <= {_N} AND o_orderkey % 7 <> 0
    GROUP BY 1
    ORDER BY project_id
    """,
    doc="Full merge-on-read lifecycle: append → UPDATE → DELETE version-appends, "
    "keep-greatest dedup view + tombstone filter (read_dedup.rs:25-40, "
    "dml.rs:765-914, merge_on_read.slt scenarios).",
)
def q_mor_merge_on_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    tbl, base_dir = _build_mor_table(spark, sf_dir)
    try:
        view = tbl.read()  # keep-greatest + tombstone filter
        # n_updated: keys whose winning version carries the +1000 update —
        # identified by stamp, the engine-owned version column.
        out = (
            view.groupBy("project_id")
            .agg(
                F.count(F.lit(1)).alias("n_live"),
                F.count(
                    F.when(F.col("updated_at") == F.lit("2026-01-02 00:00:00").cast("timestamp"), 1)
                ).alias("n_updated"),
                F.round(F.sum("value"), 2).alias("total_value"),
            )
            .orderBy("project_id")
        )
        out = out.localCheckpoint(eager=True)  # materialize before temp-dir cleanup
        return out
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)


@query(
    "q_time_travel",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey AS k,
             'p' || CAST(o_orderkey % 3 AS VARCHAR) AS project_id,
             o_totalprice AS v
      FROM orders WHERE o_orderkey <= {_N}
    )
    SELECT 'v1_base' AS snap, project_id, COUNT(*) AS n_live,
           ROUND(SUM(v), 2) AS total_value
    FROM base GROUP BY 2
    UNION ALL
    SELECT 'v2_updated', project_id, COUNT(*),
           ROUND(SUM(CASE WHEN k % 10 = 0 THEN v + 1000 ELSE v END), 2)
    FROM base GROUP BY 2
    UNION ALL
    SELECT 'v3_current', project_id, COUNT(*),
           ROUND(SUM(CASE WHEN k % 10 = 0 THEN v + 1000 ELSE v END), 2)
    FROM base WHERE k % 7 <> 0 GROUP BY 2
    ORDER BY snap, project_id
    """,
    doc="Time-travel reads over the commit log (VERSION AS OF; Delta "
    "protocol / snapshot_cache.rs): the same MOR table read at log v1 "
    "(base rows only), v2 (UPDATE applied, DELETE not yet visible), and "
    "the current snapshot — three different answers from one table, "
    "proving snapshot isolation keeps replaced files readable.",
)
def q_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    tbl, base_dir = _build_mor_table(spark, sf_dir)
    try:
        # _build_mor_table commits: v0 create, v1 append, v2 UPDATE, v3 DELETE.
        _require(tbl.log.latest_version() == 3)

        def agg(df: DataFrame, label: str) -> DataFrame:
            return df.groupBy("project_id").agg(
                F.count(F.lit(1)).alias("n_live"),
                F.round(F.sum("value"), 2).alias("total_value"),
            ).select(F.lit(label).alias("snap"), "project_id", "n_live", "total_value")

        out = (
            agg(tbl.read(version=1), "v1_base")
            .unionByName(agg(tbl.read(version=2), "v2_updated"))
            .unionByName(agg(tbl.read(), "v3_current"))
            .orderBy("snap", "project_id")
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)



def _q_delta_history_impl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from timefusion_spark.pgshim import pg_sql

    tbl, base_dir = _build_mor_table(spark, sf_dir)
    try:
        tables = {"mor_versioned": tbl}
        hist = pg_sql(spark, "DELTA HISTORY mor_versioned", tables=tables)
        out = (
            hist.select(
                F.col("version").cast("int").alias("version"),
                "operation",
                "read_version",
                "is_blind_append",
                F.coalesce(
                    F.get_json_object("operation_parameters", "$.rows").cast(
                        "bigint"
                    ),
                    F.lit(0),
                ).alias("rows_added"),
            )
            .orderBy(F.desc("version"))
            .localCheckpoint(eager=True)
        )
        # cross-verb consistency pins: ACTIONS of the base append lists
        # exactly the files HISTORY's n_add reported, and RECOVERY AUDIT
        # correctly refuses a commit that removed nothing
        acts = pg_sql(
            spark, "DELTA ACTIONS mor_versioned VERSION 1", tables=tables
        ).collect()
        n_add = sum(1 for r in acts if r.action == "add")
        import json as _json

        hist_n_add = _json.loads(
            hist.where(F.col("version") == "1").collect()[0].operation_parameters
        )["n_add"]
        _require(n_add == hist_n_add and n_add > 0, (n_add, hist_n_add))
        _require(any(r.action == "commitInfo" for r in acts))
        try:
            pg_sql(
                spark,
                "DELTA RECOVERY AUDIT mor_versioned VERSION 1",
                tables=tables,
            )
            raise RuntimeError("RECOVERY AUDIT must refuse a remove-free commit")
        except ValueError as e:
            _require("removed no files" in str(e), str(e))
        return out
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)


query(
    "q_delta_history",
    oracle=f"""
    WITH base AS (SELECT o_orderkey AS k FROM orders WHERE o_orderkey <= {_N})
    SELECT * FROM (
      SELECT 3 AS version, 'append' AS operation, '2' AS read_version,
             'true' AS is_blind_append,
             CAST((SELECT COUNT(*) FROM base WHERE k % 7 = 0) AS BIGINT) AS rows_added
      UNION ALL
      SELECT 2, 'append', '1', 'true',
             CAST((SELECT COUNT(*) FROM base WHERE k % 10 = 0) AS BIGINT)
      UNION ALL
      SELECT 1, 'append', '0', 'true',
             CAST((SELECT COUNT(*) FROM base) AS BIGINT)
      UNION ALL
      SELECT 0, 'create', '', 'false', CAST(0 AS BIGINT)
    ) ORDER BY version DESC
    """,
    doc="DELTA HISTORY / ACTIONS / RECOVERY AUDIT — the reference's "
    "read-only commit-log introspection verbs (pgwire_handlers.rs:287-443, "
    "parsers 449-520) served from the commit log: the MOR lifecycle's four "
    "commits (create, base append, UPDATE version-append, DELETE "
    "tombstones) come back newest-first with per-commit row counts from "
    "the add-entries' footer stats; in-query pins prove ACTIONS lists "
    "exactly HISTORY's n_add files and RECOVERY AUDIT refuses a "
    "remove-free commit.",
)(_q_delta_history_impl)

@query(
    "q_mor_keep_first",
    oracle=f"""
    SELECT 'p' || CAST(o_orderkey % 3 AS VARCHAR) AS project_id,
           COUNT(*) AS n_rows,
           ROUND(SUM(o_totalprice), 2) AS total_value
    FROM orders
    WHERE o_orderkey <= {_N}
    GROUP BY 1
    ORDER BY project_id
    """,
    doc="Keep-first dedup policy (read_dedup.rs keep-first): the EARLIEST "
    "version wins, so updates and tombstones are invisible — every base row "
    "stays live at its original value.",
)
def q_mor_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    tbl, base_dir = _build_mor_table(spark, sf_dir)
    try:
        view = tbl.read(policy="keep_first")
        out = (
            view.groupBy("project_id")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.round(F.sum("value"), 2).alias("total_value"),
            )
            .orderBy("project_id")
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)


@query(
    "q_streaming_ingest",
    oracle="""
    SELECT 'p' || CAST(user_id % 3 AS VARCHAR) AS project_id,
           COUNT(*) AS n,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    WHERE event_id <= 3000
    GROUP BY 1
    ORDER BY project_id
    """,
    doc="Streaming ingest lifecycle (SURVEY M5, buffered_write_layer.rs "
    "flush semantics): file-source readStream → foreachBatch through the "
    "real write path (stamp, in-batch LWW dedup, sorted partitioned "
    "append), checkpointed; the same rows DELIVERED TWICE (two source "
    "streams — an at-least-once producer replay) still count once through "
    "the dedup view (exactly-once visibility, "
    "buffered_write_layer.rs:2506).",
)
def q_streaming_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from timefusion_spark.storage import Table, load_schema
    from timefusion_spark.storage.streaming import ingest_stream

    schema = load_schema(os.path.join(_SCHEMA_DIR, "mor_versioned.yaml"))
    base_dir = tempfile.mkdtemp(prefix="tf_stream_")
    tbl = Table.create(spark, schema, os.path.join(base_dir, "t"))
    try:
        ev = t(spark, sf_dir, "events").where(F.col("event_id") <= 3000)
        rows = ev.select(
            F.col("event_id").cast("string").alias("id"),
            _ts_5day("event_id").alias("timestamp"),
            F.col("event_type").alias("name"),
            F.col("value").alias("value"),
            F.concat(F.lit("p"), (F.col("user_id") % 3).cast("string")).alias("project_id"),
        )
        src = os.path.join(base_dir, "src")
        rows.coalesce(2).write.json(src)
        src_schema = (
            "id string, timestamp timestamp, name string, value double, project_id string"
        )

        def _run(ckpt: str) -> None:
            stream = spark.readStream.schema(src_schema).json(src)
            q = ingest_stream(tbl, stream, os.path.join(base_dir, ckpt))
            await_settled(q, 300, "storage_mor ingest stream")

        _run("ckpt1")
        _run("ckpt2")  # full redelivery through a second stream
        n_src = rows.count()
        _require(tbl.read_raw().count() == 2 * n_src)
        out = (
            tbl.read()
            .groupBy("project_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("value"), 2).alias("total_value"),
            )
            .orderBy("project_id")
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)


@query(
    "q_streaming_multi_table",
    oracle="""
    SELECT route, project_id, n, total_value FROM (
        SELECT 'all' AS route,
               'p' || CAST(user_id % 3 AS VARCHAR) AS project_id,
               COUNT(*) AS n, ROUND(SUM(value), 2) AS total_value
        FROM events WHERE event_id <= 2000
        GROUP BY 2
        UNION ALL
        SELECT 'clicks' AS route,
               'p' || CAST(user_id % 3 AS VARCHAR) AS project_id,
               COUNT(*) AS n, ROUND(SUM(value), 2) AS total_value
        FROM events WHERE event_id <= 2000 AND event_type = 'click'
        GROUP BY 2
    ) ORDER BY route, project_id
    """,
    doc="Coalesced multi-table streaming ingest (database.rs:5181 — the "
    "flush path commits several tables' buckets as ONE transaction): one "
    "micro-batch stream routes into TWO storage tables via "
    "ingest_stream_multi; each batch's per-table commits stage invisibly "
    "inside a CommitGroup and publish with one atomic marker, so readers "
    "see a batch in ALL tables or in NONE. The query verifies both "
    "tables' visible state against the closed-form split, and asserts "
    "every data commit in both logs carries a group id.",
)
def q_streaming_multi_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json as _json

    from timefusion_spark.storage import Table, load_schema
    from timefusion_spark.storage.streaming import ingest_stream_multi

    schema = load_schema(os.path.join(_SCHEMA_DIR, "mor_versioned.yaml"))
    base_dir = tempfile.mkdtemp(prefix="tf_multi_")
    t_all = Table.create(spark, schema, os.path.join(base_dir, "t_all"))
    clicks_schema = load_schema(os.path.join(_SCHEMA_DIR, "mor_versioned.yaml"))
    clicks_schema.table_name = "t_clicks"
    t_clicks = Table.create(spark, clicks_schema, os.path.join(base_dir, "t_clicks"))
    try:
        ev = t(spark, sf_dir, "events").where(F.col("event_id") <= 2000)
        rows = ev.select(
            F.col("event_id").cast("string").alias("id"),
            _ts_5day("event_id").alias("timestamp"),
            F.col("event_type").alias("name"),
            F.col("value").alias("value"),
            F.concat(F.lit("p"), (F.col("user_id") % 3).cast("string")).alias("project_id"),
        )
        src = os.path.join(base_dir, "src")
        rows.coalesce(2).write.json(src)
        stream = spark.readStream.schema(
            "id string, timestamp timestamp, name string, value double, project_id string"
        ).option("maxFilesPerTrigger", 1).json(src)
        q = ingest_stream_multi(
            {
                "all": (t_all, lambda df: df),
                "clicks": (t_clicks, lambda df: df.where(F.col("name") == "click")),
            },
            stream,
            os.path.join(base_dir, "ckpt"),
        )
        await_settled(q, 300, "storage_mor ingest stream")
        # every data commit in BOTH logs is group-stamped (coalesced)
        for tbl in (t_all, t_clicks):
            for name in sorted(os.listdir(tbl.log.log_dir)):
                if not name.endswith(".json") or name.endswith(".checkpoint.json"):
                    continue
                with open(os.path.join(tbl.log.log_dir, name)) as fh:
                    rec = _json.load(fh)
                if rec.get("op") == "append" and rec.get("add"):
                    _require(
                        rec.get('group'),
                        f'{tbl.schema.table_name} {name} not grouped',
                    )

        def agg(tbl: Table, route: str) -> DataFrame:
            return (
                tbl.read()
                .groupBy("project_id")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.round(F.sum("value"), 2).alias("total_value"),
                )
                .select(F.lit(route).alias("route"), "project_id", "n", "total_value")
            )

        out = (
            agg(t_all, "all")
            .unionByName(agg(t_clicks, "clicks"))
            .orderBy("route", "project_id")
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)


@query(
    "q_otel_dashboard",
    oracle="""
    SELECT event_type AS name, COUNT(*) AS n
    FROM events
    WHERE event_id <= 4000 AND user_id % 3 = 1 AND event_id % 5 IN (0, 1)
    GROUP BY event_type
    ORDER BY n DESC, name
    """,
    doc="The reference README quick-start dashboard query (README.md:140-144) "
    "over the REAL otel_logs_and_spans storage table: routed scan with "
    "project guard + timestamp bounds deriving date partition pruning, "
    "keep-greatest dedup view, GROUP BY name ORDER BY count DESC.",
)
def q_otel_dashboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from timefusion_spark.storage import Table, load_schema

    schema = load_schema(_OTEL_SCHEMA)
    base_dir = tempfile.mkdtemp(prefix="tf_otel_")
    tbl = Table.create(spark, schema, os.path.join(base_dir, "otel"))
    try:
        ev = t(spark, sf_dir, "events").where(F.col("event_id") <= 4000)
        rows = ev.select(
            F.col("event_id").cast("string").alias("id"),
            (
                _ts_5day("event_id")
                + F.expr("make_interval(0,0,0,0,0,0,cast(event_id % 86400 as int))")
            ).alias("timestamp"),
            F.col("event_type").alias("name"),
            F.concat(F.lit("p"), (F.col("user_id") % 3).cast("string")).alias("project_id"),
            (F.col("value") * 1e6).cast("long").alias("duration"),
            F.col("props").alias("attributes"),
            # non-nullable in the reference schema (List(Utf8))
            F.array(F.col("event_type")).alias("summary"),
        )
        tbl.append(rows, stamp="2026-03-06 00:00:00")
        view = tbl.scan(
            project_id="p1", ts_lo="2026-03-01 00:00:00", ts_hi="2026-03-03 00:00:00"
        )
        out = (
            view.groupBy("name")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), "name")
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)


@query(
    "q_otel_recent_topk",
    oracle="""
    SELECT CAST(event_id AS VARCHAR) AS id, event_type AS name
    FROM events
    WHERE event_id <= 4000 AND user_id % 3 = 1
    ORDER BY timestamp'2026-03-01 00:00:00'
             + to_seconds(CAST(event_id % 5 AS BIGINT) * 86400)
             + to_seconds(CAST(event_id % 86400 AS BIGINT)) DESC,
             CAST(event_id AS VARCHAR)
    LIMIT 50
    """,
    doc="`ORDER BY timestamp DESC LIMIT 50` over the REAL sorted storage "
    "table — the reference's flagship 377 ms path (ordered-union + footer "
    "pushdown, BASELINE row): DESC-sorted files + TakeOrderedAndProject "
    "give the early stop; uses the routed scan with project guard.",
)
def q_otel_recent_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from timefusion_spark.storage import Table, load_schema

    schema = load_schema(_OTEL_SCHEMA)
    base_dir = tempfile.mkdtemp(prefix="tf_otel_topk_")
    tbl = Table.create(spark, schema, os.path.join(base_dir, "otel"))
    try:
        ev = t(spark, sf_dir, "events").where(F.col("event_id") <= 4000)
        rows = ev.select(
            F.col("event_id").cast("string").alias("id"),
            (
                _ts_5day("event_id")
                + F.expr("make_interval(0,0,0,0,0,0,cast(event_id % 86400 as int))")
            ).alias("timestamp"),
            F.col("event_type").alias("name"),
            F.concat(F.lit("p"), (F.col("user_id") % 3).cast("string")).alias("project_id"),
            F.array(F.col("event_type")).alias("summary"),
        )
        tbl.append(rows, stamp="2026-03-06 00:00:00")
        out = (
            tbl.scan(project_id="p1")
            .orderBy(F.col("timestamp").desc(), F.col("id"))
            .limit(50)
            .select("id", "name")
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)


@query(
    "q_otel_promoted_columns",
    oracle="""
    SELECT (event_id % 5) * 100 + 100 AS status_code,
           COUNT(*) AS n,
           CAST(COUNT(*) FILTER (WHERE (event_id % 5) * 100 + 100 >= 400) AS BIGINT) AS n_err
    FROM events
    WHERE event_id <= 3000 AND user_id % 3 = 1
    GROUP BY 1
    ORDER BY status_code
    """,
    doc="Flattened promoted attribute columns (SURVEY §1.2, reference "
    "yaml:270-272): the same logical field lives in the `attributes` "
    "Variant AND as the typed top-level "
    "`attributes___http___response___status_code` Int32 column; the "
    "dashboard filters/aggregates on the PROMOTED column (typed scan, "
    "pushdown-friendly — no JSON parsing in the hot path).",
)
def q_otel_promoted_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    from timefusion_spark.storage import Table, load_schema

    schema = load_schema(_OTEL_SCHEMA)
    base_dir = tempfile.mkdtemp(prefix="tf_otel_promo_")
    tbl = Table.create(spark, schema, os.path.join(base_dir, "otel"))
    try:
        ev = t(spark, sf_dir, "events").where(F.col("event_id") <= 3000)
        status = ((F.col("event_id") % 5) * 100 + 100).cast("int")
        rows = ev.select(
            F.col("event_id").cast("string").alias("id"),
            _ts_5day("event_id").alias("timestamp"),
            F.col("event_type").alias("name"),
            F.concat(F.lit("p"), (F.col("user_id") % 3).cast("string")).alias("project_id"),
            F.array(F.col("event_type")).alias("summary"),
            # both representations, like the reference's ingest produces
            F.to_json(F.struct(F.struct(F.struct(status.alias("status_code")).alias("response")).alias("http"))).alias("attributes"),
            status.alias("attributes___http___response___status_code"),
        )
        tbl.append(rows, stamp="2026-03-06 00:00:00")
        view = tbl.scan(project_id="p1")
        sc = F.col("attributes___http___response___status_code")
        out = (
            view.groupBy(sc.alias("status_code"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.count(F.when(sc >= 400, 1)).alias("n_err"),
            )
            .orderBy("status_code")
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)


@query(
    "q_otel_metrics_rollup",
    oracle="""
    SELECT event_type AS metric_name,
           COUNT(*) AS n_points,
           CAST(COUNT(DISTINCT user_id % 50) AS BIGINT) AS n_series,
           ROUND(AVG(value), 4) AS avg_value,
           ROUND(MAX(value), 4) AS max_value
    FROM events
    WHERE event_id <= 3000 AND user_id % 3 = 1
    GROUP BY 1
    ORDER BY metric_name
    """,
    doc="The reference's SECOND table type end-to-end: gauge points written "
    "into the otel_metrics schema (the in-repo 23-column reconstruction, "
    "timefusion_spark/schemas/otel_metrics.yaml: FIXTURES.md §2 plus the "
    "value/size columns this query writes) through the full write path, "
    "then a per-metric rollup (points, distinct series, avg/max) off the "
    "routed scan — metrics ingest + dashboard shape.",
)
def q_otel_metrics_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from timefusion_spark.storage import Table, load_schema

    # The in-repo reconstruction of the metrics table (23 columns:
    # FIXTURES.md §2 plus the value/size columns written below), shipped
    # in the package so the query runs without a reference checkout.
    schema = load_schema(os.path.join(_SCHEMA_DIR, "otel_metrics.yaml"))
    base_dir = tempfile.mkdtemp(prefix="tf_metrics_")
    tbl = Table.create(spark, schema, os.path.join(base_dir, "metrics"))
    try:
        ev = t(spark, sf_dir, "events").where(F.col("event_id") <= 3000)
        ts = _ts_5day("event_id")
        rows = ev.select(
            F.concat(F.lit("p"), (F.col("user_id") % 3).cast("string")).alias("project_id"),
            ts.alias("timestamp"),
            ts.alias("ingested_at"),
            F.col("event_id").cast("string").alias("id"),
            F.concat(F.lit("s"), (F.col("user_id") % 50).cast("string")).alias("series_id"),
            F.col("event_type").alias("metric_name"),
            F.lit("ms").alias("metric_unit"),
            F.lit("gauge").alias("metric_type"),
            F.lit(0).cast("long").alias("flags"),
            F.lit(0).cast("long").alias("dropped_attributes_count"),
            F.lit(64).cast("long").alias("message_size_bytes"),
            F.col("value").alias("value_double"),
        )
        tbl.append(rows, stamp="2026-03-06 00:00:00")
        view = tbl.scan(project_id="p1")
        out = (
            view.groupBy(F.col("metric_name"))
            .agg(
                F.count(F.lit(1)).alias("n_points"),
                F.countDistinct("series_id").alias("n_series"),
                F.round(F.avg("value_double"), 4).alias("avg_value"),
                F.round(F.max("value_double"), 4).alias("max_value"),
            )
            .orderBy("metric_name")
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)


@query(
    "q_maintenance_invariance",
    oracle=f"""
    SELECT 'p' || CAST(o_orderkey % 3 AS VARCHAR) AS project_id,
           COUNT(*) AS n_live,
           ROUND(SUM(CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1000 ELSE o_totalprice END), 2) AS total_value
    FROM orders
    WHERE o_orderkey <= {_N} AND o_orderkey % 7 <> 0
    GROUP BY 1
    ORDER BY project_id
    """,
    doc="Maintenance preserves visible state: OPTIMIZE-style compaction on "
    "one partition (database.rs:5675), dedup sweep on another "
    "(database.rs:6737), vacuum of stray files (database.rs:9514), and a "
    "migrate-columns schema widening (main.rs:622-671) — the dedup view "
    "afterwards still equals the closed-form post-DML oracle.",
)
def q_maintenance_invariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from timefusion_spark.storage import maintenance
    from timefusion_spark.storage.schema import FieldDef

    tbl, base_dir = _build_mor_table(spark, sf_dir)
    try:
        parts = [
            (r["project_id"], str(r["date"]))
            for r in tbl.read_raw().select("project_id", "date").distinct().collect()
        ]
        # Compact the first partition, dedup-sweep two more, then vacuum
        # and widen the schema — none may change the visible state.
        maintenance.compact(tbl, {"project_id": parts[0][0], "date": parts[0][1]})
        for pid, d in parts[1:3]:
            maintenance.dedup_sweep(tbl, {"project_id": pid, "date": d})
        # Metadata-driven leveled consolidation across whatever small-file
        # partitions the build left behind — also state-invariant.
        maintenance.consolidate(tbl, target_file_bytes=1 << 20)
        maintenance.vacuum(tbl)
        maintenance.migrate_columns(tbl, [FieldDef("note", "Utf8", nullable=True)])
        from timefusion_spark.storage import Table

        reopened = Table.open(spark, tbl.path)
        out = (
            reopened.read()
            .groupBy("project_id")
            .agg(
                F.count(F.lit(1)).alias("n_live"),
                F.round(F.sum("value"), 2).alias("total_value"),
            )
            .orderBy("project_id")
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)


@query(
    "q_stats_introspection",
    oracle=f"""
    WITH live AS (
        SELECT o_orderkey AS k,
               'p' || CAST(o_orderkey % 3 AS VARCHAR) AS project_id,
               CAST(CAST(DATE '2026-03-01' + (o_orderkey % 5) * INTERVAL 1 DAY AS DATE) AS VARCHAR) AS date
        FROM orders WHERE o_orderkey <= {_N}
    )
    SELECT project_id, date,
           CAST(1 + MAX(CASE WHEN k % 10 = 0 THEN 1 ELSE 0 END)
                  + MAX(CASE WHEN k % 7  = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_files
    FROM live
    GROUP BY 1, 2
    ORDER BY project_id, date
    """,
    doc="Stats introspection (timefusion_stats / stats_table.rs analog, "
    "registered at database.rs:3248-3269): per-(project_id, date) physical "
    "file counts of the MOR table after the append → UPDATE → DELETE "
    "scenario. The write path guarantees ONE file per touched partition "
    "per append (repartition on partition cols before the sorted write), "
    "so the layout is closed-form: 1 base file + 1 iff the partition holds "
    "an updated key (k%10=0) + 1 iff it holds a deleted key (k%7=0).",
)
def q_stats_introspection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from timefusion_spark.storage import maintenance

    tbl, base_dir = _build_mor_table(spark, sf_dir)
    try:
        st = maintenance.stats(tbl)
        out = (
            st.select(
                F.get_json_object("partition", "$.project_id").alias("project_id"),
                F.get_json_object("partition", "$.date").alias("date"),
                F.col("n_files"),
            )
            .orderBy("project_id", "date")
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)


@query(
    "q_storage_partition_scan",
    oracle=f"""
    SELECT COUNT(*) AS n,
           ROUND(SUM(CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1000 ELSE o_totalprice END), 2) AS total_value
    FROM orders
    WHERE o_orderkey <= {_N} AND o_orderkey % 7 <> 0
      AND o_orderkey % 3 = 1
      AND o_orderkey % 5 IN (1, 2)
    """,
    doc="Routed scan with project guard + timestamp→date partition-bound "
    "derivation (ProjectRoutingTable::scan, optimizers/mod.rs:100-150): the "
    "plan prunes (project_id, date) partitions before the dedup window.",
)
def q_storage_partition_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    tbl, base_dir = _build_mor_table(spark, sf_dir)
    try:
        view = tbl.scan(
            project_id="p1", ts_lo="2026-03-02 00:00:00", ts_hi="2026-03-04 00:00:00"
        )
        out = view.agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)


@query(
    "q_update_from",
    oracle="""
    SELECT 'p' || CAST(o_orderkey % 3 AS VARCHAR) AS project_id,
           COUNT(*) AS n_live,
           ROUND(SUM(o_totalprice + CASE WHEN o_orderkey % 9 = 0
                                         THEN o_orderkey * 0.01 ELSE 0 END), 2) AS total_value
    FROM orders
    WHERE o_orderkey <= 1000
    GROUP BY 1
    ORDER BY project_id
    """,
    doc="UPDATE…FROM a source relation (dml.rs:84-130 UpdateSource "
    "join-keys; version-append dml.rs:765-914): the broadcast source "
    "equi-joins the visible target rows, assignments reference source "
    "columns, and the keep-greatest view shows per-key adjusted values.",
)
def q_update_from(spark: SparkSession, sf_dir: str) -> DataFrame:
    from timefusion_spark.storage import Table, dml, load_schema

    schema = load_schema(os.path.join(_SCHEMA_DIR, "mor_versioned.yaml"))
    base_dir = tempfile.mkdtemp(prefix="tf_uf_")
    tbl = Table.create(spark, schema, os.path.join(base_dir, "t"))
    try:
        orders = t(spark, sf_dir, "orders").where(F.col("o_orderkey") <= 1000)
        base = _orders_rows(orders)
        # key-unique by construction (id = the orders PK) — see
        # _build_mor_table (optimization r14)
        tbl.append(base, stamp="2026-01-01 00:00:00", batch_key_unique=True)
        src = orders.where(F.col("o_orderkey") % 9 == 0).select(
            F.col("o_orderkey").cast("string").alias("id"),
            (F.col("o_orderkey") * 0.01).alias("adj"),
        )
        dml.update_from(
            tbl,
            src,
            ["id"],
            {"value": F.col("_tgt.value") + F.col("_src.adj")},
            stamp="2026-01-02 00:00:00",
        )
        out = (
            tbl.read()
            .groupBy("project_id")
            .agg(
                F.count(F.lit(1)).alias("n_live"),
                F.round(F.sum("value"), 2).alias("total_value"),
            )
            .orderBy("project_id")
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)


@query(
    "q_update_inplace",
    oracle="""
    SELECT 'p' || CAST(o_orderkey % 3 AS VARCHAR) AS project_id,
           COUNT(*) AS n_live,
           ROUND(SUM(o_totalprice
                 + CASE WHEN o_orderkey % 10 = 0 THEN 500 ELSE 0 END
                 + CASE WHEN o_orderkey % 9 = 0 THEN o_orderkey * 0.01 ELSE 0 END), 2)
             AS total_value
    FROM orders
    WHERE o_orderkey <= 1200 AND o_orderkey % 7 <> 0
    GROUP BY 1
    ORDER BY project_id
    """,
    doc="In-place (non-version-append) DML — the reference's Delta-leg "
    "path (dml.rs:958-1004 perform_delta_merge_update, "
    "database.rs:2056-2064): UPDATE, UPDATE…FROM a broadcast source, and "
    "DELETE each read only the affected partitions, apply the mutation, "
    "and publish ONE atomic partition-overwrite commit. No tombstones, no "
    "row versions — the physical table IS the visible state; snapshot "
    "readers on older log versions keep the pre-DML files.",
)
def q_update_inplace(spark: SparkSession, sf_dir: str) -> DataFrame:
    from timefusion_spark.storage import Table, dml
    from timefusion_spark.storage.schema import FieldDef, SortingColumnDef, TableSchema

    schema = TableSchema(
        table_name="inplace_events",
        fields=[
            FieldDef("id", "Utf8", False),
            FieldDef("timestamp", 'Timestamp(Microsecond, Some("UTC"))', False),
            FieldDef("name", "Utf8"),
            FieldDef("value", "Float64"),
            FieldDef("project_id", "Utf8", False),
            FieldDef("date", "Date32", False),
        ],
        partitions=["project_id", "date"],
        sorting_columns=[SortingColumnDef("timestamp", descending=True)],
        time_column="timestamp",
    )
    base_dir = tempfile.mkdtemp(prefix="tf_inplace_")
    tbl = Table.create(spark, schema, os.path.join(base_dir, "t"))
    try:
        orders = t(spark, sf_dir, "orders").where(F.col("o_orderkey") <= 1200)
        base = _orders_rows(orders)
        tbl.append(base)
        key = F.col("id").cast("bigint")
        # in-place UPDATE: rewrite only the partitions holding matched rows
        dml.update(tbl, {"value": F.col("value") + 500.0}, predicate=(key % 10 == 0))
        # in-place UPDATE…FROM: broadcast-merge the adjustment source
        src = orders.where(F.col("o_orderkey") % 9 == 0).select(
            F.col("o_orderkey").cast("string").alias("id"),
            (F.col("o_orderkey") * 0.01).alias("adj"),
        )
        dml.update_from(
            tbl, src, ["id"], {"value": F.col("_tgt.value") + F.col("_src.adj")}
        )
        # in-place DELETE: physically removes the rows (no tombstones here)
        dml.delete(tbl, predicate=(key % 7 == 0))
        out = (
            tbl.read()
            .groupBy("project_id")
            .agg(
                F.count(F.lit(1)).alias("n_live"),
                F.round(F.sum("value"), 2).alias("total_value"),
            )
            .orderBy("project_id")
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)


@query(
    "q_deletion_vectors",
    oracle="""
    SELECT 'p' || CAST(o_orderkey % 3 AS VARCHAR) AS project_id,
           COUNT(*) AS n_live,
           ROUND(SUM(o_totalprice
                 + CASE WHEN o_orderkey % 10 = 0 THEN 500 ELSE 0 END), 2)
             AS total_value
    FROM orders
    WHERE o_orderkey <= 1200 AND o_orderkey % 7 <> 0
    GROUP BY 1
    ORDER BY project_id
    """,
    doc="Deletion-vector DML (tests/e2e/deletion_vectors.rs): UPDATE masks "
    "the matched rows with (file, row-position) entries and appends ONLY "
    "their rewritten copies; DELETE masks without writing data at all. "
    "The original parquet files stay LIVE in the manifest (asserted "
    "in-query), reads apply the mask as a broadcast anti-join on "
    "_metadata coordinates — O(matched rows) written per DML instead of "
    "O(affected partitions). Same closed-form visible state as the "
    "partition-rewrite path (q_update_inplace's oracle family).",
)
def q_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from timefusion_spark.storage import Table, dml
    from timefusion_spark.storage.schema import FieldDef, SortingColumnDef, TableSchema
    from timefusion_spark.storage.table import DV_DIR

    schema = TableSchema(
        table_name="dv_events",
        fields=[
            FieldDef("id", "Utf8", False),
            FieldDef("timestamp", 'Timestamp(Microsecond, Some("UTC"))', False),
            FieldDef("name", "Utf8"),
            FieldDef("value", "Float64"),
            FieldDef("project_id", "Utf8", False),
            FieldDef("date", "Date32", False),
        ],
        partitions=["project_id", "date"],
        sorting_columns=[SortingColumnDef("timestamp", descending=True)],
        time_column="timestamp",
    )
    base_dir = tempfile.mkdtemp(prefix="tf_dv_")
    tbl = Table.create(spark, schema, os.path.join(base_dir, "t"))
    try:
        orders = t(spark, sf_dir, "orders").where(F.col("o_orderkey") <= 1200)
        base = _orders_rows(orders)
        tbl.append(base)
        snap0 = set(tbl.log.snapshot().files)
        key = F.col("id").cast("bigint")
        dml.update(
            tbl,
            {"value": F.col("value") + 500.0},
            predicate=(key % 10 == 0),
            deletion_vectors=True,
        )
        dml.delete(tbl, predicate=(key % 7 == 0), deletion_vectors=True)
        snap1 = set(tbl.log.snapshot().files)
        # every original data file is still LIVE — masked, never rewritten
        _require(snap0 <= snap1, 'DV DML must not remove/rewrite original files')
        _require(sum((1 for p in snap1 if p.startswith(DV_DIR + '/'))) == 2)
        out = (
            tbl.read()
            .groupBy("project_id")
            .agg(
                F.count(F.lit(1)).alias("n_live"),
                F.round(F.sum("value"), 2).alias("total_value"),
            )
            .orderBy("project_id")
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)


@query(
    "q_otel_hash_enrichment",
    oracle="""
    SELECT 'err_' || CAST(event_id % 7 AS VARCHAR) AS tag,
           COUNT(*) AS n
    FROM events
    WHERE event_id <= 3000 AND event_id % 4 = 0 AND event_id % 7 IN (3, 5)
    GROUP BY 1
    ORDER BY tag
    """,
    doc="The monoscope hash-enrichment flow (tests/e2e/hash_enrichment.rs): "
    "spans land with an EMPTY `hashes` array; an enrichment pass issues "
    "`UPDATE ... FROM src SET hashes = COALESCE(hashes,'{}') || ARRAY[tag]` "
    "equi-joined on (context___span_id, context___trace_id) — here "
    "dml.update_from with a broadcast source and an array-concat "
    "assignment, landing as a merge-on-read version-append — and the "
    "dashboard then filters the dedup view with `hashes && ARRAY[...]` "
    "(array overlap). Enriched tag counts match the closed-form oracle; "
    "non-enriched rows keep their empty array and never match overlap.",
)
def q_otel_hash_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from timefusion_spark.storage import Table, dml, load_schema

    schema = load_schema(_OTEL_SCHEMA)
    base_dir = tempfile.mkdtemp(prefix="tf_otel_hash_")
    tbl = Table.create(spark, schema, os.path.join(base_dir, "otel"))
    try:
        ev = t(spark, sf_dir, "events").where(F.col("event_id") <= 3000)
        rows = ev.select(
            F.col("event_id").cast("string").alias("id"),
            _ts_5day("event_id").alias("timestamp"),
            F.col("event_type").alias("name"),
            F.concat(F.lit("p"), (F.col("user_id") % 3).cast("string")).alias("project_id"),
            F.array(F.col("event_type")).alias("summary"),
            # spans arrive with an EMPTY hashes array (ARRAY[]::text[])
            F.array().cast("array<string>").alias("hashes"),
            F.concat(F.lit("s"), F.col("event_id").cast("string")).alias("context___span_id"),
            F.concat(F.lit("t"), (F.col("event_id") % 97).cast("string")).alias("context___trace_id"),
        )
        tbl.append(rows, stamp="2026-03-06 00:00:00")
        # enrichment source: one tag per selected span, keyed like the
        # reference's `unnest` source on (span_id, trace_id)
        src = ev.where(F.col("event_id") % 4 == 0).select(
            F.concat(F.lit("s"), F.col("event_id").cast("string")).alias("context___span_id"),
            F.concat(F.lit("t"), (F.col("event_id") % 97).cast("string")).alias("context___trace_id"),
            F.concat(F.lit("err_"), (F.col("event_id") % 7).cast("string")).alias("tag"),
        )
        dml.update_from(
            tbl,
            src,
            ["context___span_id", "context___trace_id"],
            {
                "hashes": F.concat(
                    F.coalesce(F.col("_tgt.hashes"), F.array().cast("array<string>")),
                    F.array(F.col("_src.tag")),
                )
            },
            stamp="2026-03-07 00:00:00",
        )
        wanted = F.array(F.lit("err_3"), F.lit("err_5"))
        out = (
            tbl.read()
            .where(F.arrays_overlap(F.col("hashes"), wanted))
            .select(F.element_at("hashes", -1).alias("tag"))
            .groupBy("tag")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("tag")
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)


@query(
    "q_insert_unnest_bulk",
    oracle="""
    SELECT 'p' || CAST(k % 3 AS VARCHAR) AS project_id,
           COUNT(*) AS n,
           CAST(SUM(k % 3 + 1) AS BIGINT) AS n_summary_parts
    FROM generate_series(0, 239) AS t(k)
    GROUP BY 1
    ORDER BY project_id
    """,
    doc="Column-oriented bulk insert (tests/e2e/insert_unnest_variant.rs + "
    "bulk_load.rs): `INSERT INTO otel_logs_and_spans__bulk (cols) SELECT "
    "... FROM unnest(<one array per column>) AS u(...)` — planning stays "
    "O(cols), the `__bulk` alias is the direct-commit path, `::timestamp` "
    "casts and the `string_to_array(_, chr(31))` summary round-trip "
    "(0x1F-delimited, comma-safe) all go through the PG shim. The shim "
    "lowers multi-array unnest to inline(arrays_zip(...)), which shares "
    "PG's NULL-padding zip semantics. Verified by per-project counts and "
    "total summary parts off the real table's read view.",
)
def q_insert_unnest_bulk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from timefusion_spark.slt import SltEnv

    base_dir = tempfile.mkdtemp(prefix="tf_unnest_")
    try:
        env = SltEnv(spark, base_dir)
        n_rows = 240
        us = chr(31)
        ids = ", ".join(f"'i{k}'" for k in range(n_rows))
        tss = ", ".join(
            f"'2026-03-0{1 + k % 5} 00:00:0{k % 10}'" for k in range(n_rows)
        )
        names = ", ".join(f"'n{k % 7}'" for k in range(n_rows))
        pids = ", ".join(f"'p{k % 3}'" for k in range(n_rows))
        summs = ", ".join(
            "'" + us.join(["s"] * (k % 3 + 1)) + "'" for k in range(n_rows)
        )
        env.run_statement(
            "INSERT INTO otel_logs_and_spans__bulk "
            "(id, timestamp, name, project_id, summary) "
            "SELECT u.id, u.ts::timestamp, u.name, u.pid, "
            "string_to_array(u.summ, chr(31)) "
            f"FROM unnest(ARRAY[{ids}], ARRAY[{tss}], ARRAY[{names}], "
            f"ARRAY[{pids}], ARRAY[{summs}]) AS u(id, ts, name, pid, summ)"
        )
        out = env.spark.sql(
            "SELECT project_id, COUNT(*) AS n, "
            "CAST(SUM(size(summary)) AS BIGINT) AS n_summary_parts "
            "FROM otel_logs_and_spans GROUP BY project_id ORDER BY project_id"
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)


@query(
    "q_continuous_aggregate",
    oracle=f"""
    WITH visible AS (
        SELECT 'p' || CAST(o_orderkey % 3 AS VARCHAR) AS project_id,
               CAST(DATE '2026-03-01' + INTERVAL (o_orderkey % 5) DAY AS DATE) AS date,
               CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1000 ELSE o_totalprice END AS value
        FROM orders
        WHERE o_orderkey <= {_N} AND o_orderkey % 7 <> 0
    )
    SELECT project_id, CAST(date AS VARCHAR) AS date,
           COUNT(*) AS n, ROUND(SUM(value), 2) AS total_value
    FROM visible
    GROUP BY project_id, date
    ORDER BY project_id, date
    """,
    doc="Continuous-aggregate maintenance (maintenance.refresh_rollup — "
    "the scheduled hypertable-rollup job): full refresh after the base "
    "append, then UPDATE + DELETE version-appends followed by an "
    "INCREMENTAL refresh that recomputes only the file-signature-stale "
    "partitions (dynamic partition overwrite of exactly those tiles). "
    "The served rollup must equal the closed-form post-DML aggregate — "
    "proving tile-level incremental maintenance is exact under "
    "merge-on-read (per-partition dedup ≡ global dedup because the "
    "dedup-key timestamp pins each key's date partition).",
)
def q_continuous_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from timefusion_spark.storage import Table, dml, load_schema, maintenance

    schema = load_schema(os.path.join(_SCHEMA_DIR, "mor_versioned.yaml"))
    base_dir = tempfile.mkdtemp(prefix="tf_cagg_")
    try:
        tbl = Table.create(spark, schema, os.path.join(base_dir, "mor_versioned"))
        orders = t(spark, sf_dir, "orders").where(F.col("o_orderkey") <= _N)
        base = _orders_rows(orders)
        # key-unique by construction (id = the orders PK ⊂ the (timestamp,
        # id) dedup keys) — same proof as _build_mor_table (optimization r14)
        tbl.append(base, stamp="2026-01-01 00:00:00", batch_key_unique=True)
        rollup = os.path.join(base_dir, "rollup")

        def agg(visible):
            return visible.groupBy("project_id", "date").agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("value"), 2).alias("total_value"),
            )

        maintenance.refresh_rollup(tbl, rollup, agg)  # full build
        dml.update(
            tbl,
            {"value": F.col("value") + 1000.0},
            predicate=(F.col("id").cast("bigint") % 10 == 0),
            stamp="2026-01-02 00:00:00",
        )
        dml.delete(
            tbl,
            predicate=(F.col("id").cast("bigint") % 7 == 0),
            stamp="2026-01-03 00:00:00",
        )
        refreshed = maintenance.refresh_rollup(tbl, rollup, agg)  # incremental
        _require(refreshed, 'DML must have staled at least one partition')
        out = (
            spark.read.parquet(rollup)
            .select(
                "project_id",
                F.col("date").cast("string").alias("date"),
                "n",
                "total_value",
            )
            .orderBy("project_id", "date")
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)


@query(
    "q_streaming_session_windows",
    oracle="""
    WITH src AS (
        SELECT user_id, ts FROM events WHERE event_id <= 3000 AND user_id % 10 = 0
    ),
    flagged AS (
        SELECT user_id, ts,
               CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts))
                         >= 1800 * 1000000
                         OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM src
    ),
    numbered AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM flagged
    )
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end
    FROM numbered
    GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
    doc="STREAMING sessionization via Spark's native session_window (the "
    "stateful gap-session operator, §2.10): a watermarked streaming "
    "aggregation over a file source with a 30-minute gap, emitted in "
    "append mode once sessions close. The oracle is the CLOSED-FORM batch "
    "sessionization of the same rows — streaming-with-watermark must "
    "produce byte-identical sessions to the batch lag/cumsum computation. "
    "(Session merging is Spark-managed state — bounded by the watermark, "
    "shuffled only on user_id.)",
)
def q_streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    base_dir = tempfile.mkdtemp(prefix="tf_sess_")
    try:
        ev = (
            t(spark, sf_dir, "events")
            .where((F.col("event_id") <= 3000) & (F.col("user_id") % 10 == 0))
            .select("user_id", "ts")
        )
        src = os.path.join(base_dir, "src")
        # JSON timestamp serialization truncates to milliseconds; ship the
        # event time as a microsecond epoch long for an exact round-trip.
        ev.select("user_id", F.unix_micros("ts").alias("ts_us")).coalesce(2).write.json(src)
        out_dir = os.path.join(base_dir, "sessions")

        # one pipeline definition for both passes: the resumed checkpoint
        # must sessionize with EXACTLY the same gap/watermark as the first
        # pass, so the drain run re-invokes this instead of duplicating
        # the plan (review r12)
        def _run() -> None:
            stream = (
                spark.readStream.schema("user_id long, ts_us long")
                .json(src)
                .select("user_id", F.timestamp_micros("ts_us").alias("ts"))
            )
            agg = (
                stream.withWatermark("ts", "1 minute")
                .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
                .agg(
                    F.count(F.lit(1)).alias("n_events"),
                    F.min("ts").alias("session_start"),
                    F.max("ts").alias("session_end"),
                )
            )
            q = (
                agg.select("user_id", "n_events", "session_start", "session_end")
                .writeStream.format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", os.path.join(base_dir, "ckpt"))
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            await_settled(q, 300, "storage_mor ingest stream")

        _run()
        # Sessions still open at end-of-stream (beyond the last watermark)
        # never emit in append mode; run one drain pass with a far-future
        # row so every session closes, then exclude the sentinel user.
        spark.createDataFrame(
            [(int(-1), "2030-01-01 00:00:00")], "user_id long, ts string"
        ).select(
            "user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us")
        ).write.mode("append").json(src)
        _run()
        out = (
            spark.read.parquet(out_dir)
            .where(F.col("user_id") >= 0)
            .select("user_id", "n_events", "session_start", "session_end")
            .orderBy("user_id", "session_start")
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)


@query(
    "q_streaming_windowed_counts",
    oracle="""
    SELECT CAST(time_bucket(INTERVAL '5 minutes', ts) AS TIMESTAMP) AS bucket,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    WHERE event_id <= 3000
    GROUP BY 1, 2
    ORDER BY bucket, event_type
    """,
    doc="STREAMING tumbling-window rollup (storage/streaming.py "
    "windowed_counts — the continuously-maintained dashboard tile): "
    "watermarked 5-minute windows over a replayed event feed, emitted "
    "append-mode once finalized, drained with a far-future sentinel so "
    "every window closes. The emitted tiles must equal the batch "
    "time_bucket aggregation of the same rows — streaming and batch are "
    "the same query at different latencies.",
)
def q_streaming_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from timefusion_spark.storage.streaming import windowed_counts

    base_dir = tempfile.mkdtemp(prefix="tf_wc_")
    try:
        ev = (
            t(spark, sf_dir, "events")
            .where(F.col("event_id") <= 3000)
            .select(F.unix_micros("ts").alias("ts_us"), "event_type")
        )
        src = os.path.join(base_dir, "src")
        ev.coalesce(2).write.json(src)
        # far-future sentinel: pushes the watermark past every real window
        spark.createDataFrame(
            [(int(2_000_000_000_000_000), "__drain__")], "ts_us long, event_type string"
        ).write.mode("append").json(src)
        out_dir = os.path.join(base_dir, "tiles")
        stream = (
            spark.readStream.schema("ts_us long, event_type string")
            .json(src)
            .select(F.timestamp_micros("ts_us").alias("ts"), "event_type")
        )
        agg = windowed_counts(
            stream, time_col="ts", key_col="event_type", window="5 minutes",
            watermark="1 minute",
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", os.path.join(base_dir, "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        await_settled(q, 300, "storage_mor ingest stream")
        out = (
            spark.read.parquet(out_dir)
            .where(F.col("event_type") != "__drain__")
            .select("bucket", "event_type", "n")
            .orderBy("bucket", "event_type")
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)


@query(
    "q_snapshot_isolation",
    oracle=f"""
    SELECT 'p' || CAST(o_orderkey % 3 AS VARCHAR) AS project_id,
           COUNT(*) AS n_rows,
           ROUND(SUM(o_totalprice), 2) AS total_value
    FROM orders
    WHERE o_orderkey > 0 AND o_orderkey <= {_N}
    GROUP BY 1
    ORDER BY project_id
    """,
    doc="Commit-log isolation lifecycle (commitlog.py; database.rs:4776 "
    "atomic commit, snapshot_cache.rs snapshot reads, "
    "buffered_write_layer.rs:2211 txn watermark): append a batch under a "
    "txn id, re-deliver it twice (idempotent skip), freeze a SECOND batch "
    "mid-commit as a torn write (files moved, commit never published), "
    "compact a partition and vacuum dead files by manifest diff. The "
    "aggregate must equal the FIRST batch alone — any torn-write leak, "
    "double-append, or vacuum over-delete changes the numbers.",
)
def q_snapshot_isolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from timefusion_spark.storage import Table, load_schema, maintenance

    schema = load_schema(os.path.join(_SCHEMA_DIR, "mor_versioned.yaml"))
    base_dir = tempfile.mkdtemp(prefix="tf_snap_")
    try:
        tbl = Table.create(spark, schema, os.path.join(base_dir, "snap"))
        orders = t(spark, sf_dir, "orders")

        def batch(lo: int, hi: int) -> DataFrame:
            return _orders_rows(
                orders.where((F.col("o_orderkey") > lo) & (F.col("o_orderkey") <= hi))
            )

        # key-unique by construction (id = the orders PK ⊂ the (timestamp,
        # id) dedup keys) — same proof as _build_mor_table (optimization r14)
        tbl.append(
            batch(0, _N),
            stamp="2026-01-01 00:00:00",
            txn=("loader", 1),
            batch_key_unique=True,
        )
        # Re-deliveries of the committed batch: the txn watermark skips both.
        tbl.append(batch(0, _N), stamp="2026-01-01 00:00:00", txn=("loader", 1))
        tbl.append(batch(0, _N), stamp="2026-01-01 00:00:00", txn=("loader", 0))
        # Torn write: a second batch's files land in the partition layout but
        # its commit is never published — snapshot readers must not see it.
        tbl._stage_write(
            tbl.dedup_batch(
                tbl.stamp_version(tbl.coerce(batch(_N, _N + 200)), "2026-01-01 00:00:00")
            )
        )
        # Physical rewrite + manifest-diff GC under the same snapshot rules.
        maintenance.compact(tbl, {"project_id": "p1", "date": "2026-03-02"})
        maintenance.vacuum(tbl)
        out = (
            tbl.read()
            .groupBy("project_id")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.round(F.sum("value"), 2).alias("total_value"),
            )
            .orderBy("project_id")
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)


@query(
    "q_streaming_stream_join",
    oracle="""
    SELECT v.user_id,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(MIN(v.ts) AS TIMESTAMP) AS first_view
    FROM events v
    JOIN events c
      ON v.user_id = c.user_id
     AND c.ts >= v.ts
     AND c.ts < v.ts + INTERVAL 6 HOUR
    WHERE v.event_type = 'view' AND c.event_type = 'click'
      AND v.event_id <= 3000 AND c.event_id <= 3000
    GROUP BY v.user_id
    ORDER BY v.user_id
    """,
    doc="STREAMING stream-stream inner join (storage/streaming.py "
    "stream_stream_join): view events joined to same-user click events "
    "within 6 hours, both sides watermarked so join state stays "
    "bounded, run to completion with availableNow. The emitted pairs "
    "must equal the batch interval-join of the same rows — streaming "
    "and batch are the same query at different latencies (§2.10).",
)
def q_streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from timefusion_spark.storage.streaming import stream_stream_join

    base_dir = tempfile.mkdtemp(prefix="tf_ssj_")
    try:
        ev = (
            t(spark, sf_dir, "events")
            .where(F.col("event_id") <= 3000)
            .select("user_id", F.unix_micros("ts").alias("ts_us"), "event_type")
        )
        views_src = os.path.join(base_dir, "views")
        clicks_src = os.path.join(base_dir, "clicks")
        ev.where(F.col("event_type") == "view").drop("event_type").coalesce(
            2
        ).write.json(views_src)
        ev.where(F.col("event_type") == "click").drop("event_type").coalesce(
            2
        ).write.json(clicks_src)
        views = (
            spark.readStream.schema("user_id long, ts_us long")
            .json(views_src)
            .select("user_id", F.timestamp_micros("ts_us").alias("view_ts"))
        )
        clicks = (
            spark.readStream.schema("user_id long, ts_us long")
            .json(clicks_src)
            .select("user_id", F.timestamp_micros("ts_us").alias("click_ts"))
        )
        joined = stream_stream_join(
            views, clicks, key="user_id", left_ts="view_ts",
            right_ts="click_ts", within="6 hours", watermark="1 minute",
        )
        out_dir = os.path.join(base_dir, "pairs")
        q = (
            joined.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", os.path.join(base_dir, "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        await_settled(q, 300, "storage_mor ingest stream")
        out = (
            spark.read.parquet(out_dir)
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_pairs"),
                F.min("view_ts").alias("first_view"),
            )
            .orderBy("user_id")
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)


@query(
    "q_table_changes",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey AS k,
             'p' || CAST(o_orderkey % 3 AS VARCHAR) AS project_id,
             o_totalprice AS v
      FROM orders WHERE o_orderkey <= {_N}
    )
    SELECT CAST(2 AS BIGINT) AS _commit_version, 'upsert' AS _change_type,
           project_id, COUNT(*) AS n_changes,
           ROUND(SUM(v + 1000), 2) AS total_value
    FROM base WHERE k % 10 = 0 GROUP BY project_id
    UNION ALL
    SELECT CAST(3 AS BIGINT), 'delete', project_id, COUNT(*),
           ROUND(SUM(CASE WHEN k % 10 = 0 THEN v + 1000 ELSE v END), 2)
    FROM base WHERE k % 7 = 0 GROUP BY project_id
    ORDER BY _commit_version, project_id
    """,
    doc="Change-data-feed read (Delta CDF table_changes analog; the "
    "reference's WAL-tailing subscriber contract): Table.read_changes "
    "over (v1, v3] returns exactly the row versions each commit added — "
    "the v2 UPDATE post-images as upserts and the v3 tombstones as "
    "deletes (carrying the pre-delete winning values) — tagged with "
    "_commit_version/_change_type. O(changed files) I/O: the feed reads "
    "only files the polled commits added, never the table.",
)
def q_table_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    tbl, base_dir = _build_mor_table(spark, sf_dir)
    try:
        # v0 create, v1 append, v2 UPDATE (%10 → +1000), v3 DELETE (%7).
        changes = tbl.read_changes(1)
        out = (
            changes.groupBy("_commit_version", "_change_type", "project_id")
            .agg(
                F.count(F.lit(1)).alias("n_changes"),
                F.round(F.sum("value"), 2).alias("total_value"),
            )
            .orderBy("_commit_version", "project_id")
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)


@query(
    "q_streaming_changefeed",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey AS k,
             'p' || CAST(o_orderkey % 3 AS VARCHAR) AS project_id,
             o_totalprice AS v
      FROM orders WHERE o_orderkey <= {_N}
    )
    SELECT CAST(1 AS BIGINT) AS _commit_version, 'upsert' AS _change_type,
           project_id, COUNT(*) AS n_changes, ROUND(SUM(v), 2) AS total_value
    FROM base GROUP BY project_id
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'upsert', project_id, COUNT(*),
           ROUND(SUM(v + 1000), 2)
    FROM base WHERE k % 10 = 0 GROUP BY project_id
    UNION ALL
    SELECT CAST(3 AS BIGINT), 'delete', project_id, COUNT(*),
           ROUND(SUM(CASE WHEN k % 10 = 0 THEN v + 1000 ELSE v END), 2)
    FROM base WHERE k % 7 = 0 GROUP BY project_id
    ORDER BY _commit_version, project_id
    """,
    doc="STREAMING change-feed tail (sources/changefeed.py tf_changes): "
    "the commit log consumed as a stream whose micro-batch offsets ARE "
    "log versions — the Spark-native form of the reference's WAL-tailing "
    "subscriber contract. The drained stream must equal the batch "
    "read_changes of the same range: v1 base inserts, v2 UPDATE "
    "post-images, v3 tombstones, each tagged with its commit. Workers "
    "read the added files directly via Arrow (one input partition per "
    "file); the driver lists only log metadata.",
)
def q_streaming_changefeed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from timefusion_spark.sources import register_sources

    register_sources(spark)
    tbl, base_dir = _build_mor_table(spark, sf_dir)
    try:
        out_dir = os.path.join(base_dir, "feed_out")
        q = (
            spark.readStream.format("tf_changes")
            .option("path", tbl.path)
            .load()
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", os.path.join(base_dir, "feed_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        await_settled(q, 300, "storage_mor ingest stream")
        out = (
            spark.read.parquet(out_dir)
            .groupBy("_commit_version", "_change_type", "project_id")
            .agg(
                F.count(F.lit(1)).alias("n_changes"),
                F.round(F.sum("value"), 2).alias("total_value"),
            )
            .orderBy("_commit_version", "project_id")
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)


@query(
    "q_dml_coalesced",
    oracle="""
    SELECT 'p' || CAST(o_orderkey % 3 AS VARCHAR) AS project_id,
           CASE WHEN o_orderkey % 2 = 0 THEN upper(o_orderstatus)
                ELSE o_orderstatus END AS name,
           COUNT(*) AS n,
           ROUND(SUM(o_totalprice
                 + CASE WHEN o_orderkey % 10 = 0 THEN 500 ELSE 0 END
                 + CASE WHEN o_orderkey % 15 = 0 THEN o_orderkey * 0.01 ELSE 0 END), 2)
             AS total_value
    FROM orders
    WHERE o_orderkey <= 1500
    GROUP BY 1, 2
    ORDER BY project_id, name
    """,
    doc="DML coalescer (dml_coalescer.rs:1-36 + redrive main.rs:155-174): "
    "four UPDATE…FROM statements enqueue and drain as TWO coalesced "
    "groups — statements sharing (table, join keys, assignments, "
    "residual predicate) merge, their time windows widen to the union, "
    "and duplicate source keys (o_orderkey % 30: hit by both additive "
    "statements) split into ordered ROUNDS because one merge forbids "
    "duplicate source matches. O(statements) partition rewrites become "
    "O(groups): the high-rate enrichment-tagging shape (~1.4k stmts/hr "
    "in the reference) at bounded merge cost. Round/group counts are "
    "asserted in-query; quarantine+redrive covered by tests/test_coalescer.py.",
)
def q_dml_coalesced(spark: SparkSession, sf_dir: str) -> DataFrame:
    from timefusion_spark.storage import Table, coalescer
    from timefusion_spark.storage.schema import FieldDef, SortingColumnDef, TableSchema

    schema = TableSchema(
        table_name="coalesced_events",
        fields=[
            FieldDef("id", "Utf8", False),
            FieldDef("timestamp", 'Timestamp(Microsecond, Some("UTC"))', False),
            FieldDef("name", "Utf8"),
            FieldDef("value", "Float64"),
            FieldDef("project_id", "Utf8", False),
            FieldDef("date", "Date32", False),
        ],
        partitions=["project_id", "date"],
        sorting_columns=[SortingColumnDef("timestamp", descending=True)],
        time_column="timestamp",
    )
    base_dir = tempfile.mkdtemp(prefix="tf_coalesce_")
    tbl = Table.create(spark, schema, os.path.join(base_dir, "t"))
    try:
        orders = t(spark, sf_dir, "orders").where(F.col("o_orderkey") <= 1500)
        base = _orders_rows(orders)
        tbl.append(base)
        k = F.col("o_orderkey")
        c = coalescer.DmlCoalescer()
        add = {"value": "_tgt.value + _src.adj"}
        # two additive enrichment statements → ONE group, two rounds for
        # the %30 keys both sources carry
        c.enqueue(
            tbl,
            orders.where(k % 10 == 0).select(
                k.cast("string").alias("id"), F.lit(500.0).alias("adj")
            ),
            ["id"], add,
        )
        c.enqueue(
            tbl,
            orders.where(k % 15 == 0).select(
                k.cast("string").alias("id"), (k * 0.01).alias("adj")
            ),
            ["id"], add,
        )
        # two name-tagging statements → a SECOND group (different assignments)
        upper = {"name": "upper(_tgt.name)"}
        c.enqueue(
            tbl,
            orders.where((k % 2 == 0) & (k % 4 == 0)).select(
                k.cast("string").alias("id"), F.lit(0.0).alias("adj")
            ),
            ["id"], upper,
        )
        c.enqueue(
            tbl,
            orders.where((k % 2 == 0) & (k % 4 != 0)).select(
                k.cast("string").alias("id"), F.lit(0.0).alias("adj")
            ),
            ["id"], upper,
        )
        stats = c.drain()
        _require(stats['groups'] == 2, stats)
        _require(stats['rounds'] == 3, stats)
        _require(stats['quarantined'] == 0, stats)
        out = (
            tbl.read()
            .groupBy("project_id", "name")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("value"), 2).alias("total_value"),
            )
            .orderBy("project_id", "name")
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)


@query(
    "q_streaming_changefeed_variant",
    oracle="""
    SELECT v AS _commit_version,
           'p' || CAST(user_id % 3 AS VARCHAR) AS project_id,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
             AS sum_k
    FROM (
      SELECT *, CAST(CASE WHEN event_id <= 1200 THEN 1 ELSE 2 END AS BIGINT) AS v
      FROM events WHERE event_id <= 2000
    )
    GROUP BY 1, 2
    ORDER BY _commit_version, project_id
    """,
    doc="Streaming change-feed over a VARIANT-typed table — the flagship "
    "otel_logs_and_spans schema (7 Variant columns; the reference's WAL "
    "tail serves these tables, wal.rs:142-160). The engine stores Variant "
    "unshredded, the stream worker decodes the (value, metadata) binary "
    "pair via DuckDB's parquet reader, and variant_get over the DRAINED "
    "stream proves the binaries round-trip: per-commit per-project sums "
    "of attributes.k equal DuckDB's JSON reading of the raw source.",
)
def q_streaming_changefeed_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    from timefusion_spark.sources import register_sources
    from timefusion_spark.storage import Table, load_schema

    register_sources(spark)
    schema = load_schema(_OTEL_SCHEMA)
    base_dir = tempfile.mkdtemp(prefix="tf_cfv_")
    tbl = Table.create(spark, schema, os.path.join(base_dir, "otel"))
    try:
        ev = t(spark, sf_dir, "events").where(F.col("event_id") <= 2000)

        def rows(df):
            return df.select(
                F.col("event_id").cast("string").alias("id"),
                F.expr(
                    "timestamp'2026-03-01 00:00:00'"
                    " + make_interval(0,0,0,0,0,0,cast(event_id % 86400 as int))"
                ).alias("timestamp"),
                F.col("event_type").alias("name"),
                F.concat(F.lit("p"), (F.col("user_id") % 3).cast("string")).alias(
                    "project_id"
                ),
                F.col("props").alias("attributes"),
                F.array(F.col("event_type")).alias("summary"),
            )

        tbl.append(rows(ev.where(F.col("event_id") <= 1200)),
                   stamp="2026-03-06 00:00:00")                       # v1
        tbl.append(rows(ev.where(F.col("event_id") > 1200)),
                   stamp="2026-03-06 00:00:01")                       # v2
        out_dir = os.path.join(base_dir, "feed_out")
        q = (
            spark.readStream.format("tf_changes")
            .option("path", tbl.path)
            .load()
            .select(
                "project_id",
                F.expr("variant_get(attributes, '$.k', 'long')").alias("k"),
                "_commit_version",
            )
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", os.path.join(base_dir, "feed_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        await_settled(q, 300, "storage_mor ingest stream")
        out = (
            spark.read.parquet(out_dir)
            .groupBy("_commit_version", "project_id")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("k").alias("sum_k"))
            .orderBy("_commit_version", "project_id")
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)


@query(
    "q_count_index",
    oracle="""
    SELECT 'window' AS scope, COUNT(*) AS n FROM events
    WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
      AND ts <  TIMESTAMP '2024-01-22 00:00:00'
    UNION ALL
    SELECT 'empty' AS scope, 0 AS n
    UNION ALL
    SELECT 'all' AS scope, COUNT(*) AS n FROM events
    ORDER BY scope
    """,
    doc="Logical count index analog (count_pushdown.rs gating + the "
    "reference's metadata-served dashboard counts): every append records "
    "per-file row counts and time-column min/max in the commit log (the "
    "Delta add-action stats idiom); COUNT(*) over a time range then "
    "answers files wholly inside the window from the LOG ALONE and scans "
    "only boundary files with the predicate pushed down. The query "
    "ingests events as one file per week, counts a window covering one "
    "week wholly (served from the log) and one partially (scanned), and "
    "asserts in-query that at least one file was answered from metadata, "
    "at least one was scanned, and wholly-outside files were neither. Decline-on-doubt "
    "(dedup keys / tombstones / deletion vectors -> full view count) is "
    "pinned by tests/test_storage.py::TestCountIndex.",
)
def q_count_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from timefusion_spark.storage import Table
    from timefusion_spark.storage.schema import FieldDef, TableSchema

    schema = TableSchema(
        table_name="events_plain",
        fields=[
            FieldDef("event_id", "Int64", False),
            FieldDef("ts", 'Timestamp(Microsecond, Some("UTC"))', False),
            FieldDef("value", "Float64", True),
        ],
        partitions=[],
        time_column="ts",
    )
    base_dir = tempfile.mkdtemp(prefix="tf_countidx_")
    tbl = Table.create(spark, schema, os.path.join(base_dir, "t"))
    try:
        ev = t(spark, sf_dir, "events").select("event_id", "ts", "value")
        # one append (= one file) per ISO week of the January 2024 corpus,
        # so the window below covers some files wholly and one partially.
        # The four weekly appends are INDEPENDENT jobs (distinct row sets;
        # the commit log's optimistic os.link loop serializes versions),
        # so they run from a small thread pool and overlap instead of
        # paying four sequential scan+write walls (optimization r13,
        # guide §2.6). Each thread opens its own Table handle so the
        # staged-write intent bookkeeping stays per-writer. count_range
        # reads the manifest as a SET, so commit order is immaterial.
        from concurrent.futures import ThreadPoolExecutor

        from timefusion_spark.storage import Table as _Table

        def _append_week(bounds: tuple[str, str]) -> None:
            wk_lo, wk_hi = bounds
            batch = ev.where(
                (F.col("ts") >= F.lit(wk_lo).cast("timestamp"))
                & (F.col("ts") < F.lit(wk_hi).cast("timestamp"))
            ).coalesce(1)
            _Table.open(spark, tbl.path).append(batch)

        with ThreadPoolExecutor(max_workers=4) as pool:
            list(
                pool.map(
                    _append_week,
                    (
                        ("2024-01-01", "2024-01-08"),
                        ("2024-01-08", "2024-01-15"),
                        ("2024-01-15", "2024-01-22"),
                        ("2024-01-22", "2024-02-01"),
                    ),
                )
            )
        n, info = tbl.count_range(
            "2024-01-10 00:00:00", "2024-01-22 00:00:00", detail=True
        )
        # the fast path actually engaged: week-3 served from the log, the
        # straddling week-2 file scanned, weeks 1/4 touched not at all
        _require(not info['declined'], info)
        _require(info['metadata_files'] >= 1, info)
        _require(1 <= info['scanned_files'] < info['files'], info)
        n_empty, info_empty = tbl.count_range(
            "2030-01-01", "2030-02-01", detail=True
        )
        _require(n_empty == 0 and info_empty['scanned_files'] == 0, info_empty)
        n_all = tbl.count_range("2020-01-01", "2030-01-01")
        return spark.createDataFrame(
            [("all", n_all), ("empty", n_empty), ("window", n)],
            "scope string, n bigint",
        ).orderBy("scope")
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)


@query(
    "q_txn_atomic_commit",
    oracle=f"""
    SELECT o_orderstatus AS status,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM orders WHERE o_orderkey > 0 AND o_orderkey <= {_N}
    GROUP BY o_orderstatus ORDER BY status
    """,
    doc="Explicit-transaction lifecycle over the engine's own statement "
    "path (the pgwire BEGIN…COMMIT surface; beyond the reference, whose "
    "pgwire layer acks transaction verbs as autocommit no-ops — "
    "pgwire_handlers.rs:648): txn 1 stages half the orders subset and "
    "COMMITs (atomic group publish); txn 2 stages poison rows that would "
    "change every aggregate and ROLLs BACK (definitive group abort); "
    "txn 3 stages the other half with read-your-own-writes asserted "
    "mid-flight (owner sees staged + committed, plain readers see "
    "committed only) and COMMITs. The final per-status aggregate equals "
    "the plain orders subset — any torn publish, rollback leak, or "
    "read-your-writes contamination of committed state changes the "
    "numbers.",
)
def q_txn_atomic_commit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from timefusion_spark.slt import SltEnv

    base_dir = tempfile.mkdtemp(prefix="tf_txnq_")
    try:
        env = SltEnv(spark, base_dir)
        env.run_statement(
            "CREATE TABLE txn_t (ts TIMESTAMP, id TEXT, status TEXT, "
            "val DOUBLE, project_id TEXT)"
        )
        t(spark, sf_dir, "orders").createOrReplaceTempView("__txn_src")
        mid = _N // 2
        ins = (
            "INSERT INTO txn_t SELECT "
            "timestamp '2026-03-01 00:00:00', CAST(o_orderkey AS STRING), "
            "o_orderstatus, o_totalprice, 'p1' FROM __txn_src "
            "WHERE o_orderkey > {lo} AND o_orderkey <= {hi}"
        )
        tbl = env.tables["txn_t"]

        # txn 1: first half, atomic commit
        txn1 = env.begin_txn()
        env.run_statement(ins.format(lo=0, hi=mid), txn=txn1)
        _require(tbl.read().count() == 0)
        env.commit_txn(txn1)
        committed = tbl.read().count()
        _require(committed > 0)

        # txn 2: poison rows (same keys, wild values) — rolled back
        txn2 = env.begin_txn()
        env.run_statement(
            "INSERT INTO txn_t SELECT timestamp '2026-03-02 00:00:00', "
            "CAST(o_orderkey AS STRING), 'XX', 1e9, 'p1' FROM __txn_src "
            f"WHERE o_orderkey <= {_N}",
            txn=txn2,
        )
        _require(tbl.read().count() == committed)
        env.rollback_txn(txn2)

        # txn 3: second half; read-your-own-writes asserted mid-flight
        txn3 = env.begin_txn()
        env.run_statement(ins.format(lo=mid, hi=_N), txn=txn3)
        own = tbl.read(include_group=txn3.group.id).count()
        _require(own > committed, (own, committed))
        _require(tbl.read().count() == committed)
        env.commit_txn(txn3)

        out = (
            tbl.read()
            .groupBy(F.col("status"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("val"), 2).alias("total"),
            )
            .orderBy("status")
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)

@query(
    "q_copy_ingest",
    oracle=f"""
    SELECT o_orderstatus AS status,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM orders WHERE o_orderkey <= {_N}
    GROUP BY o_orderstatus ORDER BY status
    """,
    doc="Bulk network ingest through the pgwire COPY FROM STDIN "
    "subprotocol — the reference's gRPC ingest entry point re-expressed "
    "as PG's own bulk protocol (proto/timefusion.proto:12-33, "
    "grpc_handlers.rs:1-110 seq-acked backpressure → TCP receive window "
    "+ bounded COPY_CHUNK_ROWS flushes): a raw wire client streams the "
    "orders subset as tab-delimited CopyData chunks into a live server; "
    "the handler flushes every 500 rows (multiple staged commits assert "
    "the bounded-memory path) yet CopyDone publishes ONE atomic commit "
    "group. The per-status aggregate over the engine's read view equals "
    "the source subset — any dropped chunk, double flush, or torn "
    "publish changes the numbers.",
)
def q_copy_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import socket
    import struct

    import timefusion_spark.server as server_mod
    from timefusion_spark.server import PgWireServer

    base_dir = tempfile.mkdtemp(prefix="tf_copyq_")
    old_chunk = server_mod.COPY_CHUNK_ROWS
    srv = None
    try:
        server_mod.COPY_CHUNK_ROWS = 500  # force the chunked-flush path
        srv = PgWireServer(spark, base_dir=base_dir).start()

        rows = (
            t(spark, sf_dir, "orders")
            .where(F.col("o_orderkey") <= _N)
            .select("o_orderkey", "o_orderstatus", "o_totalprice")
            .collect()  # wire-client payload construction (client side)
        )
        payload = "".join(
            f"2026-03-01 00:00:00\t{r.o_orderkey}\t{r.o_orderstatus}\t"
            f"{r.o_totalprice}\tp1\n"
            for r in rows
        ).encode()

        def recv_exact(sock, k: int) -> bytes:
            data = b""
            while len(data) < k:
                chunk = sock.recv(k - len(data))
                if not chunk:
                    raise ConnectionError("server closed")
                data += chunk
            return data

        def until_ready(sock):
            msgs = []
            while True:
                tag = recv_exact(sock, 1)
                (ln,) = struct.unpack("!i", recv_exact(sock, 4))
                msgs.append((tag, recv_exact(sock, ln - 4)))
                if tag == b"Z":
                    # surface server errors with their payload — a
                    # swallowed ErrorResponse otherwise resurfaces later
                    # as an opaque tag assertion (review r12)
                    errs = [p for tg, p in msgs if tg == b"E"]
                    _require(not errs, errs)
                    return msgs

        sock = socket.create_connection(("127.0.0.1", srv.port), timeout=120)
        start = struct.pack("!i", 196608) + b"user\x00q\x00\x00"
        sock.sendall(struct.pack("!i", len(start) + 4) + start)
        until_ready(sock)
        q = (
            "CREATE TABLE copy_t (ts TIMESTAMP, id TEXT, status TEXT, "
            "val DOUBLE, project_id TEXT)"
        ).encode() + b"\x00"
        sock.sendall(b"Q" + struct.pack("!i", len(q) + 4) + q)
        until_ready(sock)
        q = b"COPY copy_t FROM STDIN\x00"
        sock.sendall(b"Q" + struct.pack("!i", len(q) + 4) + q)
        tag = recv_exact(sock, 1)
        (ln,) = struct.unpack("!i", recv_exact(sock, 4))
        pl = recv_exact(sock, ln - 4)
        _require(tag == b"G", (tag, pl))  # 'E' payload names the real error
        for i in range(0, len(payload), 65536):  # ack-paced TCP chunks
            d = payload[i : i + 65536]
            sock.sendall(b"d" + struct.pack("!i", len(d) + 4) + d)
        sock.sendall(b"c" + struct.pack("!i", 4))
        msgs = until_ready(sock)
        tags = [p.rstrip(b"\x00").decode() for tg, p in msgs if tg == b"C"]
        _require(tags == [f'COPY {len(rows)}'], tags)
        sock.sendall(b"X" + struct.pack("!i", 4))
        sock.close()

        tbl = srv._server.runner.tables["copy_t"]
        grouped = [
            v
            for v in range(tbl.log.latest_version() + 1)
            if tbl.log.entry(v)["op"] == "append" and tbl.log.entry(v).get("group")
        ]
        # bounded chunked flushes: one staged commit per 500-row chunk of
        # whatever the sf actually supplied
        _require(len(grouped) >= max(1, len(rows) // 500), (len(rows), grouped))

        out = (
            tbl.read()
            .groupBy(F.col("status"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("val"), 2).alias("total"),
            )
            .orderBy("status")
        )
        return out.localCheckpoint(eager=True)
    finally:
        server_mod.COPY_CHUNK_ROWS = old_chunk
        if srv is not None:
            srv.stop()
        shutil.rmtree(base_dir, ignore_errors=True)

@query(
    "q_arrow_ingest",
    oracle=f"""
    SELECT o_orderstatus AS status,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM orders WHERE o_orderkey <= {_N} AND o_orderkey % 2 = 1
    GROUP BY o_orderstatus ORDER BY status
    """,
    doc="Arrow-IPC network bulk ingest — the reference's gRPC ingest "
    "endpoint re-expressed over the public Arrow stream format "
    "(proto/timefusion.proto:12-33 WriteRequest/Ack, grpc_handlers.rs "
    "seq-acked flow control): a wire client streams the odd-key orders "
    "subset as record batches with an ack window of 1; the server "
    "commits each batch atomically through the full write path and acks "
    "ONLY after the commit (ack == durable), then the client deliberately "
    "REPLAYS the first batch under the same app_id — the commit log's "
    "txn watermark must skip it (WAL-watermark idempotence, "
    "buffered_write_layer.rs:2211). The per-status aggregate equals the "
    "source subset: a dropped batch, a double-applied replay, or an "
    "early ack before durability all change the numbers.",
)
def q_arrow_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from timefusion_spark.ingest_server import ArrowIngestServer
    from timefusion_spark.storage import Table, load_schema_text

    import pyarrow as pa
    import pyarrow.ipc as ipc
    import json as _json
    import socket as _socket
    import struct as _struct

    yaml = """
table_name: arrow_t
partitions: [project_id]
time_column: ts
fields:
  - {name: ts, data_type: 'Timestamp(Microsecond, Some("UTC"))', nullable: false}
  - {name: id, data_type: Utf8, nullable: false}
  - {name: status, data_type: Utf8, nullable: true}
  - {name: val, data_type: Float64, nullable: true}
  - {name: project_id, data_type: Utf8, nullable: true}
"""
    base_dir = tempfile.mkdtemp(prefix="tf_arrowq_")
    srv = None
    try:
        tbl = Table.create(
            spark, load_schema_text(yaml), os.path.join(base_dir, "arrow_t")
        )
        srv = ArrowIngestServer(spark, {"arrow_t": tbl}).start()
        rows = (
            t(spark, sf_dir, "orders")
            .where((F.col("o_orderkey") <= _N) & (F.col("o_orderkey") % 2 == 1))
            .select("o_orderkey", "o_orderstatus", "o_totalprice")
            .collect()  # wire-client payload construction (client side)
        )

        def batch(chunk):
            return pa.RecordBatch.from_pydict(
                {
                    "ts": ["2026-03-01 00:00:00"] * len(chunk),
                    "id": [str(r.o_orderkey) for r in chunk],
                    "status": [r.o_orderstatus for r in chunk],
                    "val": [float(r.o_totalprice) for r in chunk],
                    "project_id": ["p1"] * len(chunk),
                }
            )

        size = max(1, len(rows) // 4)
        batches = [batch(rows[i : i + size]) for i in range(0, len(rows), size)]
        batches.append(batches[0])  # deliberate replay of seq-1 content…

        class _Sink:
            closed = False

            def __init__(self, s):
                self.s = s

            def write(self, d):
                self.s.sendall(d)
                return len(d)

            def writable(self):
                return True

            def readable(self):
                return False

            def seekable(self):
                return False

            def tell(self):
                return 0

            def flush(self):
                pass

            def close(self):
                pass

        def recv_exact(s, k):
            d = b""
            while len(d) < k:
                c = s.recv(k - len(d))
                if not c:
                    raise ConnectionError("server closed")
                d += c
            return d

        # stream 1: all data batches, ack window 1 (strict backpressure)
        sock = _socket.create_connection(("127.0.0.1", srv.port), timeout=120)
        header = _json.dumps({"table": "arrow_t", "app_id": "q_arrow"}).encode()
        sock.sendall(_struct.pack("!I", len(header)) + header)
        _require(recv_exact(sock, 1) == b'W')
        _require(_struct.unpack('!Q', recv_exact(sock, 8))[0] == 0)
        writer = ipc.new_stream(_Sink(sock), batches[0].schema)
        acks = []
        for b in batches[:-1]:
            writer.write_batch(b)
            tag = recv_exact(sock, 1)
            _require(tag == b'A', tag)
            acks.append(_struct.unpack("!Q", recv_exact(sock, 8))[0])
        writer.close()
        tag = recv_exact(sock, 1)
        _require(tag == b'F', tag)
        total = _struct.unpack("!Q", recv_exact(sock, 8))[0]
        sock.close()
        _require(acks == list(range(1, len(batches))), acks)
        _require(total == len(rows), (total, len(rows)))

        # stream 2: reconnect REPLAY — first batch again under the same
        # app_id; a whole-stream replayer declares start_seq=1, so the
        # txn watermark skips it (ack still arrives). The W frame
        # announces the durable watermark for resume-style clients.
        sock = _socket.create_connection(("127.0.0.1", srv.port), timeout=120)
        header2 = _json.dumps(
            {"table": "arrow_t", "app_id": "q_arrow", "start_seq": 1}
        ).encode()
        sock.sendall(_struct.pack("!I", len(header2)) + header2)
        _require(recv_exact(sock, 1) == b'W')
        _require(_struct.unpack('!Q', recv_exact(sock, 8))[0] == len(batches) - 1)
        writer = ipc.new_stream(_Sink(sock), batches[0].schema)
        writer.write_batch(batches[0])
        _require(recv_exact(sock, 1) == b'A')
        recv_exact(sock, 8)
        writer.close()
        recv_exact(sock, 9)
        sock.close()

        n_after = tbl.read().count()
        _require(n_after == len(rows), (n_after, len(rows)))

        out = (
            tbl.read()
            .groupBy(F.col("status"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("val"), 2).alias("total"),
            )
            .orderBy("status")
        )
        return out.localCheckpoint(eager=True)
    finally:
        if srv is not None:
            srv.stop()
        shutil.rmtree(base_dir, ignore_errors=True)


@query(
    "q_pgwire_dml_literals",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k,
             CASE WHEN o_orderkey % 5 = 0 THEN 'dml_lit.x'
                  WHEN o_orderkey % 5 = 1 THEN 'x'
                  ELSE 'keep' END AS note,
             o_totalprice AS value
      FROM orders
      WHERE o_orderkey <= 900
    )
    SELECT CASE WHEN note = 'x' THEN 'dml_lit.renamed' ELSE note END AS note,
           COUNT(*) AS n,
           ROUND(SUM(value + CASE WHEN note = 'x' THEN 10 ELSE 0 END), 2)
             AS total_value
    FROM base
    WHERE note <> 'dml_lit.x'
    GROUP BY 1
    ORDER BY note
    """,
    doc="pgwire-path DML whose predicates and SET expressions contain the "
    "table name INSIDE string literals, on a partitioned table — the "
    "review r11-judge #1 wrong-row-data-loss shape. The statement path "
    "(SltEnv.run_statement, the same code the wire server executes) strips "
    "`dml_lit.` relation qualifiers with a literal-skipping scanner: "
    "DELETE ... WHERE note = 'dml_lit.x' must delete exactly the rows "
    "whose note IS 'dml_lit.x' (the old re.sub rewrote the literal to 'x' "
    "and deleted the wrong rows), while qualified references outside "
    "literals (dml_lit.note, dml_lit.value) still strip and resolve. The "
    "oracle reproduces the post-DML visible state closed-form from orders.",
)
def q_pgwire_dml_literals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from timefusion_spark.slt import SltEnv
    from timefusion_spark.storage import Table
    from timefusion_spark.storage.schema import FieldDef, SortingColumnDef, TableSchema

    schema = TableSchema(
        table_name="dml_lit",
        fields=[
            FieldDef("id", "Utf8", False),
            FieldDef("timestamp", 'Timestamp(Microsecond, Some("UTC"))', False),
            FieldDef("note", "Utf8"),
            FieldDef("value", "Float64"),
            FieldDef("project_id", "Utf8", False),
            FieldDef("date", "Date32", False),
        ],
        partitions=["project_id", "date"],
        sorting_columns=[SortingColumnDef("timestamp", descending=True)],
        time_column="timestamp",
    )
    base_dir = tempfile.mkdtemp(prefix="tf_pgdml_")
    try:
        tbl = Table.create(spark, schema, os.path.join(base_dir, "dml_lit"))
        orders = t(spark, sf_dir, "orders").where(F.col("o_orderkey") <= 900)
        base = orders.select(
            F.col("o_orderkey").cast("string").alias("id"),
            F.expr(
                "timestamp'2026-03-01 00:00:00'"
                " + make_interval(0,0,0,cast(o_orderkey % 4 as int),0,0,0)"
            ).alias("timestamp"),
            F.when(F.col("o_orderkey") % 5 == 0, F.lit("dml_lit.x"))
            .when(F.col("o_orderkey") % 5 == 1, F.lit("x"))
            .otherwise(F.lit("keep"))
            .alias("note"),
            F.col("o_totalprice").alias("value"),
            F.concat(F.lit("p"), (F.col("o_orderkey") % 3).cast("string")).alias(
                "project_id"
            ),
        )
        tbl.append(base)
        env = SltEnv(spark, base_dir)
        mounted = env.mount_existing()
        _require("dml_lit" in mounted or "dml_lit" in env.tables, mounted)
        # literal containing 'dml_lit.' — must delete ONLY those rows
        # (the old quote-unaware strip executed note = 'x' instead)
        n_del = env.run_statement("DELETE FROM dml_lit WHERE note = 'dml_lit.x'")
        # qualified references strip; the SET literal survives intact
        n_upd = env.run_statement(
            "UPDATE dml_lit SET note = 'dml_lit.renamed', "
            "value = dml_lit.value + 10 WHERE dml_lit.note = 'x'"
        )
        _require(n_del > 0 and n_upd > 0, (n_del, n_upd))
        out = (
            env.tables["dml_lit"]
            .read()
            .groupBy("note")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("value"), 2).alias("total_value"),
            )
            .orderBy("note")
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)
