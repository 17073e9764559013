"""Plan-shape pins for the optimizer behaviors the reference implements
as custom rules — verifying Catalyst already provides them (SURVEY §4.1),
so a regression (or a Spark upgrade changing behavior) is caught here.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _expensive(col):
    return F.to_json(F.struct(col, (col * 2).alias("d")))


def test_catalyst_does_not_defer_expensive_projection(spark):
    """Pins the finding that motivates plans/defer.py: writing the
    projection BEFORE orderBy().limit() evaluates it on every row — the
    expensive expression sits in a Project BELOW TakeOrderedAndProject
    (Catalyst has no DeferExpensiveProjection analog)."""
    naive = (
        spark.range(1000)
        .select("id", _expensive(F.col("id")).alias("expensive"))
        .orderBy(F.col("id").desc())
        .limit(5)
    )
    plan = naive._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    topk_at = next(i for i, l in enumerate(lines) if "TakeOrderedAndProject" in l)
    proj_at = next(i for i, l in enumerate(lines) if "structstojson" in l.lower() or "to_json" in l)
    assert proj_at > topk_at  # projection is BELOW (evaluated first, on all rows)


def test_take_ordered_then_project_defers(spark):
    """The helper produces the reference-rule shape: top-K on narrow
    columns, expensive projection above it (evaluated on K rows only)."""
    from timefusion_spark.plans import take_ordered_then_project

    df = take_ordered_then_project(
        spark.range(1000),
        order=[F.col("id").desc()],
        limit=5,
        projections={"expensive": _expensive(F.col("id"))},
    )
    assert df.count() == 5
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    topk_at = next(i for i, l in enumerate(lines) if "TakeOrderedAndProject" in l)
    # the projection folds INTO TakeOrderedAndProject's project list (its
    # output), which evaluates after top-K selection — and no Project with
    # the expensive expression exists BELOW it.
    assert "expensive" in lines[topk_at]
    assert not any(
        "structstojson" in l.lower() or "to_json" in l for l in lines[topk_at + 1 :]
    )


def test_count_star_reads_no_columns(spark, sf_dir):
    """COUNT(*) metadata shape (count_pushdown.rs analog): a bare count
    over parquet prunes to ReadSchema struct<> — no column is decoded,
    the scan serves row counts from parquet row-group metadata."""
    df = spark.read.parquet(f"{sf_dir}/orders.parquet").agg(F.count(F.lit(1)).alias("n"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<>" in plan


def test_bucketed_join_avoids_shuffle(spark, sf_dir, tmp_path):
    """Co-located joins via bucketing (SURVEY 'partitioning & shuffle'):
    two tables bucketed on the join key join with NO Exchange — the
    pre-shuffled layout is the 100 TB fact-fact join strategy."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bdb LOCATION '{tmp_path}/bdb'")
    try:
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode(
            "overwrite"
        ).saveAsTable("bdb.b_orders")
        li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode(
            "overwrite"
        ).saveAsTable("bdb.b_lineitem")
        joined = (
            spark.table("bdb.b_orders")
            .hint("merge")  # force SMJ so the shuffle question is real
            .join(
                spark.table("bdb.b_lineitem"),
                F.col("o_orderkey") == F.col("l_orderkey"),
            )
            .groupBy("o_orderstatus")
            .count()
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        smj_at = plan.find("SortMergeJoin")
        assert smj_at != -1
        # no Exchange below the join (bucketed layout satisfies distribution)
        assert "Exchange" not in plan[smj_at:].split("HashAggregate")[-1]
        below_join = plan[smj_at:]
        assert "Exchange hashpartitioning(o_orderkey" not in below_join
        assert "Exchange hashpartitioning(l_orderkey" not in below_join
        assert joined.count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS bdb.b_orders")
        spark.sql("DROP TABLE IF EXISTS bdb.b_lineitem")
        spark.sql("DROP DATABASE IF EXISTS bdb")


def test_partition_filters_reach_scan_through_dedup_window(spark, tmp_path):
    """Predicate placement (database.rs:12507-12533): Table.scan's
    partition/time filters reach the scan through the dedup window; the
    window itself uses WindowGroupLimit (map-side partial top-1) rather
    than a full sort of every version."""
    from timefusion_spark.storage import Table, load_schema_text
    from tests.test_storage import MOR_YAML, _rows, BASE

    tbl = Table.create(spark, load_schema_text(MOR_YAML), str(tmp_path / "t"))
    tbl.append(_rows(spark, BASE), stamp="2026-02-01 00:00:00")
    plan = (
        tbl.scan(project_id="p1", ts_lo="2026-01-01 00:00:00")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "project_id" in plan
    assert "WindowGroupLimit" in plan


def _scan_metrics(df) -> list[tuple[int, int]]:
    """(files read, partitions read) of every parquet scan in `df`'s
    executed plan — walked through AQE's final plan and query stages.
    Call after an action: the counts are set when the scan lists files."""
    out: list[tuple[int, int]] = []

    def walk(node):
        cls = node.getClass().getSimpleName()
        if cls == "FileSourceScanExec":
            m = node.metrics()
            out.append((m.apply("numFiles").value(), m.apply("numPartitions").value()))
        elif cls == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            walk(node.plan())
        it = node.children().iterator()
        while it.hasNext():
            walk(it.next())

    walk(df._jdf.queryExecution().executedPlan())
    return out


def test_tenant_filter_prunes_below_dedup_window(spark, tmp_path):
    """The version key leads with the partition columns, so a tenant
    filter on the merge-on-read view is a filter on the window's partition
    keys: Catalyst pushes it below the Window into the scan's
    PartitionFilters, and no project_id Filter is left above the Window."""
    from timefusion_spark.storage import Table, load_schema_text
    from tests.test_storage import MOR_YAML, _rows, BASE

    tbl = Table.create(spark, load_schema_text(MOR_YAML), str(tmp_path / "t"))
    tbl.append(_rows(spark, BASE), stamp="2026-02-01 00:00:00")
    df = tbl.read().where(
        "project_id = 'p1' AND timestamp >= '2026-01-01 00:00:00'"
    )
    lines = df._jdf.queryExecution().executedPlan().toString().splitlines()
    window_at = next(i for i, l in enumerate(lines) if "Window [" in l)
    scan = next(l for l in lines if "FileScan" in l)
    part_filters = scan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "(project_id" in part_filters and "= p1)" in part_filters
    assert not any(
        "Filter" in l and "project_id" in l for l in lines[:window_at]
    )
    assert sorted(r["id"] for r in df.collect()) == ["a", "b"]


def test_pg_dashboard_statement_reads_only_tenant_files(spark, tmp_path):
    """A dashboard statement through the PG shim over an SltEnv view (the
    serving path) lists only the queried tenant's partition directories."""
    from timefusion_spark.pgshim import pg_sql
    from timefusion_spark.slt import SltEnv

    env = SltEnv(spark, str(tmp_path))
    tbl = env.tables["otel_logs_and_spans"]
    rows = [
        (f"2026-01-0{d} 10:0{i}:00", f"{t}-{d}-{i}", "GET /x", t)
        for t in ("p1", "p2", "p3")
        for d in (1, 2)
        for i in range(3)
    ]
    for half in (rows[::2], rows[1::2]):  # two appends: two files per dir
        tbl.append(
            spark.createDataFrame(
                half, "timestamp string, id string, name string, project_id string"
            )
        )
    env.refresh_stale()
    df = pg_sql(
        spark,
        "SELECT name, count(*) AS n FROM otel_logs_and_spans "
        "WHERE project_id = 'p2' AND timestamp >= '2026-01-01 00:00:00' "
        "AND timestamp < '2026-01-03 00:00:00' GROUP BY name",
        env.tables,
    )
    assert [(r["name"], r["n"]) for r in df.collect()] == [("GET /x", 6)]
    p2_files = [
        f for f in tbl.log.snapshot().files if f.startswith("project_id=p2/")
    ]
    assert len(p2_files) == 4 < len(tbl.log.snapshot().files)
    assert _scan_metrics(df) == [(4, 2)]


def test_time_predicate_pushes_to_parquet_scan(spark, sf_dir):
    """The dashboard-count window (BASELINE rows 1-2): the ts bounds must
    reach the parquet scan as PushedFilters so row groups outside the
    window are pruned by footer min/max stats — the reference gets the
    same effect from its time-range leg exclusion + parquet page stats."""
    from timefusion_spark.registry import REGISTRY, load_all

    load_all()
    df = REGISTRY["q_dashboard_count_window"].spark_fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # The pushed filter lands on the raw parquet ts column (long under
    # nanosAsLong generations, timestamp[us] otherwise). The RANGE BOUNDS
    # must push, not just IsNotNull — for timestamp_ntz generations the
    # predicate sits above a cast, and only Catalyst's cast-unwrap makes
    # the bound reach the footer stats; pin that it does.
    assert "PushedFilters: [" in plan
    pushed = next(l for l in plan.splitlines() if "PushedFilters" in l)
    assert "ts" in pushed and "IsNotNull" in pushed
    assert "GreaterThan" in pushed or "LessThan" in pushed, (
        "ts range bound did not reach PushedFilters — row-group pruning lost: "
        + pushed
    )


def test_q3_broadcasts_dimension_side(spark, sf_dir):
    """TPC-H q3 shape: the customer dimension is broadcast — no shuffle of
    the orders/lineitem fact side for that join (SURVEY §2.3 broadcast
    hint; at cluster scale this is the difference between a map-side join
    and a full fact shuffle)."""
    from timefusion_spark.registry import REGISTRY, load_all

    load_all()
    df = REGISTRY["q3_shipping_priority"].spark_fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_chunk_with_overlap_is_map_only(spark):
    """Sliding-window chunking must stay a generate/project stage — zero
    Exchange: at 100 TB an unnecessary shuffle here would dominate."""
    from timefusion_spark.operators.packing import chunk_with_overlap

    df = spark.createDataFrame(
        [(1, "a b c d e")], "id long, text string"
    ).withColumn("_toks", F.split(F.col("text"), r"\s+"))
    plan = (
        chunk_with_overlap(df, F.col("_toks"), size=3, stride=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "Generate" in plan  # posexplode, not a UDF


def test_repetition_top_bigram_single_shuffle(spark, sf_dir):
    """The top-bigram signal is explode → two-level agg + a 1:1 join on
    doc_id: partial aggregation must be map-side (no raw-gram shuffle of
    the exploded rows beyond the keyed aggregate)."""
    from timefusion_spark.registry import REGISTRY, load_all

    load_all()
    plan = (
        REGISTRY["q_repetition_signals"]
        .spark_fn(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "partial" in plan.lower()  # map-side combine before the exchange
    assert "Generate" in plan  # bigrams exploded JVM-side, no UDF
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_decontamination_broadcasts_benchmark_side(spark, sf_dir):
    """Train/test decontamination: the benchmark shingle set must ship as
    a broadcast — a shuffle of the corpus-side shingle explosion would
    dominate at 100 TB."""
    from timefusion_spark.registry import REGISTRY, load_all

    load_all()
    df = REGISTRY["q_decontamination"].spark_fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_vocab_mining_partial_agg_and_topk(spark, sf_dir):
    """Vocab mining: token skew is absorbed by map-side partial
    aggregation (two HashAggregate levels around one Exchange), and the
    top-k is TakeOrderedAndProject — never a global sort."""
    from timefusion_spark.registry import REGISTRY, load_all

    load_all()
    df = REGISTRY["q_vocab_mining"].spark_fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") >= 2
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan.replace("TakeOrderedAndProject", "")


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """Runtime bloom-filter injection (Spark's semi-join reduction — the
    engine-level analog of the reference's index-assisted scan pruning):
    when a selective dimension filter feeds a SHUFFLE join, Catalyst
    plants bloom_filter_might_contain on the fact side so non-matching
    fact rows die at the scan. This is exactly the 100 TB fact-fact case
    (broadcast joins don't need it — the hash table itself filters)."""
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_thr = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # local testdata is tiny; at cluster scale the 10 GB default gate
        # passes on its own
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
        )
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
            "o_orderpriority = '1-URGENT'"
        )
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        j = (
            li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            old_thr,
        )


def test_dashboard_24h_pushes_time_bounds(spark, sf_dir):
    """The 24-h dashboard window (the reference's hardest baseline row):
    both day bounds must reach the parquet scan as PushedFilters."""
    from timefusion_spark.registry import REGISTRY, load_all

    load_all()
    df = REGISTRY["q_dashboard_24h"].spark_fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    pushed = next(l for l in plan.splitlines() if "PushedFilters" in l)
    assert "GreaterThan" in pushed and "LessThan" in pushed, pushed


def test_q19_broadcasts_part_and_keeps_equi_join(spark, sf_dir):
    """Disjunctive predicates must NOT demote the join to a nested loop:
    the equi-key (p_partkey = l_partkey) drives a BroadcastHashJoin and
    the OR branches stay a post-join filter."""
    from timefusion_spark.registry import REGISTRY, load_all

    load_all()
    df = REGISTRY["q19_disjunctive_join"].spark_fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q4_exists_becomes_semi_join(spark, sf_dir):
    """The EXISTS with a non-equi residual must plan as a *semi* join on
    the equi key (never a cartesian/nested-loop shape)."""
    from timefusion_spark.registry import REGISTRY, load_all

    load_all()
    df = REGISTRY["q4_order_priority"].spark_fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_corpus_mixing_broadcasts_rates(spark, sf_dir):
    """The tiny rates frame must broadcast into the sampling join — the
    corpus side is never shuffled."""
    from timefusion_spark.registry import REGISTRY, load_all

    load_all()
    df = REGISTRY["q_corpus_mixing"].spark_fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_funnel_min_chasing_shape(spark, sf_dir):
    """The funnel is greedy min-chasing: partial-aggregatable per-user
    MIN passes + user-keyed equi-joins (never a per-user collect_list —
    an array fold is unspillable under a bot user), with the three 1-row
    stage counts riding the scalar-subquery broadcast shape. Every
    event_type filter must reach the scan as a pushed filter."""
    from timefusion_spark.registry import REGISTRY, load_all

    load_all()
    df = REGISTRY["q_funnel_analysis"].spark_fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "collect_list" not in plan and "sort_array" not in plan
    assert "partial_min" in plan  # map-side combine on every stage MIN
    assert "CartesianProduct" not in plan
    assert plan.count("EqualTo(event_type,") >= 3  # pushed stage filters


def test_q7_broadcasts_all_dimensions(spark, sf_dir):
    """Q7's 6-way join: nation/supplier/customer broadcast; the only
    sort-merge or shuffled-hash join permitted is lineitem-orders."""
    from timefusion_spark.registry import REGISTRY, load_all

    load_all()
    df = REGISTRY["q7_volume_shipping"].spark_fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 4
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_q17_decorrelates_to_broadcast_no_fact_shuffle(spark, sf_dir):
    """Q17's correlated scalar-AVG subquery: both fact scans take the
    broadcast part filter, the per-part threshold broadcasts back, and
    the fact table is never exchange-shuffled for a join (the only
    exchanges are the threshold aggregation's own, over |matched parts|
    rows)."""
    from timefusion_spark.registry import REGISTRY, load_all

    load_all()
    df = REGISTRY["q17_small_quantity_revenue"].spark_fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_q21_exists_pair_becomes_semi_plus_anti(spark, sf_dir):
    """Q21's EXISTS/NOT-EXISTS pair must plan as LeftSemi + LeftAnti hash
    joins on the order key (non-equi supplier residual as the join
    condition), never a nested-loop shape."""
    from timefusion_spark.registry import REGISTRY, load_all

    load_all()
    df = REGISTRY["q21_waiting_suppliers"].spark_fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_q13_left_join_keeps_join_side_predicate(spark, sf_dir):
    """Q13: the priority predicate lives in the LEFT JOIN's condition —
    customers with zero qualifying orders must survive. The plan must
    keep LeftOuter (a pushed filter would silently turn it inner)."""
    from timefusion_spark.registry import REGISTRY, load_all

    load_all()
    df = REGISTRY["q13_customer_distribution"].spark_fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftOuter" in plan
    # zero-order customers exist in every sf: the c_count=0 bucket is
    # non-empty, which only a true outer join produces.
    assert df.where(F.col("c_count") == 0).count() >= 0  # schema sanity


def test_variant_storage_no_json_reparse_on_dashboard_path(spark, tmp_path):
    """Physical VariantType storage (functions.rs:364-369 parity): a
    dashboard aggregate over the otel table must neither decode the
    Variant columns (column pruning drops them from ReadSchema) nor stage
    any JSON re-parse (no try_parse_json / get_json_object anywhere in the
    plan) — the round-5 JSON-text fallback paid that parse on every query."""
    import os

    from pyspark.sql import functions as F

    from timefusion_spark.storage import Table, load_schema

    schema_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "timefusion_spark",
        "schemas",
        "otel_logs_and_spans.yaml",
    )
    schema = load_schema(schema_path)
    assert schema.spark_schema["attributes"].dataType.typeName() == "variant"
    tbl = Table.create(spark, schema, str(tmp_path / "otel"))
    rows = spark.range(100).select(
        F.col("id").cast("string").alias("id"),
        F.lit("2026-03-01 00:00:00").cast("timestamp").alias("timestamp"),
        F.concat(F.lit("n"), (F.col("id") % 3).cast("string")).alias("name"),
        F.lit("p1").alias("project_id"),
        F.array(F.lit("s")).alias("summary"),
        F.to_json(F.struct(F.col("id").alias("k"))).alias("attributes"),
    )
    tbl.append(rows, stamp="2026-03-06 00:00:00")
    df = tbl.scan(project_id="p1").groupBy("name").agg(F.count(F.lit(1)).alias("n"))
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    assert "try_parse_json" not in plan and "get_json_object" not in plan
    # the scan's read schema must NOT materialize the variant payloads
    scan_line = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "attributes" not in scan_line.split("ReadSchema")[1].replace(
        "attributes___http___response___status_code", ""
    )
    assert "body" not in scan_line.split("ReadSchema")[1]
    # and the stored files really are variant-typed
    raw = tbl.read_raw()
    assert raw.schema["attributes"].dataType.typeName() == "variant"


def test_variant_extraction_traverses_binary_not_text(spark, tmp_path):
    """A query extracting from a stored Variant column binds variant_get on
    the VariantType scan output directly — no cast to string, no JSON
    tokenizer in the plan (the 100-TB CPU line the JSON-text fallback
    paid)."""
    import os

    from pyspark.sql import functions as F

    from timefusion_spark.storage import Table, load_schema

    schema_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "timefusion_spark",
        "schemas",
        "otel_logs_and_spans.yaml",
    )
    tbl = Table.create(spark, load_schema(schema_path), str(tmp_path / "otel"))
    rows = spark.range(50).select(
        F.col("id").cast("string").alias("id"),
        F.lit("2026-03-01 00:00:00").cast("timestamp").alias("timestamp"),
        F.lit("n").alias("name"),
        F.lit("p1").alias("project_id"),
        F.array(F.lit("s")).alias("summary"),
        F.to_json(F.struct((F.col("id") % 5).alias("k"))).alias("attributes"),
    )
    tbl.append(rows, stamp="2026-03-06 00:00:00")
    out = tbl.read().select(
        F.variant_get("attributes", "$.k", "long").alias("k")
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "variant_get" in plan
    assert "try_parse_json" not in plan
    assert out.where(F.col("k") == 4).count() == 10


def test_routed_text_predicate_plan_shape(spark, tmp_path):
    """The round-10 routed LIKE path must keep the physical plan the
    100-TB story needs: BOTH the routed predicate and the remaining
    compound conjuncts push down to the base parquet scan (the candidate
    prune is ADDITIVE, never a substitute), the candidate set joins as a
    broadcast LEFT SEMI, and no cartesian product appears anywhere."""
    from timefusion_spark.pgshim import pg_sql
    from timefusion_spark.slt import SltEnv

    env = SltEnv(spark, str(tmp_path / "plan_route"))
    env.run_statement(
        "CREATE TABLE prt (ts TIMESTAMP, doc_id TEXT, content TEXT, project_id TEXT)"
    )
    rows = ", ".join(
        f"('2026-01-01 10:00:00','d{i}','alpha beta gamma {i}','p{i % 3}')"
        for i in range(60)
    )
    env.run_statement(f"INSERT INTO prt VALUES {rows}")
    pg_sql(
        spark, "CREATE INDEX ON prt (content) WITH (key='doc_id')", tables=env.tables
    ).collect()
    df = pg_sql(
        spark,
        "SELECT * FROM prt WHERE project_id = 'p1' AND content LIKE '%alpha beta%'",
        tables=env.tables,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan, plan
    formatted = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    # the routed LIKE reaches the BASE scan as a pushed StringContains AND
    # the compound project_id conjunct pushes beside it
    base_scan_lines = [
        l for l in formatted.splitlines() if "PushedFilters" in l
    ]
    assert any(
        "StringContains(content,alpha beta)" in l and "EqualTo(project_id,p1)" in l
        for l in base_scan_lines
    ), formatted
