"""Dump `.explain("formatted")` for the INTERNAL stages that the bench
queries hide behind localCheckpoint / write actions (VERDICT r13 #4/#8:
the committed plan dumps for checkpoint-bearing queries captured only the
post-checkpoint `Scan ExistingRDD` stub — useless as optimization
evidence). Each frame here is built through the exact production code
path (same operators, same arguments as the registered query), then
explained INSTEAD of checkpointed, so the dump shows the real encode /
rewrite stage the timed query executes.

Usage: python tools/capture_stage_plans.py [--plans-dir plans/r14]
Writes plans/<round>/<name>_stage.txt files.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> int:
    args = sys.argv[1:]
    plans_dir = "plans/r14"
    if "--plans-dir" in args:
        plans_dir = args[args.index("--plans-dir") + 1]
    os.makedirs(plans_dir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from pyspark.sql import functions as F

    from timefusion_spark.operators import similarity as sim
    from timefusion_spark.queries._tables import t
    from timefusion_spark.session import get_spark

    spark = get_spark("tf-stage-plans")
    out: dict[str, str] = {}

    # ── PQ/OPQ encode stage (the frame q_ann_pq_adc checkpoints) ────────
    e = t(spark, sf_dir, "embeddings").where(F.col("vec_id") != 0)
    books = sim.pq_fit(e, m=16, ksub=32)
    out["q_ann_pq_adc_encode_stage"] = _explain(
        sim.pq_encode(e.select("vec_id", "embedding"), books).select(
            "vec_id", "_codes"
        )
    )
    R, obooks = sim.opq_fit(e, m=16, ksub=32)
    out["q_ann_opq_adc_encode_stage"] = _explain(
        sim.opq_encode(e.select("vec_id", "embedding"), R, obooks).select(
            "vec_id", "_codes"
        )
    )

    # ── DML version-append write batch (the frame append() writes) ──────
    from timefusion_spark.queries.storage_mor import _SCHEMA_DIR, _orders_rows
    from timefusion_spark.storage import Table, dml, load_schema

    schema = load_schema(os.path.join(_SCHEMA_DIR, "mor_versioned.yaml"))
    base_dir = tempfile.mkdtemp(prefix="tf_stageplan_")
    try:
        tbl = Table.create(spark, schema, os.path.join(base_dir, "t"))
        orders = t(spark, sf_dir, "orders").where(F.col("o_orderkey") <= 2000)
        tbl.append(_orders_rows(orders), stamp="2026-01-01 00:00:00")
        matched = dml._resolve(
            tbl, (F.col("id").cast("bigint") % 10 == 0), None, None, None
        )
        new_versions = matched.withColumns({"value": F.col("value") + 1000.0})

        def write_batch(batch, key_unique: bool):
            batch = tbl.stamp_version(
                tbl.coerce(batch), "2026-01-02 00:00:00"
            )
            if not key_unique:
                batch = tbl.dedup_batch(batch)
            batch = batch.repartition(*[F.col(c) for c in schema.partitions])
            return batch.sortWithinPartitions(
                *[F.col(c) for c in schema.partitions], *tbl._sort_cols()
            )

        out["dml_update_write_batch_with_dedup_window"] = _explain(
            write_batch(new_versions, key_unique=False)
        )
        out["dml_update_write_batch_key_unique"] = _explain(
            write_batch(new_versions, key_unique=True)
        )

        # ── UPDATE…FROM rewrite stage (in-place path) ────────────────────
        from timefusion_spark.storage.schema import (
            FieldDef,
            SortingColumnDef,
            TableSchema,
        )

        ip_schema = TableSchema(
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
        ip = Table.create(spark, ip_schema, os.path.join(base_dir, "ip"))
        ip.append(_orders_rows(orders.where(F.col("o_orderkey") <= 1200)))
        src = (
            orders.where(F.col("o_orderkey") % 9 == 0)
            .select(
                F.col("o_orderkey").cast("string").alias("id"),
                (F.col("o_orderkey") * 0.01).alias("adj"),
            )
            .localCheckpoint(eager=True)
        )
        src_flagged = F.broadcast(
            src.withColumn("_tf_m", F.lit(True)).alias("_src")
        )
        pred = dml._dml_condition(ip, None, None, None, None)
        raw, _rf = ip.pinned_raw()
        flagged = raw.withColumn("_tf_p", F.coalesce(pred, F.lit(False)))
        joined = flagged.alias("_tgt").join(
            src_flagged,
            F.col("_tgt.id") == F.col("_src.id"),
            "left",
        )
        hit = F.col("_tf_m").isNotNull() & F.col("_tgt._tf_p")
        assignments = {"value": F.col("_tgt.value") + F.col("_src.adj")}
        merged = joined.select(
            *[
                F.when(hit, assignments[f.name].cast(f.to_spark().dataType))
                .otherwise(F.col(f"_tgt.{f.name}"))
                .alias(f.name)
                if f.name in assignments
                else F.col(f"_tgt.{f.name}").alias(f.name)
                for f in ip_schema.fields
            ]
        )
        out["dml_update_from_rewrite_stage"] = _explain(
            merged.repartition(*[F.col(c) for c in ip_schema.partitions])
        )
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)

    # ── path_to_root Observation loop at depth > 8 (VERDICT r13 #8) ─────
    # A 30-deep parent chain derived deterministically from the events
    # parquet forces the checkpointed loop (rounds = 6 for max_depth 64);
    # the job count proves each round is ONE ACTION (its AQE stage jobs —
    # the self-join's two exchanges — are inherent to the round's shuffle,
    # and the liveness bit rides that same action via the Observation
    # instead of a separate per-round isEmpty probe).
    from timefusion_spark.operators.hierarchy import path_to_root

    ev = t(spark, sf_dir, "events").where(F.col("event_id") <= 30)
    chain = ev.select(
        F.col("event_id").alias("id"),
        F.when(F.col("event_id") > 1, F.col("event_id") - 1).alias("parent_id"),
        F.lit(1).cast("decimal(18,4)").alias("w"),
    )
    tracker = spark.sparkContext.statusTracker()
    j0 = len(tracker.getJobIdsForGroup(None) or [])
    deep = path_to_root(chain, "id", "parent_id", "w", max_depth=64)
    n_rows = deep.count()
    j1 = len(tracker.getJobIdsForGroup(None) or [])
    out["hierarchy_depth30_loop"] = (
        f"-- path_to_root(max_depth=64) over a 30-deep chain: "
        f"{j1 - j0} Spark jobs for the full loop + final count "
        f"({n_rows} rows; 6 planned rounds, ONE action each — the "
        f"liveness Observation rides the round's checkpoint; the ~3 "
        f"jobs/round are the self-join's own AQE exchange stages)\n"
        + _explain(deep)
    )

    for name, plan in out.items():
        p = os.path.join(plans_dir, f"{name}.txt")
        with open(p, "w") as fh:
            fh.write(plan)
        print(f"wrote {p} ({len(plan.splitlines())} lines)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
