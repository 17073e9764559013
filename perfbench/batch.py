"""batch_ops: the operator-heavy registry queries, in-process, over the
fixed parquet tables of a data directory (``--data-dir``).

Setup boots the Spark session and runs every query once, untimed, and
checks it against its DuckDB oracle. The window then runs the queries
in seed-shuffled order, round after round until ``seconds`` have passed
(at least one round): ``spark.catalog.clearCache()`` first, then the
build (the registry function returning its DataFrame) and the action
(``collect``), each timed and its Spark jobs counted by job-id range.
Every timed result is compared with the oracle after its timer stops.
"""

from __future__ import annotations

import os
import random
import time

from perfbench import common, spans
from perfbench.common import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# query -> family (the ops.<family>_s metrics)
QUERIES = {
    "q_dedup_minhash_lsh": "dedup", "q_dedup_ngram_jaccard": "dedup", "q_dedup_substring_arrow": "dedup",
    "q_ann_pq_adc": "similarity", "q_ann_opq_adc": "similarity", "q_ann_knn_join": "similarity",
    "q_knn_per_label": "similarity", "q_semantic_dedup": "similarity",
    "q_text_search_indexed": "text", "q_bm25_rank": "text", "q_bigram_perplexity_filter": "text",
    "q_update_inplace": "relational", "q1_pricing_summary": "relational", "q9_profit_by_nation": "relational",
    "q_sessionization": "relational",
}
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

LAYER_UNITS = {
    "ops.build_ms": "ms", "ops.build_jobs": "count", "ops.action_ms": "ms", "ops.action_jobs": "count",
    "ops.dedup_s": "s", "ops.similarity_s": "s", "ops.text_s": "s", "ops.relational_s": "s",
    "ops.cache_entries_left": "count",
    "spark.jobs_per_stmt": "count", "spark.stages_per_stmt": "count", "spark.tasks_per_stmt": "count",
    "spark.executor_run_ms": "ms", "spark.executor_cpu_ms": "ms", "spark.gc_ms": "ms",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
}


def _persisted(spark) -> int:
    """RDDs (cached Datasets included) still persisted in the session."""
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def run_batch_ops(seed: int, seconds: float, run_dir: str, data_dir: str) -> dict:
    import duckdb

    t0 = time.monotonic()
    tally = common.Tally()
    os.environ.update(common.engine_env(run_dir, ROOT))  # before the JVM starts
    rss = common.RssSampler(os.getpid())
    import __spark_entry__ as entry
    from timefusion_spark.session import get_spark
    from tools.check import rows_key

    spark = get_spark("perfbench-batch")
    fns, oracles = entry.queries(), entry.oracle_sql()
    con = duckdb.connect()
    for tbl in TABLES:
        path = os.path.join(data_dir, f"{tbl}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {tbl} AS SELECT * FROM '{path}'")
    order = list(QUERIES)
    random.Random(seed).shuffle(order)
    expected = {}
    for name in order:
        rel = con.sql(oracles[name])
        expected[name] = rows_key(list(rel.columns), rel.fetchall())
        spark.catalog.clearCache()
        df = fns[name](spark, data_dir)
        tally.add(rows_key(df.columns, [tuple(r) for r in df.collect()]) == expected[name],
                  f"{name}: result differs from its oracle (warm-up)")
    setup_s = time.monotonic() - t0

    recs: dict[str, list[tuple]] = {n: [] for n in order}  # (build_s, action_s, build_jobs, action_jobs, cached)
    job_lo = spans.next_job_id(spark)
    t_end = time.monotonic() + seconds
    while True:
        for name in order:
            spark.catalog.clearCache()
            j0, t = spans.next_job_id(spark), time.perf_counter()
            df = fns[name](spark, data_dir)
            j1, t1 = spans.next_job_id(spark), time.perf_counter()
            rows = [tuple(r) for r in df.collect()]
            j2, t2 = spans.next_job_id(spark), time.perf_counter()
            recs[name].append((t1 - t, t2 - t1, j1 - j0, j2 - j1, _persisted(spark)))
            tally.add(rows_key(df.columns, rows) == expected[name], f"{name}: result differs from its oracle")
        if time.monotonic() >= t_end:
            break
    work = spans.spark_work(spark, job_lo, spans.next_job_id(spark))
    peak_mb = rss.stop()
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(60)

    walls = {n: median([b + a for b, a, *_ in r]) for n, r in recs.items()}
    flat = [x for r in recs.values() for x in r]
    stmts = len(flat)
    layers = {
        "ops.build_ms": median([x[0] for x in flat]) * 1000,
        "ops.build_jobs": sum(x[2] for x in flat) / stmts,
        "ops.action_ms": median([x[1] for x in flat]) * 1000,
        "ops.action_jobs": sum(x[3] for x in flat) / stmts,
        **{f"ops.{fam}_s": sum(w for n, w in walls.items() if QUERIES[n] == fam)
           for fam in ("dedup", "similarity", "text", "relational")},
        "ops.cache_entries_left": sum(x[4] for x in flat) / stmts,
        "spark.jobs_per_stmt": work["jobs"] / stmts,
        "spark.stages_per_stmt": work["stages"] / stmts,
        "spark.tasks_per_stmt": work["tasks"] / stmts,
        "spark.executor_run_ms": work["run_ms"] / stmts,
        "spark.executor_cpu_ms": work["cpu_ms"] / stmts,
        "spark.gc_ms": work["gc_ms"] / stmts,
        "spark.shuffle_write_bytes": work["shuffle_write_bytes"] / stmts,
        "spark.spill_bytes": work["spill_bytes"] / stmts,
    }
    e2e = {"setup_s": setup_s, "batch_wall_s": sum(walls.values()), "peak_rss_mb": peak_mb}
    return {"e2e": e2e, "layers": layers, "tally": tally, "samples": {"rounds": len(recs[order[0]]), "queries": stmts}}
