"""Smoke: every registered query runs at sf0.001 and returns a DataFrame
with a stable schema; every oracle is syntactically valid DuckDB SQL at the
same scale. (The full typed value comparison is tools/check.py / the
driver's CORRECTNESS gate — this is the cheap always-on net.)"""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entrymod

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


@pytest.fixture(scope="module")
def qs():
    return entrymod.queries()


@pytest.fixture(scope="module")
def oracles():
    return entrymod.oracle_sql()


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


@pytest.fixture(scope="module")
def spark_dfs(spark, sf_dir, qs):
    """Build each query's DataFrame once (some queries construct storage
    tables at call time — don't pay that twice)."""
    out, errors = {}, {}
    for name, fn in qs.items():
        try:
            out[name] = fn(spark, sf_dir)
        except Exception as e:  # noqa: BLE001
            errors[name] = str(e)
    return out, errors


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.columns and df.count() >= 0


def test_every_query_runs(spark_dfs):
    dfs, errors = spark_dfs
    failures = [f"{n}: {e}" for n, e in errors.items()]
    for name, df in dfs.items():
        try:
            assert df.columns
            df.limit(1).collect()
        except Exception as e:  # noqa: BLE001
            failures.append(f"{name}: {e}")
    assert not failures, "\n".join(failures)


def test_every_oracle_parses(duck, oracles):
    failures = []
    for name, sql in oracles.items():
        try:
            duck.execute(f"SELECT * FROM ({sql}) LIMIT 1")
        except Exception as e:  # noqa: BLE001
            failures.append(f"{name}: {e}")
    assert not failures, "\n".join(failures)


def test_columns_match_oracle(spark_dfs, oracles, duck):
    """Column-name parity — the driver sorts columns by name before hashing,
    so a name mismatch is an automatic driver failure."""
    dfs, _ = spark_dfs
    failures = []
    for name, sql in oracles.items():
        if name not in dfs:
            continue
        try:
            ocols = [d[0] for d in duck.execute(f"SELECT * FROM ({sql}) LIMIT 0").description]
            scols = dfs[name].columns
            if sorted(scols) != sorted(ocols):
                failures.append(f"{name}: spark={sorted(scols)} oracle={sorted(ocols)}")
        except Exception as e:  # noqa: BLE001
            failures.append(f"{name}: {e}")
    assert not failures, "\n".join(failures)


def test_no_plan_antipatterns(spark_dfs):
    """Scale-discipline sweep over EVERY registered query's physical plan:
    no row-at-a-time Python UDFs (BatchEvalPython — Arrow paths only), no
    CartesianProduct, and no BroadcastNestedLoopJoin outside the queries
    where a TINY broadcast side makes it the intended plan: the
    scalar-threshold joins (non-equi against a 1-row aggregate — the PG
    scalar-subquery shape)."""
    ALLOWED_TINY_BROADCAST = {
        "q22_sales_opportunity",
        "q11_important_stock",
        "q16_supplier_relationship",
        "q_bm25_rank",
        # funnel: three 1-row stage-count aggregates cross-joined onto
        # the 1-row n_users aggregate (the scalar-subquery shape)
        "q_funnel_analysis",
        # bloom decontamination: the 1-row fixed-size filter broadcasts
        # onto the corpus for the map-side might_contain probe
        "q_decontamination_bloom",
        # unigram LM: the 1-row corpus-total scalar broadcasts onto the
        # vocab (review r12 — replaced the unpartitioned window that
        # funneled the whole vocab through one task)
        "q_unigram_logprob",
        # bigram LM: the 1-row distinct-vocab scalar broadcasts onto the
        # scored bigrams for the add-one smoothing denominator
        "q_bigram_perplexity_filter",
        # leakage split: the 1-row leak-count aggregate cross-joins onto
        # the 3-row per-split summary (the scalar-subquery shape)
        "q_leakage_safe_split",
    }
    dfs, errors = spark_dfs
    bad = [f"{n}: build error {e}" for n, e in errors.items()]
    for name, df in dfs.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        if "BatchEvalPython" in plan:
            bad.append(f"{name}: row-at-a-time Python UDF in plan")
        if "CartesianProduct" in plan:
            bad.append(f"{name}: CartesianProduct in plan")
        if "BroadcastNestedLoopJoin" in plan and name not in ALLOWED_TINY_BROADCAST:
            bad.append(f"{name}: unexpected BroadcastNestedLoopJoin")
    assert not bad, "\n".join(bad)


def test_priority_window_is_exactly_the_driver_gate(qs):
    """The driver certifies the FIRST 50 registry entries. PRIORITY must
    stay exactly 50 resolvable names so every slot of that window is a
    deliberately-chosen high-risk query — a silent shrink (typo, renamed
    query) would hand window slots back to registration order."""
    from timefusion_spark.registry import PRIORITY

    assert len(PRIORITY) == 50
    assert len(set(PRIORITY)) == 50
    missing = [n for n in PRIORITY if n not in qs]
    assert not missing, f"PRIORITY names not in registry: {missing}"
    assert list(qs)[:50] == list(PRIORITY)
