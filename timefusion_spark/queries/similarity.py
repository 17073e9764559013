"""Similarity-search queries over `embeddings` (LLM-pipeline surface).

Cosine math is a sequential double-precision fold in both engines
(Spark F.aggregate left fold ≡ DuckDB list_inner_product), so values
match bit-for-bit before the display rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from timefusion_spark.operators import similarity as sim
from timefusion_spark.queries._tables import t
from timefusion_spark.registry import query

_COS = (
    "list_inner_product({a}::DOUBLE[], {b}::DOUBLE[]) / "
    "(sqrt(list_inner_product({a}::DOUBLE[], {a}::DOUBLE[])) * "
    "sqrt(list_inner_product({b}::DOUBLE[], {b}::DOUBLE[])))"
)


def _query_vec(spark: SparkSession, sf_dir: str, vec_id: int = 0) -> list[float]:
    row = (
        t(spark, sf_dir, "embeddings").where(F.col("vec_id") == vec_id).select("embedding").first()
    )
    return list(row[0])


def _fixed_cents(
    spark: SparkSession, sf_dir: str, lo: int = 1, hi: int = 16
) -> list[tuple[int, list[float]]]:
    """The frozen coarse quantizer: embeddings lo..hi collected as
    (cid, vector). ONE definition — four queries and the persisted-index
    builder share this quantizer with their oracles' `cent` CTE, and four
    pasted copies had started to be the drift surface (review r13; the
    bounded collect is k rows, the sanctioned codebook class)."""
    return [
        (int(r[0]), list(r[1]))
        for r in t(spark, sf_dir, "embeddings")
        .where(F.col("vec_id").between(lo, hi))
        .select("vec_id", "embedding")
        .collect()
    ]


def _exact_l2_rerank(e: DataFrame, shortlist: DataFrame, qv: list[float]) -> DataFrame:
    """Exact-L2 re-rank (in the ORIGINAL space) of an ADC top-100
    shortlist — the shared tail of all four PQ-family queries (review
    r13: four verbatim copies of contract-bearing code; the r12
    raw-vs-rounded fix had to be applied to each). Orders by the RAW
    distance, rounds only for display — the oracle orders by raw l2, so
    a rounded near-tie could pick a different row than the true NN
    (review r12)."""
    ql = F.array(*[F.lit(float(v)) for v in qv])
    l2 = F.aggregate(
        F.zip_with(
            F.col("embedding").cast("array<double>"), ql, lambda x, y: (x - y) * (x - y)
        ),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    # n_shortlist is COUNTED from the shortlist, not a literal: the oracle
    # pins 100, so an ADC path that truncated the shortlist (yet happened
    # to keep the true NN) hash-mismatches instead of passing (review
    # r13). The unpartitioned window runs over the bounded k-row
    # shortlist only — a single 100-row task, not a corpus-wide exchange.
    sl = shortlist.select("vec_id").withColumn(
        "n_shortlist", F.count("*").over(Window.partitionBy())
    )
    return (
        e.join(sl, "vec_id")
        .select("vec_id", l2.alias("_l2"), "n_shortlist")
        .orderBy("_l2", "vec_id")
        .limit(1)
        .select("vec_id", F.round("_l2", 4).alias("l2_dist"), "n_shortlist")
    )


# the PQ-family oracled contract, shared by all four ADC queries: the
# exact-L2 re-rank of the top-100 shortlist must return the true
# brute-force nearest neighbor with its exact distance (ORDER BY binds
# to the unshadowed raw `l2`, not the rounded display alias)
_ADC_RERANK_ORACLE = """
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id, ROUND(l2, 4) AS l2_dist, CAST(100 AS BIGINT) AS n_shortlist
    FROM (
        SELECT e.vec_id,
               list_sum(list_transform(range(1, len(e.embedding) + 1),
                   d -> (e.embedding[d]::DOUBLE - q.qv[d]::DOUBLE)
                      * (e.embedding[d]::DOUBLE - q.qv[d]::DOUBLE))) AS l2
        FROM embeddings e, q
        WHERE e.vec_id <> 0
    ) x
    ORDER BY l2 ASC, vec_id
    LIMIT 1
    """


def _ivf_fixed_oracle(extra_col: str = "") -> str:
    """The fixed-quantizer IVF oracle shared by the flat / partitioned /
    streaming / append queries: centroids = embeddings 1..16, closed-form
    L2-argmin assignment, top-4 probed cells, raw-cosine top-10
    (review r13: the ~30-line CTE prefix was pasted verbatim four times).
    `extra_col` appends a per-query tag column to the SELECT tail."""
    return f"""
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    cent AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
        FROM embeddings WHERE vec_id BETWEEN 1 AND 16
    ),
    assigned AS (
        SELECT vec_id, embedding FROM (
            SELECT e.vec_id, e.embedding, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                       list_inner_product(c.cv, c.cv)
                       - 2 * list_inner_product(e.embedding::DOUBLE[], c.cv) ASC,
                       c.cid ASC) AS rn
            FROM embeddings e CROSS JOIN cent c
            WHERE e.vec_id <> 0
        ) WHERE rn = 1 AND cid IN (
            SELECT cid FROM (
                SELECT c.cid FROM cent c, q
                ORDER BY list_inner_product(c.cv, c.cv)
                         - 2 * list_inner_product(q.qv, c.cv) ASC, c.cid ASC
                LIMIT 4
            )
        )
    )
    SELECT vec_id, ROUND(cos_raw, 4) AS cos_sim{extra_col}
    FROM (
        SELECT a.vec_id, {_COS.format(a='a.embedding', b='q.qv')} AS cos_raw
        FROM assigned a, q
        ORDER BY cos_raw DESC, a.vec_id
        LIMIT 10
    )
    """


@query(
    "q_ann_bruteforce_topk",
    # ORDER BY + LIMIT live INSIDE the subquery over the RAW cosine: a
    # bare `ORDER BY cos_sim` outside would bind to the ROUND(...) output
    # alias (DuckDB alias shadowing) and a 4dp near-tie at the top-10
    # boundary could admit a different row than the Spark side, which
    # orders by the raw value (review r13 — the same raw-vs-rounded class
    # r12 fixed in the L2 queries)
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id, ROUND(cos_raw, 4) AS cos_sim
    FROM (
        SELECT e.vec_id, {_COS.format(a='e.embedding', b='q.qv')} AS cos_raw
        FROM embeddings e, q
        WHERE e.vec_id <> 0
        ORDER BY cos_raw DESC, e.vec_id
        LIMIT 10
    ) x
    """,
    doc="Brute-force cosine top-k (exact-recall ANN baseline): per-row "
    "fold + TakeOrderedAndProject — linear scan, no shuffle.",
)
def q_ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings").where(F.col("vec_id") != 0)
    qv = _query_vec(spark, sf_dir, 0)
    top = sim.knn_brute_force(e, qv, k=10)
    return top.select("vec_id", F.round("cos_sim", 4).alias("cos_sim"))


# ONE definition of the sign-LSH bucket rule (seeds + the (seed*d)%97<48
# weight scheme) — it must stay bit-identical to operators/similarity
# SIGN_LSH_SEEDS, and three drifting copies once lived here (review r13)
_BUCKET_OF = """
        CAST(list_sum(list_transform(range(0, 6), i ->
            CASE WHEN list_sum(list_transform(range(1, len({v})+1), d ->
                     {v}[d]::DOUBLE *
                     (CASE WHEN (([7368787,29986577,71316922,48610247,93310753,15485863][i+1]::BIGINT * d) % 97) < 48
                           THEN 1.0 ELSE -1.0 END))) > 0
                 THEN (1::BIGINT << i) ELSE 0::BIGINT END)) AS BIGINT)
"""

_BUCKET = _BUCKET_OF.format(v="embedding")


@query(
    "q_knn_per_label",
    oracle=f"""
    WITH bk AS (
        SELECT vec_id, label, embedding, {_BUCKET} AS bucket FROM embeddings
    )
    SELECT id_a, id_b, ROUND(cos_sim, 4) AS cos_sim
    FROM (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               {_COS.format(a='a.embedding', b='b.embedding')} AS cos_sim,
               ROW_NUMBER() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY {_COS.format(a='a.embedding', b='b.embedding')} DESC, b.vec_id) AS rn
        FROM bk a
        JOIN bk b ON a.label = b.label AND a.vec_id <> b.vec_id
                 AND bit_count(xor(a.bucket, b.bucket)) <= 1
    ) x
    WHERE rn = 1
    ORDER BY id_a
    """,
    doc="Top-1 neighbor per vector among candidates sharing (label, sign-LSH "
    "bucket) up to hamming 1 — multi-probe ANN. The Spark plan is an "
    "equi-join on probe keys (no all-pairs block join); the oracle states "
    "the identical candidate rule symmetrically (bucket hamming ≤ 1).",
)
def q_knn_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    nn = sim.nearest_neighbor_per_row(e, block_col="label", n_planes=6, multi_probe=True)
    return nn.select("id_a", "id_b", F.round("cos_sim", 4).alias("cos_sim")).orderBy("id_a")


@query(
    "q_lsh_bucket_histogram",
    oracle=f"""
    WITH b AS (
        SELECT vec_id, {_BUCKET} AS bucket
        FROM embeddings
    )
    SELECT bucket, COUNT(*) AS n
    FROM b GROUP BY bucket ORDER BY bucket
    """,
    doc="Sign-LSH bucketing histogram — the candidate-generation layer of "
    "the scale-path ANN (bucket id is per-row arithmetic; buckets are "
    "the shuffle/partition key).",
)
def q_lsh_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    return (
        e.select(sim.sign_lsh_bucket(F.col("embedding"), 6).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("bucket")
    )


@query(
    "q_dedup_embedding_cosine",
    oracle=f"""
    WITH base AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 200
        UNION ALL
        SELECT vec_id + 10000 AS vec_id,
               list_transform(embedding::DOUBLE[], x -> x * 1.5) AS v
        FROM embeddings WHERE vec_id < 200 AND vec_id % 2 = 0
    ), bk AS (
        SELECT vec_id, v, {_BUCKET_OF.format(v='v')} AS bucket FROM base
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_inner_product(a.v, b.v) /
                 (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))), 4) AS cos_sim
    FROM bk a JOIN bk b
      ON a.vec_id < b.vec_id AND bit_count(xor(a.bucket, b.bucket)) <= 1
    WHERE list_inner_product(a.v, b.v) /
          (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))) >= 0.999
    ORDER BY id_a
    """,
    doc="Embedding-cosine near-duplicate pairs: sign-LSH bucket candidates "
    "(hamming ≤ 1, equi-join on probe keys — never all-pairs) + exact "
    "cosine verify ≥0.999. Planted duplicates (positively scaled copies) "
    "share buckets by construction, so recall is exact and the oracle "
    "states the identical candidate rule.",
)
def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 200)
    dup = e.where(F.col("vec_id") % 2 == 0).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x.cast("double") * F.lit(1.5)).alias(
            "embedding"
        ),
        "label",
    )
    base = e.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("embedding"),
        "label",
    ).unionByName(dup)
    # persisted: the self-join consumes `staged` on BOTH sides and
    # Catalyst does not dedupe common subplans — unpersisted, the 6-plane
    # bucket fold and the union run twice (the module-wide r11 idiom;
    # review r13 found this site missed it)
    staged = base.select(
        "vec_id", "embedding", sim.sign_lsh_bucket(F.col("embedding"), 6).alias("_bucket")
    ).persist()
    probes = staged.withColumn(
        "_probe",
        F.explode(
            F.array(
                F.col("_bucket"),
                *[F.col("_bucket").bitwiseXOR(F.lit(1 << i)) for i in range(6)],
            )
        ),
    ).alias("a")
    b = staged.alias("b")
    pairs = (
        probes.join(
            b,
            (F.col("a._probe") == F.col("b._bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            sim.cosine(F.col("a.embedding"), F.col("b.embedding")).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= 0.999)
    )
    return pairs.select("id_a", "id_b", F.round("cos_sim", 4).alias("cos_sim")).orderBy(
        "id_a"
    )


@query(
    "q_ann_ivf_topk",
    # raw-cosine ordering inside the subquery — see q_ann_bruteforce_topk
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id, ROUND(cos_raw, 4) AS cos_sim, CAST(10 AS BIGINT) AS n_candidates
    FROM (
        SELECT e.vec_id, {_COS.format(a='e.embedding', b='q.qv')} AS cos_raw
        FROM embeddings e, q
        WHERE e.vec_id <> 0
        ORDER BY cos_raw DESC, e.vec_id
        LIMIT 1
    ) x
    """,
    doc="IVF approximate nearest neighbor: k-means coarse cells (MLlib, "
    "fixed seed), probe the 6 nearest cells, brute-force cosine inside — "
    "the data-adaptive counterpart of the sign-LSH bucket path. k-means "
    "is iterative (non-SQL-expressible), so the oracled contract is the "
    "RECALL BOUND: the IVF top-10 must contain the exact brute-force "
    "top-1 (returned with its exact cosine) and yield exactly k "
    "candidates — if a probe misses the true nearest cell, the row "
    "vanishes and the gate fails. Exact-result parity for the fixed-"
    "quantizer variant is q_ann_ivf_flat; raw k-means output recall is "
    "additionally pinned in tests/test_similarity_ivf.py.",
)
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings").where(F.col("vec_id") != 0)
    qv = _query_vec(spark, sf_dir, 0)
    # fit is the deterministic joint-Lloyd path now (no repartition(1)
    # pin — the old MLlib k-means needed one for init determinism and it
    # serialized the fit)
    # k rows; checkpointed because BOTH consumers below (semi-join +
    # candidate count) would otherwise re-run the fit/assign/probe plan
    approx = sim.knn_ivf(e, qv, k=10, n_probe=6, n_cells=16).localCheckpoint(eager=True)
    exact1 = sim.knn_brute_force(e, qv, k=1)
    n_cand = approx.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
    out = (
        exact1.join(approx.select("vec_id"), "vec_id", "leftsemi")
        .select("vec_id", F.round("cos_sim", 4).alias("cos_sim"))
        .crossJoin(n_cand)
    )
    return out.localCheckpoint(eager=True)


@query(
    "q_ann_pq_adc",
    oracle=_ADC_RERANK_ORACLE,
    doc="Product quantization + ADC (Jégou et al. 2011), the "
    "billion-vector ANN memory shape: 16 subspace codebooks of 32 "
    "centroids (deterministic sampled k-means fits), map-side PQ "
    "encoding of the corpus, then an ASYMMETRIC-distance scan — the "
    "query's m×ksub distance table ships as plan literals and each row "
    "costs m table lookups over its code array (d-float vectors never "
    "enter the scan). Oracled contract: the exact-L2 re-rank of the "
    "ADC top-100 shortlist must return the true brute-force nearest "
    "neighbor with its exact distance — if quantization distortion "
    "pushes the true NN out of the shortlist, the row vanishes and the "
    "gate fails. (IVF cell pruning composes orthogonally — this query "
    "isolates the PQ/ADC stage.)",
)
def q_ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings").where(F.col("vec_id") != 0)
    qv = _query_vec(spark, sf_dir, 0)
    # joint-Lloyd fit: seeded hash-distinct init and argmin assignment are
    # fully deterministic; centroid means carry only float-summation-order
    # jitter, which the recall-bound gate absorbs (no repartition(1) pin —
    # the old per-subspace MLlib loop needed one, and it serialized the fit)
    books = sim.pq_fit(e, m=16, ksub=32)
    # the codes table is the PERSISTED 100-TB artifact (encode once, scan
    # codes forever); the checkpoint stands in for that stored table — and
    # is load-bearing: without a barrier, CollapseProject inlines the full
    # m·ksub-argmin codes expression into the ADC aggregate's lambda, which
    # re-evaluates its body once per aggregate STEP (m× the encode work)
    # narrow to (id, codes) BEFORE the checkpoint — the persisted artifact
    # is the m-byte codes, not the d-float vectors it compresses (review
    # r13: the unprojected checkpoint was materializing every raw vector)
    # prune to (id, vector) BEFORE the Arrow encode kernel: mapInPandas is
    # opaque to Catalyst's column pruning, so un-selected columns (label)
    # would cross the Python boundary both ways for nothing (guide §4.1)
    enc = (
        sim.pq_encode(e.select("vec_id", "embedding"), books)
        .select("vec_id", "_codes")
        .localCheckpoint(eager=True)
    )
    shortlist = sim.pq_adc_topk(enc, books, qv, k=100)
    return _exact_l2_rerank(e, shortlist, qv).localCheckpoint(eager=True)


def _ivf_index_table(spark: SparkSession, sf_dir: str):
    """The IVF index PERSISTED as a storage table PARTITIONED BY cell —
    the on-disk shape a 100-TB deployment wants: a probe-limited search
    prunes to n_probe/n_cells of the FILES before any byte is read
    (directory-level partition pruning, not a post-scan filter). Built
    once per corpus under the content-keyed cache; the fixed coarse
    quantizer (embeddings 1..16, the q_ann_ivf_flat closed form) keeps
    the oracle exact."""
    from timefusion_spark.queries._tables import cached_storage_table
    from timefusion_spark.storage.schema import FieldDef, TableSchema

    def schema():
        return TableSchema(
            table_name="ivf_index_cellpart",
            fields=[
                FieldDef("vec_id", "Int64", False),
                FieldDef("embedding", "List(Float64)", False),
                FieldDef("cell", "Int32", False),
            ],
            partitions=["cell"],
            time_column="vec_id",
        )

    def build():
        cents = _fixed_cents(spark, sf_dir)
        return (
            t(spark, sf_dir, "embeddings")
            .where(F.col("vec_id") != 0)
            .select(
                "vec_id",
                F.col("embedding").cast("array<double>").alias("embedding"),
                sim.l2_cell_expr(cents, "embedding").cast("int").alias("cell"),
            )
        )

    return cached_storage_table(
        spark, sf_dir, "ivf_index_cellpart", "fixed16-v1", schema, build
    )


@query(
    "q_ann_ivf_partitioned",
    oracle=_ivf_fixed_oracle(),
    doc="IVF search over the PARTITION-PRUNED persisted index: the "
    "(vec_id, embedding) table is stored PARTITIONED BY cell (one "
    "directory per coarse cell — the assignment cost was paid once at "
    "index build), so probing 4 of 16 cells prunes 12/16 of the FILES at "
    "planning time via directory-level partition pruning; a post-scan "
    "filter would read every byte and discard 75% of it. This is the "
    "on-disk layout that makes IVF probe cost proportional to n_probe/"
    "n_cells at 100 TB. The pruning (inputFiles only from probed cell= "
    "dirs) is plan-pinned in tests; answers are the q_ann_ivf_flat "
    "closed form, oracle-exact.",
)
def q_ann_ivf_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    tbl = _ivf_index_table(spark, sf_dir)
    idx = tbl.read()
    qv = _query_vec(spark, sf_dir, 0)
    cents = _fixed_cents(spark, sf_dir)
    top = sim.knn_ivf_indexed(idx, cents, qv, k=10, n_probe=4, cell_col="cell")
    return top.select("vec_id", F.round("cos_sim", 4).alias("cos_sim"))


@query(
    "q_ann_ivf_streaming",
    oracle=_ivf_fixed_oracle(
        ",\n           CASE WHEN vec_id > 300 THEN 'wave2' ELSE 'wave1' END AS wave"
    ),
    doc="IVF index maintained UNDER STREAMING INGEST: cell assignment "
    "against the frozen coarse quantizer rides the ingest stream as a "
    "pure expression column, so every micro-batch lands already "
    "partitioned into its cell directory through the real checkpointed "
    "write path — the index is never rebuilt, and a second stream run "
    "over the same checkpoint indexes ONLY the newly arrived files "
    "(in-query raises pin the incremental row counts). Search probes the "
    "cell-partitioned table exactly like q_ann_ivf_partitioned. The "
    "oracle is the from-scratch build the streamed index must equal, "
    "with each hit tagged by its arrival wave.",
)
def q_ann_ivf_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from timefusion_spark.queries._tables import _require, await_settled
    from timefusion_spark.storage import Table
    from timefusion_spark.storage.schema import FieldDef, TableSchema
    from timefusion_spark.storage.streaming import ingest_stream

    e = t(spark, sf_dir, "embeddings").where(F.col("vec_id") != 0)
    qv = _query_vec(spark, sf_dir, 0)
    cents = _fixed_cents(spark, sf_dir)
    schema = TableSchema(
        table_name="ivf_stream_idx",
        fields=[
            FieldDef("vec_id", "Int64", False),
            FieldDef("embedding", "List(Float64)", False),
            FieldDef("cell", "Int32", False),
        ],
        partitions=["cell"],
        time_column="vec_id",
    )
    base_dir = tempfile.mkdtemp(prefix="tf_ivf_stream_")
    tbl = Table.create(spark, schema, os.path.join(base_dir, "t"))
    try:
        src = os.path.join(base_dir, "src")
        ckpt = os.path.join(base_dir, "ckpt")
        src_schema = "vec_id bigint, embedding array<double>"

        def _run_wave(df) -> None:
            df.select("vec_id", F.col("embedding").cast("array<double>")).coalesce(
                1
            ).write.mode("append").json(src)
            stream = (
                spark.readStream.schema(src_schema)
                .json(src)
                .withColumn(
                    "cell", sim.l2_cell_expr(cents, "embedding").cast("int")
                )
            )
            await_settled(
                ingest_stream(tbl, stream, ckpt), 300, "q_ann_ivf_streaming"
            )

        wave1 = e.where(F.col("vec_id") <= 300)
        wave2 = e.where(F.col("vec_id") > 300)
        n1, n2 = wave1.count(), wave2.count()
        _run_wave(wave1)
        _require(tbl.read_raw().count() == n1)
        # the second run resumes from the checkpoint: ONLY wave2's files
        # are read and indexed — incremental maintenance, no rebuild
        _run_wave(wave2)
        _require(tbl.read_raw().count() == n1 + n2)
        top = sim.knn_ivf_indexed(
            tbl.read(), cents, qv, k=10, n_probe=4, cell_col="cell"
        )
        out = top.select(
            "vec_id",
            F.round("cos_sim", 4).alias("cos_sim"),
            F.when(F.col("vec_id") > 300, F.lit("wave2"))
            .otherwise(F.lit("wave1"))
            .alias("wave"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)


@query(
    "q_ann_ivf_append",
    oracle=_ivf_fixed_oracle(
        ",\n           CASE WHEN vec_id > 400 THEN 'appended' ELSE 'base' END AS generation"
    ),
    doc="Incremental IVF index maintenance — the FAISS add-after-train "
    "lifecycle (IndexIVF::add): the base corpus is assigned to a frozen "
    "16-cell coarse quantizer and PERSISTED as the (id, cell, vec) index "
    "artifact (the checkpoint stands in for the stored table); a later "
    "batch of new vectors is appended by assigning ONLY the new rows "
    "against the same frozen centroids — one map-only pass over the "
    "batch, the existing index is never rescanned or refitted. Search "
    "probes the top-4 cells over the combined index and tags each hit "
    "with its generation, proving appended rows are immediately "
    "searchable and ranked identically to base rows (assignment is a "
    "pure function of the frozen quantizer, so the incremental index is "
    "bit-identical to a from-scratch build — the SQL oracle IS that "
    "from-scratch build).",
)
def q_ann_ivf_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings").where(F.col("vec_id") != 0)
    qv = _query_vec(spark, sf_dir, 0)
    cents = _fixed_cents(spark, sf_dir)
    base = e.where(F.col("vec_id") <= 400)
    new = e.where(F.col("vec_id") > 400)
    # the persisted index artifact: assignment cost paid once at ingest
    idx_base = base.withColumn(
        "_cell", sim.l2_cell_expr(cents, "embedding")
    ).localCheckpoint(eager=True)
    idx = sim.ivf_append(idx_base, new, cents)
    top = sim.knn_ivf_indexed(idx, cents, qv, k=10, n_probe=4)
    return top.select(
        "vec_id",
        F.round("cos_sim", 4).alias("cos_sim"),
        F.when(F.col("vec_id") > 400, F.lit("appended"))
        .otherwise(F.lit("base"))
        .alias("generation"),
    )


@query(
    "q_ann_opq_adc",
    oracle=_ADC_RERANK_ORACLE,
    doc="OPQ + ADC (Ge et al. CVPR 2013 non-parametric OPQ — the FAISS "
    "OPQMatrix pre-transform): a learned ORTHOGONAL rotation R aligns "
    "the subspace split with the data's principal structure before "
    "product quantization, provably never increasing and typically much "
    "reducing quantization error vs axis-aligned PQ (monotone "
    "alternating minimization: PQ-fit on X·R\u1d40, reconstruct, "
    "orthogonal-Procrustes SVD update of R). The fit is sample-bounded "
    "driver numpy (the FAISS discipline); corpus rotation is MAP-ONLY "
    "(vectorized numpy V·R\u1d40 over Arrow batches), encode and the "
    "asymmetric-distance scan reuse the plain-PQ machinery over the "
    "rotated space, and because R is orthogonal, ADC distances estimate "
    "true L2 exactly as in plain PQ. Oracled contract: the exact-L2 "
    "re-rank (in the ORIGINAL space) of the OPQ-ADC top-100 shortlist "
    "must return the true brute-force nearest neighbor with its exact "
    "distance.",
)
def q_ann_opq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings").where(F.col("vec_id") != 0)
    qv = _query_vec(spark, sf_dir, 0)
    R, books = sim.opq_fit(e, m=16, ksub=32)
    # rotation + encode FUSED into one Arrow batch kernel (a single map
    # pass from raw vectors to m-byte codes); the (id, codes) table is
    # the persisted 100-TB artifact (the checkpoint stands in for it and
    # is the CollapseProject barrier — see q_ann_pq_adc)
    # prune to (id, vector) before the fused Arrow kernel — see q_ann_pq_adc
    enc = (
        sim.opq_encode(e.select("vec_id", "embedding"), R, books)
        .select("vec_id", "_codes")
        .localCheckpoint(eager=True)
    )
    shortlist = sim.pq_adc_topk(enc, books, sim.rotate_vec(qv, R), k=100)
    return _exact_l2_rerank(e, shortlist, qv).localCheckpoint(eager=True)


@query(
    "q_ann_ivfpq",
    oracle=_ADC_RERANK_ORACLE,
    doc="IVF-PQ composed (Jégou et al. 2011 IndexIVFPQ — the "
    "billion-vector ANN shape FAISS ships): 16 coarse cells prune the "
    "scan to 8 probed cells, PQ codebooks over the RESIDUALS "
    "v−centroid(cell) compress what remains (residuals concentrate near "
    "zero, so the same codebook budget quantizes them far better than "
    "raw vectors), and the ADC lookup table is computed per probed cell "
    "(the query residual differs by cell) — hoisted as one literal "
    "column with a probe-index CASE. The search scan reads (cell, codes) "
    "only. Oracled contract: the exact-L2 re-rank of the composed "
    "top-100 shortlist must return the true brute-force nearest "
    "neighbor with its exact distance.",
)
def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings").where(F.col("vec_id") != 0)
    qv = _query_vec(spark, sf_dir, 0)
    cells, books = sim.ivfpq_fit(e, n_cells=16, m=16, ksub=32)
    # the (id, cell, codes) table is the persisted artifact at scale;
    # the checkpoint stands in for it (and is the CollapseProject barrier
    # — see q_ann_pq_adc)
    # narrow to (id, cell, codes) BEFORE the checkpoint — see q_ann_pq_adc
    # prune to (id, vector) before the encode — see q_ann_pq_adc
    enc = (
        sim.ivfpq_encode(e.select("vec_id", "embedding"), cells, books)
        .select("vec_id", "_cell", "_codes")
        .localCheckpoint(eager=True)
    )
    shortlist = sim.ivfpq_adc_topk(enc, cells, books, qv, k=100, n_probe=8)
    return _exact_l2_rerank(e, shortlist, qv).localCheckpoint(eager=True)


@query(
    "q_ann_ivfopq",
    oracle=_ADC_RERANK_ORACLE,
    doc="IVF-OPQ-PQ composed — the full FAISS index-factory recipe "
    "('OPQ16,IVF16,PQ16'): the OPQ rotation trains first (sample-bounded "
    "driver alternation against a plain-PQ objective — the OPQMatrix "
    "pre-transform discipline), the corpus rotates in one map-only Arrow "
    "pass, and the IVF-PQ index (coarse cells + residual codebooks + "
    "per-probed-cell ADC tables) fits, encodes and searches entirely in "
    "the ROTATED space; the query vector rotates driver-side. R is "
    "orthogonal, so rotated-space L2 IS original-space L2 and the "
    "composed ADC estimates true distances. Oracled contract: exact-L2 "
    "re-rank (in the ORIGINAL space) of the composed top-100 shortlist "
    "must return the true brute-force nearest neighbor.",
)
def q_ann_ivfopq(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings").where(F.col("vec_id") != 0)
    qv = _query_vec(spark, sf_dir, 0)
    R, _pq_books = sim.opq_fit(e, m=16, ksub=32)
    rot = sim.opq_rotate(e, R).select(
        "vec_id", F.col("_rot").alias("rotvec")
    )
    cells, books = sim.ivfpq_fit(rot, vec_col="rotvec", n_cells=16, m=16, ksub=32)
    enc = (
        sim.ivfpq_encode(rot, cells, books, vec_col="rotvec")
        .select("vec_id", "_cell", "_codes")
        .localCheckpoint(eager=True)
    )
    shortlist = sim.ivfpq_adc_topk(
        enc, cells, books, sim.rotate_vec(qv, R), k=100, n_probe=8
    )
    return _exact_l2_rerank(e, shortlist, qv).localCheckpoint(eager=True)


@query(
    "q_ann_ivf_flat",
    oracle=_ivf_fixed_oracle(),
    doc="IVF ANN with a FIXED deterministic coarse quantizer (centroids = "
    "vec_ids 1-16): map-only L2-argmin cell assignment (||c||² − 2⟨v,c⟩ — "
    "no sqrt/division, bit-identical across engines), probe the 4 nearest "
    "cells, brute-force cosine inside. The fully-oracle-checked twin of "
    "the k-means IVF path (q_ann_ivf_topk).",
)
def q_ann_ivf_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings").where(F.col("vec_id") != 0)
    cents = _fixed_cents(spark, sf_dir)
    qv = _query_vec(spark, sf_dir, 0)
    top = sim.knn_ivf_flat(e, cents, qv, k=10, n_probe=4)
    return top.select("vec_id", F.round("cos_sim", 4).alias("cos_sim"))


@query(
    "q_salted_agg",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
           COUNT(*) AS n
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="Skew-resilient salted two-stage aggregation (operators/skew.py): "
    "hot keys spread over 16 salt buckets in stage 1, partials merged in "
    "stage 2 — result provably identical to the direct groupBy (exact "
    "decimal sums make the equality independent of addition order).",
)
def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from timefusion_spark.operators.skew import salted_sum_count

    ev = t(spark, sf_dir, "events").withColumn(
        "value", F.col("value").cast("decimal(18,2)")
    )
    out = salted_sum_count(ev, ["event_type"], "value", F.col("user_id"), 16)
    return out.select(
        "event_type", F.col("total").cast("double").alias("total"), "n"
    ).orderBy("event_type")


@query(
    "q_embedding_stats",
    oracle="""
    SELECT label,
           COUNT(*) AS n,
           ROUND(AVG(sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 4) AS avg_norm
    FROM embeddings
    GROUP BY label
    ORDER BY label
    """,
    doc="Vector-column aggregate sanity: per-label counts and mean L2 norm.",
)
def q_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    return (
        e.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg(sim.norm(F.col("embedding"))), 4).alias("avg_norm"),
        )
        .orderBy("label")
    )


@query(
    "q_embedding_quantization",
    oracle="""
    WITH staged AS (
        SELECT label,
               embedding::DOUBLE[] AS v,
               greatest(list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127.0,
                        1e-30) AS scale
        FROM embeddings
    ), per_vec AS (
        SELECT label, scale,
               sqrt(list_sum(list_transform(v,
                   x -> pow(greatest(-127.0, least(127.0, round(x / scale))) * scale - x, 2))))
               / sqrt(list_inner_product(v, v)) AS rel_err
        FROM staged
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(scale), 6) AS avg_scale,
           ROUND(AVG(rel_err), 6) AS avg_rel_err,
           ROUND(MAX(rel_err), 6) AS max_rel_err
    FROM per_vec
    GROUP BY label
    ORDER BY label
    """,
    doc="Embedding scalar quantization audit (vector-pipeline op): "
    "per-vector symmetric int8 quantization (scale = max|x|/127, values "
    "rounded and clamped to [-127,127]) with the relative L2 "
    "reconstruction error aggregated per label — the compression/recall "
    "tradeoff stats a 100 TB embedding store is sized with. Map-only "
    "per-row arithmetic (scale staged so the division tree is evaluated "
    "once), then one hash aggregate.",
)
def q_embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    staged = e.select(
        "label",
        F.expr("transform(embedding, x -> cast(x AS double))").alias("v"),
    ).select(
        "label",
        "v",
        F.expr(
            "greatest(array_max(transform(v, x -> abs(x))) / 127.0D, 1e-30D)"
        ).alias("scale"),
    )
    per_vec = staged.select(
        "label",
        "scale",
        F.expr(
            "sqrt(aggregate(transform(v, "
            "x -> pow(greatest(-127.0D, least(127.0D, round(x / scale))) * scale - x, 2)), "
            "0.0D, (a, x) -> a + x)) / "
            "sqrt(aggregate(zip_with(v, v, (x, y) -> x * y), 0.0D, (a, x) -> a + x))"
        ).alias("rel_err"),
    )
    return (
        per_vec.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("scale"), 6).alias("avg_scale"),
            F.round(F.avg("rel_err"), 6).alias("avg_rel_err"),
            F.round(F.max("rel_err"), 6).alias("max_rel_err"),
        )
        .orderBy("label")
    )


@query(
    "q_ann_arrow_topk",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    scored AS (
        SELECT e.vec_id, {_COS.format(a='e.embedding', b='q.qv')} AS cos_sim
        FROM embeddings e, q
        WHERE e.vec_id <> 0
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rank,
           vec_id
    FROM scored
    ORDER BY cos_sim DESC, vec_id
    LIMIT 10
    """,
    doc="Ranked-id form of q_ann_bruteforce_topk: the same knn_brute_force "
    "cosine top-10, returned as (rank, vec_id). The contract is the "
    "RANKED ID LIST, so ids, not floats, are hash-compared. Kept under "
    "its name: it named a numpy/mapInPandas twin of knn_brute_force, "
    "deleted because it ran no faster than the per-row fold.",
)
def q_ann_arrow_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = t(spark, sf_dir, "embeddings").where(F.col("vec_id") != 0)
    qv = _query_vec(spark, sf_dir, 0)
    top = sim.knn_brute_force(e, qv, k=10)
    return top.select(
        F.row_number()
        .over(W.orderBy(F.col("cos_sim").desc(), F.col("vec_id")))
        .cast("bigint")
        .alias("rank"),
        "vec_id",
    )



_JL_ORACLE = """
    WITH pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               a.embedding::DOUBLE[] AS va, b.embedding::DOUBLE[] AS vb
        FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
        WHERE a.vec_id % 2 = 0 AND a.vec_id < 100
    ), proj AS (
        SELECT id_a, id_b, va, vb,
               list_transform(range(0, 16), k -> list_sum(list_transform(range(1, len(va) + 1),
                   d -> va[d] * (CASE WHEN (([1107677413, 924961777, 687995087, 421856029, 313514441, 198491317, 754298963, 587322721, 860837971, 239867209, 479001599, 663608941, 104395301, 566492537, 378551453, 941083981][k + 1]::BIGINT * d) % 97) < 48 THEN 1.0 ELSE -1.0 END)))) AS pa,
               list_transform(range(0, 16), k -> list_sum(list_transform(range(1, len(vb) + 1),
                   d -> vb[d] * (CASE WHEN (([1107677413, 924961777, 687995087, 421856029, 313514441, 198491317, 754298963, 587322721, 860837971, 239867209, 479001599, 663608941, 104395301, 566492537, 378551453, 941083981][k + 1]::BIGINT * d) % 97) < 48 THEN 1.0 ELSE -1.0 END)))) AS pb
        FROM pairs
    )
    SELECT id_a, id_b,
           ROUND(list_inner_product(va, vb) / (sqrt(list_inner_product(va, va)) * sqrt(list_inner_product(vb, vb))), 4) AS cos_orig,
           ROUND(list_inner_product(pa, pb) / (sqrt(list_inner_product(pa, pa)) * sqrt(list_inner_product(pb, pb))), 4) AS cos_proj
    FROM proj
    ORDER BY id_a
"""


@query(
    "q_jl_projection",
    oracle=_JL_ORACLE,
    doc="Johnson-Lindenstrauss random projection audit (vector-pipeline "
    "op): project 64-dim embeddings to 16 dims through deterministic "
    "\u00b11 planes (the shared portable weight scheme) and report original "
    "vs projected cosine for adjacent-id pairs \u2014 the distortion a "
    "narrow-space ANN candidate stage would see. Projection is map-only "
    "per-row arithmetic; both engines fold the same doubles in the same "
    "order, so even the projected cosines hash-match.",
)
def q_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    a = e.where((F.col("vec_id") % 2 == 0) & (F.col("vec_id") < 100)).select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("va")
    )
    b = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    pairs = a.join(b, F.col("id_b") == F.col("id_a") + 1).select(
        "id_a", "id_b", "va", "vb",
        sim.jl_project("va", 16).alias("pa"),
        sim.jl_project("vb", 16).alias("pb"),
    )
    return pairs.select(
        "id_a",
        "id_b",
        F.round(sim.cosine(F.col("va"), F.col("vb")), 4).alias("cos_orig"),
        F.round(sim.cosine(F.col("pa"), F.col("pb")), 4).alias("cos_proj"),
    ).orderBy("id_a")


@query(
    "q_semantic_dedup",
    oracle="""
    WITH unitv AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x ->
                   x / sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]))) AS v
        FROM embeddings
    ), base AS (
        SELECT vec_id, v FROM unitv
        UNION ALL
        SELECT vec_id + 10000 AS vec_id, v FROM unitv WHERE vec_id % 2 = 0
    ), cent AS (
        SELECT CAST(vec_id AS INT) AS cid, v AS cv FROM unitv WHERE vec_id BETWEEN 1 AND 16
    ), assigned AS (
        SELECT vec_id, v, cid AS cell FROM (
            SELECT b.vec_id, b.v, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY
                       list_inner_product(c.cv, c.cv)
                       - 2 * list_inner_product(b.v, c.cv) ASC,
                       c.cid ASC) AS rn
            FROM base b CROSS JOIN cent c
        ) WHERE rn = 1
    ), dups AS (
        SELECT DISTINCT b.vec_id
        FROM assigned a JOIN assigned b
          ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE list_inner_product(a.v, b.v) /
              (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v)))
              >= 0.999
    )
    SELECT s.vec_id, s.cell,
           s.vec_id NOT IN (SELECT vec_id FROM dups) AS kept
    FROM assigned s
    ORDER BY s.vec_id
    """,
    doc="SemDeDup-style semantic dedup (Abbas et al. 2023): unit-normalize, "
    "coarse-quantize into 16 fixed cells (closed-form L2 argmin — "
    "map-only), compare pairs ONLY within a cell, drop rows with a "
    "smaller-id same-cell neighbor at cosine ≥0.999. Planted duplicates "
    "(unit-normalized copies) share cells by construction. The within-"
    "cell self-join is the paper's Σ|cell|² candidate bound — never "
    "all-pairs.",
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    staged = e.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("_raw")
    ).select("vec_id", "_raw", sim.norm(F.col("_raw")).alias("_n"))
    unit = staged.select(
        "vec_id", F.transform("_raw", lambda x: x / F.col("_n")).alias("embedding")
    )
    planted = unit.where(F.col("vec_id") % 2 == 0).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
    )
    base = unit.unionByName(planted)
    # codebook as a frame: semantic_dedup collects it once into the
    # assignment kernel's broadcast matrix
    cents = unit.where(F.col("vec_id").between(1, 16)).select(
        F.col("vec_id").cast("int").alias("cid"), F.col("embedding").alias("cv")
    )
    out = sim.semantic_dedup(base, cents, threshold=0.999)
    return out.orderBy("vec_id")


@query(
    "q_ann_knn_join",
    oracle="""
    WITH staged AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), cent AS (
        SELECT CAST(vec_id AS INT) AS cid, v AS cv,
               list_inner_product(v, v) AS c2
        FROM staged WHERE vec_id BETWEEN 1 AND 64
    ), scored_cells AS (
        SELECT s.vec_id, s.v, c.cid,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id ORDER BY
                   c.c2 - 2 * list_inner_product(s.v, c.cv) ASC, c.cid ASC) AS rn
        FROM staged s CROSS JOIN cent c
    ), assigned AS (
        SELECT vec_id, v, cid AS cell FROM scored_cells WHERE rn = 1
    ), probes AS (
        SELECT vec_id, v, cid AS probe FROM scored_cells WHERE rn <= 4
    ), cand AS (
        SELECT p.vec_id AS a_id, b.vec_id AS b_id,
               list_inner_product(p.v, b.v) /
               (sqrt(list_inner_product(p.v, p.v)) * sqrt(list_inner_product(b.v, b.v)))
                   AS cos_raw
        FROM probes p JOIN assigned b
          ON b.cell = p.probe AND b.vec_id <> p.vec_id
    )
    SELECT a_id AS vec_id, b_id AS neighbor_id,
           ROUND(cos_raw, 4) AS cos_sim, CAST(rnk AS INT) AS rank
    FROM (
        SELECT a_id, b_id, cos_raw,
               ROW_NUMBER() OVER (PARTITION BY a_id
                   ORDER BY cos_raw DESC, b_id ASC) AS rnk
        FROM cand
    ) WHERE rnk <= 5
    ORDER BY vec_id, rank
    """,
    doc="IVF k-NN JOIN (operators/similarity.knn_join): top-5 cosine "
    "neighbors for EVERY vector, probing each row's 4 nearest of 64 "
    "fixed cells — the kNN-graph / hard-negative-mining shape. One "
    "shuffle (exploded probes ⋈ cell assignments), candidates bounded by "
    "probed-cell occupancy, per-query window top-k. The oracle replays "
    "the identical closed-form assignment + probe + rank pipeline.",
)
def q_ann_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    # codebook as a frame: knn_join collects it once into the assignment
    # kernel's broadcast matrix
    cents = e.where(F.col("vec_id").between(1, 64)).select(
        F.col("vec_id").cast("int").alias("cid"),
        F.col("embedding").cast("array<double>").alias("cv"),
    )
    out = sim.knn_join(e, cents, k=5, n_probe=4)
    return out.select(
        "vec_id", "neighbor_id", F.round("cos_sim", 4).alias("cos_sim"), "rank"
    ).orderBy("vec_id", "rank")


@query(
    "q_ann_knn_join_large",
    oracle="""
    WITH staged AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), cent AS (
        SELECT CAST(vec_id AS INT) AS cid, v AS cv
        FROM staged WHERE vec_id BETWEEN 1 AND 512
        UNION ALL
        SELECT CAST(vec_id + 512 AS INT) AS cid, list_transform(v, x -> -x) AS cv
        FROM staged WHERE vec_id BETWEEN 1 AND 512
    ), scored_cells AS (
        SELECT s.vec_id, s.v, c.cid,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id ORDER BY
                   list_inner_product(c.cv, c.cv)
                   - 2 * list_inner_product(s.v, c.cv) ASC, c.cid ASC) AS rn
        FROM staged s CROSS JOIN cent c
    ), assigned AS (
        SELECT vec_id, v, cid AS cell FROM scored_cells WHERE rn = 1
    ), probes AS (
        SELECT vec_id, v, cid AS probe FROM scored_cells WHERE rn <= 4
    ), cand AS (
        SELECT p.vec_id AS a_id, b.vec_id AS b_id,
               list_inner_product(p.v, b.v) /
               (sqrt(list_inner_product(p.v, p.v)) * sqrt(list_inner_product(b.v, b.v)))
                   AS cos_raw
        FROM probes p JOIN assigned b
          ON b.cell = p.probe AND b.vec_id <> p.vec_id
    )
    SELECT a_id AS vec_id, b_id AS neighbor_id,
           ROUND(cos_raw, 4) AS cos_sim, CAST(rnk AS INT) AS rank
    FROM (
        SELECT a_id, b_id, cos_raw,
               ROW_NUMBER() OVER (PARTITION BY a_id
                   ORDER BY cos_raw DESC, b_id ASC) AS rnk
        FROM cand
    ) WHERE rnk <= 5
    ORDER BY vec_id, rank
    """,
    doc="Cluster-scale IVF k-NN JOIN: a ~1024-cell codebook PERSISTED as a "
    "storage table under a content-keyed cache (built once per corpus, "
    "reused across invocations), loaded and shipped as a SparkContext "
    "broadcast variable into an Arrow/BLAS assignment kernel — one "
    "(batch × dim) @ (dim × k) float64 matmul per Arrow batch, map-only, "
    "the rows × k expansion never materializes. The SemDeDup-scale shape "
    "(the paper runs k=50k ≈ 25 MB — fine as a broadcast variable, fatal "
    "as a plan literal). Probe-join parallelism is O(k) tasks, so k≥1024 "
    "keeps a 1000-executor cluster busy where the 64-cell variant would "
    "cap at 64 tasks. Cells are data-derived closed-form (embeddings "
    "1..512 plus their negations) so the DuckDB oracle reproduces "
    "assignment, probing and ranking exactly; the TRAINED-codebook twin "
    "of this path (sampled k-means fit → persist → load) is pinned by "
    "tests/test_similarity_ivf.py.",
)
def q_ann_knn_join_large(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    cb = _codebook_table(spark, sf_dir)
    loaded = cb.read()  # load — not a driver list
    # The codebook lives under a content-keyed cache path (immutable for a
    # given corpus + spec), so its path is a sound memo key for the
    # collected broadcast — repeat invocations skip the collect job.
    out = sim.knn_join(e, loaded, k=5, n_probe=4, codebook_cache_key=cb.path)
    return out.select(
        "vec_id", "neighbor_id", F.round("cos_sim", 4).alias("cos_sim"), "rank"
    ).orderBy("vec_id", "rank")


def _codebook_table(spark: SparkSession, sf_dir: str):
    """Build-once codebook: persisted under a content-keyed cache path via
    cached_storage_table (VERDICT r6 ask #7 — the per-call create/append
    was ~1 s of pure setup inside the timed query)."""
    from timefusion_spark.queries._tables import cached_storage_table
    from timefusion_spark.storage.schema import FieldDef, TableSchema

    def schema():
        return TableSchema(
            table_name="ivf_codebook",
            fields=[
                FieldDef("cid", "Int32", False),
                FieldDef("cv", "List(Float64)", False),
            ],
            partitions=[],
            time_column="cid",
        )

    def build():
        # BETWEEN 1 AND 512, not <= 512: vec_id 0's negation would get cid
        # 0+512 = 512 and collide with the base centroid for vector 512
        # (two distinct centroids sharing one cell id).
        base = t(spark, sf_dir, "embeddings").where(
            F.col("vec_id").between(1, 512)
        ).select(
            F.col("vec_id").cast("int").alias("cid"),
            F.col("embedding").cast("array<double>").alias("cv"),
        )
        return base.unionByName(
            base.select(
                (F.col("cid") + 512).alias("cid"),
                F.transform("cv", lambda x: -x).alias("cv"),
            )
        )

    return cached_storage_table(
        spark, sf_dir, "ivf_codebook", "neg512-v2", schema, build
    )
