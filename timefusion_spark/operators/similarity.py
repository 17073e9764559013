"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the correctness baseline; the LSH-bucketed
variant (random-hyperplane sign buckets) is the scale path — candidate
generation shuffles on bucket keys only, so the pair space is
O(n·bucket_size), not O(n²).

Each operator has one implementation. Scoring a row against a fixed
query vector is per-row JVM array arithmetic (zip_with + aggregate in
double precision, sequential fold — deterministic and oracle-matchable).
Corpus-wide codebook work — PQ/OPQ encode, the OPQ rotation and IVF cell
assignment for k-NN joins and semantic dedup — runs as numpy BLAS batch
kernels over Arrow batches (mapInPandas, map-only, no shuffle); their
outputs are codes, rotations or cell ranks, never the reported scores.
"""

from __future__ import annotations

import threading
from collections import OrderedDict

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Deterministic random-hyperplane seeds for sign-LSH (generated once,
# fixed): each plane is derived per-dimension from a seed via the same
# portable polynomial scheme used in dedup.py.
SIGN_LSH_SEEDS = [7_368_787, 29_986_577, 71_316_922, 48_610_247, 93_310_753, 15_485_863]

# The distributed pq_fit Lloyd step unrolls the per-centroid dot product up
# to this subspace width; wider subspaces use the zip_with/aggregate fold
# instead (unrolled trees beat the interpreted fold per-row, but their
# Catalyst analysis cost grows with ksub·dsub and dominates at dsub ≈ 64).
_DOT_UNROLL_MAX = 8


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in double (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    # zero-norm guard: 0/0 yields NaN, which Spark ORDERS ABOVE every
    # real similarity (NaN-is-largest) — a single all-zero embedding
    # would occupy the top-k of every query, satisfy `>= threshold`
    # dedup predicates, and diverge from the numpy twin (argsort ranks
    # NaN LAST). A zero vector has no direction: similarity 0.0
    # (review r11).
    denom = norm(a) * norm(b)
    return F.when(denom == F.lit(0.0), F.lit(0.0)).otherwise(dot(a, b) / denom)


def knn_brute_force(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k rows by cosine to a fixed query vector.

    Plan shape: one scan → per-row cosine → TakeOrderedAndProject.
    No shuffle beyond the final top-k merge; scales linearly and is the
    exact-recall baseline for the IVF/LSH variants.
    """
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    return (
        df.select(F.col(id_col), cosine(F.col(vec_col), q).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def nearest_neighbor_per_row(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
    n_planes: int = 6,
    multi_probe: bool = True,
) -> DataFrame:
    """For every vector, its top-1 neighbor (cosine) among candidates that
    share its sign-LSH bucket up to hamming distance 1 (multi-probe), and
    its block column if given.

    Scale shape: the candidate join is an EQUI-join — each vector's probe
    keys (its own bucket + the n_planes single-bit flips) against every
    vector's bucket — so the pair space is O(n · bucket_occupancy ·
    (n_planes+1)), never the O(n²/|blocks|) of an all-pairs block join
    (a low-cardinality label block is quadratic at corpus scale). Rows
    with no candidate in any probed bucket are absent from the output
    (approximate-NN contract; raise n_planes/multi-probe for recall)."""
    from pyspark.sql import Window as W

    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        # Per-row norm computed ONCE here; the pair stage would otherwise
        # re-fold both vectors' norms for every candidate pair (3 array
        # folds per pair instead of 1).
        norm(F.col(vec_col)).alias("_n"),
        *([F.col(block_col).alias("_blk")] if block_col else []),
        sign_lsh_bucket(F.col(vec_col), n_planes).alias("_bucket"),
        # materialized once: both self-join sides derive from this frame
        # and Catalyst does not dedupe common subplans — unpersisted, the
        # n_planes-fold bucket computation ran twice (review r11; same
        # discipline as knn_join / semantic_dedup)
    ).persist()
    probe_keys = [F.col("_bucket")]
    if multi_probe:
        probe_keys += [F.col("_bucket").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)]
    a = base.withColumn("_probe", F.explode(F.array(*probe_keys))).alias("a")
    b = base.alias("b")
    cond = (F.col("a._probe") == F.col("b._bucket")) & (F.col("a._id") != F.col("b._id"))
    if block_col:
        cond = cond & (F.col("a._blk") == F.col("b._blk"))
    pairs = a.join(b, cond).select(
        F.col("a._id").alias("id_a"),
        F.col("b._id").alias("id_b"),
        F.when(
            (F.col("a._n") * F.col("b._n")) == F.lit(0.0), F.lit(0.0)
        ).otherwise(
            dot(F.col("a._v"), F.col("b._v")) / (F.col("a._n") * F.col("b._n"))
        ).alias("cos_sim"),
    )
    w = W.partitionBy("id_a").orderBy(F.col("cos_sim").desc(), F.col("id_b"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("id_a", "id_b", "cos_sim")
    )


def sign_lsh_bucket(vec: Column, n_planes: int = 6) -> Column:
    """Sign-LSH bucket id: bit i = sign(<v, plane_i>) where plane_i's
    component for dimension d is a deterministic pseudo-random ±1 weight
    derived from (seed_i, d). Bucket computation is per-row arithmetic.

    (Perf notes: shipping precomputed per-DIMENSION weights as array
    literals was tried and is a trap — `F.lit(list)` builds a per-row
    CreateArray of one node per element, ~7× slower than the inline
    modular arithmetic. The 6-element SEED array below is different: it
    constant-folds to one Literal. The plane loop is a nested fold over
    the plane index rather than n_planes unrolled projection trees —
    identical per-plane arithmetic, O(1) Catalyst tree size; plan
    analysis time, not execution, dominates these queries at bench
    scale.)"""
    idx = F.sequence(F.lit(0), F.size(vec) - 1)
    # planes past the base seed table derive DISTINCT seeds (base + a
    # large odd multiple of the wrap count): plain cycling made plane
    # i+6 identical to plane i, so every single-bit multi-probe key
    # violated the bit_i == bit_{i+6} invariant of real buckets and
    # multi-probe silently matched nothing for n_planes > 6 (review
    # r11). n_planes <= 6 is bit-for-bit unchanged.
    seeds = F.array(
        *[
            F.lit(
                SIGN_LSH_SEEDS[i % len(SIGN_LSH_SEEDS)]
                + 1_000_003 * (i // len(SIGN_LSH_SEEDS))
            ).cast("long")
            for i in range(n_planes)
        ]
    )

    def proj(i: Column) -> Column:
        # weight(d) = +1 if ((seed_i * (d+1)) mod 97) < 48 else -1
        seed = F.element_at(seeds, i.cast("int") + 1)
        return F.aggregate(
            F.zip_with(
                vec,
                idx,
                lambda x, d: x.cast("double")
                * F.when(((seed * (d.cast("long") + 1)) % 97) < 48, F.lit(1.0))
                .otherwise(F.lit(-1.0)),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    return F.aggregate(
        F.sequence(F.lit(0), F.lit(n_planes - 1)),
        F.lit(0).cast("long"),
        lambda acc, i: acc
        + F.when(
            # 1 << i as exact arithmetic (shiftleft needs a literal bit
            # count): 2.0^i is integer-exact far past 6 planes.
            proj(i) > 0,
            F.pow(F.lit(2.0), i.cast("double")).cast("long"),
        ).otherwise(F.lit(0).cast("long")),
    )


def _assign_cell_col(df: DataFrame, cells, vec_col: str, cell_col: str) -> DataFrame:
    """Coarse cell assignment as an m=1 PQ encode (one codebook = the
    cell centroids; code[1] = nearest cell id) — the shared idiom behind
    ivf_assign / ivfpq fit / ivfpq encode (review r12: three drifting
    copies varied only in temp-column name)."""
    return (
        pq_encode(df, [cells], vec_col=vec_col, out_col="_cell_codes")
        .withColumn(cell_col, F.expr("element_at(_cell_codes, 1)"))
        .drop("_cell_codes")
    )


def ivf_assign(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 16,
    seed: int = 7,
    max_fit_rows: int = 1_000_000,
):
    """IVF coarse quantizer: k-means centroids (fixed seed → deterministic
    given the data) and per-row cell assignment. Returns (centroids,
    assigned_df with `_cell`).

    Scale shape — the 100-TB-appropriate training split: the k-means FIT
    runs on a deterministic hash-sample bounded by `max_fit_rows` (a
    quantizer needs a representative sample, not the corpus — SemDeDup
    trains its k=50k codebook on a fraction of 5B embeddings), while the
    ASSIGNMENT is one map-side pass over the FULL corpus. The sample is
    keyed on xxhash64 of the vector itself, so it is stable across runs
    and across partitionings — no sampling RNG, no driver collect. The
    cell id then serves as the partition/shuffle key for probe-limited
    search — the IVF counterpart of the sign-LSH bucket (same
    candidate-bounding role, data-adaptive cells instead of fixed
    hyperplanes).

    The FIT is pq_fit's m=1 case (a full-vector k-means codebook): numpy
    joint Lloyd over the bounded sample when it fits the driver budget
    (2 Spark jobs), else the broadcast-codebook distributed loop — the
    old per-query MLlib KMeans fit paid ~n_iter tiny Spark jobs on a
    single-partition sample and dominated the IVF queries' wall. The
    full-corpus ASSIGNMENT is one map-side pass through pq_encode's
    Arrow batch argmin."""
    books = pq_fit(
        df,
        vec_col=vec_col,
        m=1,
        ksub=k,
        seed=seed,
        max_fit_rows=max_fit_rows,
        max_iter=10,
    )
    centroids = books[0]
    assigned = _assign_cell_col(df, books[0], vec_col, "_cell")
    return centroids, assigned


def _probe_cells(cells, query_vec, n_probe: int) -> list[int]:
    """Rank coarse cells against the query by the SAME metric they were
    built with (expanded L2: ||c||^2 - 2<q,c>; the query's own norm is
    constant across cells), ties toward the smallest cell id. ONE
    definition for every probe site — the copy at each caller had begun
    to drift in input shape (review r12). `cells` is a list of centroid
    vectors (cell id = list index) or of (cid, vector) pairs."""
    qd = [float(x) for x in query_vec]
    if (
        cells
        and isinstance(cells[0], tuple)
        and len(cells[0]) == 2
        and isinstance(cells[0][1], (list, tuple))
    ):
        pairs = [(int(cid), [float(c) for c in cv]) for cid, cv in cells]
    else:
        pairs = [(i, [float(c) for c in cv]) for i, cv in enumerate(cells)]
    scored = sorted(
        (sum(c * c for c in cv) - 2.0 * sum(x * c for x, c in zip(qd, cv)), cid)
        for cid, cv in pairs
    )
    return [cid for _, cid in scored[:n_probe]]


def knn_ivf(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
) -> DataFrame:
    """Approximate top-k via IVF: brute-force cosine only inside the
    `n_probe` cells whose centroids are nearest the query — candidate set
    ~ n_probe/n_cells of the corpus, vs the full linear scan."""
    centroids, assigned = ivf_assign(df, vec_col, k=n_cells)

    # probe by the SAME metric the cells were built with (L2 argmin):
    # cells partition the corpus by L2 geometry, so ranking them against
    # the query by cosine can skip the cell that actually holds the
    # nearest neighbor when vector norms vary
    probe_cells = _probe_cells(centroids, query_vec, n_probe)
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    return (
        assigned.where(F.col("_cell").isin(probe_cells))
        .select(F.col(id_col), cosine(F.col(vec_col), q).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def _l2_scores_expr(centroids: list[tuple[int, list[float]]], vec_col: str) -> str:
    """All-centroid (distance_score, cid) structs as ONE nested-loop
    expression: a transform over the centroid index with the centroid
    matrix, squared norms, and cids as constant-folded 2-D/1-D literal
    arrays. The score is the expanded form  ||c||² − 2⟨v,c⟩  (the ||v||²
    term is constant per row): products and sums only — no sqrt, no
    division — so a SQL oracle agrees bit-for-bit. One lambda tree
    regardless of centroid count (k unrolled per-centroid fold trees cost
    seconds of per-query Catalyst analysis/codegen — the dominant wall
    time at bench scale); centroids ship as plan constants (the broadcast
    analog) and evaluation stays per-row arithmetic — zero shuffle."""
    cids = ", ".join(str(cid) for cid, _ in centroids)
    mats = ", ".join(
        "array(" + ", ".join(f"{float(x)!r}D" for x in cv) + ")" for _, cv in centroids
    )
    c2s = ", ".join(
        f"{sum(float(x) * float(x) for x in cv)!r}D" for _, cv in centroids
    )
    n = len(centroids)
    return (
        f"transform(sequence(0, {n - 1}), i -> named_struct("
        f"'d', element_at(array({c2s}), i + 1) - 2.0D * "
        f"aggregate(zip_with({vec_col}, element_at(array({mats}), i + 1), "
        f"(x, y) -> cast(x AS double) * y), 0.0D, (a, x) -> a + x), "
        f"'cid', element_at(array({cids}), i + 1)))"
    )


def l2_cell_expr(centroids: list[tuple[int, list[float]]], vec_col: str) -> Column:
    """Closed-form L2-argmin cell assignment over a fixed centroid set as
    ONE SQL parse: array_min over the (distance_score, cid) structs picks
    the argmin with the struct's field order giving the cid tiebreak for
    free."""
    return F.expr(f"array_min({_l2_scores_expr(centroids, vec_col)}).cid")


def _pq_fit_driver(
    base: DataFrame, m: int, dsub: int, ksub: int, max_iter: int
) -> list[list[list[float]]]:
    """In-memory joint Lloyd over the collected sample (the FAISS shape:
    codebook training is always sample-bounded, so when the sample fits a
    modest driver budget the fit is pure numpy — TWO Spark jobs total and
    milliseconds of math, vs one job per Lloyd step distributed).
    Deterministic: lexicographic-unique candidate pool, Gonzalez maxmin
    init, leftmost argmin, empty cells keep their previous centroid."""
    import numpy as np

    V = np.array([r["_v"] for r in base.collect()], dtype=np.float64)
    if len(V) == 0:
        raise ValueError("pq_fit: no sample rows")
    # ONE copy of the deterministic joint-Lloyd body (shared with the OPQ
    # alternation, which re-fits per rotation update) — a fix to the
    # init/tiebreak/empty-cell rules must reach both callers identically
    # or the documented fused-encode == two-pass guarantee breaks
    books = _opq_pq_fit_np(V, m, dsub, ksub, max_iter)
    return [[[float(x) for x in c] for c in book] for book in books]


def pq_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    ksub: int = 16,
    seed: int = 7,
    max_fit_rows: int = 1_000_000,
    max_iter: int = 8,
    driver_fit_max_bytes: int = 64 << 20,
) -> list[list[list[float]]]:
    """Product-quantization codebooks (Jégou/Douze/Schmid 2011): the
    vector splits into `m` subspaces and each subspace gets its own
    `ksub`-centroid k-means codebook — m·ksub centroids quantize a space
    of ksub^m effective cells at codebook size m·ksub·dsub floats, the
    memory trick that makes billion-vector ANN indexes fit. Fit follows
    the ivf_assign discipline: deterministic hash-sample bounded by
    `max_fit_rows` (a quantizer needs a representative sample, not the
    corpus), fixed seed. Returns books[m][ksub][dsub].

    Two fit paths, same algorithm (maxmin init + joint Lloyd, empty cells
    keep their centroid), picked by estimated sample size:
    - sample ≤ `driver_fit_max_bytes` → `_pq_fit_driver`: collect the
      bounded sample once and fit in numpy — 2 Spark jobs total (the
      FAISS shape; codebook training is sample-bounded by design, so
      per-iteration Spark job overhead would dominate the math by 100×).
    - larger samples → distributed JOINT Lloyd (r8 verdict ask #2): the
      sample explodes ONCE to (subspace, subvector) rows, checkpointed;
      every Lloyd step ships the current codebooks as a BROADCAST m-row
      frame, equi-joins on the subspace, argmin-assigns with the expanded
      ||c||²−2⟨v,c⟩ (cid tiebreak), and ONE groupBy((subspace, cell))
      Summarizer.mean recomputes every centroid — ~max_iter+3 jobs
      regardless of m (the old shape ran m sequential MLlib fits ≈
      m·max_iter tiny jobs, nearly all scheduling overhead)."""
    from pyspark.ml.functions import array_to_vector
    from pyspark.ml.stat import Summarizer
    from pyspark.sql import Window as W

    base = df.select(F.col(vec_col).cast("array<double>").alias("_v"))
    # ONE job reads the sample size AND the vector dimension (the
    # separate count() + first(size) actions each scanned the input —
    # optimization r13, guide §1.2). max(size) rides the same aggregate
    # for free: min == max pins uniform dimensionality — min alone could
    # pass the divisibility check on a mixed-dim corpus (e.g. dims
    # {8, 12} with m=4) and silently fit against ragged vectors
    # (ADVICE r13).
    nd = base.agg(
        F.count(F.lit(1)).alias("_n"),
        F.min(F.size("_v")).alias("_d"),
        F.max(F.size("_v")).alias("_dmax"),
    ).first()
    n = int(nd["_n"])
    if n == 0:
        raise ValueError("pq_fit: no sample rows")
    d = int(nd["_d"])
    if d != int(nd["_dmax"]):
        raise ValueError(
            f"pq_fit: mixed vector dimensions (min {d}, max {int(nd['_dmax'])})"
        )
    if n > max_fit_rows:
        denom = 1_000_000
        keep = max(1, int(denom * max_fit_rows / n))
        base = base.where(F.pmod(F.xxhash64(F.col("_v")), F.lit(denom)) < keep)
    if d % m != 0:
        raise ValueError(f"vector dim {d} not divisible into m={m} subspaces")
    dsub = d // m
    if min(n, max_fit_rows) * d * 8 <= driver_fit_max_bytes:
        return _pq_fit_driver(base, m, dsub, ksub, max_iter)
    from timefusion_spark.operators.dedup import ensure_parallelism

    # ensure_parallelism: a small sample often arrives as ONE unsplittable
    # parquet row group, which would serialize every Lloyd job; the gated
    # repartition is a no-op at real scale (many ≥128 MB row groups)
    sub = (
        ensure_parallelism(base)
        .select(
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, {m - 1}), "
                    f"j -> slice(_v, j * {dsub} + 1, {dsub}))"
                )
            ).alias("_j", "_s")
        )
        .localCheckpoint(eager=True)
    )
    # Deterministic farthest-point init (Gonzalez maxmin over a seeded
    # candidate pool): ONE job collects the 8·ksub hash-first DISTINCT
    # subvectors per subspace (distinct so duplicate-heavy samples don't
    # seed coincident centroids; 8× pool so the greedy driver-side
    # selection can spread seeds across the true clusters — plain
    # hash-random init measurably loses cells to Lloyd local optima).
    # Driver work is O(m · 8·ksub · ksub · dsub) — trivial and exact.
    pool_n = 8 * ksub
    w = W.partitionBy("_j").orderBy(F.xxhash64(F.col("_s"), F.lit(seed)), F.col("_s"))
    pool_rows = (
        sub.dropDuplicates(["_j", "_s"])
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= pool_n)
        .select("_j", "_rn", "_s")
        .collect()
    )
    pools: list[list[list[float]]] = [[] for _ in range(m)]
    for r in sorted(pool_rows, key=lambda r: (r["_j"], r["_rn"])):
        pools[r["_j"]].append([float(x) for x in r["_s"]])
    books: list[list[list[float]]] = []
    for j in range(m):
        cand = pools[j]
        if not cand:
            raise ValueError(f"pq_fit: subspace {j} has no sample rows")
        chosen = [cand[0]]
        mind = [
            sum((a - b) * (a - b) for a, b in zip(c, cand[0])) for c in cand
        ]
        while len(chosen) < min(ksub, len(cand)):
            nxt = max(range(len(cand)), key=lambda i: mind[i])
            chosen.append(cand[nxt])
            for i, c in enumerate(cand):
                d2 = sum((a - b) * (a - b) for a, b in zip(c, cand[nxt]))
                if d2 < mind[i]:
                    mind[i] = d2
        # fewer than ksub distinct subvectors: pad with the first centroid
        # (cid-tiebreak argmin never assigns the duplicates — harmless)
        while len(chosen) < ksub:
            chosen.append(list(chosen[0]))
        books.append(chosen)

    # Each Lloyd step ships the current codebooks as a BROADCAST m-row
    # frame (one row per subspace: centroid matrix + squared norms) and
    # equi-joins it on the row's subspace — no plan literals at all, so
    # the per-iteration Catalyst cost is constant and tiny (re-parsing an
    # m·ksub·dsub-literal expression every iteration dominated the fit
    # wall before). The argmin over the joined matrix attribute is the
    # same expanded ||c||²−2⟨v,c⟩ with cid tiebreak.
    # inner dot: unrolled for small subspaces (~3× faster per row at
    # dsub=4 — zip_with+aggregate allocate per centroid), HOF fold for
    # wide ones (unrolled trees cost more analysis than the fold runs)
    if dsub <= _DOT_UNROLL_MAX:
        dot = " + ".join(
            f"element_at(_s, {i + 1}) * element_at(element_at(_mat, c + 1), {i + 1})"
            for i in range(dsub)
        )
    else:
        dot = (
            "aggregate(zip_with(_s, element_at(_mat, c + 1), "
            "(x, y) -> x * y), 0.0D, (a, x) -> a + x)"
        )
    assign = (
        f"array_min(transform(sequence(0, {ksub - 1}), c -> named_struct("
        f"'d', element_at(_c2, c + 1) - 2.0D * ({dot}), "
        f"'cid', c))).cid"
    )
    spark = df.sparkSession
    for _ in range(max_iter):
        bk = spark.createDataFrame(
            [
                (j, books[j], [sum(x * x for x in c) for c in books[j]])
                for j in range(m)
            ],
            schema="_j int, _mat array<array<double>>, _c2 array<double>",
        )
        means = (
            sub.join(F.broadcast(bk), "_j")
            .select(
                "_j",
                F.expr(assign).alias("_c"),
                array_to_vector(F.col("_s")).alias("_vec"),
            )
            .groupBy("_j", "_c")
            .agg(Summarizer.mean(F.col("_vec")).alias("_mean"))
            .collect()
        )
        new_books = [[list(c) for c in book] for book in books]
        for r in means:
            new_books[r["_j"]][r["_c"]] = [float(x) for x in r["_mean"]]
        if new_books == books:
            break
        books = new_books
    return books


def _pq_encode_batches(
    df: DataFrame,
    books: list[list[list[float]]],
    vec_col: str,
    out_col: str,
    R: list[list[float]] | None = None,
) -> DataFrame:
    """`df` plus `out_col` = the m PQ codes of each row's vector (rotated
    by R first when given — the fused OPQ encode), one mapInPandas pass.
    The argmin is `_np_assign_codes`, the same leftmost-minimum
    assignment the driver fit uses, so encode and fit can never disagree
    on a tie."""
    import numpy as np

    from pyspark.sql import types as T

    B = np.array(books, dtype=np.float64)  # (m, ksub, dsub)
    m, _ksub, dsub = B.shape
    Rt = None if R is None else np.array(R, dtype=np.float64).T

    def fn(batches):
        for pdf in batches:
            pdf = pdf.copy()
            if len(pdf) == 0:
                pdf[out_col] = []
                yield pdf
                continue
            V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            if Rt is not None:
                V = V @ Rt
            codes = _np_assign_codes(V.reshape(len(V), m, dsub), B)
            pdf[out_col] = [row.tolist() for row in codes.astype("int32")]
            yield pdf

    schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.ArrayType(T.IntegerType()))]
    )
    return df.mapInPandas(fn, schema=schema)


def pq_encode(
    df: DataFrame,
    books: list[list[list[float]]],
    vec_col: str = "embedding",
    out_col: str = "_codes",
) -> DataFrame:
    """PQ encoding: per subspace, the L2-argmin codebook entry — one
    map-side pass over the full corpus (the expanded ||c||²−2⟨v,c⟩
    argmin, leftmost minimum), zero shuffle. Adds `out_col` array<int> of
    m codes (the 100-TB artifact: m bytes-ish per vector instead of d
    floats). Each Arrow batch is scored with one GEMM per subspace
    (`_np_assign_codes`)."""
    return _pq_encode_batches(df, books, vec_col, out_col)


def pq_adc_topk(
    encoded: DataFrame,
    books: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    code_col: str = "_codes",
) -> DataFrame:
    """Asymmetric distance computation (ADC): the query stays unquantized;
    per subspace a ksub-entry table of squared distances query-slice ↔
    codebook-entry is computed ONCE driver-side (m·ksub floats) and ships
    as plan literals, so the per-row distance is m table lookups + adds —
    no vector arithmetic in the scan at all. Top-k by ADC distance is a
    TakeOrderedAndProject over a map-only scan of the code column (the
    codes-only projection is what a 100-TB PQ index reads — d-float
    vectors never leave storage)."""
    m = len(books)
    dsub = len(books[0][0])
    if len(query_vec) != m * dsub:
        # zip() would silently truncate the last subspace's distance
        # table and return wrong top-k (review r11)
        raise ValueError(
            f"query_vec has {len(query_vec)} dims; the codebooks were "
            f"fitted at m*dsub = {m * dsub}"
        )
    tables = []
    for j, book in enumerate(books):
        q_sub = [float(x) for x in query_vec[j * dsub : (j + 1) * dsub]]
        tables.append(
            [sum((qd - float(cd)) * (qd - float(cd)) for qd, cd in zip(q_sub, c)) for c in book]
        )
    tbl = "array(" + ", ".join(
        "array(" + ", ".join(f"{v!r}D" for v in row) + ")" for row in tables
    ) + ")"
    # lookup table hoisted into a PROJECTED column, never embedded in the
    # lambda body: constant folding does not reach lambda bodies, so an
    # in-lambda array literal is re-constructed on every lambda call
    # (measured 5× slower per row, purely from per-call allocation)
    adc = (
        f"aggregate(sequence(0, {m - 1}), 0.0D, (acc, j) -> acc + "
        f"element_at(element_at(_adc_tbl, j + 1), "
        f"element_at({code_col}, j + 1) + 1))"
    )
    return (
        encoded.withColumn("_adc_tbl", F.expr(tbl))
        .select(F.col(id_col), F.expr(adc).alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col(id_col))
        .limit(k)
    )


def _residual_expr(cells: list[list[float]], vec_col: str, cell_col: str) -> Column:
    """Residual v − centroid(cell) as one hoist-safe expression: the cell
    centroid matrix rides as a projected literal column (`_ivfpq_cmat`
    must be added by the caller via `_cells_lit`) — never inside a lambda
    (see pq_adc_topk)."""
    return F.expr(
        f"zip_with(cast({vec_col} AS array<double>), "
        f"element_at(_ivfpq_cmat, {cell_col} + 1), (x, y) -> x - y)"
    )


def _cells_lit(cells: list[list[float]]) -> str:
    return "array(" + ", ".join(
        "array(" + ", ".join(f"{float(x)!r}D" for x in c) + ")" for c in cells
    ) + ")"


def ivfpq_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    n_cells: int = 16,
    m: int = 8,
    ksub: int = 16,
    seed: int = 7,
    max_fit_rows: int = 1_000_000,
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """IVF-PQ index fit (Jégou/Douze/Schmid 2011 IndexIVFPQ — the
    composed billion-vector shape: coarse cells prune the scan, PQ codes
    compress what remains): the coarse quantizer is pq_fit's m=1 case;
    the PQ codebooks train on the RESIDUALS v − centroid(cell) (the
    paper's key choice — residuals concentrate near zero so a small
    codebook quantizes them far better than raw vectors). Returns
    (cells[n_cells][d], books[m][ksub][d/m])."""
    cells = pq_fit(
        df, vec_col=vec_col, m=1, ksub=n_cells, seed=seed, max_fit_rows=max_fit_rows
    )[0]
    assigned = _assign_cell_col(df, cells, vec_col, "_cell")
    res = assigned.withColumn("_ivfpq_cmat", F.expr(_cells_lit(cells))).withColumn(
        "_res", _residual_expr(cells, vec_col, "_cell")
    )
    books = pq_fit(
        res,
        vec_col="_res",
        m=m,
        ksub=ksub,
        seed=seed + 1,
        max_fit_rows=max_fit_rows,
    )
    return cells, books


def ivfpq_encode(
    df: DataFrame,
    cells: list[list[float]],
    books: list[list[list[float]]],
    vec_col: str = "embedding",
    cell_col: str = "_cell",
    code_col: str = "_codes",
) -> DataFrame:
    """IVF-PQ encoding: one map-side pass adds (cell, residual-PQ codes)
    — the persisted 100-TB artifact is (id, cell, m codes); cell is the
    partition key, d-float vectors never leave storage on the search
    path. Zero shuffle."""
    assigned = _assign_cell_col(df, cells, vec_col, cell_col)
    # drop the centroid-matrix column BEFORE the encode: mapInPandas
    # carries every input column through Python and back
    res = (
        assigned.withColumn("_ivfpq_cmat", F.expr(_cells_lit(cells)))
        .withColumn("_ivfpq_res", _residual_expr(cells, vec_col, cell_col))
        .drop("_ivfpq_cmat")
    )
    return pq_encode(res, books, vec_col="_ivfpq_res", out_col=code_col).drop(
        "_ivfpq_res"
    )


def ivfpq_adc_topk(
    encoded: DataFrame,
    cells: list[list[float]],
    books: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    cell_col: str = "_cell",
    code_col: str = "_codes",
) -> DataFrame:
    """IVF-PQ search: probe the `n_probe` L2-nearest cells, then ADC over
    the residual codes. Because codes quantize RESIDUALS, the query's
    lookup table differs per probed cell — table[p][j][c] =
    ||(q − centroid(cell_p))_j − book[j][c]||², an (n_probe · m · ksub)-
    double array computed driver-side and hoisted as ONE literal column;
    the per-row cost is a tiny probe-index CASE + m lookups + adds. The
    scan reads (cell, codes) only, pruned to the probed cells — the
    composed IndexIVFPQ read shape at any corpus size."""
    m = len(books)
    dsub = len(books[0][0])
    if len(query_vec) != m * dsub or (cells and len(cells[0]) != m * dsub):
        # zip() against the centroid/codebook would silently truncate
        # and produce wrong distances (review r11)
        raise ValueError(
            f"query_vec has {len(query_vec)} dims "
            f"(centroids: {len(cells[0]) if cells else 0}); the codebooks "
            f"were fitted at m*dsub = {m * dsub}"
        )
    qd = [float(x) for x in query_vec]
    probe = _probe_cells(cells, query_vec, n_probe)
    tables = []
    for cell in probe:
        qres = [x - float(c) for x, c in zip(qd, cells[cell])]
        per_j = []
        for j, book in enumerate(books):
            q_sub = qres[j * dsub : (j + 1) * dsub]
            per_j.append(
                [
                    sum((a - float(b)) * (a - float(b)) for a, b in zip(q_sub, c))
                    for c in book
                ]
            )
        tables.append(per_j)
    tbl = "array(" + ", ".join(
        "array(" + ", ".join(
            "array(" + ", ".join(f"{v!r}D" for v in row) + ")" for row in per_j
        ) + ")" for per_j in tables
    ) + ")"
    # probed-cell → table index (n_probe branches; rows outside the
    # probed cells are filtered before this evaluates)
    idx = "CASE " + " ".join(
        f"WHEN {cell_col} = {cell} THEN {p + 1}" for p, cell in enumerate(probe)
    ) + " END"
    adc = (
        f"aggregate(sequence(0, {m - 1}), 0.0D, (acc, j) -> acc + "
        f"element_at(element_at(_ivfpq_tbl, j + 1), "
        f"element_at({code_col}, j + 1) + 1))"
    )
    return (
        encoded.where(F.col(cell_col).isin([int(c) for c in probe]))
        .withColumn("_ivfpq_tbls", F.expr(tbl))
        .withColumn("_ivfpq_tbl", F.expr(f"element_at(_ivfpq_tbls, {idx})"))
        .select(F.col(id_col), F.expr(adc).alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col(id_col))
        .limit(k)
    )


def knn_join(
    df: DataFrame,
    centroids: "list[tuple[int, list[float]]] | DataFrame",
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebook_cache_key: str | None = None,
) -> DataFrame:
    """IVF k-NN JOIN: top-k cosine neighbors for EVERY row (not one
    query), probe-limited — the all-pairs companion of knn_ivf_flat and
    the shape batch retrieval / hard-negative mining / kNN-graph
    construction need.

    Scale shape: cell assignment and per-row probe lists come from one
    map-only Arrow kernel (_assign_cells); the ONE shuffle is the
    equi-join of exploded probes against cell assignments (candidates per
    row ≈ occupancy of n_probe cells, never the corpus); per-query top-k
    is a window over the candidate set. Each (a, b) pair arises at most
    once — b lives in exactly one cell. Deterministic: cosine ties break
    by neighbor id, centroid-distance ties by cid. Returns (id,
    neighbor_id, cos_sim, rank) with rank 1..k.

    `centroids` is a [(cid, vector)] list OR a codebook DataFrame with
    columns (cid int, cv array<double>[, c2 double]) — the cluster-scale
    path loads a PERSISTED trained codebook table, so k≈50k codebooks
    (SemDeDup scale) ship as one broadcast variable, never as plan
    literals. `codebook_cache_key` names a codebook whose content is
    fixed, so repeat calls reuse its broadcast (see _ARROW_CODEBOOK_MEMO).
    Probe-join parallelism is O(k) tasks — size k to the cluster (a k=16
    codebook caps the join at 16 tasks at any corpus size; k≥1024 keeps
    a 1000-executor cluster busy)."""
    from pyspark.sql import Window as W

    cent = _as_centroid_frame(df.sparkSession, centroids)
    staged = df.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("_v"),
        # Norms staged once per ROW — candidate pairs pay one dot product.
        norm(F.col(vec_col).cast("array<double>")).alias("_nrm"),
    )
    # Both join sides derive from the SAME assignment (probes = rank ≤
    # n_probe, build side = rank 1). Catalyst does not dedupe common
    # subplans, so without materialization the k-dot-products-per-row
    # assignment executes TWICE (measured 2× wall on a 1024-cell
    # codebook). persist() computes it once into the block cache shared
    # by both sides — and, unlike localCheckpoint(eager=False), defers
    # the toRdd physical-planning work that cost ~1-2 s of DRIVER time
    # per query build (measured; the cache idiom of a cluster
    # deployment either way). Entries are MEMORY_AND_DISK and evict LRU,
    # so repeated invocations cannot pin unbounded memory.
    ranked = _assign_cells(
        staged, cent, rank_limit=n_probe, codebook_cache_key=codebook_cache_key
    ).persist()
    a = ranked.select(
        F.col(id_col).alias("_a_id"),
        F.col("_v").alias("_va"),
        F.col("_nrm").alias("_na"),
        F.col("cid").alias("_probe"),
    )
    b = ranked.where(F.col("_crank") == 1).select(
        F.col(id_col).alias("_b_id"),
        F.col("_v").alias("_vb"),
        F.col("_nrm").alias("_nb"),
        F.col("cid").alias("_cell"),
    )
    # zero-norm guard (same convention as cosine()/semantic_dedup, review
    # r12): one all-zero embedding otherwise scores NaN against every
    # probed row and NaN-is-largest ordering ranks it rank-1 everywhere
    _pd = F.col("_na") * F.col("_nb")
    pair_cos = F.when(_pd == F.lit(0.0), F.lit(0.0)).otherwise(
        dot(F.col("_va"), F.col("_vb")) / _pd
    )
    scored = (
        a.join(b, (F.col("_probe") == F.col("_cell")) & (F.col("_a_id") != F.col("_b_id")))
        .select("_a_id", "_b_id", pair_cos.alias("cos_sim"))
    )
    w = W.partitionBy("_a_id").orderBy(F.col("cos_sim").desc(), F.col("_b_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("_a_id").alias(id_col),
            F.col("_b_id").alias("neighbor_id"),
            "cos_sim",
            "rank",
        )
    )


def _as_centroid_frame(spark, centroids) -> DataFrame:
    """Normalize a codebook argument — [(cid, vector)] list or a DataFrame
    with (cid, cv[, c2]) — into the (cid, cv, c2) frame _assign_cells
    collects into its broadcast matrix. A DataFrame stays lazy until that
    one collect (no separate collect job at the call site)."""
    if isinstance(centroids, DataFrame):
        cent = centroids
        if "c2" not in cent.columns:
            cent = cent.withColumn("c2", dot(F.col("cv"), F.col("cv")))
        return cent.select("cid", "cv", "c2")
    return _centroid_frame(spark, centroids)


def _centroid_frame(spark, centroids: list[tuple[int, list[float]]]) -> DataFrame:
    """Centroids as a DATA-side frame (cid, cv, ||c||²) for the broadcast
    assignment kernel. Shipping centroids as plan literals is the right
    call for a single small expression (knn_ivf_flat), but a query that
    re-projects the vectors across unions/joins inlines the k×d literal
    into every branch — a 16×64 codebook ballooned one plan to 230 KB and
    its per-stage codegen to ~25 s. A k-row broadcast keeps the plan O(1)
    and is also the only shape that survives real codebooks (SemDeDup
    runs k≈50k — far past any literal budget)."""
    rows = [
        (int(cid), [float(x) for x in cv], float(sum(float(x) * float(x) for x in cv)))
        for cid, cv in centroids
    ]
    return spark.createDataFrame(rows, "cid int, cv array<double>, c2 double")


# Collected-codebook broadcast memo, keyed on (applicationId, caller's
# content key). The cluster-scale codebooks live under CONTENT-KEYED cache
# paths (queries/_tables.cached_storage_table), so a key fully determines
# the codebook bytes — the collect job + re-broadcast on every invocation
# is pure setup latency (~0.2-0.3 s of driver wall per query at bench
# scale, the reference's cached-provider idiom). LRU-bounded at
# _ARROW_CODEBOOK_MEMO_MAX entries: eviction only DROPS the reference,
# never destroy()s the broadcast, because a DataFrame built earlier may
# still run against it (Spark cleans it up once nothing references it).
_ARROW_CODEBOOK_MEMO: OrderedDict = OrderedDict()
_ARROW_CODEBOOK_MEMO_MAX = 8
_ARROW_CODEBOOK_MEMO_LOCK = threading.Lock()


def _assign_cells(
    staged: DataFrame,
    cent: DataFrame,
    rank_limit: int,
    codebook_cache_key: str | None = None,
) -> DataFrame:
    """IVF cell ranks per row — map-only, zero shuffle. Scores d =
    ||c||² − 2⟨v,c⟩ (the ||v||² term is rank-constant) and emits each
    row once per cell with `_crank` 1..rank_limit (the nearest cells;
    `_crank` = 1 is the home cell) and that cell's `cid`.

    The codebook frame is materialized ONCE into a (k × dim) float64
    matrix and shipped as a SparkContext BROADCAST VARIABLE (torrent
    distribution: each executor fetches it once, never per task — the
    k≈50k SemDeDup codebook is ~25 MB, fine as a broadcast, fatal as a
    plan literal). Each Arrow batch then scores ALL cells with one
    (batch × dim) @ (dim × k) matmul and takes the rank_limit smallest
    (d, cid) per row via a stable argsort — ties on d break by cid
    because the codebook is sorted by cid before shipping, the same
    (d, cid) order the DuckDB oracles rank by. The rows × k expansion
    never materializes (a broadcast-join + row_number alternative
    moved it through the expression evaluator: 1.3× slower at k=64 and
    4× slower at k=1024, q_ann_knn_join[_large] at sf0.1 on 4 cores).

    Determinism: float64 BLAS matmul is deterministic for fixed input on
    a fixed build; scores only RANK cells (they are not output), so an
    ulp difference vs a sequential fold could matter only on a
    near-exact distance tie between two centroids — oracle-checked at
    both test scales."""
    import numpy as np

    from timefusion_spark.operators.dedup import ensure_parallelism

    sc = staged.sparkSession.sparkContext
    # key on applicationId, not id(sc): CPython reuses addresses after a
    # stopped context is collected, so a restarted session could receive
    # a DESTROYED broadcast from the stale entry (review r11)
    memo_key = (
        None
        if codebook_cache_key is None
        else (sc.applicationId, codebook_cache_key)
    )
    bc = None
    if memo_key is not None:
        with _ARROW_CODEBOOK_MEMO_LOCK:
            bc = _ARROW_CODEBOOK_MEMO.get(memo_key)
            if bc is not None:
                _ARROW_CODEBOOK_MEMO.move_to_end(memo_key)
    if bc is None:
        rows = sorted(
            cent.select("cid", "cv", "c2").collect(), key=lambda r: r["cid"]
        )
        cids = np.fromiter((r["cid"] for r in rows), dtype=np.int64)
        mat_t = np.array([r["cv"] for r in rows], dtype=np.float64).T  # (dim, k)
        c2 = np.fromiter((r["c2"] for r in rows), dtype=np.float64)
        bc = sc.broadcast((cids, mat_t, c2))
        if memo_key is not None:
            with _ARROW_CODEBOOK_MEMO_LOCK:
                _ARROW_CODEBOOK_MEMO[memo_key] = bc
                while len(_ARROW_CODEBOOK_MEMO) > _ARROW_CODEBOOK_MEMO_MAX:
                    _ARROW_CODEBOOK_MEMO.popitem(last=False)

    from pyspark.sql.types import IntegerType, StructField, StructType

    in_cols = list(staged.columns)
    # Build a FRESH StructType: StructType.add mutates in place, and
    # `staged.schema` hands back the DataFrame's cached schema object — an
    # in-place add would poison the caller's frame (a second invocation on
    # the same object would see duplicate cid/_crank fields and fail
    # analysis with AMBIGUOUS_REFERENCE).
    out_schema = StructType(
        list(staged.schema.fields)
        + [
            StructField("cid", IntegerType(), False),
            StructField("_crank", IntegerType(), False),
        ]
    )

    def kernel(batches):
        b_cids, b_mat_t, b_c2 = bc.value
        top = min(rank_limit, len(b_cids))
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.array(pdf["_v"].to_list(), dtype=np.float64)  # (n, dim)
            d = b_c2[None, :] - 2.0 * (v @ b_mat_t)  # (n, k)
            idx = np.argsort(d, axis=1, kind="stable")[:, :top]  # (n, top)
            n = len(pdf)
            rep = pdf.loc[pdf.index.repeat(top)].reset_index(drop=True)
            rep["cid"] = b_cids[idx].reshape(-1).astype("int32")
            rep["_crank"] = np.tile(np.arange(1, top + 1, dtype="int32"), n)
            yield rep[in_cols + ["cid", "_crank"]]

    return ensure_parallelism(staged).mapInPandas(kernel, schema=out_schema)


def semantic_dedup(
    df: DataFrame,
    centroids: "list[tuple[int, list[float]]] | DataFrame",
    threshold: float = 0.999,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public):
    cluster embeddings with a coarse quantizer, then compare pairs ONLY
    within a cluster — never all-pairs — and drop near-duplicates.

    Spec (deterministic, order-free): a row is DROPPED iff some same-cell
    row with a smaller id has cosine ≥ threshold to it. This keeps exactly
    one representative per duplicate chain anchored at the smallest id
    (long chains can prune slightly more than the paper's ε-ball sweep —
    the rule is stated so a SQL oracle reproduces it exactly).

    Scale shape: cell assignment is map-only (the _assign_cells Arrow
    kernel over a broadcast codebook); the self-join shuffles BOTH sides
    once on `_cell` — the candidate set is Σ |cell|² over cells, the
    quantizer's job being to keep occupancy bounded (k ∝ corpus size at
    100 TB, the paper runs k=50k over 5B embeddings). Returns (id, cell,
    kept).

    Reference parity: the reference engine has no vector surface; this is
    LLM-pipeline scope (training-data curation over the embeddings table).
    """
    cent = _as_centroid_frame(df.sparkSession, centroids)
    staged = (
        _assign_cells(
            df.select(
                F.col(id_col),
                F.col(vec_col).cast("array<double>").alias("_v"),
                # Norms staged once per ROW: the within-cell pair expansion
                # then pays one dot product per pair instead of dot + two
                # norm folds.
                norm(F.col(vec_col).cast("array<double>")).alias("_nrm"),
            ),
            cent,
            rank_limit=1,
        )
        .withColumnRenamed("cid", "cell")
        .drop("_crank")
        # materialize once into the block cache: the self-join's two sides
        # would otherwise each recompute the k-dots-per-row assignment
        # (see knn_join for why persist beats localCheckpoint here)
        .persist()
    )
    a, b = staged.alias("a"), staged.alias("b")
    # zero-norm guard (see cosine()): a NaN here satisfies `>= threshold`
    # under Spark's NaN-is-largest ordering, so one all-zero embedding
    # would mark every same-cell larger-id row a duplicate (review r11)
    _pd = F.col("a._nrm") * F.col("b._nrm")
    pair_cos = F.when(_pd == F.lit(0.0), F.lit(0.0)).otherwise(
        dot(F.col("a._v"), F.col("b._v")) / _pd
    )
    dup_ids = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .where(pair_cos >= threshold)
        .select(F.col(f"b.{id_col}").alias(id_col))
        .distinct()
    )
    return staged.join(
        dup_ids.withColumn("_dup", F.lit(True)), id_col, "left_outer"
    ).select(
        id_col, "cell", F.coalesce(~F.col("_dup"), F.lit(True)).alias("kept")
    )


def knn_ivf_flat(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF with a FIXED coarse quantizer (centroids passed in, e.g. a
    deterministic pick or a previously-trained codebook): one map-only
    assignment pass, then brute-force cosine inside the `n_probe` probed
    cells.

    Unlike the k-means variant (knn_ivf) this is fully closed-form, so a
    SQL oracle can reproduce it exactly. Assignment uses the L2 argmin in
    its expanded form  ||c||² − 2⟨v,c⟩  (the ||v||² term is constant per
    row): products and sums only — no sqrt, no division — so both engines
    agree bit-for-bit. Ties break toward the smallest centroid id.

    Scale shape: centroids ship as plan constants (the broadcast analog);
    assignment is per-row arithmetic — zero shuffle; the probe filter
    bounds the brute-force candidate set to ~n_probe/n_cells of the
    corpus, then TakeOrderedAndProject takes the top-k."""
    cell = l2_cell_expr(centroids, vec_col)

    # Probed cells: same score against the query vector, driver-side
    # (centroids and query are O(1) parameters).
    probe = _probe_cells(centroids, query_vec, n_probe)

    q = F.array(*[F.lit(float(v)) for v in query_vec])
    return (
        df.withColumn("_cell", cell)
        .where(F.col("_cell").isin(probe))
        .select(F.col(id_col), cosine(F.col(vec_col), q).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def jl_project(vec_col: str, n_out: int = 16) -> Column:
    """Johnson-Lindenstrauss random projection to `n_out` dims with
    deterministic ±1 planes — w(k, d) = +1 iff (A_k·(d+1)) mod 97 < 48,
    A_k from the shared seed table (the sign-LSH weight scheme, so the
    DuckDB oracle reproduces projections bit-for-bit).

    Map-only per-row arithmetic (n_out folds over the staged vector) —
    the standard dimensionality-reduction front of a large-scale ANN
    stack: project 100 TB of wide embeddings once, run candidate
    generation in the narrow space, verify survivors in the original.
    Built as ONE SQL parse (plan-construction discipline, see
    operators/dedup.py)."""
    from timefusion_spark.operators.dedup import MINHASH_SEEDS

    seeds = ", ".join(str(MINHASH_SEEDS[k][0]) + "L" for k in range(n_out))
    return F.expr(
        f"transform(sequence(0, {n_out - 1}), k -> "
        f"aggregate(zip_with({vec_col}, sequence(0, size({vec_col}) - 1), "
        f"(x, d) -> cast(x AS double) * IF(((element_at(array({seeds}), k + 1) * (cast(d AS bigint) + 1)) % 97) < 48, 1.0D, -1.0D)), "
        "0.0D, (a, x) -> a + x))"
    )


def opq_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    ksub: int = 16,
    opq_iters: int = 10,
    pq_iters: int = 4,
    max_fit_rows: int = 100_000,
    driver_fit_max_bytes: int = 64 << 20,
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """Optimized Product Quantization (Ge/He/Ke/Sun CVPR 2013,
    non-parametric OPQ — the FAISS ``OPQMatrix`` pre-transform): learn an
    ORTHOGONAL rotation R jointly with the PQ codebooks so the subspace
    split lines up with the data's principal structure. PQ quantizes each
    dsub-dim slice independently, so correlated/rotated data loses badly
    to an axis-aligned split; the learned R provably never increases and
    typically much reduces quantization error (the paper's monotone
    alternating minimization):

        repeat: Y = X·Rᵀ → PQ-fit(Y) → Ŷ (reconstruction)
                R = U·Vᵀ from SVD(Ŷᵀ·X)        (orthogonal Procrustes)

    Training is sample-bounded by design (the FAISS discipline — a
    rotation + codebooks need a representative sample, not the corpus):
    the deterministic hash-sample from the `pq_fit` path is capped at
    `max_fit_rows` AND at the `driver_fit_max_bytes` driver budget, then
    the whole alternation runs in numpy — per-iteration Spark jobs would
    be pure scheduling overhead for d×d Procrustes solves. Determinism:
    the PQ subroutine is `_pq_fit_driver` (lexicographic-unique pool,
    Gonzalez maxmin, leftmost argmin) and SVD of a fixed matrix, so the
    same sample always yields the same (R, books).

    Returns ``(R, books)`` with R as a d×d row-major list (x' = R·x) and
    books fitted in the ROTATED space. Encode/search compose with the
    existing PQ machinery over `opq_rotate`-ed vectors; because R is
    orthogonal, L2 distances are preserved, so ADC distances in rotated
    space estimate true L2 and the exact re-rank contract is unchanged.
    """
    import numpy as np

    base = df.select(F.col(vec_col).cast("array<double>").alias("_v"))
    # one job for (n, d), with the min==max uniform-dimension pin — see
    # pq_fit (optimization r13, guide §1.2; ADVICE r13)
    nd = base.agg(
        F.count(F.lit(1)).alias("_n"),
        F.min(F.size("_v")).alias("_d"),
        F.max(F.size("_v")).alias("_dmax"),
    ).first()
    n = int(nd["_n"])
    if n == 0:
        raise ValueError("opq_fit: no sample rows")
    d = int(nd["_d"])
    if d != int(nd["_dmax"]):
        raise ValueError(
            f"opq_fit: mixed vector dimensions (min {d}, max {int(nd['_dmax'])})"
        )
    if d % m != 0:
        raise ValueError(f"vector dim {d} not divisible into m={m} subspaces")
    dsub = d // m
    # bound the sample by rows AND bytes — OPQ's alternation is driver
    # numpy, so the sample must fit the explicit budget (never "collect
    # and hope"); halve until it does.
    cap = max_fit_rows
    while cap > 1 and cap * d * 8 > driver_fit_max_bytes:
        cap //= 2
    if n > cap:
        denom = 1_000_000
        keep = max(1, int(denom * cap / n))
        base = base.where(F.pmod(F.xxhash64(F.col("_v")), F.lit(denom)) < keep)
    X = np.array([r["_v"] for r in base.collect()], dtype=np.float64)
    if len(X) == 0:
        raise ValueError("opq_fit: no sample rows")
    R = np.eye(d)
    books = None
    for _ in range(opq_iters):
        Y = X @ R.T
        # PQ subroutine over the rotated sample: same deterministic
        # joint-Lloyd as the plain-PQ driver path. Iterations past the
        # first WARM-START from the previous books (rotations move little
        # per Procrustes step, so they are near-optimal inits): skips the
        # per-iteration unique+Gonzalez re-init AND restores the paper's
        # monotone descent — a fresh re-init could bounce to a worse
        # local optimum between iterations (optimization r14, guide §5)
        books = _opq_pq_fit_np(Y, m, dsub, ksub, pq_iters, init_books=books)
        # reconstruct Ŷ from the codes (batched-BLAS assignment — see
        # _np_assign_codes)
        S = Y.reshape(len(Y), m, dsub)
        codes = _np_assign_codes(S, books)
        Yhat = np.stack(
            [books[j][codes[:, j]] for j in range(m)], axis=1
        ).reshape(len(Y), d)
        # orthogonal Procrustes: min_R ||X Rᵀ − Ŷ||_F → R = U Vᵀ with
        # U S Vᵀ = SVD(Ŷᵀ X). SVD sign ambiguity is broken
        # deterministically by numpy's LAPACK gesdd on a fixed matrix.
        U, _s, Vt = np.linalg.svd(Yhat.T @ X)
        R_new = U @ Vt
        if np.allclose(R_new, R, atol=1e-12):
            break
        R = R_new
    # refit the codebooks against the FINAL rotation (the last Procrustes
    # step moved R after the books were fitted); warm-started from the
    # loop's last books for the same monotone-descent reason
    books_np = _opq_pq_fit_np(X @ R.T, m, dsub, ksub, pq_iters, init_books=books)
    return (
        [[float(x) for x in row] for row in R],
        [[[float(x) for x in c] for c in book] for book in books_np],
    )


def _opq_pq_fit_np(Y, m: int, dsub: int, ksub: int, max_iter: int, init_books=None):
    """The `_pq_fit_driver` joint-Lloyd body over an in-memory matrix
    (shared by the OPQ alternation, which re-fits codebooks per rotation
    update). Deterministic: lexicographic-unique pool, Gonzalez maxmin
    init, leftmost argmin, empty cells keep their centroid.

    `init_books` warm-starts Lloyd from an existing (m, ksub, dsub)
    codebook instead of re-running the unique+Gonzalez init — the OPQ
    alternation's per-iteration re-init was both the slowest stage of
    each inner fit (a 16-subspace lexicographic sort of the full sample,
    ~70% of the init-bound regime at the 100k-row cap) and theoretically
    weaker: a fresh Lloyd can land in a DIFFERENT local optimum than the
    previous iteration's, breaking the paper's monotone-descent argument,
    while warm-start descends from exactly the post-Procrustes objective
    (Ge et al. 2013 §4: alternate holding the other block fixed). Cold
    callers (plain PQ fit, OPQ iteration 0) pass None and are unchanged
    (optimization r14, guide §1.2/§5)."""
    import numpy as np

    S = Y.reshape(len(Y), m, dsub)
    if init_books is not None:
        books = np.array(init_books, dtype=np.float64, copy=True)
    else:
        books = np.empty((m, ksub, dsub), dtype=np.float64)
        for j in range(m):
            uniq = np.unique(S[:, j, :], axis=0)
            chosen = [uniq[0]]
            mind = ((uniq - uniq[0]) ** 2).sum(axis=1)
            while len(chosen) < min(ksub, len(uniq)):
                nxt = int(mind.argmax())
                chosen.append(uniq[nxt])
                mind = np.minimum(mind, ((uniq - uniq[nxt]) ** 2).sum(axis=1))
            while len(chosen) < ksub:
                chosen.append(chosen[0].copy())
            books[j] = np.stack(chosen)
    for _ in range(max_iter):
        codes = _np_assign_codes(S, books)
        new_books = books.copy()
        for j in range(m):
            cnt = np.bincount(codes[:, j], minlength=ksub)
            # per-dim bincount(weights=…) accumulates each bin in ROW
            # order — the same sequential per-bin summation np.add.at
            # performed, at C speed instead of unbuffered fancy-index
            # dispatch (optimization r13: at the 100k-row sample cap the
            # add.at loop alone cost tens of seconds of driver time)
            sums = np.stack(
                [
                    np.bincount(codes[:, j], weights=S[:, j, k], minlength=ksub)
                    for k in range(dsub)
                ],
                axis=1,
            )
            nz = cnt > 0
            new_books[j][nz] = sums[nz] / cnt[nz, None]
        if np.array_equal(new_books, books):
            break
        books = new_books
    return books


def _np_assign_codes(S, books):
    """Leftmost-argmin PQ code assignment over an in-memory (n, m, dsub)
    matrix — ONE definition shared by the Lloyd loop, the OPQ
    reconstruction and the executor encode kernel behind pq_encode and
    opq_encode. The per-subspace score matrix comes from BATCHED BLAS
    matmul rather than np.einsum: c_einsum runs a naive loop (measured
    26.8 s vs 4.0 s per assignment pass at the 100k-row driver-fit cap —
    the single-threaded driver fit is the 100-TB bottleneck of the OPQ
    alternation; optimization r13, guide §1.2). argmin picks the leftmost
    minimum exactly like the einsum form; scores may differ in final-ulp
    rounding (BLAS accumulation order), which the sampled-fit contract
    absorbs (codes verified equal on the driver corpora)."""
    import numpy as np

    c2 = (books**2).sum(axis=2)  # (m, ksub)
    n = S.shape[0]
    m, ksub = c2.shape
    dsub = S.shape[2]
    # Per-subspace 2-D GEMM into REUSED buffers instead of one batched
    # (m, n, ksub) matmul + broadcast subtract: the batched form allocated
    # two ~n·m·ksub·8-byte temporaries per call (≈820 MB at the 100k-row
    # cap) — fresh mmap'd pages EVERY Lloyd step, whose first-touch faults
    # dominated the fit wall (measured 26.8 s vs 0.4 s warm for the same
    # FLOPs) — and ran the GEMM over a strided transpose view (~6× slower
    # than contiguous). buf/sj cap the working set at n·(ksub+dsub) floats
    # regardless of m. Scores are bit-identical: fl(-2p + c2) == fl(c2 -
    # 2p) (sign flip and addition commute exactly in IEEE), same GEMM —
    # codes verified equal on the driver corpora (optimization r14, §5).
    codes = np.empty((n, m), dtype=np.int64)
    buf = np.empty((n, ksub), dtype=np.float64)
    sj = np.empty((n, dsub), dtype=np.float64)
    for j in range(m):
        np.copyto(sj, S[:, j, :])
        np.matmul(sj, books[j].T, out=buf)
        buf *= -2.0
        buf += c2[j]
        codes[:, j] = buf.argmin(axis=1)
    return codes  # (n, m)


def rotate_vec(v: list[float], R: list[list[float]]) -> list[float]:
    """Driver-side x' = R·x for the query vector (d² flops, trivial)."""
    return [sum(float(r) * float(x) for r, x in zip(row, v)) for row in R]


def opq_rotate(
    df: DataFrame,
    R: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "_rot",
) -> DataFrame:
    """Apply the learned OPQ rotation x' = R·x as a MAP-ONLY pass — the
    rotation of a 100-TB corpus is embarrassingly parallel and shuffles
    nothing: one vectorized numpy ``V @ R.T`` per Arrow batch
    (mapInPandas)."""
    from pyspark.sql import types as T

    import numpy as np

    Rt = np.array(R, dtype=np.float64).T

    def fn(batches):
        for pdf in batches:
            pdf = pdf.copy()
            if len(pdf) == 0:
                pdf[out_col] = []
                yield pdf
                continue
            V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            pdf[out_col] = [row.tolist() for row in V @ Rt]
            yield pdf

    schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.ArrayType(T.DoubleType()))]
    )
    return df.mapInPandas(fn, schema=schema)


def ivf_append(
    index_df: DataFrame,
    new_df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    cell_col: str = "_cell",
) -> DataFrame:
    """Incremental IVF index maintenance — the FAISS add-after-train
    lifecycle (`IndexIVF::add` never re-trains the coarse quantizer):
    assign ONLY the arriving rows to the FROZEN centroids (one map-only
    pass over the new batch — the existing index is not rescanned, let
    alone refitted) and append them to the stored (id, cell, vec) table.
    Because assignment is a pure function of (vector, frozen centroids),
    the combined index is bit-identical to what a from-scratch build
    would produce — the property that makes an IVF index maintainable
    under continuous ingest at 100 TB: the daily append touches only the
    day's rows.

    Centroid drift is the caller's policy decision (FAISS leaves it to
    the user too): monitor per-cell counts (`ivf_cell_stats`) and refit
    + re-encode when imbalance crosses a threshold."""
    assigned = new_df.withColumn(cell_col, l2_cell_expr(centroids, vec_col))
    return index_df.unionByName(assigned)


def ivf_cell_stats(index_df: DataFrame, cell_col: str = "_cell") -> DataFrame:
    """Per-cell occupancy of an IVF index (map-side partial count — one
    tiny n_cells-row aggregate): the drift signal an index-maintenance
    job watches. A healthy index keeps cells near the mean; a hot cell
    growing unboundedly means the frozen quantizer no longer matches the
    data distribution and a refit is due."""
    return index_df.groupBy(F.col(cell_col).alias("cell")).agg(
        F.count(F.lit(1)).alias("n_vectors")
    )


def knn_ivf_indexed(
    index_df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "_cell",
) -> DataFrame:
    """Probe-limited search over an ALREADY-ASSIGNED IVF index table (the
    persisted (id, cell, vec) artifact `ivf_append` maintains): the
    probed cell ids are computed driver-side from the same frozen
    centroids (O(n_cells) — parameters, not data), the scan filters on
    the STORED cell column (partition/row-group prunable at scale —
    assignment cost was paid once at ingest), and brute-force cosine runs
    only inside the probed cells."""
    probe = _probe_cells(centroids, query_vec, n_probe)
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    return (
        index_df.where(F.col(cell_col).isin(probe))
        .select(F.col(id_col), cosine(F.col(vec_col), q).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def opq_encode(
    df: DataFrame,
    R: list[list[float]],
    books: list[list[list[float]]],
    vec_col: str = "embedding",
    out_col: str = "_codes",
) -> DataFrame:
    """FUSED OPQ encode: rotation AND PQ code assignment in ONE Arrow
    batch kernel — V·Rᵀ, then pq_encode's argmin — no intermediate
    rotated column materialized, one mapInPandas pass over the corpus
    (the 100-TB encode job is a single map stage reading raw vectors and
    writing m-byte codes). Codes equal `pq_encode(opq_rotate(df, R),
    books)`: both run the same numpy rotation and `_np_assign_codes`."""
    return _pq_encode_batches(df, books, vec_col, out_col, R)
