"""Deduplication operator family: exact, MinHash+LSH, SimHash, n-gram
Jaccard. (North-star LLM-pipeline surface; the reference's own dedup is
last-write-wins on keys — storage/table.py read views — these are the
content-dedup analogs for training-data pipelines.)

Design for 100 TB:
- hashing is per-row work — JVM expression arithmetic, or a vectorized
  Arrow mapInPandas kernel where a long per-row hash loop dominates (the
  n-gram MinHash signatures, the ExactSubstr winnowing seeds). Each
  operator has one path; all of it is embarrassingly parallel, no shuffle;
- EVERY near-dup operator generates candidates via banded LSH — shuffle
  only on (band, band_key) buckets, O(candidates) pair space, never O(n²);
- the exact-jaccard verify recomputes shingle/gram sets only for candidate
  ids (semi-join-sized work);
- SimHash produces a per-row 32-bit signature; near-dup banding can
  bucket on signature prefixes the same way.

Two hash tiers:
- `poly_hash` (acc*31 + ascii, mod 1e9+7) is deliberately engine-portable
  so DuckDB oracles reproduce signatures bit-for-bit (SimHash, token-level
  features).
- MinHash set elements use `xxhash64` on tokens, with shingle hashes
  combined arithmetically from token hashes — one JVM hash call per token
  instead of a per-character fold, ~10× cheaper per row. Signatures are
  engine-internal (the LSH oracles check against exact ground truth, not
  signature bits), so portability is not required there.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

HASH_PRIME = 1_000_000_007

# Above this many hot (band,key) buckets, banded_candidate_pairs routes the
# hot/cold split through a broadcast join on a hot-key frame instead of
# isin literals, keeping the plan string and driver memory bounded.
HOT_KEY_LITERAL_MAX = 1000

# Deterministic MinHash family h_i(x) = (a_i * x + b_i) mod P.
# First 16 = 4 bands × 4 rows → catches jaccard ≳ 0.5 with high recall;
# all 32 = 16 bands × 2 rows → near-certain recall at jaccard ≥ 0.6
# (miss probability (1-j²)^16 ≈ 8e-4 at j=0.6, ~0 above).
MINHASH_SEEDS: list[tuple[int, int]] = [
    (1_107_677_413, 613_651_349),
    (924_961_777, 443_573_543),
    (687_995_087, 284_499_829),
    (421_856_029, 991_038_943),
    (313_514_441, 177_562_517),
    (198_491_317, 865_043_093),
    (754_298_963, 530_384_761),
    (587_322_721, 92_274_403),
    (860_837_971, 721_935_139),
    (239_867_209, 356_999_989),
    (479_001_599, 148_587_617),
    (663_608_941, 938_475_071),
    (104_395_301, 472_882_027),
    (566_492_537, 259_336_153),
    (378_551_453, 808_182_263),
    (941_083_981, 64_936_379),
    (823_117_499, 505_294_637),
    (151_253_381, 672_409_841),
    (906_352_073, 231_874_099),
    (345_679_627, 884_560_913),
    (718_064_159, 119_826_347),
    (263_940_619, 741_352_693),
    (592_183_801, 398_715_529),
    (837_429_287, 46_509_131),
    (174_852_239, 963_207_443),
    (529_614_857, 286_390_177),
    (691_837_463, 814_923_581),
    (88_463_269, 457_618_939),
    (952_738_417, 603_481_759),
    (316_275_143, 128_947_561),
    (764_591_833, 539_082_677),
    (207_364_529, 975_310_271),
]
LSH_BANDS = 4
LSH_ROWS = 4


def normalize_text(c: Column) -> Column:
    """Lowercase, trim, collapse whitespace — canonical form for exact dedup."""
    return F.lower(F.regexp_replace(F.trim(c), r"\s+", " "))


def tokens(c: Column) -> Column:
    return F.split(F.trim(c), r"\s+")


def poly_hash(s: Column) -> Column:
    """Portable 64-bit-safe polynomial string hash: fold chars with
    acc*31 + ascii(ch) mod 1e9+7. Stays in whole-stage codegen."""
    codes = F.transform(F.split(s, ""), lambda ch: F.ascii(ch).cast("long"))
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * F.lit(31) + x) % F.lit(HASH_PRIME),
    )


def gram_join(t: Column, k: int) -> Column:
    """Positional space-joined k-gram list over a MATERIALIZED token-array
    column — the ONE slice-and-join kernel shared by word shingles (here)
    and text_analysis.ngrams, so gram semantics cannot drift between the
    dedup and analysis families (review r13). Caller handles the
    short-input (< k tokens) and NULL cases."""
    return F.transform(
        F.sequence(F.lit(1), F.size(t) - F.lit(k - 1)),
        lambda i: F.concat_ws(" ", F.slice(t, i, k)),
    )


def word_shingles_from_tokens(t: Column, k: int = 3) -> Column:
    """Distinct k-word shingles from a MATERIALIZED token-array column
    (array<string>) — `t` is sliced once per shingle, so it must be an
    attribute (see evaluation-count note below)."""
    n = F.size(t)
    return F.array_distinct(
        F.when(n >= k, gram_join(t, k)).otherwise(F.array(F.concat_ws(" ", t)))
    )


def word_shingles(c: Column, k: int = 3) -> Column:
    """Distinct k-word shingles of a text column. Convenience form for
    single-use contexts; hot paths stage tokens first (word_shingles_from_tokens)."""
    return word_shingles_from_tokens(tokens(c), k)


def char_ngrams_from_norm(s: Column, n: int = 5) -> Column:
    """Distinct character n-grams from a MATERIALIZED normalized-text
    column — `s` is substringed once per gram position."""
    ln = F.length(s)
    grams = F.transform(
        F.sequence(F.lit(1), ln - F.lit(n - 1)),
        lambda i: s.substr(i, F.lit(n)),
    )
    return F.array_distinct(F.when(ln >= n, grams).otherwise(F.array(s)))


def char_ngrams(c: Column, n: int = 5) -> Column:
    """Distinct character n-grams of normalized text (convenience form)."""
    return char_ngrams_from_norm(normalize_text(c), n)


# EVALUATION-COUNT DISCIPLINE (the dominant cost factor in this module):
# a Column EXPRESSION referenced n times is EVALUATED n times — Catalyst's
# CollapseProject only de-duplicates attribute references, not expression
# trees, and common-subexpression elimination does not reach inside
# higher-order-function lambdas. Every function below that consumes an
# array many times therefore requires its input to be a MATERIALIZED
# column (a `.select(...)` stage making it an attribute), never an inline
# expression. Callers stage their pipelines accordingly.


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Gated repartition for CPU-bound per-row stages: if the scan yields
    fewer partitions than the cluster's parallelism (e.g. a single-row-group
    parquet file, which is unsplittable), spread rows first. At real scale
    inputs arrive as many ≥128 MB row groups, the gate is false, and NO
    shuffle is added — this only rescues the degenerate small-file case.

    The gate estimates scan parallelism from the relation's file listing
    (already cached on the analyzed plan, ~1 ms) instead of
    `df.rdd.getNumPartitions()`, which converts the whole plan to an RDD
    (~150 ms of driver latency per fresh DataFrame); the RDD path remains
    as the fallback for non-local / non-file plans."""
    import os

    def size_bytes(s: str) -> int:
        # JavaUtils.byteStringAsBytes subset: bare number = bytes; suffixes
        # b/k/kb/m/mb/g/gb (conf values arrive in forms like '128m').
        s = s.strip().lower()
        mult = 1
        for suf, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                       ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("b", 1)):
            if s.endswith(suf):
                s, mult = s.removesuffix(suf), m
                break
        return int(s) * mult

    target = min(df.sparkSession.sparkContext.defaultParallelism, 32)
    try:
        files = [f for f in df.inputFiles() if f.startswith("file:")]
        if files:
            conf = df.sparkSession.conf
            max_bytes = size_bytes(conf.get("spark.sql.files.maxPartitionBytes", "134217728b"))
            open_cost = size_bytes(conf.get("spark.sql.files.openCostInBytes", "4194304b"))
            total = sum(os.path.getsize(f.removeprefix("file:")) for f in files)
            # Spark PACKS small files into few splits (bin-packing with
            # per-file cost = size + openCostInBytes), so len(files) is NOT
            # a lower bound on scan parallelism — 32 tiny files still land
            # in one split. Mirror the packing estimate instead.
            est = -(-(total + len(files) * open_cost) // max_bytes)
            return df.repartition(target) if est < target else df
    except Exception:
        pass
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def token_hashes_from_tokens(t: Column) -> Column:
    """Per-token hashes reduced mod P over an already-staged token ARRAY
    (see `ngrams`' staging note: pass an attribute column so the split
    is not re-evaluated per element)."""
    return F.transform(t, lambda x: F.pmod(F.xxhash64(x), F.lit(HASH_PRIME)))


def token_hashes(c: Column) -> Column:
    """Per-token hashes reduced mod P (array<long>): one xxhash64 JVM call
    per token. Reduction keeps later affine combinations below 2^63 (ANSI
    mode throws on long overflow — magnitudes are controlled algebraically,
    not by wraparound)."""
    return token_hashes_from_tokens(tokens(c))


def shingle_hashes_from_token_hashes(th: Column | str, k: int = 3) -> Column:
    """Hashes of k-word shingles combined arithmetically from token hashes.
    `th` MUST be a materialized column (see module note) — `element_at` is
    evaluated k times per shingle. Duplicate shingle hashes are left in
    place: MinHash takes a min, so distinctness is irrelevant and skipping
    array_distinct saves a per-row sort.

    Pass the column NAME (str) in hot paths: the expression is then built
    as ONE SQL parse JVM-side instead of dozens of py4j round-trips —
    plan-construction latency is a measured driver-side cost at bench
    cadence (see module note on expression-size discipline)."""
    if isinstance(th, str):
        acc = f"element_at({th}, i)"
        for j in range(1, k):
            acc = f"pmod({acc} * 31L + element_at({th}, i + {j}), {HASH_PRIME}L)"
        return F.expr(
            f"CASE WHEN size({th}) >= {k} THEN "
            f"transform(sequence(1, size({th}) - {k - 1}), i -> {acc}) "
            f"ELSE array(aggregate({th}, 0L, (acc, h) -> pmod(acc * 31L + h, {HASH_PRIME}L))) END"
        )
    n = F.size(th)

    def combine(i: Column) -> Column:
        acc = F.element_at(th, i)
        for j in range(1, k):
            acc = F.pmod(acc * F.lit(31) + F.element_at(th, i + j), F.lit(HASH_PRIME))
        return acc

    shingled = F.transform(F.sequence(F.lit(1), n - F.lit(k - 1)), combine)
    # Fewer than k tokens: one pseudo-shingle from the whole hash array.
    whole = F.aggregate(
        th,
        F.lit(0).cast("long"),
        lambda acc, x: F.pmod(acc * F.lit(31) + x, F.lit(HASH_PRIME)),
    )
    return F.when(n >= k, shingled).otherwise(F.array(whole))


def minhash_signature_from_hashes(set_hashes: Column | str, n_hashes: int = 16) -> Column:
    """MinHash signature (array<long>, len n_hashes) over mod-P element
    hashes. `set_hashes` MUST be a materialized column — it is scanned once
    per hash function (n_hashes single-pass array_min folds over an
    attribute, the cheapest available shape).

    Pass the column NAME (str) in hot paths: n_hashes transform trees
    render as ONE SQL parse instead of ~6·n_hashes py4j round-trips."""
    if n_hashes > len(MINHASH_SEEDS):
        # the Column form would silently truncate to the seed-table
        # length; banded slicing past the shorter signature then yields
        # empty band keys that merge EVERY document into one global
        # bucket (review r11)
        raise ValueError(
            f"n_hashes={n_hashes} exceeds the {len(MINHASH_SEEDS)}-entry "
            "seed table (MINHASH_SEEDS); extend the table to raise banding"
        )
    if isinstance(set_hashes, str):
        # Nested-loop form: ONE transform over the seed index with the
        # (a, b) coefficient vectors as literal arrays, instead of
        # n_hashes unrolled transform trees. Identical values — pmod(a*h
        # + b, P) per (seed, element) either way — but the Catalyst tree
        # is O(1) in n_hashes instead of O(n_hashes), which is the
        # difference between ~0.1 s and multiple seconds of per-query
        # analysis/optimization on the near-dup pipelines (execution is
        # the same nested loop after codegen; the constant arrays fold
        # to literals).
        a_arr = ", ".join(f"{a}L" for a, b in MINHASH_SEEDS[:n_hashes])
        b_arr = ", ".join(f"{b}L" for a, b in MINHASH_SEEDS[:n_hashes])
        # CALLER CONTRACT (review r12): {set_hashes} must name a
        # MATERIALIZED attribute (a localCheckpoint barrier below the
        # projection), not a live staged expression — CollapseProject
        # inlines a single-reference projection into this per-seed
        # lambda and the whole shingle/gram-hash pass re-evaluates once
        # per seed (measured 16x wall on the LSH pipelines; a CASE
        # double-reference does NOT stop the inlining — verified).
        return F.expr(
            f"transform(sequence(0, {n_hashes - 1}), i -> "
            f"array_min(transform({set_hashes}, h -> "
            f"pmod(element_at(array({a_arr}), i + 1) * h"
            f" + element_at(array({b_arr}), i + 1), {HASH_PRIME}L))))"
        )

    def permute(a: int, b: int):
        # closure factory: PySpark inspects lambda arity, so default-arg
        # tricks (lambda h, a=a: ...) would read as multi-arg lambdas.
        return lambda h: F.pmod(F.lit(a) * h + F.lit(b), F.lit(HASH_PRIME))

    mins = [
        F.array_min(F.transform(set_hashes, permute(a, b)))
        for a, b in MINHASH_SEEDS[:n_hashes]
    ]
    return F.array(*mins)


def minhash_signature(shingles: Column) -> Column:
    """MinHash signature (array<long>, len 16) over a shingle STRING array
    (portable-hash variant kept for signature-level parity tests)."""
    hashes = F.transform(shingles, poly_hash)

    def permute(a: int, b: int):
        return lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(HASH_PRIME)

    mins = [F.array_min(F.transform(hashes, permute(a, b))) for a, b in MINHASH_SEEDS[:16]]
    return F.array(*mins)


def _band_explode(
    sigs: DataFrame,
    n_bands: int,
    n_rows: int,
    m_struct: Column,
    extra: tuple[str, ...] = (),
) -> DataFrame:
    """Explode a (_id, _sig[, ...]) signature frame into banding rows
    (m, *extra, band, key) — the ONE band-hash expression shared by
    same-corpus candidate pairing and the cross-corpus decontamination
    join, which had drifted as a ~90-line copy (review r12, closed r13).

    Band structs as ONE nested-loop expression (a transform over the
    band index) instead of n_bands unrolled struct trees: same values,
    O(1) Catalyst tree size — plan analysis/optimization time on the
    near-dup pipelines is dominated by tree size, not execution."""
    return sigs.select(
        m_struct.alias("m"),
        *[F.col(c) for c in extra],
        F.expr(
            f"explode(transform(sequence(0, {n_bands - 1}), j -> "
            f"named_struct('band', j, 'key', "
            f"concat_ws('-', transform(slice(_sig, j * {n_rows} + 1, {n_rows}), "
            f"x -> cast(x AS string))))))"
        ).alias("b"),
    ).select("m", *extra, "b.band", "b.key")


def _split_hot_cold(
    bands: DataFrame, keys: list[str], bucket_cap: int | None
) -> tuple[DataFrame, DataFrame | None]:
    """Split banding rows into (cold_bands, hot_bands-or-None) around the
    degenerate-bucket guard: buckets larger than ``bucket_cap`` must not
    materialize as one collect_list row (a boilerplate cluster collides
    in EVERY band; C(m, 2) expansion in one task is a serialized hot spot
    no executor count helps) — the caller expands them through an
    equi-join instead, which AQE's skew handling can split.

    The hot-key list comes from one map-side-combinable count with a
    BOUNDED collect: at most HOT_KEY_LITERAL_MAX+1 keys ever reach the
    driver. ≤ max → this IS the complete hot set (limit returned
    everything) and the common empty case keeps the exact pre-guard
    plan. The overflow sentinel (+1 row) switches to a semi/anti-join
    split against the UNCOLLECTED hot-key frame (r8 verdict ask #5) —
    a pathological corpus with millions of >cap clusters neither bloats
    the plan string nor the driver; AQE picks broadcast vs shuffle by
    the frame's actual size. Same rows either way.

    Key composition: one string so a literal isin filter splits hot from
    cold without any join. Delimiter collisions are impossible (band is
    an int, key a dash-joined decimal string, and the field separator
    appears in neither). A NULL field is encoded as the bare NUL sentinel
    and a non-null value gets a \\x01 prefix, so NULL, '' and the literal
    string "\\x00" all compose DISTINCTLY — plain coalesce-to-'' would
    let an oversized empty-string-block bucket drag same-(band,key)
    NULL-block rows out of the cold path (and vice versa), and the cold
    path groups NULL blocks into buckets while a plain-equality hot join
    would silently drop their pairs."""
    if bucket_cap is None:
        return bands, None
    hot_df = (
        bands.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_bsz"))
        .where(F.col("_bsz") > bucket_cap)
        .select(*keys)
    )
    hot_keys = [
        tuple(r[c] for c in keys)
        for r in hot_df.limit(HOT_KEY_LITERAL_MAX + 1).collect()
    ]
    if not hot_keys:
        return bands, None
    sep = "\x1f"

    def enc_col(c: str) -> Column:
        col = F.col(c).cast("string")
        return F.when(col.isNull(), F.lit("\x00")).otherwise(
            F.concat(F.lit("\x01"), col)
        )

    def enc_val(v) -> str:
        return "\x00" if v is None else "\x01" + str(v)

    composed = F.concat_ws(sep, *[enc_col(c) for c in keys])
    if len(hot_keys) <= HOT_KEY_LITERAL_MAX:
        lits = [sep.join(enc_val(v) for v in t) for t in hot_keys]
        return bands.where(~composed.isin(lits)), bands.where(composed.isin(lits))
    hk = hot_df.select(F.concat_ws(sep, *[enc_col(c) for c in keys]).alias("_ck"))
    tagged = bands.withColumn("_ck", composed)
    return (
        tagged.join(hk, "_ck", "left_anti").drop("_ck"),
        tagged.join(hk, "_ck", "left_semi").drop("_ck"),
    )


def banded_candidate_pairs(
    sigs: DataFrame,
    n_bands: int,
    n_rows: int,
    block_col: str | None = None,
    est_min: float | None = None,
    bucket_cap: int | None = 512,
) -> DataFrame:
    """LSH banding: `sigs` is (_id, _sig array<long>[, block]); emit distinct
    candidate pairs (id_a < id_b) that collide in ≥1 band.

    Scale shape: explode to n_bands rows, ONE shuffle on (band, key[, blk]),
    then pairs are expanded per bucket (groupBy + collect_list + in-array
    combination) — NOT a bands⋈bands self-join. The self-join shape would
    re-evaluate the (expensive) signature pipeline feeding `sigs` once per
    join side; here it runs exactly once per input row. The pair space is
    the sum of per-bucket C(size, 2), never global O(n²); normal LSH bucket
    sizes are bounded by band selectivity, so collect_list stays small.

    `bucket_cap` guards the DEGENERATE case band selectivity cannot bound:
    a near-identical cluster (boilerplate duplicated across millions of
    pages) collides in EVERY band, and an uncapped collect_list would
    materialize the whole cluster in one row and expand C(m, 2) pairs in
    ONE task — a serialized O(m²) hot spot no amount of executors helps.
    Buckets larger than the cap are routed through an equi-self-join on
    the bucket key instead (their C(m, 2) output is demanded by the
    all-pairs contract either way, but a join distributes the expansion
    and AQE's skew handling can split the hot key across tasks, neither
    of which a per-bucket array can do). The hot-key list comes from one
    map-side-combinable count COLLECTED to the driver — bounded by
    definition (≤ one key per cluster larger than the cap; the same
    boundedness a broadcast would assume), and collecting it lets the
    overwhelmingly common empty case keep the exact pre-guard plan: no
    anti-join, no empty hot join, just one cheap count job over the
    checkpointed signatures. Results are IDENTICAL with or without the
    cap; only the physical expansion changes. `bucket_cap=None` skips
    the guard (single-consumption plan, no checkpoint) for callers that
    know their corpus cannot degenerate.

    `est_min`: optional inline minhash-agreement prefilter — the fraction of
    agreeing signature positions estimates jaccard at O(len(sig)) per pair
    from the signatures already collected, so screening costs no extra join.
    """
    blk_names = ["_blk"] if block_col else []
    if bucket_cap is not None:
        # With the cap on, the banding relation is consumed THREE times
        # below (hot-bucket count, cold anti-join, hot inner join);
        # materialize the signatures so each consumer re-runs only the
        # cheap band explode, never the expensive signature pipeline
        # feeding `sigs` (id + sig ≈ 300 B/doc — the same size class the
        # winnow/substring pipelines checkpoint).
        sigs = sigs.localCheckpoint(eager=True)
    bands = _band_explode(
        sigs,
        n_bands,
        n_rows,
        F.struct(F.col("_id").alias("i"), F.col("_sig").alias("s")),
        extra=tuple(blk_names),
    )
    keys = ["band", "key", *blk_names]
    cold_bands, hot_bands = _split_hot_cold(bands, keys, bucket_cap)

    buckets = (
        cold_bands.groupBy(*keys)
        .agg(F.collect_list("m").alias("ms"))
        .where(F.size("ms") > 1)
    )

    def est(xs: Column, ys: Column) -> Column:
        agree = F.size(F.filter(F.zip_with(xs, ys, lambda p, q: p == q), lambda eq: eq))
        return agree.cast("double") / F.size(xs)

    def pair(x: Column, y: Column) -> Column:
        return F.struct(
            F.least(x["i"], y["i"]).alias("id_a"),
            F.greatest(x["i"], y["i"]).alias("id_b"),
            est(x["s"], y["s"]).alias("est"),
        )

    ms = F.col("ms")
    pairs_arr = F.flatten(
        F.transform(
            ms,
            lambda x, i: F.transform(F.slice(ms, i + 2, F.size(ms)), lambda y: pair(x, y)),
        )
    )
    cand = buckets.select(F.explode(pairs_arr).alias("p")).select(
        "p.id_a", "p.id_b", "p.est"
    )

    if hot_bands is not None:
        ha, hb = hot_bands.alias("ha"), hot_bands.alias("hb")
        # eqNullSafe on every key column: the cold collect_list path groups
        # NULL blocks into buckets like any other value, so the hot join
        # must match NULL==NULL too or an oversized NULL-block bucket's
        # pairs vanish (ADVICE r8 #1). Costs nothing for non-null keys.
        hot_cand = ha.join(
            hb,
            [F.col(f"ha.{c}").eqNullSafe(F.col(f"hb.{c}")) for c in keys]
            + [F.col("ha.m.i") < F.col("hb.m.i")],
        ).select(
            F.col("ha.m.i").alias("id_a"),
            F.col("hb.m.i").alias("id_b"),
            est(F.col("ha.m.s"), F.col("hb.m.s")).alias("est"),
        )
        cand = cand.unionByName(hot_cand)

    if est_min is not None:
        cand = cand.where(F.col("est") >= est_min)
    return cand.select("id_a", "id_b").distinct()


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two distinct-element arrays."""
    return F.size(F.array_intersect(a, b)).cast("double") / F.size(F.array_union(a, b))


def simhash32_from_hashes(hashes: Column | str) -> Column:
    """32-bit SimHash from a MATERIALIZED distinct-token-hash column: bit j
    set iff the sum over hashes of (±1 by hash bit j) is positive.

    Effective width is 30 bits: inputs are mod-P hashes (P < 2^30), so
    bits 30/31 of every signature are 0 — calibrate prefix banding and
    hamming thresholds for 30 discriminating bits (review r11; the
    closed-form oracle mirrors the same mod-P inputs, so both sides
    share the dead bits and parity is unaffected).

    String form (hot path): ONE fold over the hash array carrying a
    32-slot vote vector (vs 32 separate folds in the Column form — same
    arithmetic, 32× fewer array traversals), built as a single SQL parse."""
    if isinstance(hashes, str):
        return F.expr(
            "aggregate("
            "  zip_with("
            f"   aggregate({hashes}, array_repeat(0L, 32), (acc, h) ->"
            "      zip_with(acc, sequence(0, 31), (a, j) ->"
            "        a + (shiftright(h, j) & 1L) * 2L - 1L)),"
            "   sequence(0, 31),"
            "   (v, j) -> IF(v > 0, shiftleft(1L, j), 0L)),"
            "  0L, (a, x) -> a + x)"
        )

    def bit_vote(j: int):
        return lambda acc, h: acc + (F.shiftright(h, j).bitwiseAND(F.lit(1)) * 2 - 1)

    out = F.lit(0).cast("long")
    for j in range(32):
        bit_sum = F.aggregate(hashes, F.lit(0).cast("long"), bit_vote(j))
        out = out + F.when(bit_sum > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return out


def simhash32(token_arr: Column) -> Column:
    """32-bit SimHash over a token array (convenience form — hot paths
    stage the hash array first, see simhash32_from_hashes)."""
    return simhash32_from_hashes(F.array_distinct(F.transform(token_arr, poly_hash)))


def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via hash-groupBy on normalized text: one row per
    duplicate group with the canonical (min) id and the group size.
    Scale: single hash aggregate on md5 — map-side partial agg applies."""
    fp = F.md5(normalize_text(F.col(text_col))).alias("fingerprint")
    return (
        df.select(fp, F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_k: int = 3,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + banded LSH + exact-jaccard verify.

    Pipeline: shingle → 16-way minhash → 4 bands of 4 → shuffle on
    (band, key) → candidate pairs → exact jaccard filter. Returns
    (id_a, id_b, jaccard) with id_a < id_b.
    """
    # NULL-text rows are EXCLUDED from pairing, not hashed: the shingle
    # fallback would give every NULL doc the identical [""] shingle set
    # and all-NULL signature, emitting spurious jaccard=1.0 pairs that
    # no oracle reproduces (NULL never equi-joins) — a NULL document
    # cannot be a near-duplicate of anything (review r13).
    df = ensure_parallelism(
        df.select(F.col(id_col).alias(id_col), F.col(text_col)).where(
            F.col(text_col).isNotNull()
        )
    )
    # Staged projections: each hash array becomes an ATTRIBUTE before the
    # next stage scans it many times (module evaluation-count note).
    # HARD barrier before the per-seed transform (review r12, same
    # hazard the winnow path documents): CollapseProject inlines the
    # single-reference _shh projection into the seed lambda, re-running
    # the whole shingle-hash pass once PER SEED (16x measured).
    # (Optimization r13 trialled the ngram path's Arrow signature kernel
    # here to drop this barrier action; an interleaved A/B on the bench
    # corpus showed the expression path equal-or-faster — word-shingle
    # hash arrays are ~6× shorter than the ngram path's char-gram arrays,
    # so the kernel's per-row Python loop outweighs the saved checkpoint
    # at this document length. The kernel remains the cross-corpus join's
    # shape (minhash_lsh_join), where its two per-side barriers were pure
    # cost; revisit if the corpus document length grows.)
    sigs = (
        df.select(F.col(id_col).alias("_id"), token_hashes(F.col(text_col)).alias("_th"))
        .select("_id", shingle_hashes_from_token_hashes("_th", shingle_k).alias("_shh"))
        .localCheckpoint(eager=True)
        .select(
            "_id",
            minhash_signature_from_hashes("_shh", LSH_BANDS * LSH_ROWS).alias("_sig"),
        )
    )
    candidates = banded_candidate_pairs(sigs, LSH_BANDS, LSH_ROWS)

    # Exact-jaccard verify over shingle STRING sets (matches the
    # ground-truth oracle); staged the same way.
    sh = df.select(F.col(id_col).alias("_id"), tokens(F.col(text_col)).alias("_toks")).select(
        "_id", word_shingles_from_tokens(F.col("_toks"), shingle_k).alias("_shingles")
    )
    return (
        candidates.join(sh.alias("sa"), F.col("id_a") == F.col("sa._id"))
        .join(sh.alias("sb"), F.col("id_b") == F.col("sb._id"))
        .select(
            "id_a",
            "id_b",
            jaccard(F.col("sa._shingles"), F.col("sb._shingles")).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def winnow_gram_hashes(s: Column, k: int = 8) -> Column:
    """Portable k-gram hashes of a MATERIALIZED normalized-text column —
    the input to winnowing. Uses poly_hash so DuckDB oracles reproduce
    every hash bit-for-bit."""
    ln = F.length(s)
    return F.transform(
        F.sequence(F.lit(1), F.greatest(ln - F.lit(k - 1), F.lit(1))),
        lambda i: poly_hash(s.substr(i, F.lit(k))),
    )


def winnow_minima(gh: Column | str, w: int = 4) -> Column:
    """Winnowing fingerprint set (the MOSS local-minima scheme, Schleimer/
    Wilkerson/Aiken 2003) over a MATERIALIZED gram-hash column: each
    w-window's MINIMUM, distinct — any shared substring of length
    ≥ w + k − 1 between two documents is guaranteed to share a
    fingerprint, the copied-passage property the set-similarity family
    (MinHash on shingles) cannot provide.

    `gh` MUST be an attribute (module evaluation-count note): it is read
    inside the per-window lambda, so an inline EXPRESSION would re-run
    the full gram-hash pass once per window — O(len²·k) per row."""
    gh = F.col(gh) if isinstance(gh, str) else gh
    return F.array_distinct(
        F.when(
            F.size(gh) >= w,
            F.transform(
                F.sequence(F.lit(1), F.size(gh) - F.lit(w - 1)),
                lambda i: F.array_min(F.slice(gh, i, w)),
            ),
        ).otherwise(F.array(F.array_min(gh)))
    )


def winnow_shared_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
    min_shared: int = 3,
    max_df: int = 50,
) -> DataFrame:
    """Document pairs sharing ≥ `min_shared` DISCRIMINATIVE winnowing
    fingerprints — copied-passage candidates.

    `max_df` is the stop-fingerprint policy: a fingerprint present in
    more than `max_df` documents is corpus boilerplate, not evidence of
    copying, and — critically for scale — its pair contribution is
    O(df²); one ubiquitous fingerprint (the hash of a common 8-gram wins
    many windows because winnowing picks MINIMA) would alone generate
    C(n_docs, 2) join rows. Capping df bounds per-fingerprint fan-out at
    C(max_df, 2), exactly like the idf cutoff in plagiarism detectors.

    Candidate generation is an inverted-index equi-join on the
    fingerprint (one shuffle), never an all-pairs self-join; the df
    filter is one map-side-combinable aggregate before the join."""
    # Staged projections: text → gram hashes → window minima; the scan is
    # spread first (the hash pass is the CPU-bound stage). The gram-hash
    # stage is pinned behind a HARD materialization barrier: a plain
    # .select stage is NOT enough here, because CollapseProject inlines
    # the alias into the window lambda below (it is referenced inside a
    # higher-order function), re-running the full O(len·k) hash pass once
    # PER WINDOW — O(len²·k) per row, measured minutes-vs-seconds on 500
    # docs. The checkpointed frame is tiny (≈ len longs per doc).
    gh = ensure_parallelism(
        df.select(F.col(id_col).alias("_id"), normalize_text(F.col(text_col)).alias("_s"))
    ).select("_id", winnow_gram_hashes(F.col("_s"), k).alias("_gh"))
    gh = gh.localCheckpoint(eager=True)
    fps = gh.select("_id", winnow_minima("_gh", w).alias("_fps"))
    # The inverted index feeds THREE consumers (df filter + both join
    # sides); materialize it once so the hash pipeline runs once, not
    # three times (it is ~fingerprints-per-doc × docs rows — small
    # relative to the text it came from).
    inv = fps.select("_id", F.explode("_fps").alias("_fp")).localCheckpoint(eager=True)
    keep = (
        inv.groupBy("_fp")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where((F.col("_df") >= 2) & (F.col("_df") <= max_df))
        .select("_fp")
    )
    inv = inv.join(keep, "_fp")
    a, b = inv.alias("a"), inv.alias("b")
    return (
        a.join(b, (F.col("a._fp") == F.col("b._fp")) & (F.col("a._id") < F.col("b._id")))
        .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


# n-gram LSH banding: 32 hashes as 16 bands × 2 rows. Recall at the verify
# threshold j=0.6 is 1-(1-j²)^16 ≈ 0.9992 per pair, ~1.0 for j ≥ 0.7 —
# wide-band (2-row) keys admit more candidates, the exact verify removes
# them, and the pair space stays O(candidates).
NGRAM_LSH_BANDS = 16
NGRAM_LSH_ROWS = 2


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str | None = None,
    threshold: float = 0.5,
    ngram_n: int = 5,
) -> DataFrame:
    """Exact char-n-gram Jaccard near-dup pairs.

    Candidate generation is banded MinHash-LSH over the n-gram sets — the
    same machinery as word-shingle MinHash — so the join is an equi-join on
    (band, key[, block]), never an all-pairs self-join within a block (a
    `source`-keyed block is O(n²) at corpus scale). The optional block
    column further partitions candidates (pairs must share it). Every
    surviving pair is verified with EXACT jaccard over the true gram sets,
    so the output equals the all-pairs ground truth wherever LSH recall
    holds (≥0.999 at the 0.6 verify threshold; see NGRAM_LSH_BANDS note).

    The 32 permutation minima over the (full-universe — see the
    no-sampling note below) gram hashes come from the vectorized Arrow
    kernel `_minhash_sig_arrow_kernel`: one numpy broadcast per chunk,
    bit-identical to `minhash_signature_from_hashes`, and opaque to
    CollapseProject, so no checkpoint barrier is needed before it."""
    blk = [F.col(block_col).alias("_blk")] if block_col else []
    blk_names = ["_blk"] if block_col else []
    # NULL text excluded from pairing — see minhash_lsh_pairs (review r13)
    nrm = ensure_parallelism(
        df.where(F.col(text_col).isNotNull()).select(
            F.col(id_col).alias("_id"),
            *blk,
            normalize_text(F.col(text_col)).alias("_s"),
        )
    )
    # Signature path: RAW gram hashes (array_min ignores duplicates, so the
    # per-row array_distinct sort is pure waste here; the distinct gram
    # SETS are built only in the verify stage where jaccard needs them).
    raw_gram_hashes = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(F.col("_s")) - F.lit(ngram_n - 1), F.lit(1))),
        lambda i: F.pmod(F.xxhash64(F.col("_s").substr(i, F.lit(ngram_n))), F.lit(HASH_PRIME)),
    )
    # Signatures run over the FULL gram-hash universe for every document.
    # An earlier revision sampled hashes ≡ 0 (mod 4) with a fall-back to
    # the full set for short documents — but a per-document cutoff makes
    # the two sides of a boundary-straddling pair hash DIFFERENT
    # universes, and minhash agreement between a full-universe and a
    # sampled-universe signature estimates roughly j/4, not j: a true
    # near-dup pair with one side under and one side over the cutoff was
    # systematically screened out (a false negative no margin recovers).
    # Mod-sketch sampling is only sound when BOTH sides sample, which no
    # per-document rule can guarantee — so no sampling.
    gh_frame = nrm.select("_id", *blk_names, raw_gram_hashes.alias("_gh"))
    n_sig = NGRAM_LSH_BANDS * NGRAM_LSH_ROWS
    id_type = dict(gh_frame.dtypes)["_id"]
    blk_schema = f", _blk {dict(gh_frame.dtypes)['_blk']}" if block_col else ""
    # seed-table bound is checked inside _minhash_sig_arrow_kernel
    # (one definition; every kernel caller inherits the fast failure)
    sigs = gh_frame.mapInPandas(
        _minhash_sig_arrow_kernel(n_sig, blk_names),
        schema=f"_id {id_type}{blk_schema}, _sig array<long>",
    )
    grams = nrm.select(
        "_id", *blk_names, char_ngrams_from_norm(F.col("_s"), ngram_n).alias("_grams")
    )
    # Signature-estimate prefilter (est_min): wide (2-row) bands admit many
    # false candidates — tens of thousands on boilerplate-heavy corpora —
    # and the EXACT verify intersects ~10³-element gram sets per pair.
    # Requiring minhash agreement ≥ threshold - 0.2 removes ~99% of false
    # candidates while a true pair at j ≥ threshold fails the margin with
    # probability < 1% (binomial(32, j) more than 2.3σ below its mean); the
    # exact verify then restores 100% precision. The screen runs INLINE in
    # the bucket pair expansion — no join back to the signature relation.
    screened = banded_candidate_pairs(
        sigs,
        NGRAM_LSH_BANDS,
        NGRAM_LSH_ROWS,
        block_col=block_col,
        est_min=threshold - 0.2,
    )
    g = grams.select("_id", "_grams")
    return (
        screened.join(g.alias("ga"), F.col("id_a") == F.col("ga._id"))
        .join(g.alias("gb"), F.col("id_b") == F.col("gb._id"))
        .select(
            "id_a",
            "id_b",
            jaccard(F.col("ga._grams"), F.col("gb._grams")).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def _minhash_sig_arrow_kernel(n_hashes: int, passthrough: list[str]):
    """Build a mapInPandas kernel computing the SAME MinHash signature as
    `minhash_signature_from_hashes` — min over pmod(a·h + b, P) per seed —
    vectorized: one (seeds × gram-chunk) int64 broadcast multiply per
    chunk instead of n_hashes interpreted array passes per row. Values
    are bit-identical (a, h, b < P so a·h + b < P² ≈ 10¹⁸ < 2⁶³; numpy %
    matches pmod on non-negative operands). Chunking bounds the temp to
    seeds × 64Ki int64 (~16 MB) regardless of document size."""
    import numpy as np

    if n_hashes > len(MINHASH_SEEDS):
        # fail fast and descriptively at BUILD time for every caller —
        # MINHASH_SEEDS[:n] silently truncates, so a bands/rows config
        # past the seed table would otherwise die mid-job with a numpy
        # shape mismatch (ADVICE r13)
        raise ValueError(
            f"n_hashes={n_hashes} exceeds the {len(MINHASH_SEEDS)}-entry "
            "seed table (MINHASH_SEEDS); extend the table"
        )
    A = np.array([a for a, _ in MINHASH_SEEDS[:n_hashes]], dtype=np.int64)[:, None]
    B = np.array([b for _, b in MINHASH_SEEDS[:n_hashes]], dtype=np.int64)[:, None]

    def fn(batches):
        import pandas as pd

        for pdf in batches:
            sigs = []
            for gh in pdf["_gh"].values:
                h = np.asarray(gh, dtype=np.int64)
                best = np.full(n_hashes, HASH_PRIME, dtype=np.int64)
                for off in range(0, h.size, 65536):
                    seg = h[off : off + 65536][None, :]
                    np.minimum(best, ((A * seg + B) % HASH_PRIME).min(axis=1), out=best)
                sigs.append(best.tolist())
            out = {c: pdf[c].values for c in ["_id", *passthrough]}
            out["_sig"] = sigs
            yield pd.DataFrame(out)

    return fn


def merge_sorted_intervals(iv: Column | str) -> Column:
    """Merge a SORTED array<struct<a:int,b:int>> of half-open [a, b)
    intervals into disjoint islands (classic sorted-interval merge as a
    single fold — per-row array work, no extra shuffle). `iv` must be an
    attribute."""
    iv = F.col(iv) if isinstance(iv, str) else iv
    last = lambda acc: F.element_at(acc, -1)  # noqa: E731
    return F.aggregate(
        iv,
        F.expr("CAST(array() AS array<struct<a:int,b:int>>)"),
        lambda acc, x: F.when(
            (F.size(acc) > 0) & (x["a"] <= last(acc)["b"]),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        last(acc)["a"].alias("a"),
                        F.greatest(last(acc)["b"], x["b"]).alias("b"),
                    )
                ),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _winnow_seed_kernel(k: int, w: int):
    """Build the mapInPandas kernel: (_id, _s) batches → (_id, _pos, _gram)
    winnowing seed occurrences: the DISTINCT 1-based gram positions that
    are the LEFTMOST minimum of some w-window of `poly_hash` k-gram
    hashes (one position per doc with fewer than w grams: its overall
    leftmost minimum), each with its gram text. The vectorized Horner
    pass reproduces `poly_hash` exactly (the gram hash
    Σ c_{p+j}·31^(k−1−j) mod P over unicode CODEPOINTS is reduced mod P
    at every step, so each value is the unique residue in [0, P)), numpy
    argmin picks the leftmost window minimum like SQL array_position's
    first match, and gram text is sliced by codepoint like substr — so
    the DuckDB oracle's SQL mirror reproduces every seed.
    int64 bounds: h·31 + c < 31·P + 2²¹ ≪ 2⁶³.

    The positions carry the winnowing guarantee: two identical
    substrings of length ≥ w + k − 1 select seeds at the SAME offsets
    relative to the substring start (the hash windows inside the copied
    region are identical arrays), which makes the selection a
    position-independent anchor for duplicated-SPAN detection — a
    strided sample could never line up across copies at different
    offsets.

    Vectorized ACROSS documents (optimization r14, guide §4.2): each
    chunk's texts concatenate into ONE codepoint array, the k-step
    Horner loop hashes every gram position of the chunk in O(N·k)
    vectorized work, and one global windowed argmin + segmented
    row-range selection replaces the per-document numpy calls (the old
    per-row loop paid ~25 numpy dispatches per document — measured
    ~290 µs/doc on a 300-char-mean corpus, several times the math).
    Gram hashes are position-independent, so values computed over the
    concatenation equal the per-document values exactly, and windows
    never cross documents because each document's window rows are
    selected from its own gram range. CHUNK bounds the scratch arrays
    (~5 int64 arrays of ≤ CHUNK elements) regardless of batch size."""
    import numpy as np

    CHUNK = 1 << 20  # codepoints per vectorized chunk (~40 MB scratch)

    def run_chunk(ids, texts, lens):
        """ids/texts/lens: chunk-local docs, each len ≥ k, batch order.
        Returns (id_array, pos_array, grams_list) ordered by (doc, pos)
        — the same emission order as the old per-document loop."""
        nd = len(texts)
        big = "".join(texts)
        c = np.frombuffer(big.encode("utf-32-le"), dtype="<u4").astype(np.int64)
        n_all = len(c)
        m_all = n_all - k + 1
        h = np.zeros(m_all, dtype=np.int64)
        for j in range(k):
            h *= 31
            h += c[j : j + m_all]
            h %= HASH_PRIME
        offs = np.zeros(nd, dtype=np.int64)
        np.cumsum(lens[:-1], out=offs[1:])
        ngrams = lens - k + 1
        nwin = ngrams - w + 1
        big_key = int(lens.max()) + 2  # > any 1-based pos; packs (doc, pos)
        keys = []
        sel = np.nonzero(nwin >= 1)[0]
        if len(sel):
            # leftmost argmin of every w-window of the chunk via an O(w)
            # offset sweep over CONTIGUOUS slices (windows that straddle
            # documents are computed but never selected below). argmin
            # over sliding_window_view(h, w) computes the same thing but
            # reduces a strided (m, w) view element-by-element — measured
            # 1.5 s/1.4M windows vs 0.03 s for this sweep (the microbench
            # that caught it: plans/r14/winnow_kernel_micro.txt). Strict
            # `<` keeps the EARLIEST offset on ties — exactly numpy
            # argmin's leftmost-match rule.
            nw_all = m_all - w + 1
            best = h[:nw_all].copy()
            amin_all = np.zeros(nw_all, dtype=np.int64)
            for j in range(1, w):
                cand = h[j : j + nw_all]
                better = cand < best
                amin_all[better] = j
                np.copyto(best, cand, where=better)
            nw = nwin[sel]
            tot = int(nw.sum())
            ends = np.cumsum(nw)
            # segmented arange: r_local = 0..nwin_d-1 within each doc
            r_local = np.arange(tot, dtype=np.int64) - np.repeat(ends - nw, nw)
            rows = np.repeat(offs[sel], nw) + r_local
            pos_local = amin_all[rows] + r_local + 1
            keys.append(np.repeat(sel.astype(np.int64), nw) * big_key + pos_local)
        for d in np.nonzero(nwin < 1)[0]:
            # fewer grams than one window: the doc's single seed is the
            # argmin over all its grams (the SQL oracle's fallback too)
            o = int(offs[d])
            g = h[o : o + int(ngrams[d])]
            keys.append(
                np.array([d * big_key + int(g.argmin()) + 1], dtype=np.int64)
            )
        # np.unique = per-doc DISTINCT positions, sorted by (doc, pos) —
        # identical rows and order to the old per-doc np.unique loop
        ukey = np.unique(np.concatenate(keys))
        d_idx = ukey // big_key
        pos = ukey % big_key
        gpos = (offs[d_idx] + pos - 1).tolist()
        grams = [big[q : q + k] for q in gpos]
        return ids[d_idx], pos, grams

    def fn(batches):
        import pandas as pd

        for pdf in batches:
            ids_all = pdf["_id"].values
            texts_all = pdf["_s"].values
            id_parts, pos_parts, grams = [], [], []
            cur: list[int] = []
            cur_chars = 0

            def flush():
                nonlocal cur, cur_chars
                if cur:
                    idx = np.array(cur, dtype=np.int64)
                    texts = [texts_all[i] or "" for i in cur]
                    lens = np.fromiter(
                        (len(s) for s in texts), dtype=np.int64, count=len(texts)
                    )
                    i_a, p_a, g_l = run_chunk(ids_all[idx], texts, lens)
                    id_parts.append(i_a)
                    pos_parts.append(p_a)
                    grams.extend(g_l)
                cur, cur_chars = [], 0

            for i in range(len(texts_all)):
                s = texts_all[i] or ""
                if len(s) < k:
                    # no k-gram fits: emit no seeds (a doc shorter than k
                    # cannot contain a duplicated span ≥ k+w−1 — ADVICE r8
                    # #3: whole-short-doc removal exceeded the contract)
                    continue
                cur.append(i)
                cur_chars += len(s)
                if cur_chars >= CHUNK:
                    flush()
            flush()
            if id_parts:
                yield pd.DataFrame(
                    {
                        "_id": np.concatenate(id_parts),
                        "_pos": np.concatenate(pos_parts),
                        "_gram": grams,
                    }
                )
            else:
                yield pd.DataFrame({"_id": [], "_pos": [], "_gram": []})

    return fn


def substring_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 20,
    w: int = 8,
) -> DataFrame:
    """Exact duplicated-SPAN removal — the Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better") ExactSubstr operator,
    re-expressed for Spark. Where the paper builds a monolithic suffix
    array over the concatenated corpus, this uses winnowing-anchored
    k-gram seeds: every duplicated span of length ≥ k + w − 1 (normalized
    chars) is guaranteed to share fingerprint GRAMS at identical offsets
    relative to the span, so duplicated regions are found by one
    equi-shuffle on gram TEXT (exact by construction — the join key is
    the literal substring, not a hash, so collisions are impossible).

    Semantics: the globally FIRST occurrence of each duplicated gram
    (ordered by (id, pos)) is canonical and kept; every other occurrence
    marks its [pos, pos+k) char range for removal. Marks within one
    duplicated span provably overlap (consecutive winnowing picks are ≤ w
    gram-positions apart and k ≥ w + 1), so the per-doc interval merge
    reconstructs each duplicated region as ONE island, modulo ≤ w − 1
    unanchored chars at the span edges — the same edge slack the paper's
    implementation accepts. Self-repeats inside a single document are
    removed too (only the first copy survives), matching the paper.

    Returns one row per input document:
      (id_col, n_dup_spans, removed_chars, clean_len, clean_text)
    where clean_text is the normalized text with islands cut out.
    Documents with normalized length < k pass through UNCHANGED (0 spans):
    they cannot contain a span ≥ k+w−1, so they emit no seeds — exact-dup
    short docs are intentionally NOT removed by this operator (use
    exact_duplicates for whole-document dedup).

    Scale shape (100 TB): gram hashing and fingerprint selection are
    map-only per-row work (zero shuffle); the only corpus-wide shuffles
    are the (gram) group — fan-out bounded at ~len/w fingerprints per
    doc, each group touched by one partial-aggregatable pass, never a
    pairwise join — and the per-doc mark regroup + stitch join. No
    suffix array, no all-pairs stage, no driver-side state.

    Seed extraction is the vectorized Arrow kernel `_winnow_seed_kernel`
    (O(len·k) vectorized Horner hash + O(len·w) window argmin per batch,
    map-only): an interpreted per-gram substr-fold alternative ran ~3×
    slower (q_dedup_substring at sf0.1 on 4 cores)."""
    if k < w + 1:
        raise ValueError(f"k must be ≥ w+1 so in-span marks merge (got k={k}, w={w})")
    nrm = ensure_parallelism(
        df.select(
            F.col(id_col).alias("_id"),
            normalize_text(F.coalesce(F.col(text_col), F.lit(""))).alias("_s"),
        )
    ).localCheckpoint(eager=True)
    # Docs with normalized length < k emit NO seed occurrences: they cannot
    # contain a duplicated span of length ≥ k+w−1, and treating the whole
    # text as one clamped gram deleted exact-dup short docs entirely —
    # beyond the documented contract (ADVICE r8 #3). Such docs pass
    # through unchanged (0 spans, 0 removed chars).
    seedable = nrm.where(F.length("_s") >= k)
    id_type = dict(nrm.dtypes)["_id"]
    occ = seedable.mapInPandas(
        _winnow_seed_kernel(k, w), schema=f"_id {id_type}, _pos int, _gram string"
    )
    # Materialize the seed occurrences ONCE: `occ` feeds two consumers —
    # the canonical-gram aggregate and the marks join — whose exchange
    # shapes differ (partial-agg vs raw shuffle), so exchange reuse can
    # never share them and the seed-extraction pass (THE throughput
    # stage: the O(len·w) winnow kernel) ran
    # twice per action. The checkpointed frame is the fingerprint table
    # (~len/w rows per doc), measured 2.1 → 1.8 s on the islands subgraph
    # at sf0.1 (optimization r14, guide §5/§1.2).
    occ = occ.localCheckpoint(eager=True)
    # Canonical selection via PARTIAL-AGGREGATABLE min(struct), not a
    # row_number window: a boilerplate gram duplicated across millions of
    # docs would put every occurrence in ONE window partition (windows
    # sort whole partitions and AQE cannot split them); groupBy+min
    # combines map-side so a hot gram reduces to one row per task, and
    # the occ⋈canon equi-join below stays a sort-merge join that AQE's
    # skew handling CAN split. min(struct(_id,_pos)) = the globally
    # first occurrence under (id, pos) order — identical semantics.
    canon = (
        occ.groupBy("_gram")
        .agg(
            F.min(F.struct("_id", "_pos")).alias("_first"),
            F.count(F.lit(1)).alias("_cnt"),
        )
        .where(F.col("_cnt") >= 2)
        .select("_gram", "_first")
    )
    marks = (
        occ.join(canon, "_gram")
        .where(F.struct("_id", "_pos") != F.col("_first"))
        .select(
            "_id",
            F.col("_pos").alias("a"),
            (F.col("_pos") + F.lit(k)).alias("b"),
        )
    )
    islands = (
        marks.groupBy("_id")
        .agg(F.array_sort(F.collect_list(F.struct("a", "b"))).alias("_iv"))
        .select("_id", F.col("_iv").alias("_iv_sorted"))
        .select("_id", merge_sorted_intervals("_iv_sorted").alias("_isl"))
    )
    joined = nrm.join(islands, "_id", "left").select(
        "_id",
        "_s",
        F.coalesce(
            # clamp island ends to len+1 so short-doc grams (substr clamps
            # below k chars) never claim chars past the end of the string
            F.transform(
                F.col("_isl"),
                lambda x: F.struct(
                    x["a"].alias("a"),
                    F.least(x["b"], F.length("_s") + F.lit(1)).alias("b"),
                ),
            ),
            F.expr("CAST(array() AS array<struct<a:int,b:int>>)"),
        ).alias("_isl"),
    )
    isl = F.col("_isl")
    s = F.col("_s")
    stitched = F.aggregate(
        isl,
        F.struct(F.lit("").alias("txt"), F.lit(1).alias("cur")),
        lambda acc, x: F.struct(
            F.concat(acc["txt"], s.substr(acc["cur"], x["a"] - acc["cur"])).alias("txt"),
            x["b"].alias("cur"),
        ),
        lambda acc: F.concat(acc["txt"], s.substr(acc["cur"], F.length(s) - acc["cur"] + 1)),
    )
    return joined.select(
        F.col("_id").alias(id_col),
        F.size(isl).cast("long").alias("n_dup_spans"),
        F.aggregate(
            isl, F.lit(0), lambda acc, x: acc + (x["b"] - x["a"])
        ).cast("long").alias("removed_chars"),
        stitched.alias("clean_text"),
    ).select(
        id_col,
        "n_dup_spans",
        "removed_chars",
        F.length("clean_text").cast("long").alias("clean_len"),
        "clean_text",
    )


# Salted double-hashing family for the expression-built Bloom filter.
BLOOM_SALTS: tuple[str, ...] = ("b0:", "b1:", "b2:", "b3:")


def bloom_positions_sql(gram_expr: str, m_bits: int) -> str:
    """SQL array expression of the k bit positions for one gram value —
    pmod(xxhash64(salt || gram), m) per salt. A string so callers can
    embed it inside higher-order lambdas (shiftright/shiftleft take
    column bit counts only in SQL form)."""
    parts = ", ".join(
        f"pmod(xxhash64(concat('{s}', {gram_expr})), {m_bits}L)" for s in BLOOM_SALTS
    )
    return f"array({parts})"


def bloom_build(grams: DataFrame, gram_col: str, m_bits: int = 1 << 17) -> DataFrame:
    """Build a Bloom filter over a gram relation as a 1-row DataFrame
    (`bloom` array<long>, m_bits/64 words) — Spark ships no user-facing
    bloom_filter_agg, so this is the expression-built equivalent: each
    gram contributes k = len(BLOOM_SALTS) bit positions (map-side), the
    positions reduce through ONE partial-aggregatable groupBy(word) →
    bit_or, and the finished filter — FIXED size m/64 longs, independent
    of input cardinality — is collected and re-emitted as a single row
    for the scalar-broadcast probe join. The collect is bounded by m,
    never by data (the same boundedness contract as the LSH hot-key
    collect).

    Scale: this is the decontamination shape when the benchmark gram set
    outgrows a broadcast hash set — the filter stays KBs at any corpus
    size, and the probe is pure map-side arithmetic."""
    pos = grams.select(
        F.explode(F.expr(bloom_positions_sql(gram_col, m_bits))).alias("_p")
    )
    words = (
        pos.select(
            (F.col("_p") / 64).cast("long").alias("_w"),
            F.pmod(F.col("_p"), F.lit(64)).cast("int").alias("_b"),
        )
        .groupBy("_w")
        .agg(F.expr("bit_or(shiftleft(1L, _b))").alias("_word"))
    )
    filled = {int(r["_w"]): int(r["_word"]) for r in words.collect()}
    arr = [filled.get(i, 0) for i in range(m_bits // 64)]
    return grams.sparkSession.createDataFrame([(arr,)], "bloom array<long>")


def bloom_might_contain_sql(gram_expr: str, m_bits: int, bloom_col: str = "bloom") -> str:
    """SQL predicate: every salted bit position of `gram_expr` is set in
    the `bloom_col` word array (the might_contain probe — no false
    negatives; false-positive rate set by m/n and k)."""
    return (
        f"forall({bloom_positions_sql(gram_expr, m_bits)}, p -> "
        f"(shiftright(element_at({bloom_col}, cast(p div 64 AS int) + 1), "
        f"cast(p % 64 AS int)) & 1L) = 1L)"
    )


def minhash_lsh_join(
    corpus: DataFrame,
    probe: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_k: int = 3,
    bucket_cap: int | None = 512,
) -> DataFrame:
    """Cross-corpus near-duplicate JOIN: fuzzy decontamination.

    Exact n-gram decontamination (q_decontamination) misses paraphrased
    or lightly-edited benchmark leakage; this is the fuzzy tier — MinHash
    + banded LSH across TWO corpora (training corpus × benchmark/probe
    set), exact-jaccard verified. Returns (corpus_id, probe_id, jaccard)
    for pairs with J ≥ threshold.

    Scale shape (the q_dedup_minhash_lsh single-shuffle discipline, made
    cross-corpus): both sides' signatures union into ONE (band, key)
    shuffle; buckets expand only CROSS-side pairs (side equality filtered
    inside the per-bucket array combination — a corpus never pairs
    against itself, so a 100 TB corpus with a small probe set does
    near-zero pair work); the exact verify joins shingle sets only for
    screened pairs. No all-pairs stage anywhere; corpus and probe ids may
    overlap (sides are tracked, not encoded into ids).
    """

    def sigs(df: DataFrame, side: int) -> DataFrame:
        # NULL text excluded — see minhash_lsh_pairs (review r13)
        base = ensure_parallelism(
            df.select(F.col(id_col), F.col(text_col)).where(
                F.col(text_col).isNotNull()
            )
        )
        # vectorized Arrow signature kernel — bit-identical to the expr
        # path and opaque to CollapseProject, so no per-side checkpoint
        # barrier action is needed (see minhash_lsh_pairs; optimization
        # r13, guide §4.2)
        gh = base.select(
            F.col(id_col).alias("_id"), token_hashes(F.col(text_col)).alias("_th")
        ).select(
            "_id", shingle_hashes_from_token_hashes("_th", shingle_k).alias("_gh")
        )
        id_type = dict(gh.dtypes)["_id"]
        return gh.mapInPandas(
            _minhash_sig_arrow_kernel(LSH_BANDS * LSH_ROWS, []),
            schema=f"_id {id_type}, _sig array<long>",
        ).withColumn("_side", F.lit(side))

    u = sigs(corpus, 0).unionByName(sigs(probe, 1))
    if bucket_cap is not None:
        # mirror banded_candidate_pairs: the banding relation feeds the
        # hot-bucket count and both split branches — checkpoint the
        # signatures so only the cheap explode re-runs
        u = u.localCheckpoint(eager=True)
    bands = _band_explode(
        u,
        LSH_BANDS,
        LSH_ROWS,
        F.struct(
            F.col("_id").alias("i"), F.col("_sig").alias("s"), F.col("_side").alias("d")
        ),
    )
    # Degenerate-bucket guard (shared _split_hot_cold mechanics): a
    # boilerplate cluster shared by corpus and probe collides in every
    # band; its bucket must not materialize as one collect_list row. Hot
    # buckets expand through a cross-side equi-join instead —
    # AQE-skew-splittable, and same-side pairs never form because the
    # join sides are the side-0 and side-1 slices.
    cold_bands, hot_bands = _split_hot_cold(bands, ["band", "key"], bucket_cap)
    buckets = (
        cold_bands.groupBy("band", "key")
        .agg(F.collect_list("m").alias("ms"))
        .where(F.size("ms") > 1)
    )

    def pair(x: Column, y: Column) -> Column:
        # orient: corpus member first; same-side pairs carry NULLs and
        # are dropped before the explode output leaves the bucket
        c = F.when(x["d"] == 0, x).otherwise(y)
        p = F.when(x["d"] == 0, y).otherwise(x)
        return F.when(
            x["d"] != y["d"],
            F.struct(c["i"].alias("corpus_id"), p["i"].alias("probe_id")),
        )

    ms = F.col("ms")
    pairs_arr = F.filter(
        F.flatten(
            F.transform(
                ms,
                lambda x, i: F.transform(
                    F.slice(ms, i + 2, F.size(ms)), lambda y: pair(x, y)
                ),
            )
        ),
        lambda s: s.isNotNull(),
    )
    cand = buckets.select(F.explode(pairs_arr).alias("p")).select(
        "p.corpus_id", "p.probe_id"
    )
    if hot_bands is not None:
        ca_h = hot_bands.where(F.col("m.d") == 0).alias("hc")
        pb_h = hot_bands.where(F.col("m.d") == 1).alias("hp")
        hot_cand = ca_h.join(
            pb_h,
            (F.col("hc.band") == F.col("hp.band")) & (F.col("hc.key") == F.col("hp.key")),
        ).select(
            F.col("hc.m.i").alias("corpus_id"), F.col("hp.m.i").alias("probe_id")
        )
        cand = cand.unionByName(hot_cand)
    cand = cand.distinct()

    def shingles(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col).alias("_id"), tokens(F.col(text_col)).alias("_toks")
        ).select("_id", word_shingles_from_tokens(F.col("_toks"), shingle_k).alias("_sh"))

    sa, sb = shingles(corpus).alias("ca"), shingles(probe).alias("pb")
    return (
        cand.join(sa, F.col("corpus_id") == F.col("ca._id"))
        .join(sb, F.col("probe_id") == F.col("pb._id"))
        .select(
            "corpus_id",
            "probe_id",
            jaccard(F.col("ca._sh"), F.col("pb._sh")).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
