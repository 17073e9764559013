"""Deduplication queries over `documents` (LLM-pipeline surface).

Oracle strategy: the portable polynomial hash (dedup.py) is reproduced
in DuckDB SQL bit-for-bit, so signatures/fingerprints hash-match; for
MinHash-LSH the oracle is the exact all-pairs ground truth (the LSH path
must achieve full recall at the planted-duplicate similarity level —
verified by tests/test_dedup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from timefusion_spark.operators import dedup as dd
from timefusion_spark.queries._tables import await_settled, t
from timefusion_spark.registry import REGISTRY, query

# DuckDB mirror of operators/dedup.py::poly_hash (acc*31+ascii mod 1e9+7).
_H = (
    "list_reduce([0::BIGINT] || list_transform(range(1, length({s})+1), "
    "i -> ascii({s}[i])::BIGINT), (a,b) -> (a*31+b) % 1000000007)"
)

_SHINGLES3 = """
    CASE WHEN len(toks) >= 3
         THEN list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                             for i in range(1, len(toks)-1)])
         ELSE [array_to_string(toks, ' ')] END
"""


@query(
    "q_dedup_exact",
    oracle="""
    SELECT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fingerprint,
           MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    ORDER BY keep_id
    """,
    doc="Exact dedup: hash-groupBy on normalized-text md5 (scale: one "
    "map-side-combinable aggregate).",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return dd.exact_duplicates(d).orderBy("keep_id")


@query(
    "q_dedup_minhash_lsh",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents
    ), sh AS (
      SELECT doc_id, {_SHINGLES3} AS shingles FROM tok
    ), inv AS (
      SELECT doc_id, unnest(shingles) AS s FROM sh
    ), siz AS (
      SELECT doc_id, len(shingles) AS n FROM sh
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
      FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(i::DOUBLE / (sa.n + sb.n - i), 4) AS jaccard
    FROM inter
    JOIN siz sa ON sa.doc_id = id_a
    JOIN siz sb ON sb.doc_id = id_b
    WHERE i::DOUBLE / (sa.n + sb.n - i) >= 0.5
    ORDER BY id_a, id_b
    """,
    doc="MinHash(16) + banded LSH(4×4) + exact-jaccard verify ≥0.5 on "
    "3-word shingles. Oracle = exact ground truth via an inverted-index "
    "equi-join (every J>0 pair shares a shingle; |A∩B| falls out of the "
    "group-by) — sub-quadratic, so the same oracle runs at sf0.1.",
)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    pairs = dd.minhash_lsh_pairs(d, threshold=0.5)
    return pairs.select(
        "id_a", "id_b", F.round("jaccard", 4).alias("jaccard")
    ).orderBy("id_a", "id_b")


@query(
    "q_dedup_simhash",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             list_distinct(list_transform(string_split_regex(trim(text), '\\s+'),
                                          s -> {_H.format(s='s')})) AS hs
      FROM documents
    )
    SELECT doc_id,
           CAST(list_sum(list_transform(range(0, 32), j ->
               CASE WHEN list_sum(list_transform(hs, h -> ((h >> j) & 1) * 2 - 1)) > 0
                    THEN (1::BIGINT << j) ELSE 0::BIGINT END)) AS BIGINT) AS simhash
    FROM tok
    ORDER BY doc_id
    """,
    doc="SimHash(32-bit) signatures from token hashes — per-row array "
    "arithmetic, bit-for-bit matched by the oracle.",
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    # Stage the hash array into an attribute: simhash folds over it 32
    # times, and a folded EXPRESSION would be re-evaluated per fold.
    staged = d.select(
        "doc_id",
        F.array_distinct(F.transform(dd.tokens(F.col("text")), dd.poly_hash)).alias("_hs"),
    )
    return staged.select(
        "doc_id", dd.simhash32_from_hashes("_hs").alias("simhash")
    ).orderBy("doc_id")


@query(
    "q_dedup_ngram_jaccard",
    oracle="""
    WITH nrm AS (
      SELECT doc_id, source, lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS s
      FROM documents
    ), grams AS (
      SELECT doc_id, source,
             CASE WHEN length(s) >= 5
                  THEN list_distinct([s[i:i+4] for i in range(1, length(s)-3)])
                  ELSE [s] END AS gs
      FROM nrm
    ), inv AS (
      SELECT doc_id, source, unnest(gs) AS g FROM grams
    ), siz AS (
      SELECT doc_id, len(gs) AS n FROM grams
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
      FROM inv a JOIN inv b
        ON a.g = b.g AND a.source IS NOT DISTINCT FROM b.source AND a.doc_id < b.doc_id -- null-safe: the operator pairs docs WITHIN a NULL block (review r12)
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(i::DOUBLE / (sa.n + sb.n - i), 4) AS jaccard
    FROM inter
    JOIN siz sa ON sa.doc_id = id_a
    JOIN siz sb ON sb.doc_id = id_b
    WHERE i::DOUBLE / (sa.n + sb.n - i) >= 0.6
    ORDER BY id_a, id_b
    """,
    doc="Exact char-5-gram Jaccard near-dup pairs, blocked by source "
    "(blocking bounds the pair space at scale). Oracle = exact ground "
    "truth via a source-blocked inverted-index equi-join — sub-quadratic, "
    "so the same oracle runs at sf0.1.",
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    pairs = dd.ngram_jaccard_pairs(d, block_col="source", threshold=0.6, ngram_n=5)
    return pairs.select(
        "id_a", "id_b", F.round("jaccard", 4).alias("jaccard")
    ).orderBy("id_a", "id_b")


@query(
    "q_winnow_passages",
    oracle=f"""
    WITH nrm AS (
      SELECT doc_id, lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS s
      FROM documents
    ), grams AS (
      -- outer index is j: the poly-hash mirror's inner lambda binds i,
      -- and DuckDB lambda shadowing would otherwise corrupt the slice
      SELECT doc_id,
             list_transform(range(1, greatest(length(s) - 7, 1) + 1),
                            j -> {_H.format(s='s[j:j+7]')}) AS gh
      FROM nrm
    ), fps AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(gh) >= 4
                  THEN list_transform(range(1, len(gh) - 3 + 1),
                                      j -> list_min(gh[j:j+3]))
                  ELSE [list_min(gh)] END) AS fp
      FROM grams
    ), inv AS (
      SELECT doc_id, unnest(fp) AS f FROM fps
    ), keep AS (
      SELECT f FROM inv GROUP BY f HAVING COUNT(*) BETWEEN 2 AND 50
    ), disc AS (
      SELECT i.doc_id, i.f FROM inv i JOIN keep USING (f)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
    FROM disc a JOIN disc b ON a.f = b.f AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING COUNT(*) >= 20
    ORDER BY id_a, id_b
    """,
    doc="Winnowing copied-passage detection (the MOSS local-minima "
    "fingerprint scheme): k=8-gram portable hashes, w=4 window minima — "
    "any shared substring of length ≥ 11 chars is guaranteed a shared "
    "fingerprint. Fingerprints in >50 docs are corpus boilerplate and "
    "dropped (the idf stop-fingerprint policy — also what bounds the "
    "inverted-index join at O(df²) per fingerprint); pairs sharing ≥20 "
    "discriminative fingerprints survive (the top tail of the shared-"
    "fingerprint distribution — median overlap on this templated corpus "
    "is 4). Oracle reproduces the hash, "
    "windowing, and df policy bit-for-bit.",
)
def q_winnow_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    pairs = dd.winnow_shared_pairs(d, k=8, w=4, min_shared=20, max_df=50)
    return pairs.select("id_a", "id_b", "n_shared").orderBy("id_a", "id_b")


@query(
    "q_dedup_editdistance",
    oracle=f"""
    WITH nrm AS (
      SELECT doc_id, lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS s
      FROM documents
    ), tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents
    ), sh AS (
      SELECT doc_id, {_SHINGLES3} AS shingles FROM tok
    ), inv AS (
      SELECT doc_id, unnest(shingles) AS s FROM sh
    ), siz AS (
      SELECT doc_id, len(shingles) AS n FROM sh
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
      FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), cand AS (
      SELECT id_a, id_b
      FROM inter
      JOIN siz sa ON sa.doc_id = id_a
      JOIN siz sb ON sb.doc_id = id_b
      WHERE i::DOUBLE / (sa.n + sb.n - i) >= 0.5
    )
    SELECT c.id_a, c.id_b,
           CAST(levenshtein(na.s, nb.s) AS BIGINT) AS edit_dist
    FROM cand c
    JOIN nrm na ON na.doc_id = c.id_a
    JOIN nrm nb ON nb.doc_id = c.id_b
    WHERE levenshtein(na.s, nb.s) <= CAST(FLOOR(0.2 * greatest(length(na.s), length(nb.s))) AS BIGINT) -- FLOOR: Spark's double->bigint cast truncates, DuckDB's rounds (review r12)
    ORDER BY id_a, id_b
    """,
    doc="Edit-distance verification tier: shingle-level near-dup "
    "candidates (exact J\u22650.5 via the sub-quadratic inverted index) "
    "refined by CHARACTER-level normalized Levenshtein \u2264 20% of the "
    "longer document \u2014 the O(n\u00b7m) DP runs only on the tiny "
    "screened pair set, never on raw candidates. Both engines compute "
    "the same integer distance.",
)
def q_dedup_editdistance(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    nrm = d.select(F.col("doc_id").alias("_id"), dd.normalize_text(F.col("text")).alias("_s"))
    cand = dd.minhash_lsh_pairs(d, threshold=0.5).select("id_a", "id_b")
    na, nb = nrm.alias("na"), nrm.alias("nb")
    joined = (
        cand.join(na, F.col("id_a") == F.col("na._id"))
        .join(nb, F.col("id_b") == F.col("nb._id"))
        .select(
            "id_a",
            "id_b",
            F.levenshtein(F.col("na._s"), F.col("nb._s")).cast("bigint").alias("edit_dist"),
            F.greatest(F.length("na._s"), F.length("nb._s")).alias("_maxlen"),
        )
    )
    return (
        joined.where(F.col("edit_dist") <= (F.lit(0.2) * F.col("_maxlen")).cast("bigint"))
        .select("id_a", "id_b", "edit_dist")
        .orderBy("id_a", "id_b")
    )


@query(
    "q_dedup_substring",
    oracle=f"""
    WITH nrm AS (
      SELECT doc_id,
             lower(regexp_replace(trim(coalesce(text, '')), '\\s+', ' ', 'g')) AS s
      FROM documents
    ), gr AS (
      -- outer index is j: the poly-hash mirror's inner lambda binds i.
      -- Docs shorter than k=20 emit no seeds (cannot hold a span ≥ k+w−1).
      SELECT doc_id, s,
             list_transform(range(1, length(s) - 19 + 1),
                            j -> {_H.format(s='s[j:j+19]')}) AS gh
      FROM nrm
      WHERE length(s) >= 20
    ), fp AS (
      SELECT doc_id, s,
             list_distinct(CASE WHEN len(gh) >= 8
                  THEN list_transform(range(1, len(gh) - 7 + 1),
                                      j -> j - 1 + list_position(gh[j:j+7], list_min(gh[j:j+7])))
                  ELSE [list_position(gh, list_min(gh))] END) AS pos
      FROM gr
    ), occ AS (
      SELECT doc_id, unnest(pos) AS p, s FROM fp
    ), occ2 AS (
      SELECT doc_id, p, s[p:p+19] AS gram FROM occ
    ), marked AS (
      SELECT doc_id, p,
             row_number() OVER (PARTITION BY gram ORDER BY doc_id, p) AS rn,
             count(*) OVER (PARTITION BY gram) AS cnt
      FROM occ2
    ), marks AS (
      SELECT doc_id, p AS a, p + 20 AS b FROM marked WHERE cnt >= 2 AND rn > 1
    ), isl0 AS (
      SELECT doc_id, a, b,
             CASE WHEN a <= coalesce(max(b) OVER (PARTITION BY doc_id ORDER BY a, b
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                  THEN 0 ELSE 1 END AS brk
      FROM marks
    ), isl AS (
      SELECT doc_id, a, b,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY a, b ROWS UNBOUNDED PRECEDING) AS gid
      FROM isl0
    ), islands AS (
      SELECT i.doc_id, gid, min(a) AS ia, least(max(b), length(any_value(n.s)) + 1) AS ib
      FROM isl i JOIN nrm n USING (doc_id)
      GROUP BY i.doc_id, gid
    ), segs AS (
      SELECT doc_id, coalesce(lag(ib) OVER (PARTITION BY doc_id ORDER BY ia), 1) AS sa,
             ia AS sb_excl
      FROM islands
      UNION ALL
      SELECT doc_id, max(ib) AS sa, NULL AS sb_excl FROM islands GROUP BY 1
    ), built AS (
      SELECT g.doc_id,
             string_agg(CASE WHEN sb_excl IS NULL THEN n.s[sa:length(n.s)]
                             ELSE n.s[sa:sb_excl - 1] END, '' ORDER BY sa) AS clean
      FROM segs g JOIN nrm n USING (doc_id)
      GROUP BY 1
    ), agg AS (
      SELECT doc_id, count(*)::BIGINT AS n_dup_spans, sum(ib - ia)::BIGINT AS removed_chars
      FROM islands GROUP BY 1
    )
    SELECT n.doc_id,
           coalesce(a.n_dup_spans, 0)::BIGINT AS n_dup_spans,
           coalesce(a.removed_chars, 0)::BIGINT AS removed_chars,
           length(coalesce(b.clean, n.s))::BIGINT AS clean_len,
           coalesce(b.clean, n.s) AS clean_text
    FROM nrm n
    LEFT JOIN agg a USING (doc_id)
    LEFT JOIN built b USING (doc_id)
    ORDER BY n.doc_id
    """,
    doc="Exact duplicated-SPAN removal (Lee et al. 2022 ExactSubstr): "
    "winnowing-anchored k=20-gram seeds (w=8 windows — every duplicated "
    "span ≥ 27 normalized chars is guaranteed anchored at identical "
    "relative offsets in both copies), grouped on the literal gram TEXT "
    "(collision-free), globally-first occurrence kept, every other "
    "occurrence's [pos, pos+20) range marked, per-doc marks merged into "
    "islands (in-span marks provably overlap since k ≥ w+1) and cut out "
    "of the text. Spark-first: suffix-array-free — gram hashing and "
    "fingerprint selection are one map-only Arrow kernel; the corpus-wide "
    "work is one (gram) window shuffle + one per-doc regroup. Oracle "
    "reproduces the hash, argmin windowing, mark, merge and stitch "
    "bit-for-bit in SQL (gaps-and-islands + ordered string_agg).",
)
def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return dd.substring_dedup(d, k=20, w=8).orderBy("doc_id")


@query(
    "q_dedup_substring_arrow",
    oracle=REGISTRY["q_dedup_substring"].oracle,
    doc="Same query and oracle as q_dedup_substring, kept under its own "
    "name: it named the Arrow seed-extraction kernel (vectorized Horner "
    "pass reproducing poly_hash over unicode codepoints + leftmost "
    "window argmin) while an expression twin existed; substring_dedup "
    "now has that one path.",
)
def q_dedup_substring_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    return q_dedup_substring(spark, sf_dir)


@query(
    "q_fuzzy_decontamination",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents
    ), sh AS (
      SELECT doc_id, {_SHINGLES3} AS shingles FROM tok
    ), inv AS (
      SELECT doc_id, unnest(shingles) AS s FROM sh
    ), siz AS (
      SELECT doc_id, len(shingles) AS n FROM sh
    ), inter AS (
      SELECT a.doc_id AS corpus_id, b.doc_id AS probe_id, COUNT(*) AS i
      FROM inv a JOIN inv b ON a.s = b.s
      WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
      GROUP BY 1, 2
    )
    SELECT corpus_id, probe_id,
           ROUND(i::DOUBLE / (sa.n + sb.n - i), 4) AS jaccard
    FROM inter
    JOIN siz sa ON sa.doc_id = corpus_id
    JOIN siz sb ON sb.doc_id = probe_id
    WHERE i::DOUBLE / (sa.n + sb.n - i) >= 0.5
    ORDER BY corpus_id, probe_id
    """,
    doc="Cross-corpus FUZZY decontamination: MinHash + banded LSH JOIN "
    "between a training corpus (even doc_ids) and a benchmark/probe set "
    "(odd doc_ids), exact-jaccard verified at ≥0.5 — the paraphrase-"
    "tolerant tier above q_decontamination's exact 5-gram overlap. "
    "Spark-first: both sides' signatures union into ONE (band, key) "
    "shuffle; buckets expand only cross-side pairs (a 100 TB corpus "
    "never pairs against itself when the probe set is small); exact "
    "verify joins shingle sets only for screened pairs. Oracle = exact "
    "cross-side ground truth via the inverted-index equi-join (the LSH "
    "path achieves full recall at the planted-duplicate similarity).",
)
def q_fuzzy_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    corpus = d.where(F.col("doc_id") % 2 == 0)
    probe = d.where(F.col("doc_id") % 2 == 1)
    pairs = dd.minhash_lsh_join(corpus, probe, threshold=0.5)
    return pairs.select(
        "corpus_id", "probe_id", F.round("jaccard", 4).alias("jaccard")
    ).orderBy("corpus_id", "probe_id")


@query(
    "q_streaming_dedup_online",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents
    ), sh AS (
      SELECT doc_id, {_SHINGLES3} AS shingles FROM tok
    ), inv AS (
      SELECT doc_id, unnest(shingles) AS s FROM sh
    ), siz AS (
      SELECT doc_id, len(shingles) AS n FROM sh
    ), inter AS (
      SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS i
      FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), dup AS (
      SELECT ia, ib
      FROM inter
      JOIN siz sa ON sa.doc_id = ia
      JOIN siz sb ON sb.doc_id = ib
      WHERE i::DOUBLE / (sa.n + sb.n - i) >= 0.5
    )
    SELECT d.doc_id
    FROM documents d
    WHERE NOT EXISTS (SELECT 1 FROM dup WHERE dup.ib = d.doc_id)
    ORDER BY d.doc_id
    """,
    doc="STREAMING online near-dup dedup — dedup-at-ingest, the shape a "
    "training pipeline runs so duplicates never land: documents arrive "
    "in doc_id order over four micro-batches (file source, "
    "maxFilesPerTrigger=1, mtime-ordered); each batch drops any doc "
    "whose word-shingle jaccard ≥ 0.5 against ANY prior doc — earlier "
    "in-batch docs or the persisted signature index of all previously "
    "seen docs (kept or dropped — 'prior' is stream history, which is "
    "what makes the semantics order-deterministic AND closed-form). "
    "Candidates come from the same 4×4 banded MinHash keys as "
    "q_dedup_minhash_lsh (full recall at j ≥ 0.5 on this corpus, "
    "exact-oracle-certified there); every candidate is exact-verified "
    "against stored distinct string shingles before dropping (at 100 TB "
    "the index would store 64-bit shingle hashes instead of strings — "
    "strings here keep the verify collision-free against the SQL "
    "oracle). The oracle is the closed-form batch truth: kept(i) iff no "
    "j < i with exact jaccard ≥ 0.5, via the all-pairs inverted index.",
)
def q_streaming_dedup_online(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import os
    import shutil
    import tempfile

    base = tempfile.mkdtemp(prefix="tf_sdedup_")
    try:
        d = t(spark, sf_dir, "documents").select("doc_id", "text")
        max_id = d.agg(F.max("doc_id")).collect()[0][0]
        width = (int(max_id) + 4) // 4
        src = os.path.join(base, "src")
        os.makedirs(src)
        for b in range(4):
            part_dir = os.path.join(base, f"part{b}")
            d.where(
                (F.col("doc_id") >= b * width) & (F.col("doc_id") < (b + 1) * width)
            ).coalesce(1).write.json(part_dir)
            (pf,) = glob.glob(os.path.join(part_dir, "part-*.json"))
            dst = os.path.join(src, f"{b:02d}.json")
            shutil.move(pf, dst)
            # strictly increasing mtimes: FileStreamSource discovers files
            # in (modificationTime, path) order, making batch order — and
            # therefore the dedup semantics — deterministic
            os.utime(dst, (1_700_000_000 + b, 1_700_000_000 + b))

        idx_dir = os.path.join(base, "index")
        out_dir = os.path.join(base, "kept")
        state = {"max_seen": -1}

        def feats(df: DataFrame) -> tuple[DataFrame, DataFrame]:
            # stage the token array as an ATTRIBUTE before word_shingles
            # slices it (an inline tokens() expression re-splits the raw
            # text once per shingle position — review r12), put a HARD
            # barrier below the staged hash array so CollapseProject
            # cannot inline it into the per-seed lambda (see
            # minhash_lsh_pairs), and ANOTHER below the signature so the
            # band transform cannot inline the 16-permutation fold and
            # re-run it once per band (review r13 — the same hazard one
            # stage later). NULL-text rows are excluded from banding (a
            # NULL doc can't near-dup anything; caller keeps them).
            toks = df.where(F.col("text").isNotNull()).select(
                F.col("doc_id").alias("_id"),
                dd.tokens(F.col("text")).alias("_toks"),
            )
            th = toks.select(
                "_id",
                dd.token_hashes_from_tokens(F.col("_toks")).alias("_th"),
                dd.word_shingles_from_tokens(F.col("_toks"), 3).alias("_sh"),
            )
            shh = th.select(
                "_id", "_sh", dd.shingle_hashes_from_token_hashes("_th", 3).alias("_shh")
            ).localCheckpoint(eager=True)
            sig = shh.select(
                "_id",
                "_sh",
                dd.minhash_signature_from_hashes("_shh", dd.LSH_BANDS * dd.LSH_ROWS).alias("_sig"),
            ).localCheckpoint(eager=True)
            # band keys via the SHARED banding kernel (review r13: this
            # site hand-rolled a third key format; one definition keeps
            # the streaming recall identical to the certified batch LSH)
            kb = dd._band_explode(
                sig,
                dd.LSH_BANDS,
                dd.LSH_ROWS,
                F.struct(F.col("_id").alias("i"), F.col("_sh").alias("sh")),
            ).select(
                F.col("m.i").alias("_id"),
                F.col("m.sh").alias("_sh"),
                F.concat_ws(
                    "-", F.col("band").cast("string"), F.col("key")
                ).alias("_key"),
            )
            return sig, kb

        def handle(batch: DataFrame, _bid: int) -> None:
            if batch.isEmpty():
                return
            fb, kb = feats(batch)
            lo, hi = fb.agg(F.min("_id"), F.max("_id")).collect()[0]
            # explicit raise, not assert: the ordering invariant is what
            # makes the sequential oracle valid, and assert compiles out
            # under python -O (ADVICE r8 #4)
            if lo is not None and lo <= state["max_seen"]:
                raise RuntimeError(
                    f"stream batches out of doc_id order: {lo} after {state['max_seen']}"
                )
            if hi is not None:
                state["max_seen"] = int(hi)
            # in-batch: earlier (smaller-id) docs of the same batch are prior
            a, b2 = kb.alias("a"), kb.alias("b")
            in_batch = (
                a.join(b2, (F.col("a._key") == F.col("b._key")) & (F.col("a._id") < F.col("b._id")))
                .where(dd.jaccard(F.col("a._sh"), F.col("b._sh")) >= 0.5)
                .select(F.col("b._id").alias("_id"))
            )
            dropped = in_batch
            if os.path.exists(idx_dir):
                # history stores ONE row per doc (_id, _sh, _sig); band
                # keys re-derive at read through the shared kernel — an
                # exploded store would persist the full shingle array
                # once per band, 4x the dominant column (review r13)
                hist = dd._band_explode(
                    spark.read.parquet(idx_dir),
                    dd.LSH_BANDS,
                    dd.LSH_ROWS,
                    F.struct(F.col("_id").alias("i"), F.col("_sh").alias("sh")),
                ).select(
                    F.col("m.i").alias("_hid"),
                    F.col("m.sh").alias("_hsh"),
                    F.concat_ws(
                        "-", F.col("band").cast("string"), F.col("key")
                    ).alias("_key"),
                )
                vs_hist = (
                    kb.join(hist, "_key")
                    .where(dd.jaccard(F.col("_sh"), F.col("_hsh")) >= 0.5)
                    .select("_id")
                )
                dropped = dropped.unionByName(vs_hist)
            # set difference as ONE anti join (review r12: exceptAll +
            # semi evaluated fb twice and shuffled three times); NULL-text
            # docs never enter banding but are KEPT — dedup may not
            # silently drop rows it cannot compare (review r13)
            kept = fb.select("_id").join(dropped.distinct(), "_id", "left_anti")
            nulls = batch.where(F.col("text").isNull()).select(
                F.col("doc_id").alias("_id")
            )
            kept.unionByName(nulls).write.mode("append").parquet(out_dir)
            # history = ALL seen banded docs, kept or dropped — one row
            # per doc; the lookup re-derives band keys from _sig
            fb.write.mode("append").parquet(idx_dir)

        q = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .json(src)
            .writeStream.foreachBatch(handle)
            .option("checkpointLocation", os.path.join(base, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        await_settled(q, 600, "q_streaming_dedup_online")
        out = (
            spark.read.parquet(out_dir)
            .select(F.col("_id").alias("doc_id"))
            .orderBy("doc_id")
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)
