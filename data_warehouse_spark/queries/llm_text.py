"""[ext] LLM-training-data text operators (SURVEY §2.12 X1/X2/X5/X6/X7
plus the dedup / text-analysis / multimodal mandate) over the
`documents` fixture.

Oracle-checkable wherever the computation is expressible in portable
SQL. Hash-based ops default to xxhash64 (JVM-native, which DuckDB
lacks); where a value-level oracle is wanted (x2b, x5d) the registry
query runs the md5-60 hash family instead, which both engines compute
bit-identically (tests/test_operators.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_warehouse_spark.functions.text import (
    lang_id, punct_ratio, quality_score, rolling_fingerprint,
    token_count_bpe_ish, word_count,
)
from data_warehouse_spark.io import load_table
from data_warehouse_spark.operators.dedup import (
    exact_dedup, minhash_lsh_pairs, ngram_jaccard_pairs, shingles,
    simhash_near_pairs,
)
from data_warehouse_spark.queries.registry import register

_TOKS = "string_split_regex(lower(trim(text)), '\\s+')"


@register(
    "x1_exact_dedup",
    oracle="""
WITH corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
)
SELECT sha256(text) AS content_hash,
       MIN(doc_id) AS canonical_id,
       COUNT(*) AS n_copies
FROM corpus GROUP BY sha256(text)
""",
    doc="X1: exact dedup by content hash. Every 5th doc re-arrives "
        "under a new id (the fixture corpus is dup-free); the dedup "
        "collapses them to the original. sha2 grouping shuffles "
        "uniform 256-bit keys — no skew at any corpus size.",
    tags=("ext", "dedup"),
)
def x1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dups = docs.filter(F.col("doc_id") % 5 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1000000)
    corpus = docs.unionByName(dups)
    return exact_dedup(corpus, text_col="text", id_col="doc_id")


@register(
    "x2_minhash_lsh",
    oracle=f"""
WITH toks AS (
    SELECT doc_id AS id, {_TOKS} AS l FROM documents
), grams AS (
    SELECT id, unnest(list_distinct(list_transform(
        range(1, greatest(len(l) - 2, 0) + 1),
        i -> l[i] || ' ' || l[i + 1] || ' ' || l[i + 2]))) AS g
    FROM toks
), sizes AS (
    SELECT id, COUNT(*) AS n_g FROM grams GROUP BY id
), inter AS (
    SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_inter
    FROM grams a JOIN grams b ON a.g = b.g AND a.id < b.id
    GROUP BY a.id, b.id
)
SELECT i.id_a, i.id_b,
       ROUND(n_inter * 1.0 / (sa.n_g + sb.n_g - n_inter), 6) AS jaccard
FROM inter i
JOIN sizes sa ON i.id_a = sa.id
JOIN sizes sb ON i.id_b = sb.id
WHERE n_inter * 1.0 / (sa.n_g + sb.n_g - n_inter) >= 0.5
""",
    doc="X2: MinHash+LSH near-dup candidate pairs, exact-Jaccard "
        "verified (operators/dedup.py). 32 hashes x 8 bands, 3-word "
        "shingles, Jaccard >= 0.5. Only bucket-join shuffles — never a "
        "cross join; scales to web-corpus size. "
        "WHY an exact brute-force oracle is valid for an LSH (the x2d "
        "argument, on natural rather than perturbed plants): the "
        "fixture corpus is BIMODAL — its generator plants near-dups "
        "far above the detection knee (every pair >= 0.8 Jaccard at "
        "sf0.1, >= 8/9 at sf0.01/0.001; NOTHING in [0.35, 0.8) at "
        "any sf), where 8-band/r=4 banding detection is >= 0.985 per "
        "pair and deterministic given the seeded hash family; "
        "tests/test_llm_queries.py pins the union-bound P(any miss) "
        "< 1% on the live fixtures (measured ~5e-4), so a fixture "
        "regeneration that voids this argument fails pytest before "
        "the driver gate sees it. The "
        "verify step makes surviving values exactly Jaccard, so "
        "output == brute force on this corpus. A fixture regeneration "
        "that planted pairs NEAR the 0.5 threshold would break this "
        "(miss prob ~46% at j=0.55) and show as oracle_rows > "
        "spark_rows; recall AT the threshold is quantified in "
        "tests/test_properties.py instead.",
    tags=("ext", "dedup"),
)
def x2_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, text_col="text", id_col="doc_id",
                             num_hashes=32, bands=8, jaccard_threshold=0.5)


# x2b oracle: full SimHash replay in DuckDB SQL. The registry query
# runs the operator with hash_family="md5" (low 60 bits of md5 — the
# one 64-bit-ish hash both engines compute bit-identically; see
# operators/dedup.py:simhash_fingerprints), so the oracle can rebuild
# the EXACT fingerprints: per-token hash -> 60 per-bit vote sums ->
# sign bits -> brute-force hamming join. Banding on the Spark side is
# Manku pigeonhole (h+1 chunks => ZERO false negatives at hamming<=h),
# so brute force is value-identical, not probabilistically so — unlike
# x2, no fixture-distribution argument is needed.
_X2B_VOTES = ",\n           ".join(
    f"SUM(CASE WHEN (h & {1 << b}) != 0 THEN 1 ELSE -1 END) AS v{b}"
    for b in range(60))
_X2B_FP = " + ".join(
    f"(CASE WHEN v{b} > 0 THEN {1 << b}::BIGINT ELSE 0 END)"
    for b in range(60))
_X2B_ORACLE = f"""
WITH toks AS (
    SELECT doc_id AS id, unnest(list_distinct({_TOKS})) AS t
    FROM documents
), th AS (
    SELECT id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM toks
), votes AS (
    SELECT id,
           {_X2B_VOTES}
    FROM th GROUP BY id
), fp AS (
    SELECT id, {_X2B_FP} AS f FROM votes
)
SELECT a.id AS id_a, b.id AS id_b,
       CAST(bit_count(xor(a.f, b.f)) AS BIGINT) AS hamming
FROM fp a JOIN fp b ON a.id < b.id
WHERE bit_count(xor(a.f, b.f)) <= 4
"""


@register(
    "x2b_simhash",
    oracle=_X2B_ORACLE,
    doc="X2b: SimHash near-dup pairs (Manku-style max_hamming+1 chunk "
        "banding, hamming <= 4) — run with the md5-60 hash family so "
        "the oracle replays the full fingerprint pipeline in DuckDB "
        "and certifies VALUES (pair set + exact hamming), not just "
        "rows: both engines parse the low 60 bits of md5 identically, "
        "and the h+1-chunk banding is pigeonhole-exact, so Spark's "
        "banded join provably equals the oracle's brute-force join. "
        "The operator's default stays xxhash64 (JVM-native fast path); "
        "the hash family only changes WHICH near-boundary pairs land "
        "at hamming<=4, not the algorithm under test.",
    tags=("ext", "dedup"),
)
def x2b_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return simhash_near_pairs(docs, text_col="text", id_col="doc_id",
                              max_hamming=4, bits=60, hash_family="md5") \
        .withColumn("hamming", F.col("hamming").cast("long"))


@register(
    "x2c_ngram_jaccard",
    oracle=f"""
WITH toks AS (
    SELECT doc_id AS id, lang AS block, {_TOKS} AS l FROM documents
), grams AS (
    SELECT id, block,
           unnest(list_distinct(list_transform(
               range(1, greatest(len(l) - 1, 0) + 1),
               i -> l[i] || ' ' || l[i + 1]))) AS g
    FROM toks
), sizes AS (
    SELECT id, block, COUNT(*) AS n_g FROM grams GROUP BY id, block
), inter AS (
    SELECT a.block, a.id AS id_a, b.id AS id_b, COUNT(*) AS n_inter
    FROM grams a JOIN grams b
      ON a.block IS NOT DISTINCT FROM b.block
     AND a.g = b.g AND a.id < b.id
    GROUP BY a.block, a.id, b.id
)
SELECT i.block, i.id_a, i.id_b,
       ROUND(n_inter * 1.0 / (sa.n_g + sb.n_g - n_inter), 6) AS jaccard
FROM inter i
JOIN sizes sa ON i.id_a = sa.id AND i.block IS NOT DISTINCT FROM sa.block
JOIN sizes sb ON i.id_b = sb.id AND i.block IS NOT DISTINCT FROM sb.block
WHERE n_inter * 1.0 / (sa.n_g + sb.n_g - n_inter) >= 0.1
""",
    doc="X2c: exact word-bigram Jaccard near-dup pairs within language "
        "blocks — the brute-exact cousin of X2, oracle-checkable since "
        "no hashing is involved at this scale. Blocks beyond "
        "max_block_rows (default 100k) auto-route through the "
        "MinHash-LSH prefilter (operators/dedup.py), so a web-scale "
        "'en' block can never force the quadratic self-join.",
    tags=("ext", "dedup"),
)
def x2c_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, text_col="text", id_col="doc_id",
                               block_col="lang", n=2, threshold=0.1)


@register(
    "x2e_incremental_dedup",
    oracle="""
WITH corpus AS (
    SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0
), batch AS (
    SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
    UNION ALL
    SELECT doc_id + 2000000 AS doc_id, text FROM documents
    WHERE doc_id % 10 <> 0 AND doc_id % 7 = 0
), idx AS (
    SELECT sha256(text) AS h, MIN(doc_id) AS dup_of
    FROM corpus GROUP BY sha256(text)
)
SELECT b.doc_id, i.dup_of, i.dup_of IS NOT NULL AS is_dup
FROM (SELECT doc_id, sha256(text) AS h FROM batch) b
LEFT JOIN idx i ON b.h = i.h
""",
    doc="X2e: incremental corpus dedup — the production shape of X1: a "
        "new crawl batch is checked against the EXISTING corpus instead "
        "of re-deduping everything (corpus = doc_id % 10 != 0; batch = "
        "the held-out tenth plus exact re-arrivals of every 7th corpus "
        "doc under new ids). The corpus side collapses to a "
        "(content_hash, canonical_id) index via group-by BEFORE the "
        "join, so the batch left-join probes one row per distinct "
        "content — at 100 TB that index is the persisted artifact "
        "(bucketed by hash, j12-style) and each daily batch joins "
        "shuffle-once against it; the corpus text itself is never "
        "rescanned. Uniform 256-bit keys — no skew.",
    tags=("ext", "dedup"),
)
def x2e_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    rearrivals = (corpus.filter(F.col("doc_id") % 7 == 0)
                  .withColumn("doc_id", F.col("doc_id") + 2000000))
    batch = docs.filter(F.col("doc_id") % 10 == 0).unionByName(rearrivals)
    idx = (corpus.groupBy(F.sha2("text", 256).alias("h"))
           .agg(F.min("doc_id").alias("dup_of")))
    return (batch.select("doc_id", F.sha2("text", 256).alias("h"))
            .join(idx, on="h", how="left")
            .select("doc_id", "dup_of",
                    F.col("dup_of").isNotNull().alias("is_dup")))


@register(
    "x2g_incremental_minhash",
    oracle=f"""
WITH corpus AS (
    SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0
), batch AS (
    SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
    UNION ALL
    SELECT doc_id + 2000000 AS doc_id, text FROM documents
    WHERE doc_id % 10 <> 0 AND doc_id % 7 = 0
), ctoks AS (
    SELECT doc_id AS id, {_TOKS} AS l FROM corpus
), btoks AS (
    SELECT doc_id AS id, {_TOKS} AS l FROM batch
), cgrams AS (
    SELECT id, unnest(list_distinct(list_transform(
        range(1, greatest(len(l) - 2, 0) + 1),
        i -> l[i] || ' ' || l[i + 1] || ' ' || l[i + 2]))) AS g
    FROM ctoks
), bgrams AS (
    SELECT id, unnest(list_distinct(list_transform(
        range(1, greatest(len(l) - 2, 0) + 1),
        i -> l[i] || ' ' || l[i + 1] || ' ' || l[i + 2]))) AS g
    FROM btoks
), csz AS (
    SELECT id, COUNT(*) AS n_c FROM cgrams GROUP BY id
), bsz AS (
    SELECT id, COUNT(*) AS n_b FROM bgrams GROUP BY id
), inter AS (
    SELECT b.id AS bid, c.id AS cid, COUNT(*) AS n_inter
    FROM bgrams b JOIN cgrams c ON b.g = c.g
    GROUP BY b.id, c.id
), jac AS (
    SELECT i.bid, i.cid,
           n_inter * 1.0 / (bs.n_b + cs.n_c - n_inter) AS j
    FROM inter i
    JOIN bsz bs ON i.bid = bs.id
    JOIN csz cs ON i.cid = cs.id
    WHERE n_inter * 1.0 / (bs.n_b + cs.n_c - n_inter) >= 0.5
), best AS (
    SELECT bid, cid, j,
           row_number() OVER (PARTITION BY bid ORDER BY cid) AS rn
    FROM jac
)
SELECT b.doc_id, best.cid AS dup_of, ROUND(best.j, 6) AS jaccard,
       best.cid IS NOT NULL AS is_dup
FROM batch b LEFT JOIN best ON b.doc_id = best.bid AND best.rn = 1
""",
    doc="X2g: incremental NEAR-dup — x2e's production shape at x2's "
        "similarity level: each new crawl batch (the held-out tenth "
        "plus exact re-arrivals of every 7th corpus doc under new "
        "ids, x2e's split) probes the corpus's persisted LSH band "
        "index instead of re-pairing the corpus against itself; "
        "candidates are exact-Jaccard verified and each batch doc "
        "reports the smallest matching corpus id (operators/"
        "dedup.py:minhash_lsh_incremental). The brute-force oracle "
        "is valid for this LSH by x2's bimodality argument, which "
        "COVERS this pair population: every batch-vs-corpus true "
        "pair is either an exact re-arrival (jaccard 1.0 — identical "
        "shingle sets give identical signatures, detection certain) "
        "or a planted near-dup pair straddling the %10 split, a "
        "subset of the all-pairs population whose union-bound miss "
        "probability tests/test_llm_queries.py pins < 1% (x2g's "
        "subset bound is strictly smaller); the same test's "
        "shadow-zone assert keeps every pair clear of the 0.5 "
        "threshold knee. At 100 TB: the index is bucketed by "
        "(band, bucket) so the daily probe join co-locates; only "
        "the batch is shingled per run; corpus text is rescanned "
        "only for the candidate tail (left-semi pruned).",
    tags=("ext", "dedup"),
)
def x2g_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_warehouse_spark.operators.dedup import minhash_lsh_incremental

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    rearrivals = (corpus.filter(F.col("doc_id") % 7 == 0)
                  .withColumn("doc_id", F.col("doc_id") + 2000000))
    batch = docs.filter(F.col("doc_id") % 10 == 0).unionByName(rearrivals)
    return minhash_lsh_incremental(corpus, batch, text_col="text",
                                   id_col="doc_id", num_hashes=32, bands=8,
                                   jaccard_threshold=0.5)


@register(
    "x13_decontaminate",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, {_TOKS} AS l FROM documents
), grams AS (
    SELECT doc_id,
           unnest(list_distinct(list_transform(
               range(1, greatest(len(l) - 3, 0) + 1),
               i -> l[i] || ' ' || l[i + 1] || ' ' || l[i + 2]
                    || ' ' || l[i + 3]))) AS g
    FROM toks
), eval_grams AS (
    SELECT DISTINCT g FROM grams WHERE doc_id % 37 = 0
), train AS (
    SELECT * FROM grams WHERE doc_id % 37 <> 0
), sizes AS (
    SELECT doc_id, COUNT(*) AS n_grams FROM train GROUP BY doc_id
), shared AS (
    SELECT t.doc_id, COUNT(*) AS n_shared
    FROM train t JOIN eval_grams e ON t.g = e.g GROUP BY t.doc_id
)
SELECT s.doc_id, n_shared, n_grams,
       ROUND(n_shared * 1.0 / n_grams, 6) AS overlap_frac
FROM shared s JOIN sizes z USING (doc_id)
""",
    doc="X13: benchmark decontamination — flag every training document "
        "sharing ANY distinct word 4-gram with the eval set (docs with "
        "doc_id % 37 == 0 stand in for the benchmark; the any-long-"
        "n-gram-collision rule is the GPT-3/Gopher decontamination "
        "recipe, with n shrunk to the synthetic corpus' ~50-word docs). "
        "The eval side reduces to a DISTINCT gram set and is "
        "explicitly broadcast: real benchmarks are fixed-size (MMLU, "
        "GSM8K, ...), so at 100 TB the corpus-sided gram explode "
        "streams map-only against the broadcast set — no corpus "
        "shuffle at all before the per-doc count aggregation, which "
        "shuffles counts on doc ids, not gram text.",
    tags=("ext", "text", "dedup"),
)
def x13_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id",
        F.explode(F.array_distinct(shingles("text", 4))).alias("g"))
    eval_grams = (grams.filter(F.col("doc_id") % 37 == 0)
                  .select("g").distinct().withColumn("__hit", F.lit(1)))
    train = grams.filter(F.col("doc_id") % 37 != 0)
    # ONE corpus pass: the left join against the (distinct, broadcast)
    # eval set tags matches without duplicating rows, so n_grams and
    # n_shared come out of the same aggregate — exploding the corpus
    # twice and re-joining per-doc counts would double the dominant
    # cost at scale.
    frac = F.col("n_shared") / F.col("n_grams")
    return (train.join(F.broadcast(eval_grams), on="g", how="left")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_grams"),
                 F.count("__hit").alias("n_shared"))
            .filter(F.col("n_shared") >= 1)
            .select("doc_id", "n_shared", "n_grams",
                    F.round(frac, 6).alias("overlap_frac")))


@register(
    "x14_token_budget_sample",
    oracle=f"""
WITH sized AS (
    SELECT lang, doc_id,
           CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
           md5(CAST(doc_id AS VARCHAR)) AS k
    FROM documents
), cum AS (
    SELECT lang, doc_id, n_tokens,
           CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY k
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cum_tokens
    FROM sized
)
SELECT lang, doc_id, n_tokens, cum_tokens
FROM cum WHERE cum_tokens <= 2000
""",
    doc="X14: token-budget sampling — every training mix is specified "
        "as 'B tokens of stratum S'; this selects a deterministic, "
        "engine/partitioning-stable subset per language whose token "
        "counts cumulatively fit a 2000-token budget. Docs are ordered "
        "by md5(doc_id) (x9's reproducible-shuffle idiom — no rand()), "
        "and a framed running sum admits docs while under budget. The "
        "window partitions by stratum, so one reducer sorts each "
        "stratum's (hash, count) pairs — counts only, never text. The "
        "100 TB form is IMPLEMENTED as operators/sampling.py:"
        "token_budget_sample_scalable — a two-phase distributed prefix "
        "sum (range-chunk subtotals, offsets off the tiny subtotal "
        "table, within-chunk windows) property-tested equal to this "
        "window at several chunk counts; alternatively a hash cutoff "
        "from a cumulative histogram keeps selection map-only at "
        "~budget accuracy (the md5 ordering makes any prefix an "
        "unbiased sample, which justifies the cutoff shortcut).",
    tags=("ext", "text", "sampling"),
)
def x14_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "lang", "doc_id",
        word_count("text").cast("long").alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("k"))
    w = (Window.partitionBy("lang").orderBy("k")
         .rowsBetween(Window.unboundedPreceding, 0))
    return (sized.withColumn("cum_tokens", F.sum("n_tokens").over(w))
            .filter(F.col("cum_tokens") <= 2000)
            .select("lang", "doc_id", "n_tokens", "cum_tokens"))


@register(
    "x14b_token_budget_scalable",
    oracle=f"""
WITH sized AS (
    SELECT lang, doc_id,
           CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
           md5(CAST(doc_id AS VARCHAR)) AS k
    FROM documents
), cum AS (
    SELECT lang, doc_id, n_tokens,
           CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY k
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cum_tokens
    FROM sized
)
SELECT lang, doc_id, n_tokens, cum_tokens
FROM cum WHERE cum_tokens <= 2000
""",
    doc="X14b: x14's selection computed by the DISTRIBUTED two-phase "
        "prefix sum (operators/sampling.py) instead of the naive "
        "one-reducer-per-stratum window — range-chunk subtotals, "
        "offsets over the chunk-count-sized table, windows within "
        "(stratum, chunk), so parallelism is strata x chunks. The "
        "oracle is IDENTICAL to x14's single-window SQL: the hash "
        "compare certifies that the decomposition is value-exact (the "
        "prefix sum is boundary-invariant even though range-partition "
        "boundaries are sampled), not merely approximately right.",
    tags=("ext", "text", "sampling"),
)
def x14b_token_budget_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_warehouse_spark.operators.sampling import (
        token_budget_sample_scalable,
    )
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "lang",
        F.md5(F.col("doc_id").cast("string")).alias("k"),
        F.col("doc_id"),
        word_count("text").cast("long").alias("n_tokens"))
    # carry doc_id through the sampler by keying on (k, doc_id) is not
    # needed: k = md5(doc_id) is injective over the fixture ids, so
    # join doc_id back over the (collision-free) hash key
    out = token_budget_sample_scalable(
        sized.select("lang", "k", "n_tokens"),
        stratum="lang", key="k", weight="n_tokens", budget=2000)
    # null-safe on lang: the sampler deliberately preserves a NULL
    # stratum (its own window partition); a plain equi-join here would
    # silently drop those rows right after the sampler kept them
    ids = sized.select(F.col("lang").alias("__l"), F.col("k").alias("__k2"),
                       "doc_id")
    return (out.join(ids, on=[F.col("lang").eqNullSafe(F.col("__l")),
                              F.col("k") == F.col("__k2")])
            .select("lang", "doc_id",
                    F.col("n_tokens").alias("n_tokens"),
                    F.col("cum").alias("cum_tokens")))


@register(
    "x15_sequence_packing",
    oracle=f"""
WITH sized AS (
    SELECT lang, doc_id,
           CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
           md5(CAST(doc_id AS VARCHAR)) AS k
    FROM documents
), cum AS (
    SELECT lang, doc_id, n_tokens,
           SUM(n_tokens) OVER (PARTITION BY lang ORDER BY k
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS cum_tokens
    FROM sized WHERE n_tokens > 0
)
SELECT lang, doc_id, n_tokens,
       CAST((cum_tokens - n_tokens) // 512 AS BIGINT) AS start_seq,
       CAST((cum_tokens - 1) // 512 AS BIGINT) AS end_seq
FROM cum
""",
    doc="X15 [ext]: pretraining sequence packing — per language, docs "
        "are concatenated in deterministic md5(doc_id) order (x9's "
        "reproducible-shuffle idiom) and the token stream is chopped "
        "into fixed 512-token sequences; each doc's placement "
        "(start_seq, end_seq — a long doc straddles several) is pure "
        "integer arithmetic off the running token sum. This is the "
        "GPT-style packed-batch layout every training loader needs: "
        "given (doc -> sequence range), a reader materializes sequence "
        "i from exactly the docs whose range covers i. Runs on the "
        "DISTRIBUTED two-phase prefix sum (operators/sampling.py:"
        "sequence_pack — range-chunk subtotals + offsets over the "
        "chunk-count-sized table), so per-stratum work spreads over "
        "strata x chunks; the oracle is the naive one-reducer window, "
        "so the hash compare certifies the decomposition is "
        "value-exact, as with x14b. Zero-token docs are excluded "
        "(they occupy no positions in the stream).",
    tags=("ext", "text", "sampling"),
)
def x15_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_warehouse_spark.operators.sampling import sequence_pack

    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "lang",
        F.md5(F.col("doc_id").cast("string")).alias("k"),
        F.col("doc_id"),
        word_count("text").cast("long").alias("n_tokens"))
    packed = sequence_pack(
        sized.filter(F.col("n_tokens") > 0).select("lang", "k", "n_tokens"),
        stratum="lang", key="k", weight="n_tokens", seq_len=512)
    ids = sized.select(F.col("lang").alias("__l"), F.col("k").alias("__k2"),
                       "doc_id")
    # null-safe on lang, as in x14b: a NULL stratum is a real partition
    return (packed.join(ids, on=[F.col("lang").eqNullSafe(F.col("__l")),
                                 F.col("k") == F.col("__k2")])
            .select("lang", "doc_id", "n_tokens", "start_seq", "end_seq"))


@register(
    "x5_text_stats",
    oracle=f"""
SELECT doc_id,
       CAST(length(text) AS INT) AS n_chars_measured,
       CAST(len({_TOKS}) AS INT) AS n_words,
       CAST(list_sum(list_transform({_TOKS},
            w -> 1 + floor(length(w) / 4))) AS BIGINT) AS n_tokens_est,
       length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g'))
         * 1.0 / greatest(length(text), 1) AS punct_ratio
FROM documents
""",
    doc="X5: per-document text statistics — char/word counts, BPE-ish "
        "token estimate, punctuation ratio (functions/text.py). All "
        "expression-level, codegen'd, no UDFs.",
    tags=("ext", "text"),
)
def x5_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        F.length(t).alias("n_chars_measured"),
        word_count(t).alias("n_words"),
        token_count_bpe_ish(t).cast("long").alias("n_tokens_est"),
        punct_ratio(t).alias("punct_ratio"),
    )


@register(
    "x5b_lang_id",
    oracle="""
WITH scored AS (
    SELECT doc_id, lang,
           len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
               t -> t IN ('the', 'and', 'of'))) AS en_hits,
           len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
               t -> t IN ('der', 'und', 'die'))) AS de_hits,
           len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
               t -> t IN ('le', 'et', 'les'))) AS fr_hits
    FROM documents
)
SELECT doc_id, lang AS labeled_lang,
       CASE WHEN en_hits >= de_hits AND en_hits >= fr_hits AND en_hits > 0 THEN 'en'
            WHEN de_hits >= fr_hits AND de_hits > 0 THEN 'de'
            WHEN fr_hits > 0 THEN 'fr'
            ELSE 'und' END AS predicted_lang
FROM scored
""",
    doc="X5b: n-gram-heuristic language ID (stopword-marker argmax, "
        "functions/text.py:lang_id) vs the labeled lang column.",
    tags=("ext", "text"),
)
def x5b_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.col("lang").alias("labeled_lang"),
        lang_id(F.col("text")).alias("predicted_lang"),
    )


@register(
    "x5c_quality_score",
    oracle="""
SELECT doc_id,
       (CASE WHEN length(text) BETWEEN 100 AND 5000 THEN 1.0 ELSE 0.5 END)
     * (CASE WHEN length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g'))
                  * 1.0 / greatest(length(text), 1) <= 0.1 THEN 1.0 ELSE 0.5 END)
     * (CASE WHEN len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                  t -> t IN ('the', 'and', 'of')))
                  * 1.0 / greatest(len(string_split_regex(lower(trim(text)), '\\s+')), 1)
                  >= 0.01 THEN 1.0 ELSE 0.5 END) AS quality
FROM documents
""",
    doc="X5c: heuristic quality score (length sweet-spot x punctuation "
        "x stopword presence — the published-heuristic shape).",
    tags=("ext", "text"),
)
def x5c_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", quality_score(F.col("text")).alias("quality"))


@register(
    "x5d_fingerprint",
    # The registry query runs the md5-60 hash family (r7's x2b
    # convention) PRECISELY so the min-over-8-char-windows pipeline is
    # replayable bit-for-bit in DuckDB — the production default stays
    # xxhash64 (faster JVM hash, not portable). Cross-engine equality
    # of the md5-60 window hash AND the full fingerprint is pinned on
    # an edge battery in tests/test_operators.py.
    oracle="""
SELECT doc_id,
       list_min(list_transform(
           generate_series(1, greatest(length(text) - 7, 1)),
           i -> ('0x' || substr(md5(substr(text, i, 8)), 1, 15))::BIGINT
       )) AS fingerprint
FROM documents
""",
    doc="X5d: winnowing-style document fingerprint — min 60-bit window "
        "hash over 8-char windows (functions/text.py:"
        "rolling_fingerprint; production default xxhash64, oracle "
        "configuration md5-60). Map-only: no shuffle at any scale.",
    tags=("ext", "text"),
)
def x5d_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", rolling_fingerprint(F.col("text"), hash_family="md5")
        .alias("fingerprint"))


# The x16 detection pipeline as ONE SQL fragment shared by all three
# family oracles (x16 / x16b / x16c — second r10 review pass: three
# verbatim copies would let a contract change desync one silently).
# Parameterized by the corpus CTE/table name; min_span=40 and the
# df<=64 hot-hash cap are the family contract, mirrored in every
# shared_spans call site.
def _span_pipeline_sql(src: str) -> str:
    return f"""hashed AS (
    SELECT doc_id,
           unnest(generate_series(1, length(text) - 39)) AS pos,
           text
    FROM {src} WHERE length(text) >= 40
), wins AS (
    SELECT doc_id, pos,
           ('0x' || substr(md5(substr(text, pos, 40)), 1, 15))::BIGINT AS h
    FROM hashed
), keep AS (
    SELECT h FROM wins GROUP BY h HAVING COUNT(*) <= 64
), hits AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.pos AS pos_a, b.pos AS pos_b
    FROM wins a
    JOIN keep k ON a.h = k.h
    JOIN wins b ON a.h = b.h AND a.doc_id < b.doc_id
), isl AS (
    SELECT doc_a, doc_b, pos_b - pos_a AS diag, pos_a,
           pos_a - ROW_NUMBER() OVER (
               PARTITION BY doc_a, doc_b, pos_b - pos_a
               ORDER BY pos_a) AS grp
    FROM hits
)"""


_SPAN_REPORT_SQL = """
SELECT doc_a, doc_b,
       MIN(pos_a) AS a_start,
       MIN(pos_a) + diag AS b_start,
       MAX(pos_a) - MIN(pos_a) + 40 AS span_len
FROM isl GROUP BY doc_a, doc_b, diag, grp
"""


@register(
    "x16_span_dedup",
    # Same md5-60 window-hash family as x5d, so the ENTIRE pipeline —
    # window explode, hot-hash cap, pair join, gaps-and-islands span
    # merge — replays bit-for-bit in DuckDB SQL.
    oracle="WITH " + _span_pipeline_sql("documents") + _SPAN_REPORT_SQL,
    doc="X16 [ext]: cross-document exact repeated-span dedup — the Lee "
        "et al. 2022 exact-substring family (operators/dedup.py:"
        "shared_spans): every MAXIMAL character span >= 40 chars shared "
        "verbatim between two documents, found by equi-joining rolling "
        "window fingerprints (x5d's building block) across doc_ids and "
        "merging diagonal runs with gaps-and-islands. Completes the "
        "dedup matrix: x1 whole-doc exact, x2/x2b/x2c whole-doc near, "
        "x16 SUB-document exact. Scale: map-only explode, uniform "
        "64-bit join keys, hot-boilerplate windows capped at df<=64 "
        "before the pair join (the quadratic guard, replayed in the "
        "oracle), islands window bounded by match volume.",
    tags=("ext", "dedup", "text"),
)
def x16_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_warehouse_spark.operators.dedup import shared_spans
    docs = load_table(spark, sf_dir, "documents")
    return shared_spans(docs, "text", "doc_id", min_span=40,
                        max_hash_df=64)


@register(
    "x16b_span_removal",
    # Full replay of the x16 pipeline (shared fragment) PLUS the
    # removal step: per-doc interval union-merge (running-max
    # gaps-and-islands) and segment splicing via LAG + string_agg —
    # byte-for-byte the same cleaned text as the Spark F.aggregate
    # fold.
    oracle="WITH " + _span_pipeline_sql("documents") + """, cuts AS (
    SELECT DISTINCT doc_b AS doc_id,
           CAST(MIN(pos_a) + diag AS INT) AS s,
           CAST(MIN(pos_a) + diag + MAX(pos_a) - MIN(pos_a) + 40 AS INT) AS e
    FROM isl GROUP BY doc_a, doc_b, diag, grp
), marked AS (
    SELECT doc_id, s, e,
           MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING) AS prev_max
    FROM cuts
), grouped AS (
    SELECT doc_id, s, e,
           SUM(CASE WHEN prev_max IS NULL OR s > prev_max
                    THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY s, e) AS isl2
    FROM marked
), merged AS (
    SELECT doc_id, MIN(s) AS s, MAX(e) AS e
    FROM grouped GROUP BY doc_id, isl2
), segs AS (
    SELECT doc_id,
           COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY s), 1)
               AS seg_start,
           s AS seg_end
    FROM merged
    UNION ALL
    SELECT doc_id, MAX(e) AS seg_start, NULL AS seg_end
    FROM merged GROUP BY doc_id
), cleaned AS (
    SELECT s.doc_id,
           string_agg(
               CASE WHEN s.seg_end IS NULL
                    THEN substr(d.text, s.seg_start)
                    ELSE substr(d.text, s.seg_start,
                                s.seg_end - s.seg_start) END,
               '' ORDER BY s.seg_start) AS text_clean,
           COUNT(*) - 1 AS n_cut
    FROM segs s JOIN documents d USING (doc_id)
    GROUP BY s.doc_id
)
SELECT d.doc_id,
       COALESCE(c.text_clean, d.text) AS text_clean,
       COALESCE(c.n_cut, 0) AS n_cut
FROM documents d LEFT JOIN cleaned c USING (doc_id)
""",
    doc="X16b [ext]: repeated-span REMOVAL — the cleaned corpus a "
        "training run consumes (operators/dedup.py:remove_shared_"
        "spans). X16 reports the shared spans; this excises them under "
        "the keep-first policy (cut from the pair's higher doc_id, one "
        "copy survives): per-doc interval union-merge by running-max "
        "gaps-and-islands, then a pure-column F.aggregate fold splices "
        "the kept segments — no UDF anywhere. Scale: the span list, "
        "not the corpus, is what shuffles; the corpus joins LEFT to "
        "the (small) per-doc interval table and text moves through "
        "exactly one map stage.",
    tags=("ext", "dedup", "text"),
)
def x16b_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_warehouse_spark.operators.dedup import remove_shared_spans
    docs = load_table(spark, sf_dir, "documents")
    return remove_shared_spans(docs, "text", "doc_id", min_span=40,
                               max_hash_df=64)


@register(
    "x16c_span_dedup_sparse",
    # Construction + full x16 pipeline (shared fragment), replayed
    # bit-for-bit: md5 streams are engine-identical, so both the
    # synthetic corpus and the span detection hash-match.
    oracle="""
WITH base AS (
    SELECT doc_id,
           array_to_string(list_transform(generate_series(1, 16),
               j -> md5('b' || CAST(doc_id AS VARCHAR) || '-'
                        || CAST(j AS VARCHAR))), '') AS body,
           CAST(FLOOR(doc_id / 2) AS BIGINT) AS pair,
           CAST(64 + 32 * (doc_id % 5) AS INT) AS head_len
    FROM documents
), corpus AS (
    SELECT doc_id,
           CASE WHEN pair % 3 = 0 THEN
               substr(body, 1, head_len)
               || array_to_string(list_transform(generate_series(1, 4),
                      j -> md5('s' || CAST(pair AS VARCHAR) || '-'
                               || CAST(j AS VARCHAR))), '')
               || substr(body, head_len + 1)
           ELSE body END AS text
    FROM base
), """ + _span_pipeline_sql("corpus") + _SPAN_REPORT_SQL,
    doc="X16c [ext]: X16 over a SPARSE-SHARING synthetic corpus — the "
        "real-corpus shape the amplified-fixture lane can't produce "
        "(amplification turns every document body into a copy-clique, "
        "capping x16's honest floor-free cells at 16x; SCALE.md r9). "
        "The corpus derives deterministically from doc_id alone: each "
        "doc is a unique 512-char md5 stream (no 40-char window "
        "repeats anywhere), and every third id-pair (2p, 2p+1) shares "
        "one planted 128-char span at pair-distinct offsets — so "
        "match volume grows LINEARLY with the corpus and both engines "
        "do identical work at any multiplier. Closed-form expectation "
        "(one maximal span per planted pair on the planted diagonal, "
        "containing the 128 planted chars; hex-coincidence edge "
        "extension of k chars occurs at p=16^-k) is asserted in "
        "pytest; md5-60 window collisions (~2^-60 per window pair) "
        "would surface identically in both engines.",
    tags=("ext", "dedup", "text"),
)
def x16c_span_dedup_sparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_warehouse_spark.operators.dedup import shared_spans
    ids = load_table(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    body = F.concat_ws("", F.transform(
        F.sequence(F.lit(1), F.lit(16)),
        lambda j: F.md5(F.concat(F.lit("b"), did.cast("string"),
                                 F.lit("-"), j.cast("string")))))
    pair = F.floor(did / 2).cast("long")
    span = F.concat_ws("", F.transform(
        F.sequence(F.lit(1), F.lit(4)),
        lambda j: F.md5(F.concat(F.lit("s"), pair.cast("string"),
                                 F.lit("-"), j.cast("string")))))
    head_len = (F.lit(64) + 32 * (did % 5)).cast("int")
    corpus = ids.select(
        "doc_id",
        F.when(pair % 3 == 0,
               F.concat(F.substr(body, F.lit(1), head_len), span,
                        F.substr(body, head_len + 1)))
        .otherwise(body).alias("text"))
    # K-pass disk bound (r11, VERDICT r10 ask #1): the corpus is 512-
    # 640 chars/doc (~550 windows/doc after the min_span-1 haircut),
    # ~20 B/window in the fingerprint shuffle. One pass per 8e8
    # windows caps per-pass spill at ~16 GB — at 1024x (5.12M docs,
    # ~2.9B windows) that is 4 passes vs the single-pass 63 GB ENOSPC
    # measured in round 10; at <=256x this evaluates to 1 pass, so the
    # recorded 64x/256x cells and the sf0.01 parity plan are
    # unchanged. ids.count() is a parquet-metadata count (no scan).
    n_docs = ids.count()
    return shared_spans(corpus, "text", "doc_id", min_span=40,
                        max_hash_df=64, n_passes=x16c_n_passes(n_docs))


def x16c_n_passes(n_docs: int) -> int:
    """K-pass routing threshold as a named, testable rule (r12, VERDICT
    r11 ask #8 — SCALE.md's bounded-spill claim is machine-checked in
    tests/test_operators.py, not just documented): one explode pass per
    8e8 fingerprint windows (~550/doc on the x16c corpus, ~20 B/window
    in the shuffle) caps per-pass spill at ~16 GB. <=256x amplification
    evaluates to 1 pass (single-pass plan unchanged); 1024x (5.12M
    docs, ~2.9B windows) routes to 4 passes — the single-pass form
    ENOSPC'd at 63 GB in round 10."""
    return max(1, -(-n_docs * 550 // 800_000_000))


def _x2f_oracle_sql() -> str:
    """Full SQL replay of the MinHash+LSH pipeline on the sparse
    synthetic corpus — signatures, banding, candidate join AND exact
    verify, from the SAME seeded (a, b) coefficients the operator
    uses. An LSH can only be hash-certified by replaying the banding
    itself: a brute-force oracle diverges by exactly the banding's
    miss probability, which at amplified pair counts guarantees
    mismatches; replayed banding misses identically in both engines.
    The band join keys on the RAW 4-signature tuple — Spark buckets by
    xxhash64 of the same tuple, which is candidate-equivalent (equal
    tuples hash equal; a 2^-64 bucket collision adds a candidate the
    exact verify then scores, same as Spark)."""
    from data_warehouse_spark.operators.dedup import _minhash_coeffs
    coeffs = _minhash_coeffs(32)
    sig_cols = ",\n           ".join(
        f"MIN((h * {a} + {b}) % 2147483647) AS s{i}"
        for i, (a, b) in enumerate(coeffs))
    banded = "\n    UNION ALL ".join(
        f"SELECT id, {b} AS band, s{4*b} AS k1, s{4*b+1} AS k2, "
        f"s{4*b+2} AS k3, s{4*b+3} AS k4 FROM sigs"
        for b in range(8))
    return f"""
WITH base AS (
    SELECT doc_id, CAST(FLOOR(doc_id / 2) AS BIGINT) AS pair
    FROM documents
), toks AS (
    SELECT doc_id,
           list_transform(generate_series(1, 60), j ->
               CASE WHEN pair % 3 = 0 AND j <= 58
                    THEN md5('w' || CAST(pair AS VARCHAR) || '-'
                             || CAST(j AS VARCHAR))
                    ELSE md5('u' || CAST(doc_id AS VARCHAR) || '-'
                             || CAST(j AS VARCHAR)) END) AS l
    FROM base
), grams AS (
    SELECT doc_id AS id, unnest(list_distinct(list_transform(
        range(1, greatest(len(l) - 2, 0) + 1),
        i -> l[i] || ' ' || l[i + 1] || ' ' || l[i + 2]))) AS g
    FROM toks
), ghash AS (
    SELECT id,
           ('0x' || substr(md5(g), 1, 15))::BIGINT & 2147483647 AS h,
           g
    FROM grams
), sigs AS (
    SELECT id,
           {sig_cols}
    FROM ghash GROUP BY id
), banded AS (
    {banded}
), cand AS (
    SELECT DISTINCT a.id AS id_a, b.id AS id_b
    FROM banded a
    JOIN banded b ON a.band = b.band AND a.k1 = b.k1 AND a.k2 = b.k2
                 AND a.k3 = b.k3 AND a.k4 = b.k4 AND a.id < b.id
), sizes AS (
    SELECT id, COUNT(*) AS n_g FROM grams GROUP BY id
), inter AS (
    SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
    FROM cand c
    JOIN grams ga ON ga.id = c.id_a
    JOIN grams gb ON gb.id = c.id_b AND gb.g = ga.g
    GROUP BY c.id_a, c.id_b
)
SELECT i.id_a, i.id_b,
       ROUND(n_inter * 1.0 / (sa.n_g + sb.n_g - n_inter), 6) AS jaccard
FROM inter i
JOIN sizes sa ON i.id_a = sa.id
JOIN sizes sb ON i.id_b = sb.id
WHERE n_inter * 1.0 / (sa.n_g + sb.n_g - n_inter) >= 0.5
"""


@register(
    "x2f_minhash_sparse",
    oracle=_x2f_oracle_sql(),
    doc="X2f [ext]: MinHash+LSH near-dup over a SPARSE-SHARING "
        "synthetic corpus, with the banding itself replayed in the "
        "oracle — the scale lane x2 cannot have (x2's brute-force "
        "oracle goes quadratic under amplification because every "
        "copy's shingles collide, and an exact oracle diverges from "
        "an LSH by its miss probability once pair counts amplify). "
        "Corpus derives from doc_id alone (x16c's recipe, token "
        "granularity): 60 unique md5 tokens per doc; every third "
        "id-pair (2p, 2p+1) shares tokens 1-58 — planted 3-gram "
        "Jaccard 56/60 = 0.9333, all other cross-doc gram overlap "
        "ZERO, so candidate volume grows LINEARLY. The operator runs "
        "with hash_family='md5' (x5d convention): base hash, the "
        "seeded (a*h+b) mod p family, 8x4 banding, candidate join, "
        "and exact verify all replay bit-for-bit in DuckDB; a banding "
        "miss (p ~ 1e-5 per planted pair) misses IDENTICALLY on both "
        "engines, so the hash gate holds at any corpus size.",
    tags=("ext", "dedup", "text"),
)
def x2f_minhash_sparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_warehouse_spark.operators.dedup import minhash_lsh_pairs
    ids = load_table(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    pair = F.floor(did / 2).cast("long")
    shared = pair % 3 == 0
    toks = F.transform(
        F.sequence(F.lit(1), F.lit(60)),
        lambda j: F.when(shared & (j <= 58),
                         F.md5(F.concat(F.lit("w"), pair.cast("string"),
                                        F.lit("-"), j.cast("string"))))
        .otherwise(F.md5(F.concat(F.lit("u"), did.cast("string"),
                                  F.lit("-"), j.cast("string")))))
    corpus = ids.select("doc_id",
                        F.concat_ws(" ", toks).alias("text"))
    return minhash_lsh_pairs(corpus, "text", "doc_id",
                             jaccard_threshold=0.5, hash_family="md5")


@register(
    "x6_token_freq",
    oracle=f"""
SELECT tok, COUNT(*) AS n
FROM (SELECT unnest({_TOKS}) AS tok FROM documents)
GROUP BY tok
ORDER BY n DESC, tok
LIMIT 100
""",
    doc="X6: tokenization + corpus token frequency (explode -> "
        "count -> top-k). The explode shuffle carries (token, 1) pairs "
        "pre-combined map-side.",
    tags=("ext", "text"),
)
def x6_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok"))
    return (toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), "tok").limit(100))


@register(
    "x7_tfidf",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, unnest({_TOKS}) AS term FROM documents
), tf AS (
    SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
), df AS (
    SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY term
), n AS (
    SELECT COUNT(*) AS n_docs FROM documents
)
SELECT doc_id, term,
       ROUND(tf * ln((n_docs + 1.0) / (df + 1.0)), 6) AS tfidf
FROM tf JOIN df USING (term) CROSS JOIN n
ORDER BY tfidf DESC, doc_id, term
LIMIT 100
""",
    doc="X7: TF-IDF keyword extraction as a pure SQL/DataFrame "
        "pipeline: explode -> tf agg -> df agg -> broadcast-join "
        "(term dictionary is small) -> score. Threshold keeps the "
        "high-signal terms. df derives FROM tf (tf already holds one "
        "row per (doc, term), so count-per-term == count distinct "
        "docs), and tf is materialized once for its two consumers: "
        "Catalyst's self-join dedup re-aliases the dictionary branch "
        "(fresh exprIds), which defeats exchange reuse and would "
        "re-explode the corpus; the checkpoint pins one computation "
        "(~30% off at sf0.1). On a cluster the same role is played by "
        "writing the doc-term table — the warehouse norm for a "
        "multi-consumer intermediate.",
    tags=("ext", "text"),
)
def x7_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("term"))
    # r16 optimization round: a doc-local Arrow tf kernel (no explode,
    # no tf exchange — the x2 signature-kernel move) was built and
    # MEASURED SLOWER here: 1.70 vs 1.14 s interleaved best-of-6 at
    # sf0.1 (ddece72:.r16/x7_ab.py). x2's kernel returns 32 longs per doc; a
    # tf kernel must ship every distinct (doc, term) STRING back
    # across the Arrow boundary — the explode form never leaves the
    # JVM and wins. Kept the expression form; same verdict class as
    # the signature-checkpoint rejections.
    tf = (toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
          .localCheckpoint(eager=False))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))  # 1-row dim, broadcast
    score = F.col("tf") * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0))
    return (tf.join(F.broadcast(dfreq), on="term").crossJoin(F.broadcast(n))
            .select("doc_id", "term", F.round(score, 6).alias("tfidf"))
            .orderBy(F.col("tfidf").desc(), "doc_id", "term").limit(100))


@register(
    "x10_repetition_filter",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, {_TOKS} AS l FROM documents
), wc AS (
    SELECT doc_id, w, COUNT(*) AS c
    FROM (SELECT doc_id, unnest(l) AS w FROM toks) GROUP BY doc_id, w
), wstats AS (
    SELECT doc_id, SUM(c) AS n_words, COUNT(*) AS n_distinct
    FROM wc GROUP BY doc_id
), gc AS (
    SELECT doc_id, g, COUNT(*) AS c
    FROM (SELECT doc_id,
                 unnest(list_transform(
                     range(1, greatest(len(l) - 1, 0) + 1),
                     i -> l[i] || ' ' || l[i + 1])) AS g
          FROM toks) GROUP BY doc_id, g
), gstats AS (
    SELECT doc_id, SUM(c) AS n_bigrams, MAX(c) AS top_bigram
    FROM gc GROUP BY doc_id
)
SELECT w.doc_id,
       CAST(w.n_words AS BIGINT) AS n_words,
       ROUND(1.0 - w.n_distinct * 1.0 / w.n_words, 6) AS dup_word_frac,
       ROUND(g.top_bigram * 1.0 / g.n_bigrams, 6) AS top_bigram_frac,
       (1.0 - w.n_distinct * 1.0 / w.n_words <= 0.6
        AND g.top_bigram * 1.0 / g.n_bigrams <= 0.06) AS keep
FROM wstats w JOIN gstats g ON w.doc_id = g.doc_id
""",
    doc="X10 [ext]: repetition-based quality filter — the published "
        "Gopher-style repetition signals (duplicate-word fraction, "
        "top-bigram fraction) with a keep/drop verdict per document. "
        "Plan shape: one token explode and one bigram explode, each "
        "partially aggregated map-side on (doc_id, gram) before its "
        "exchange, then a per-doc rollup join — shuffles carry counts, "
        "never text. At 100 TB both explodes shard on doc-local keys "
        "with no skew (doc_id is in every key), and the thresholds "
        "prune before any downstream training-data write.",
    tags=("ext", "text"),
)
def x10_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("w"))
    wc = words.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    wstats = wc.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"), F.count(F.lit(1)).alias("n_distinct"))
    grams = docs.select(
        "doc_id", F.explode(shingles("text", 2)).alias("g"))
    gc = grams.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    gstats = gc.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"), F.max("c").alias("top_bigram"))
    dup_word = 1.0 - F.col("n_distinct") / F.col("n_words")
    top_bigram = F.col("top_bigram") / F.col("n_bigrams")
    return (wstats.join(gstats, on="doc_id")
            .select("doc_id", F.col("n_words").cast("long").alias("n_words"),
                    F.round(dup_word, 6).alias("dup_word_frac"),
                    F.round(top_bigram, 6).alias("top_bigram_frac"),
                    ((dup_word <= 0.6) & (top_bigram <= 0.06)).alias("keep")))


@register(
    "mm1_multimodal_stub",
    oracle="""
SELECT doc_id,
       CAST(strlen(text) AS BIGINT) AS n_bytes,
       CAST(strlen(text) // 1024 + 1 AS INT) AS n_frames
FROM documents
""",
    doc="MM1 [ext]: multimodal binary-column plumbing. The text is "
        "encoded to an opaque binary column (standing in for image/"
        "audio payloads), shipped through mapInPandas in Arrow batches, "
        "and 'decoded' by a stub extractor (real decode needs codec "
        "libs absent here — the Spark-side schema/partitioning/batch "
        "plumbing is the tested part). n_frames mimics frame sampling: "
        "one frame per KiB.",
    tags=("ext", "multimodal"),
)
def mm1_multimodal_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents")
    with_blob = docs.select("doc_id", F.encode("text", "UTF-8").alias("blob"))

    def decode_stub(batches):
        for pdf in batches:
            # Stand-in for image/audio decode + frame sampling: the real
            # implementation would decode `blob` with a codec lib here.
            # Null blobs degrade per-row (len(None) would kill the
            # whole Arrow batch — the multimodal per-unit-isolation
            # convention, operators/multimodal.py)
            n_bytes = pdf["blob"].map(lambda b: 0 if b is None else len(b))
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "n_bytes": n_bytes.astype("int64"),
                "n_frames": (n_bytes // 1024 + 1).astype("int32"),
            })

    return with_blob.mapInPandas(
        decode_stub, schema="doc_id long, n_bytes long, n_frames int")


@register(
    "mm2_image_resize",
    oracle="""
WITH decoded AS (
    SELECT doc_id,
           CAST(strlen(text) % 64 + 8 AS INT) AS width,
           CAST(strlen(text) % 48 + 8 AS INT) AS height
    FROM documents
)
SELECT doc_id, width, height,
       CASE WHEN GREATEST(width, height) > 32
            THEN CAST(FLOOR(width * 32 / GREATEST(width, height)) AS INT)
            ELSE width END AS out_w,
       CASE WHEN GREATEST(width, height) > 32
            THEN CAST(FLOOR(height * 32 / GREATEST(width, height)) AS INT)
            ELSE height END AS out_h
FROM decoded
""",
    doc="MM2 [ext]: REAL image decode + aspect-preserving resize "
        "planning. attach_png_blob encodes each doc as a genuine PNG "
        "(vendored pure-stdlib codec, functions/png.py) whose dims are "
        "a deterministic function of the text byte-length; "
        "decode_images(codec='png') then parses the actual IHDR header "
        "back out of the payload — a real codec round-trip, Arrow-"
        "batched, payloads never passing the driver. The resize math "
        "is pure column expressions so it stays JVM-side and "
        "composable. The oracle recomputes the dims formula, so the "
        "real decode is hash-checked end to end. The PNG payloads are "
        "materialized once per sf_dir as a parquet side table "
        "(png_blob_table — the ingest write a real media pipeline "
        "already did), so this query measures the pipeline shape that "
        "actually recurs: scan blobs -> decode headers -> resize plan.",
    tags=("ext", "multimodal"),
)
def mm2_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_warehouse_spark.operators.multimodal import (
        decode_images, png_blob_table, resize_plan,
    )
    # the query reads only the 33-byte `hdr` column the ingest write
    # landed next to the payload: the parquet scan's ReadSchema drops
    # `blob` entirely
    hdrs = png_blob_table(spark, sf_dir).select("doc_id", "hdr")
    decoded = decode_images(hdrs, codec="png", hdr_col="hdr")
    # no presentation sort: a global orderBy would sample its child and
    # run the decode stage twice (see sessions._present_sorted); the
    # correctness gate compares order-insensitively
    return resize_plan(decoded, max_side=32)


@register(
    "mm3_frame_sample",
    oracle="""
SELECT doc_id,
       CAST(u.gs AS BIGINT) AS frame_idx,
       CAST(u.gs * 1024 AS BIGINT) AS byte_offset
FROM documents,
     UNNEST(range(0, CAST(CEIL(strlen(text) / 1024.0) AS BIGINT))) AS u(gs)
WHERE strlen(text) > 0
""",
    doc="MM3 [ext]: frame sampling — metadata-driven UDTF explode (one "
        "row per sampled frame per payload), the video/audio analogue "
        "of tokenization. Frame extraction itself would be a second "
        "mapInPandas over (blob, byte_offset); the index table stays "
        "JVM-side. ceil(n/every) frames: every offset strictly inside "
        "the payload, zero frames for empty payloads.",
    tags=("ext", "multimodal"),
)
def mm3_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_warehouse_spark.operators.multimodal import attach_blob, sample_frames
    docs = load_table(spark, sf_dir, "documents")
    frames = sample_frames(attach_blob(docs), frame_every_bytes=1024)
    return frames.select("doc_id",
                         F.col("frame_idx").cast("long").alias("frame_idx"),
                         F.col("byte_offset").cast("long").alias("byte_offset"))


@register(
    "mm4_feature_ann",
    oracle="""
WITH feats AS (
    SELECT doc_id,
           CAST(strlen(text) % 7  AS DOUBLE) AS f0,
           CAST(strlen(text) % 11 AS DOUBLE) AS f1,
           CAST(strlen(text) % 13 AS DOUBLE) AS f2
    FROM documents
)
SELECT doc_id,
       ROUND((f0 * 1.0 + f1 * 2.0 + f2 * 3.0)
             / (sqrt(f0*f0 + f1*f1 + f2*f2) * sqrt(14.0)), 6) AS cos_sim
FROM feats
WHERE f0*f0 + f1*f1 + f2*f2 > 0
ORDER BY cos_sim DESC, doc_id
LIMIT 20
""",
    doc="MM4 [ext]: the full multimodal -> similarity pipeline in one "
        "plan: opaque binary payload -> feature extraction -> JVM-side "
        "cosine top-k (TakeOrderedAndProject) against a query vector. "
        "The stub features AND the fixed-3-dim cosine are pure column "
        "math, so the DEFAULT path is whole-stage codegen end to end — "
        "payload bytes to top-k with zero Python and zero interpreted "
        "lambdas (the r13 verdict's mm4 ask: the old mapInPandas stub "
        "paid 12.6x floor-free at 1024x for arithmetic built-ins "
        "express; a second measured tax was the higher-order array "
        "functions themselves — zip_with/aggregate evaluate "
        "INTERPRETED per row, +1.1 s at 1024x for the 3-dim cosine, "
        "so the literal-dim stub unrolls it; dimension-generic array "
        "cosine stays the vector family's job, x3*). The Arrow "
        "encoder seam a REAL image/audio encoder plugs into is "
        "demonstrated — and its serde cost measured — by mm4b, "
        "byte-identical semantics over the same oracle.",
    tags=("ext", "multimodal", "vector"),
)
def mm4_feature_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_warehouse_spark.operators.multimodal import attach_blob

    docs = load_table(spark, sf_dir, "documents")
    blobs = attach_blob(docs)
    # null-safe like the seam form's `0 if b is None`; blob length is
    # BYTES (octet_length) matching the seam's len(bytes) and the
    # oracle's strlen (DuckDB strlen = bytes)
    n = F.coalesce(F.octet_length("blob"), F.lit(0))
    f0, f1, f2 = [(n % k).cast("double") for k in (7, 11, 13)]
    sumsq = f0 * f0 + f1 * f1 + f2 * f2
    sim = (f0 * 1.0 + f1 * 2.0 + f2 * 3.0) \
        / (F.sqrt(sumsq) * F.sqrt(F.lit(14.0)))
    return (blobs.select("doc_id", sim.alias("__s"), sumsq.alias("__ss"))
            .filter(F.col("__ss") > 0)
            .select("doc_id", F.round("__s", 6).alias("cos_sim"))
            .orderBy(F.col("cos_sim").desc(), "doc_id").limit(20))


@register(
    "mm4b_feature_ann_seam",
    oracle="""
WITH feats AS (
    SELECT doc_id,
           CAST(strlen(text) % 7  AS DOUBLE) AS f0,
           CAST(strlen(text) % 11 AS DOUBLE) AS f1,
           CAST(strlen(text) % 13 AS DOUBLE) AS f2
    FROM documents
)
SELECT doc_id,
       ROUND((f0 * 1.0 + f1 * 2.0 + f2 * 3.0)
             / (sqrt(f0*f0 + f1*f1 + f2*f2) * sqrt(14.0)), 6) AS cos_sim
FROM feats
WHERE f0*f0 + f1*f1 + f2*f2 > 0
ORDER BY cos_sim DESC, doc_id
LIMIT 20
""",
    doc="MM4b [ext]: mm4's pipeline with the feature extractor behind "
        "the Arrow encoder seam (mapInPandas) — the shape a REAL "
        "image/audio encoder needs, since a neural encoder is not "
        "column math. Same features, same oracle, same top-k as mm4; "
        "the ONLY difference is where extraction runs, so "
        "bench(mm4b) - bench(mm4) IS the measured Arrow serde + "
        "Python tax of the seam itself (recorded in SCALE.md), no "
        "longer conflated with the query. Downstream of the seam, "
        "cosine + top-k stay JVM-side — no driver hop.",
    tags=("ext", "multimodal", "vector"),
)
def mm4b_feature_ann_seam(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from data_warehouse_spark.operators.multimodal import attach_blob
    from data_warehouse_spark.operators.similarity import cosine

    docs = load_table(spark, sf_dir, "documents")
    blobs = attach_blob(docs)

    def extract(batches):
        for pdf in batches:
            # null-safe per-unit isolation, as in mm1's stub
            n = pdf["blob"].map(lambda b: 0 if b is None else len(b))
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "features": [[float(v % 7), float(v % 11), float(v % 13)]
                             for v in n],
            })

    feats = blobs.mapInPandas(extract,
                              schema="doc_id long, features array<double>")
    q = F.array(F.lit(1.0), F.lit(2.0), F.lit(3.0))
    sim = cosine(F.col("features"), q)
    nonzero = F.aggregate(F.transform("features", lambda x: x * x),
                          F.lit(0.0), lambda a, x: a + x) > 0
    return (feats.filter(nonzero)
            .select("doc_id", F.round(sim, 6).alias("cos_sim"))
            .orderBy(F.col("cos_sim").desc(), "doc_id").limit(20))


@register(
    "x9_stratified_split",
    oracle="""
WITH tagged AS (
    SELECT lang, source,
           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '29'
                THEN 'holdout' ELSE 'train' END AS split
    FROM documents
)
SELECT lang, source, split, CAST(COUNT(*) AS BIGINT) AS n
FROM tagged GROUP BY lang, source, split
""",
    doc="X9: deterministic stratified train/holdout split — the "
        "reproducible-sampling primitive every training-data pipeline "
        "needs. The split key is a comparison on the md5 hex prefix of "
        "the doc id ('29' ~ 41/256 ~ 16% holdout): stable across runs, "
        "engines, partitionings, and cluster sizes (no rand(), no "
        "sample() — Spark's sample is per-partition-seeded and NOT "
        "stable under repartitioning). Embarrassingly parallel: no "
        "shuffle except the final per-stratum count; at 100 TB the "
        "split column is computed inline during any scan. md5 hex is "
        "byte-identical across engines, so the assignment itself is "
        "oracle-verified, not just the counts.",
    tags=("ext", "text", "sampling"),
)
def x9_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    split = F.when(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < "29",
        "holdout").otherwise("train")
    return (docs.withColumn("split", split)
            .groupBy("lang", "source", "split")
            .agg(F.count(F.lit(1)).alias("n")))


_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PII_PHONE = r"\+\d{7,15}\b"

# The fixture corpus carries no PII, so the query PLANTS a
# deterministic email + phone + IPv4 per document (same string
# expression in both engines) and then redacts — certifying the
# scrub end-to-end, not just on clean text.
def _pii_suffix_spark() -> tuple:
    # built lazily: Column construction needs an active SparkContext
    return (
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com or +41"),
        (F.lit(1000000) + F.col("doc_id") % 1000000).cast("string"),
        F.lit(" from 10.0."), (F.col("doc_id") % 256).cast("string"),
        F.lit(".7"),
    )
_PII_SUFFIX_SQL = (
    "' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or +41'"
    " || CAST(1000000 + doc_id % 1000000 AS VARCHAR)"
    " || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'"
)


@register(
    "x11_pii_redaction",
    oracle=f"""
WITH planted AS (
    SELECT doc_id, text || {_PII_SUFFIX_SQL} AS t FROM documents
)
SELECT doc_id,
       md5(regexp_replace(regexp_replace(regexp_replace(t,
            '{_PII_EMAIL}', '<EMAIL>', 'g'),
            '{_PII_IPV4}', '<IP>', 'g'),
            '{_PII_PHONE}', '<PHONE>', 'g')) AS red_hash,
       CAST(len(regexp_extract_all(t, '{_PII_EMAIL}')) AS INT) AS n_email,
       CAST(len(regexp_extract_all(
            regexp_replace(t, '{_PII_EMAIL}', '<EMAIL>', 'g'),
            '{_PII_IPV4}')) AS INT) AS n_ipv4,
       CAST(len(regexp_extract_all(
            regexp_replace(regexp_replace(t,
                '{_PII_EMAIL}', '<EMAIL>', 'g'),
                '{_PII_IPV4}', '<IP>', 'g'),
            '{_PII_PHONE}')) AS INT) AS n_phone
FROM planted
""",
    doc="X11 [ext]: PII redaction — the scrubbing pass a training-data "
        "pipeline runs before text ships (emails / IPv4 / international "
        "phones -> typed placeholder tokens, functions/text.py:"
        "redact_pii). Pure chained regexp_replace in whole-stage "
        "codegen — no UDF; patterns restricted to the Java-regex/RE2 "
        "common dialect so the DuckDB oracle runs the IDENTICAL "
        "expressions. Output is md5(redacted) + per-class audit counts, "
        "so the hash compare certifies byte-identical redacted text.",
    tags=("ext", "text"),
)
def x11_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_warehouse_spark.functions.text import pii_counts, redact_pii

    docs = load_table(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id", F.concat(F.col("text"), *_pii_suffix_spark()).alias("t"))
    return planted.select(
        "doc_id",
        F.md5(redact_pii(F.col("t")).cast("binary")).alias("red_hash"),
        *[c.cast("int").alias(n) for c, n in zip(
            pii_counts(F.col("t")), ("n_email", "n_ipv4", "n_phone"))])


def _x18_clean(spark: SparkSession, sf_dir: str,
               materialize: bool = True) -> DataFrame:
    """x18's cleaning chain: ingest (train + re-collected copies) ->
    quality gate -> exact dedup -> decontamination. Exposed separately
    so tests/test_plans.py can assert the chain's own shape (broadcast
    eval grams, no cartesian) independent of the checkpoint that hides
    it from the final plan.

    materialize=True localCheckpoints `qual` — the expensive full-text
    stage, referenced by THREE consumers (the dedup index subtree, the
    survivor semi-join, and the contamination gram explode) that Spark
    will not common-subexpression-share across branches (the e3
    lesson: each branch re-executes the chain inline). Same
    fault-tolerance trade as e3/x2: checkpoint blocks are
    executor-local, a lost executor re-runs the (bounded) query.
    """
    docs = load_table(spark, sf_dir, "documents") \
        .select("doc_id", "lang", "text")
    train = docs.filter(F.col("doc_id") % 37 != 0)
    # re-collected crawl copies under new ids (x1's planted-dup idiom:
    # the fixture corpus is exact-dup-free, so an unplanted dedup
    # stage would be vacuous at every sf)
    recollected = (train.filter(F.col("doc_id") % 11 == 0)
                   .withColumn("doc_id", F.col("doc_id") + 1000000))
    qual = (train.unionByName(recollected)
            .filter(quality_score(F.col("text")) >= 0.5))
    if materialize:
        qual = qual.localCheckpoint(eager=False)
    canon = (exact_dedup(qual, "text", "doc_id")
             .select(F.col("canonical_id").alias("doc_id")))
    kept = qual.join(canon, on="doc_id", how="left_semi")
    eval_grams = (docs.filter(F.col("doc_id") % 37 == 0)
                  .select(F.explode(F.array_distinct(shingles("text", 4)))
                          .alias("g"))
                  .distinct())
    contaminated = (kept.select(
        "doc_id",
        F.explode(F.array_distinct(shingles("text", 4))).alias("g"))
        .join(F.broadcast(eval_grams), on="g", how="left_semi")
        .select("doc_id").distinct())
    # the caller checkpoints the returned chain before fanning it out
    # (x18_corpus_prep's sampler reads it three ways); keeping that
    # checkpoint OUT of this helper leaves the chain's plan inspectable
    return kept.join(contaminated, on="doc_id", how="left_anti")


@register(
    "x18_corpus_prep",
    oracle=f"""
WITH train AS (
    SELECT doc_id, lang, text FROM documents WHERE doc_id % 37 <> 0
), ingest AS (
    SELECT * FROM train
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, lang, text FROM train
    WHERE doc_id % 11 = 0
), qual AS (
    SELECT * FROM ingest WHERE
      (CASE WHEN length(text) BETWEEN 100 AND 5000 THEN 1.0 ELSE 0.5 END)
    * (CASE WHEN length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g'))
            * 1.0 / greatest(length(text), 1) <= 0.1 THEN 1.0 ELSE 0.5 END)
    * (CASE WHEN len(list_filter({_TOKS}, t -> t IN ('the', 'and', 'of')))
            * 1.0 / greatest(len({_TOKS}), 1) >= 0.01
       THEN 1.0 ELSE 0.5 END) >= 0.5
), dedup AS (
    SELECT * FROM qual
    QUALIFY row_number() OVER (PARTITION BY sha256(text)
                               ORDER BY doc_id) = 1
), evalg AS (
    SELECT DISTINCT unnest(list_distinct(list_transform(
        range(1, greatest(len(l) - 3, 0) + 1),
        i -> l[i] || ' ' || l[i + 1] || ' ' || l[i + 2]
             || ' ' || l[i + 3]))) AS g
    FROM (SELECT {_TOKS} AS l FROM documents WHERE doc_id % 37 = 0)
), contam AS (
    SELECT DISTINCT doc_id FROM (
        SELECT doc_id, unnest(list_distinct(list_transform(
            range(1, greatest(len(l) - 3, 0) + 1),
            i -> l[i] || ' ' || l[i + 1] || ' ' || l[i + 2]
                 || ' ' || l[i + 3]))) AS g
        FROM (SELECT doc_id, {_TOKS} AS l FROM dedup)) t
    JOIN evalg USING (g)
), sized AS (
    SELECT lang, doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
           md5(CAST(doc_id AS VARCHAR)) AS k
    FROM dedup
    WHERE doc_id NOT IN (SELECT doc_id FROM contam)
      AND len({_TOKS}) > 0
), cum AS (
    SELECT lang, doc_id, n_tokens,
           CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY k
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cum_tokens
    FROM sized
)
SELECT lang, doc_id, n_tokens, cum_tokens,
       CAST((cum_tokens - n_tokens) // 512 AS BIGINT) AS start_seq,
       CAST((cum_tokens - 1) // 512 AS BIGINT) AS end_seq
FROM cum WHERE cum_tokens <= 2000
""",
    doc="X18: the composed CORPUS-PREP day — the documents-side analog "
        "of e4: ingest (train + re-collected crawl copies under new "
        "ids) -> x5c quality gate -> X1 exact dedup (min-id survivor "
        "via the hash index + semi-join) -> X13 decontamination "
        "(broadcast eval gram set, any-shared-4-gram drop) -> X14 "
        "per-language token budget -> X15 sequence-packing arithmetic, "
        "under ONE registry entry with ONE oracle replaying the whole "
        "composition. The per-operator gate proves each stage alone; "
        "this is the integration check that their composition — filter "
        "pushdown across the union, dedup-before-decontaminate "
        "ordering, budget over the CLEANED corpus — is right. Plan "
        "discipline (test_plans.py): the expensive full-text stage is "
        "checkpoint-materialized once and feeds its three consumers "
        "(e3's execute-once lesson); eval grams broadcast (x13); the "
        "budget/packing stage runs the DISTRIBUTED two-phase prefix "
        "sum (x14b), so no one-reducer-per-language window; the final "
        "plan reads checkpoints only — zero documents rescans. At "
        "100 TB this is the nightly corpus build: O(corpus) scans "
        "bounded by the two materializations, shuffles only on hashes, "
        "counts, and the tiny drop lists.",
    tags=("ext", "text", "dedup", "sampling"),
)
def x18_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_warehouse_spark.operators.sampling import (
        token_budget_sample_scalable,
    )

    clean = _x18_clean(spark, sf_dir).localCheckpoint(eager=False)
    sized = (clean.select(
        "lang",
        F.md5(F.col("doc_id").cast("string")).alias("k"),
        "doc_id",
        word_count("text").cast("long").alias("n_tokens"))
        .filter(F.col("n_tokens") > 0))
    out = token_budget_sample_scalable(
        sized.select("lang", "k", "n_tokens"),
        stratum="lang", key="k", weight="n_tokens", budget=2000)
    ids = sized.select(F.col("lang").alias("__l"), F.col("k").alias("__k2"),
                       "doc_id")
    sel = (out.join(ids, on=[F.col("lang").eqNullSafe(F.col("__l")),
                             F.col("k") == F.col("__k2")])
           .select("lang", "doc_id", "n_tokens",
                   F.col("cum").alias("cum_tokens")))
    return sel.select(
        "lang", "doc_id", "n_tokens", "cum_tokens",
        F.expr("(cum_tokens - n_tokens) DIV 512").alias("start_seq"),
        F.expr("(cum_tokens - 1) DIV 512").alias("end_seq"))


@register(
    "x19_quality_gate",
    oracle=f"""
WITH scored AS (
    SELECT lang, doc_id,
      (CASE WHEN length(text) BETWEEN 100 AND 5000 THEN 1.0 ELSE 0.5 END)
    * (CASE WHEN length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g'))
            * 1.0 / greatest(length(text), 1) <= 0.1 THEN 1.0 ELSE 0.5 END)
    * (CASE WHEN len(list_filter({_TOKS}, t -> t IN ('the', 'and', 'of')))
            * 1.0 / greatest(len({_TOKS}), 1) >= 0.01
       THEN 1.0 ELSE 0.5 END) AS quality
    FROM documents
), r AS (
    SELECT lang, doc_id, quality,
           row_number() OVER (PARTITION BY lang
                              ORDER BY quality DESC, doc_id) AS rnk,
           COUNT(*) OVER (PARTITION BY lang) AS n_lang
    FROM scored
)
SELECT lang, doc_id, quality, CAST(rnk AS BIGINT) AS rnk,
       CAST(n_lang AS BIGINT) AS n_lang
FROM r WHERE rnk <= CEIL(0.25 * n_lang)
""",
    doc="X19: per-source quality-percentile gate — keep the TOP 25% of "
        "documents per language by x5c's heuristic quality score (the "
        "relative filter production pipelines use when an absolute "
        "threshold would gut low-resource languages). The hard part at "
        "100 TB is the EXACT rank: the naive per-stratum window "
        "serializes each language's full corpus on one reducer, so "
        "the rank is computed as a distributed prefix sum of weight 1 "
        "over (stratum=lang, key=(-quality, doc_id)) on the x14b "
        "two-phase machinery (operators/sampling.py:"
        "prefix_sum_scalable) — parallelism strata x chunks, "
        "plan-asserted chunk-partitioned in test_plans.py. The "
        "(score, id) composite key keeps (stratum, key) unique, the "
        "machinery's determinism precondition; the keep bound "
        "ceil(0.25 * n) is exact integer arithmetic on both engines. "
        "Quality values are exact binary fractions (products of "
        "1.0/0.5 factors), so cross-engine rank order cannot drift.",
    tags=("ext", "text", "sampling"),
)
def x19_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_warehouse_spark.operators.sampling import prefix_sum_scalable

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "lang", "doc_id", quality_score(F.col("text")).alias("quality"))
    keyed = scored.select(
        "lang",
        F.struct((-F.col("quality")).alias("negq"),
                 F.col("doc_id").alias("doc_id")).alias("k"),
        F.lit(1).cast("long").alias("one"))
    # quality comes back out of the key (-(-q) is exact IEEE negation,
    # and the scores are exact binary fractions) — re-joining `scored`
    # would re-execute the regex-heavy scoring scan a second time,
    # the e3 cross-branch re-execution trap (r12 review finding)
    ranked = (prefix_sum_scalable(keyed, stratum="lang", key="k",
                                  weight="one")
              .select("lang", F.col("k.doc_id").alias("doc_id"),
                      (-F.col("k.negq")).alias("quality"),
                      F.col("cum").alias("rnk")))
    counts = scored.groupBy(F.col("lang").alias("__l")) \
        .agg(F.count(F.lit(1)).alias("n_lang"))
    # counts rejoin null-safe on lang (a NULL stratum is a real window
    # partition); the count aggregate reads only (lang) — column
    # pruning keeps this branch off the text payload
    return (ranked
            .join(F.broadcast(counts),
                  on=[F.col("lang").eqNullSafe(F.col("__l"))])
            .filter(F.col("rnk") <= F.ceil(F.col("n_lang") * 0.25))
            .select("lang", "doc_id", "quality", "rnk", "n_lang"))


@register(
    "x20_chunk_overlap",
    oracle=f"""
WITH c AS (
    SELECT doc_id, {_TOKS} AS toks,
           CAST(len({_TOKS}) AS INT) AS n,
           CASE WHEN len({_TOKS}) <= 64 THEN 1
                ELSE CAST(ceil((len({_TOKS}) - 64) / 48.0) AS INT) + 1
           END AS nc
    FROM documents
), e AS (
    SELECT doc_id, toks, n,
           unnest(generate_series(0, nc - 1)) AS i
    FROM c
)
SELECT doc_id, CAST(i AS INT) AS chunk_idx,
       CAST(i * 48 AS INT) AS tok_start,
       array_to_string(list_slice(toks, i * 48 + 1, i * 48 + 64), ' ')
           AS chunk_text,
       CAST(least(64, n - i * 48) AS INT) AS n_tokens
FROM e
""",
    doc="X20 [ext]: overlapping token-window chunking — the RAG / "
        "pretraining chunker (operators/chunking.py). Every document "
        "explodes into 64-token windows at stride 48 (16-token "
        "overlap) with stable (doc_id, chunk_idx) identity and token "
        "offsets; only a doc's final chunk may be short. Map-only: "
        "scan -> Generate -> Project, zero exchanges at any scale "
        "(plan-asserted); the downstream writer owns output "
        "partitioning. Tokenization is the repo-wide word_tokens "
        "split contract, so chunk boundaries replay bit-for-bit in "
        "the oracle's string_split_regex.",
    tags=("ext", "text"),
)
def x20_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_warehouse_spark.operators.chunking import chunk_overlapping

    docs = load_table(spark, sf_dir, "documents")
    return chunk_overlapping(docs, text_col="text", id_col="doc_id",
                             chunk_size=64, stride=48)


@register(
    "x21_mixture_schedule",
    oracle="""
WITH ranked AS (
    SELECT lang, doc_id,
           row_number() OVER (PARTITION BY lang
                              ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                       doc_id) AS rnk
    FROM documents
)
SELECT lang, doc_id, rnk,
       ROUND(rnk / (CASE lang WHEN 'en' THEN 0.5
                              WHEN 'de' THEN 0.15
                              WHEN 'fr' THEN 0.15
                              WHEN 'es' THEN 0.1
                              ELSE 0.1 END)::DOUBLE, 6) AS vtime
FROM ranked
""",
    doc="X21 [ext]: deterministic source-mixture schedule "
        "(operators/sampling.py:mixture_schedule) — the data-mixing "
        "pass that interleaves strata at target sampling weights "
        "(en 0.5 / de 0.15 / fr 0.15 / es 0.1 / zh 0.1): per-language "
        "md5-order rank via the x14b two-phase prefix sum (parallelism "
        "strata x chunks, never one reducer per stratum), virtual "
        "time = rank / weight (stride scheduling — reading in vtime "
        "order yields each language at ~its weight share of every "
        "prefix). The global order is deliberately left as the vtime "
        "sort key for the writer's range-sort; materializing a global "
        "row_number would serialize on one reducer.",
    tags=("ext", "text", "sampling"),
)
def x21_mixture_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_warehouse_spark.operators.sampling import mixture_schedule

    docs = load_table(spark, sf_dir, "documents")
    return mixture_schedule(
        docs, stratum="lang", id_col="doc_id",
        weights={"en": 0.5, "de": 0.15, "fr": 0.15, "es": 0.1},
        default_weight=0.1)
