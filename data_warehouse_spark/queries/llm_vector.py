"""[ext] Vector similarity-search operators (SURVEY §2.12 X3/X4 + the
ANN / embedding-near-dup mandate) over the `embeddings` fixture
(array<float> column).

Dot products/norms are zip_with/aggregate column expressions in double
precision — fully JVM-side. The DuckDB oracles spell out the identical
elementwise-double formula, so values agree to the last bit before the
shared round(6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_warehouse_spark.io import load_table
from data_warehouse_spark.operators.similarity import (
    cosine, cosine_lsh_pairs, cosine_pairs_blocked, cosine_topk,
    cosine_topk_multi, ivf_topk,
)
from data_warehouse_spark.queries.registry import register

_COS_SQL = """
list_sum(list_transform(range(1, 65), i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE))
/ (sqrt(list_sum(list_transform(range(1, 65), i -> {a}[i]::DOUBLE * {a}[i]::DOUBLE)))
 * sqrt(list_sum(list_transform(range(1, 65), i -> {b}[i]::DOUBLE * {b}[i]::DOUBLE))))
"""


_QUERY_VEC_CACHE: dict[tuple, list[list[float]]] = {}


def _embeddings_mtime(sf_dir: str) -> float:
    """Latest mtime under the embeddings table path (file or directory
    of part files) — 0.0 if unreadable (cache then keys on path only)."""
    import os

    path = os.path.join(sf_dir, "embeddings.parquet")
    try:
        if os.path.isdir(path):
            return max((e.stat().st_mtime for e in os.scandir(path)),
                       default=os.stat(path).st_mtime)
        return os.stat(path).st_mtime
    except OSError:
        return 0.0


def _query_vecs(spark: SparkSession, sf_dir: str,
                ids: tuple[int, ...]) -> list[list[float]]:
    """Query vectors = embeddings of deterministic fixture rows
    (collecting parameter rows is query setup, not data flow). Cached
    per (sf_dir, ids, file mtime): fixtures are regenerated in place
    between driver rounds, so a long-lived process must not keep
    scoring against stale parameter rows — the mtime key invalidates
    the cache exactly when the file changes."""
    key = (sf_dir, ids, _embeddings_mtime(sf_dir))
    if key not in _QUERY_VEC_CACHE:
        rows = (load_table(spark, sf_dir, "embeddings")
                .filter(F.col("vec_id").isin(list(ids)))
                .select("vec_id", "embedding").collect())
        by_id = {r.vec_id: list(r.embedding) for r in rows}
        missing = [i for i in ids if i not in by_id]
        if missing:
            raise ValueError(f"query vec_ids missing from fixture: {missing}")
        _QUERY_VEC_CACHE[key] = [by_id[i] for i in ids]
    return _QUERY_VEC_CACHE[key]


def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    return _query_vecs(spark, sf_dir, (0,))[0]


@register(
    "x3_cosine_topk",
    oracle=f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       ROUND({_COS_SQL.format(a='embedding', b='qv')}, 6) AS cos_sim
FROM embeddings CROSS JOIN q
ORDER BY cos_sim DESC, vec_id
LIMIT 20
""",
    doc="X3: exact brute-force cosine top-k vs a query vector — the "
        "correctness baseline for ANN. Executes as one scan + "
        "TakeOrderedAndProject (per-partition heap, k-row driver merge).",
    tags=("ext", "vector"),
)
def x3_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk(emb, vec_col="embedding", id_col="vec_id",
                       query_vec=_query_vec(spark, sf_dir), k=20)


# x3b oracle: the IVF pipeline is DETERMINISTIC given the seeded
# centroids, so DuckDB can replay it end to end: seed cells = the 16
# smallest-id vectors, one Lloyd step (cosine argmax assign -> per-
# component double AVG cast to FLOAT), final re-assign, probe the
# nprobe best cells by centroid cosine, exact top-k within them. The
# single inexact step is the Lloyd AVG: Spark's distributed double sum
# is summation-order-nondeterministic at ~1e-16 relative, but the
# result is quantized to float32 (~6e-8 relative grid), so engines
# agree unless an average sits within ~1e-9 of a float32 rounding
# boundary AND a downstream argmax/top-k margin is just as tight —
# the smallest measured decision margin on the fixtures is 3.8e-5
# (final-assignment runner-up gap at sf0.001; probe-cell and top-k
# boundaries sit at 1e-3..1e-2), pinned >= 1e-6 by
# tests/test_llm_queries.py's x3b margin test. The Spark kernel
# additionally snaps sims to 12 decimals before its argmax (see
# operators/similarity.py:assign_cells), which only canonicalizes
# ulp-level ties and cannot cross any of those margins.
_IVF_ORACLE = f"""
WITH emb AS (SELECT vec_id, embedding FROM embeddings),
seeds AS (
    SELECT row_number() OVER (ORDER BY vec_id) AS cell,
           embedding AS cvec
    FROM (SELECT vec_id, embedding FROM emb ORDER BY vec_id LIMIT 16)
),
a1 AS (
    SELECT vec_id, embedding, cell
    FROM (SELECT e.vec_id, e.embedding, s.cell,
                 {_COS_SQL.format(a='e.embedding', b='s.cvec')} AS sim
          FROM emb e CROSS JOIN seeds s)
    QUALIFY row_number() OVER (PARTITION BY vec_id
                               ORDER BY sim DESC, cell) = 1
),
cavg AS (
    SELECT cell, pos, CAST(AVG(x) AS FLOAT) AS cx
    FROM (SELECT cell, CAST(unnest(embedding) AS DOUBLE) AS x,
                 unnest(range(1, 65)) AS pos
          FROM a1)
    GROUP BY cell, pos
),
cent AS (
    SELECT cell, list(cx ORDER BY pos) AS cvec FROM cavg GROUP BY cell
),
a2 AS (
    SELECT vec_id, embedding, cell
    FROM (SELECT e.vec_id, e.embedding, c.cell,
                 {_COS_SQL.format(a='e.embedding', b='c.cvec')} AS sim
          FROM emb e CROSS JOIN cent c)
    QUALIFY row_number() OVER (PARTITION BY vec_id
                               ORDER BY sim DESC, cell) = 1
),
q AS (SELECT embedding AS qv FROM emb WHERE vec_id = 0),
probe_cells AS (
    SELECT cell FROM cent CROSS JOIN q
    ORDER BY {_COS_SQL.format(a='cvec', b='qv')} DESC, cell LIMIT 4
)
SELECT a2.vec_id,
       ROUND({_COS_SQL.format(a='a2.embedding', b='qv')}, 6) AS cos_sim
FROM a2 JOIN probe_cells USING (cell) CROSS JOIN q
ORDER BY cos_sim DESC, vec_id LIMIT 20
"""


@register(
    "x3b_ivf_topk",
    oracle=_IVF_ORACLE,
    doc="X3b: IVF-style approximate top-k — deterministic coarse "
        "quantizer (seeded centroids + Lloyd steps as DataFrame ops), "
        "probe nprobe=4 of 16 cells. The scale path: scoring cost drops "
        "~4x here, ~n_cells/nprobe generally; recall vs X3 asserted in "
        "tests. The oracle replays the whole pipeline in SQL (see "
        "_IVF_ORACLE note on why the Lloyd-average float cast makes "
        "the replay engine-stable), upgrading x3b from rows-only to a "
        "value-level hash check: 'approximate' describes recall vs "
        "exact search, not nondeterminism.",
    tags=("ext", "vector"),
)
def x3b_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(emb, vec_col="embedding", id_col="vec_id",
                    query_vec=_query_vec(spark, sf_dir), k=20,
                    n_cells=16, nprobe=4)


@register(
    "x3c_multi_topk",
    oracle=f"""
WITH q AS (
    SELECT vec_id AS query_id, embedding AS qv
    FROM embeddings WHERE vec_id IN (0, 1, 2)
), scored AS (
    SELECT q.query_id, e.vec_id,
           ROUND({_COS_SQL.format(a='e.embedding', b='q.qv')}, 6) AS cos_sim
    FROM embeddings e CROSS JOIN q
), ranked AS (
    SELECT query_id, vec_id, cos_sim,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos_sim DESC, vec_id) AS rn
    FROM scored
)
SELECT CAST(query_id AS INT) AS query_id, vec_id, cos_sim
FROM ranked WHERE rn <= 20
""",
    doc="X3c [ext]: batched exact top-k — MANY query vectors scored in "
        "ONE scan (operators/similarity.py:cosine_topk_multi). Q "
        "queries must not mean Q scans: each row's norm is computed "
        "once, the Q similarity expressions run side by side JVM-side "
        "and explode, and a per-query row_number keeps the top k. "
        "query_id = the probing vector's own vec_id here (positions "
        "0,1,2).",
    tags=("ext", "vector"),
)
def x3c_multi_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk_multi(emb, vec_col="embedding", id_col="vec_id",
                             query_vecs=_query_vecs(spark, sf_dir, (0, 1, 2)),
                             k=20)


# Deterministic near-dup planting for x2d: the fixture's embeddings
# have no natural near-dup pairs (max pairwise cosine ~0.51), so the
# query unions each vector with a perturbed copy v' = 0.9*v +
# 0.1*roll(v) (cast back to float32). cos(v, v') >= 0.9938 for ANY v,
# so every planted pair clears the 0.9 threshold while every cross
# pair stays below ~0.56 — the 0.9 gate separates them at any fixture
# generation. Both engines build the copy with the same double-domain
# expression cast to FLOAT, so inputs are bit-identical.
_PERTURB_SPARK = (
    "transform(sequence(1, 64), i -> CAST(0.9D * element_at(embedding, i)"
    " + 0.1D * element_at(embedding, (i % 64) + 1) AS FLOAT))")
_PERTURB_DUCK = (
    "list_transform(range(1, 65), i -> CAST(0.9::DOUBLE * embedding[i]"
    " + 0.1::DOUBLE * embedding[(i % 64) + 1] AS FLOAT))")


def _planted_copy_id():
    """The planted near-dup copy's id: vec_id + 100000, GUARDED. The
    offset assumes the fixture id space tops out below 100000 (sf0.1
    has 10k vectors); on an amplified fixture (vec_id salted to
    vec_id*n + copy) a collision would silently corrupt the id space
    instead of planting copies — that's why x2d/x17 carry no
    floor-free lanes (ddece72:tools/floorfree.py) and why x17b synthesizes its
    own embeddings. This expression makes an accidental amplified run
    ERROR at execution rather than pass with corrupt ids; it lives in
    the id path so column pruning can never drop the check
    (ADVICE r12 item #3)."""
    return F.when(F.col("vec_id") < 100000, F.col("vec_id") + 100000) \
            .otherwise(F.raise_error(F.concat(
                F.lit("planted-copy id offset collides: vec_id "),
                F.col("vec_id").cast("string"),
                F.lit(" >= 100000 — is this an amplified fixture?"))))


@register(
    "x2d_cosine_lsh",
    oracle=f"""
WITH u AS (
    SELECT vec_id, embedding FROM embeddings
    UNION ALL
    SELECT vec_id + 100000, {_PERTURB_DUCK} FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND({_COS_SQL.format(a='a.embedding', b='b.embedding')}, 6) AS cos_sim
FROM u a JOIN u b ON a.vec_id < b.vec_id
WHERE ROUND({_COS_SQL.format(a='a.embedding', b='b.embedding')}, 6) >= 0.9
""",
    doc="X2d [ext]: embedding-cosine near-dup WITHOUT a blocking key — "
        "random-hyperplane LSH (operators/similarity.py:"
        "cosine_lsh_pairs) proposes candidates, exact cosine verifies. "
        "Oracle-able despite being an LSH: outputs are exact-verified "
        "(values = brute force by construction) and the planted pairs "
        "sit at cos >= 0.9938 where the 128-bit/8-band miss "
        "probability is ~2e-10 per pair — deterministic in practice at "
        "every fixture generation, unlike recall at the threshold "
        "itself (quantified instead in tests/test_properties.py).",
    tags=("ext", "vector", "dedup"),
)
def x2d_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    copies = emb.select(_planted_copy_id().alias("vec_id"),
                        F.expr(_PERTURB_SPARK).alias("embedding"))
    union = emb.unionByName(copies)
    return cosine_lsh_pairs(union, vec_col="embedding", id_col="vec_id",
                            threshold=0.9)


# x17 oracle: SemDeDup replayed end to end — x2d's planted-copy union
# fed through x3b's deterministic clustering replay (seeds = 16
# smallest ids, one Lloyd step with the float32 cast, final argmax
# assign with the same sim-DESC/cell tie-break), then the within-cell
# prune: a vector is pruned by its smallest same-cell mate at rounded
# cosine >= 0.9. The float-noise argument is x3b's (Lloyd AVG is the
# only summation-order-sensitive step and the float32 quantization
# absorbs it) and the assignment margins on THIS population (union of
# fixture + perturbed copies) are pinned by
# tests/test_llm_queries.py's x17 margin test; the 0.9 pair gate
# separates planted pairs (>= 0.9938) from cross pairs (<= ~0.56) by
# x2d's construction argument.
_SEMDEDUP_ORACLE = f"""
WITH u AS (
    SELECT vec_id, embedding FROM embeddings
    UNION ALL
    SELECT vec_id + 100000, {_PERTURB_DUCK} FROM embeddings
),
seeds AS (
    SELECT row_number() OVER (ORDER BY vec_id) AS cell,
           embedding AS cvec
    FROM (SELECT vec_id, embedding FROM u ORDER BY vec_id LIMIT 16)
),
a1 AS (
    SELECT vec_id, embedding, cell
    FROM (SELECT e.vec_id, e.embedding, s.cell,
                 {_COS_SQL.format(a='e.embedding', b='s.cvec')} AS sim
          FROM u e CROSS JOIN seeds s)
    QUALIFY row_number() OVER (PARTITION BY vec_id
                               ORDER BY sim DESC, cell) = 1
),
cavg AS (
    SELECT cell, pos, CAST(AVG(x) AS FLOAT) AS cx
    FROM (SELECT cell, CAST(unnest(embedding) AS DOUBLE) AS x,
                 unnest(range(1, 65)) AS pos
          FROM a1)
    GROUP BY cell, pos
),
cent AS (
    SELECT cell, list(cx ORDER BY pos) AS cvec FROM cavg GROUP BY cell
),
a2 AS (
    SELECT vec_id, embedding, cell
    FROM (SELECT e.vec_id, e.embedding, c.cell,
                 {_COS_SQL.format(a='e.embedding', b='c.cvec')} AS sim
          FROM u e CROSS JOIN cent c)
    QUALIFY row_number() OVER (PARTITION BY vec_id
                               ORDER BY sim DESC, cell) = 1
),
pairs AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM a2 a JOIN a2 b ON a.cell = b.cell AND a.vec_id < b.vec_id
    WHERE ROUND({_COS_SQL.format(a='a.embedding', b='b.embedding')}, 6)
          >= 0.9
),
pruned AS (
    SELECT id_b AS vec_id, MIN(id_a) AS pruned_by FROM pairs GROUP BY id_b
)
SELECT a2.vec_id, a2.cell, p.pruned_by, p.pruned_by IS NULL AS kept
FROM a2 LEFT JOIN pruned p USING (vec_id)
"""


@register(
    "x17_semdedup",
    oracle=_SEMDEDUP_ORACLE,
    doc="X17 [ext]: SemDeDup (Abbas et al. 2023) — semantic dedup by "
        "embedding: k-means cluster (the x3b deterministic quantizer, "
        "16 cells, 1 Lloyd step), then prune any vector whose cosine "
        "to a smaller-id cluster-mate rounds to >= 0.9 "
        "(operators/similarity.py:semantic_dedup). Near-dup pairs are "
        "planted as x2d's perturbed copies (the natural fixture has "
        "no pair above ~0.51). Output: every vector with its cell, "
        "its pruner (null if kept), and the kept flag — downstream "
        "training reads WHERE kept. Quadratic cost is bounded per "
        "cell (Σ|cell|², never corpus²); at 100 TB n_cells scales "
        "with the corpus (the paper's own regime) and oversized cells "
        "auto-route through an IVF sub-split. The oracle replays the "
        "full cluster+prune pipeline in SQL, so this is value-checked "
        "end to end, including the cell assignment.",
    tags=("ext", "vector", "dedup"),
)
def x17_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_warehouse_spark.operators.similarity import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    copies = emb.select(_planted_copy_id().alias("vec_id"),
                        F.expr(_PERTURB_SPARK).alias("embedding"))
    union = emb.unionByName(copies)
    # max_cell_rows=None: the exact in-cell path is what the value
    # oracle replays; the auto-split approximation is the >100k-cell
    # scale lever, exercised by x4's routed branch instead
    return semantic_dedup(union, vec_col="embedding", id_col="vec_id",
                          n_cells=16, threshold=0.9, iters=1,
                          max_cell_rows=None)


# --- x17b: SemDeDup over a SPARSE synthetic embedding space ----------
#
# Why x17 itself got no floor-free lane (ddece72:tools/floorfree.py): the
# copy amplifier turns every fixture vector into an n-clique of
# identical embeddings — quadratic candidate poisoning on both
# engines — and x17's +100000 planted-copy offset collides with
# salted ids (now guarded by _planted_copy_id). This is the vector-
# space analog of x16c's sparse-sharing corpus: embeddings derive
# deterministically from vec_id ALONE, so ANY id space (fixture or
# salted-amplified) yields a corpus where planted near-dup volume is
# LINEAR and every cosine is an exact dyadic rational.
#
# Construction (engine-replayable, md5-seeded like x16c):
#   - every vector is a 64-dim ±1 code, component j's sign taken from
#     the first hex digit of md5('v<base>-<j>') (>= '8' -> +1);
#   - pair p = floor(id/2); every third pair (p % 3 = 0) plants a
#     near-dup: the odd member copies the even member's code with
#     exactly ONE component (p % 64) sign-flipped -> cosine is
#     EXACTLY 62/64 = 0.96875 (norms are exactly 8);
#   - background pairs are independent codes: cos = (64 - 2k)/64 with
#     k ~ Bin(64, 1/2) disagreements, so P(cos >= 0.9) = P(k <= 3)
#     ~ 2.4e-15 per pair and — decisively — every possible cosine
#     sits on the k/64 grid, whose nearest points to the 0.9 gate are
#     0.875 and 0.90625: NO pair can ever be within 0.006 of the
#     threshold, on either engine, at any multiplier. The x2-style
#     shadow zone is empty by construction, not by measurement.
#   - under amplification ids are salted (vec_id*n + copy), and since
#     the construction reads only the salted id, consecutive salted
#     ids pair copies of the same source row: each id joins at most
#     ONE planted pair — linear, never a clique.
#
# Float discipline (stronger than x17's own oracle): ±1 components
# make the Lloyd centroid sums EXACT integers (any summation order),
# so the one step that x3b's float32 cast merely absorbs is here
# bit-exact by arithmetic; assignment dot products reduce arrays in
# both engines' fixed element order.
#
# Scale knob exercised for real: n_cells = max(16, N // 640) grows
# with the corpus (the paper's regime), holding cells ~640 rows so
# within-cell pair volume is LINEAR in N. The gate (sf0.01, N=1000)
# evaluates to 16 cells — identical plan to x17's. The oracle's
# brute-force assignment replay is N x n_cells cosines, which is what
# caps the honest lane (ddece72:tools/floorfree.py DEFAULT_QUERIES note).
_SEMDEDUP_SPARSE_EMB_DUCK = """
list_transform(range(0, 64), j ->
  CAST((CASE WHEN (FLOOR(vec_id / 2)::BIGINT % 3 = 0 AND vec_id % 2 = 1)
                  AND j = FLOOR(vec_id / 2)::BIGINT % 64
        THEN -1.0 ELSE 1.0 END) *
       (CASE WHEN substr(md5('v' ||
                 CAST(CASE WHEN (FLOOR(vec_id / 2)::BIGINT % 3 = 0
                                 AND vec_id % 2 = 1)
                           THEN vec_id - 1 ELSE vec_id END AS VARCHAR)
                 || '-' || CAST(j AS VARCHAR)), 1, 1) >= '8'
        THEN 1.0 ELSE -1.0 END) AS DOUBLE))
"""

_SEMDEDUP_SPARSE_ORACLE = f"""
WITH ids AS (
    SELECT vec_id FROM embeddings
),
u AS (
    SELECT vec_id, {_SEMDEDUP_SPARSE_EMB_DUCK} AS embedding FROM ids
),
nc AS (
    SELECT GREATEST(16, COUNT(*) // 640) AS n FROM ids
),
seeds AS (
    SELECT row_number() OVER (ORDER BY vec_id) AS cell,
           embedding AS cvec
    FROM (SELECT vec_id, embedding FROM u ORDER BY vec_id
          LIMIT (SELECT n FROM nc))
),
a1 AS (
    SELECT vec_id, embedding, cell
    FROM (SELECT e.vec_id, e.embedding, s.cell,
                 {_COS_SQL.format(a='e.embedding', b='s.cvec')} AS sim
          FROM u e CROSS JOIN seeds s)
    QUALIFY row_number() OVER (PARTITION BY vec_id
                               ORDER BY sim DESC, cell) = 1
),
cavg AS (
    SELECT cell, pos, CAST(AVG(x) AS FLOAT) AS cx
    FROM (SELECT cell, CAST(unnest(embedding) AS DOUBLE) AS x,
                 unnest(range(1, 65)) AS pos
          FROM a1)
    GROUP BY cell, pos
),
cent AS (
    SELECT cell, list(cx ORDER BY pos) AS cvec FROM cavg GROUP BY cell
),
a2 AS (
    SELECT vec_id, embedding, cell
    FROM (SELECT e.vec_id, e.embedding, c.cell,
                 {_COS_SQL.format(a='e.embedding', b='c.cvec')} AS sim
          FROM u e CROSS JOIN cent c)
    QUALIFY row_number() OVER (PARTITION BY vec_id
                               ORDER BY sim DESC, cell) = 1
),
pairs AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM a2 a JOIN a2 b ON a.cell = b.cell AND a.vec_id < b.vec_id
    WHERE ROUND({_COS_SQL.format(a='a.embedding', b='b.embedding')}, 6)
          >= 0.9
),
pruned AS (
    SELECT id_b AS vec_id, MIN(id_a) AS pruned_by FROM pairs GROUP BY id_b
)
SELECT a2.vec_id, a2.cell, p.pruned_by, p.pruned_by IS NULL AS kept
FROM a2 LEFT JOIN pruned p USING (vec_id)
"""


@register(
    "x17b_semdedup_sparse",
    oracle=_SEMDEDUP_SPARSE_ORACLE,
    doc="X17b [ext]: SemDeDup over a sparse synthetic embedding space "
        "— the honest amplified lane x17's copy-amplified fixture "
        "can't provide (VERDICT r12 ask #4; x16c's recipe in vector "
        "space). 64-dim ±1 codes from md5(vec_id); every third id "
        "pair plants a one-sign-flip near-dup at cosine EXACTLY "
        "62/64 = 0.96875; all cosines live on the k/64 grid so "
        "nothing can approach the 0.9 gate from either side. "
        "n_cells = max(16, N // 640) exercises the paper's real "
        "scale knob — cells stay ~640 rows, within-cell pair volume "
        "stays linear. The oracle replays construction + clustering "
        "+ prune end to end; the gate (N=1000 -> 16 cells) runs "
        "x17's exact plan shape.",
    tags=("ext", "vector", "dedup"),
)
def x17b_semdedup_sparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_warehouse_spark.operators.similarity import semantic_dedup

    ids = load_table(spark, sf_dir, "embeddings").select("vec_id")
    did = F.col("vec_id")
    pair = F.floor(did / 2).cast("long")
    planted = (pair % 3 == F.lit(0)) & (did % 2 == F.lit(1))
    base = F.when(planted, did - 1).otherwise(did).cast("string")

    def comp(j):
        flip = F.when(planted & (j == pair % 64), F.lit(-1.0)) \
                .otherwise(F.lit(1.0))
        sign = F.when(
            F.substring(F.md5(F.concat(F.lit("v"), base, F.lit("-"),
                                       j.cast("string"))), 1, 1) >= "8",
            F.lit(1.0)).otherwise(F.lit(-1.0))
        return (flip * sign).cast("float")

    corpus = ids.select(
        "vec_id",
        F.transform(F.sequence(F.lit(0), F.lit(63)), comp)
         .alias("embedding"))
    # parquet-metadata count (no scan), same as x16c's n_passes input
    n = ids.count()
    return semantic_dedup(corpus, vec_col="embedding", id_col="vec_id",
                          n_cells=max(16, n // 640), threshold=0.9,
                          iters=1, dim=64, max_cell_rows=None)


@register(
    "x4_pairwise_sim",
    oracle=f"""
SELECT a.label AS block, a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND({_COS_SQL.format(a='a.embedding', b='b.embedding')}, 6) AS cos_sim
FROM embeddings a JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE ROUND({_COS_SQL.format(a='a.embedding', b='b.embedding')}, 6) >= 0.25
""",
    doc="X4: pairwise cosine similarity join within label blocks — the "
        "embedding-cosine near-dup pattern. Blocking bounds the "
        "quadratic term; the label join is a hash join (AQE skew-"
        "handled), and blocks beyond max_block_rows auto-route through "
        "an IVF-cell prefilter (operators/similarity.py) so a giant "
        "block degrades to Σ|cell|² instead of |block|². Threshold "
        "applied on the rounded value in both engines so boundary "
        "membership is identical.",
    tags=("ext", "vector"),
)
def x4_pairwise_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_pairs_blocked(emb, vec_col="embedding", id_col="vec_id",
                                block_col="label", threshold=0.25,
                                dim=64)


_PQ_ORACLE = """
WITH cb AS (
    SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                              vec_id) AS code,
           embedding AS cvec
    FROM (SELECT vec_id, embedding FROM embeddings
          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16) AS s
),
subs AS (SELECT unnest(range(0, 8)) AS m),
d AS (
    SELECT e.vec_id, s.m, c.code,
           list_sum(list_transform(range(1, 9),
               t -> (e.embedding[s.m * 8 + t]::DOUBLE
                     - c.cvec[s.m * 8 + t]::DOUBLE)
                  * (e.embedding[s.m * 8 + t]::DOUBLE
                     - c.cvec[s.m * 8 + t]::DOUBLE))) AS dist
    FROM embeddings e CROSS JOIN subs s CROSS JOIN cb c
),
codes AS (
    SELECT vec_id, m, code
    FROM d
    QUALIFY row_number() OVER (PARTITION BY vec_id, m
                               ORDER BY dist, code) = 1
),
qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0),
lut AS (
    SELECT s.m, cb.code,
           list_sum(list_transform(range(1, 9),
               t -> (qv.q[s.m * 8 + t]::DOUBLE
                     - cb.cvec[s.m * 8 + t]::DOUBLE)
                  * (qv.q[s.m * 8 + t]::DOUBLE
                     - cb.cvec[s.m * 8 + t]::DOUBLE))) AS l
    FROM subs s CROSS JOIN cb CROSS JOIN qv
),
per AS (
    SELECT c.vec_id, c.m, c.code, l.l
    FROM codes c JOIN lut l ON l.m = c.m AND l.code = c.code
)
SELECT vec_id,
       string_agg(CAST(code - 1 AS VARCHAR), '-' ORDER BY m) AS pq_code,
       ROUND(list_sum(list(l ORDER BY m)), 6) AS approx_dist
FROM per
GROUP BY vec_id
"""


@register(
    "x3d_pq_adc",
    oracle=_PQ_ORACLE,
    doc="X3d [ext]: product quantization + ADC scoring (Jégou et al. "
        "2011; operators/similarity.py:pq_encode) — the memory half "
        "of IVF-PQ, composing with x3b's IVF cells. Codebook = the 16 "
        "md5-smallest corpus vectors (k-medoids-style deterministic "
        "seeding, replayed exactly by the oracle's ORDER BY "
        "md5/LIMIT); each vector encodes to 8 codeword ids (argmin "
        "subspace L2, ties to the smaller id) = 8 bytes vs 256 raw "
        "(32x compression at 100 TB); approx_dist is the asymmetric "
        "lookup-table distance to the fixture query vector (vec_id "
        "0). The encode+score plan is map-only with the codebook as "
        "~8 KB of literals: zero exchanges, zero Python "
        "(plan-asserted). Fold order (t within subspace, m across "
        "subspaces, round only at the end) matches DuckDB's "
        "list_sum, so codes AND scores agree bit-for-bit.",
    tags=("ext", "vector"),
)
def x3d_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_warehouse_spark.operators.similarity import (
        pq_codebook_sample, pq_encode,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    codebook = pq_codebook_sample(emb, vec_col="embedding",
                                  id_col="vec_id", n_codes=16)
    return pq_encode(emb, vec_col="embedding", id_col="vec_id",
                     codebook=codebook, n_sub=8,
                     query_vec=_query_vec(spark, sf_dir))


# x3e oracle = x3b's IVF replay (seeds -> one Lloyd step -> re-assign
# -> probe_cells; float-stability argument at _IVF_ORACLE) composed
# with x3d's PQ replay (md5-sampled codebook, per-subspace argmin,
# query lookup tables), then the production cut discipline: ADC
# shortlist of k*rerank by (round-6 ADC dist, vec_id), exact cosine
# only on the shortlist, final (round-6 cosine DESC, vec_id) top-k.
# Both engines round the ADC value to 6 BEFORE the shortlist cut (the
# unrounded doubles are bit-identical — same fold order — but the
# shared round keeps the cut insensitive to any future kernel change
# that re-associates the sum).
_IVFPQ_ORACLE = f"""
WITH emb AS (SELECT vec_id, embedding FROM embeddings),
seeds AS (
    SELECT row_number() OVER (ORDER BY vec_id) AS cell,
           embedding AS cvec
    FROM (SELECT vec_id, embedding FROM emb ORDER BY vec_id LIMIT 16)
),
a1 AS (
    SELECT vec_id, embedding, cell
    FROM (SELECT e.vec_id, e.embedding, s.cell,
                 {_COS_SQL.format(a='e.embedding', b='s.cvec')} AS sim
          FROM emb e CROSS JOIN seeds s)
    QUALIFY row_number() OVER (PARTITION BY vec_id
                               ORDER BY sim DESC, cell) = 1
),
cavg AS (
    SELECT cell, pos, CAST(AVG(x) AS FLOAT) AS cx
    FROM (SELECT cell, CAST(unnest(embedding) AS DOUBLE) AS x,
                 unnest(range(1, 65)) AS pos
          FROM a1)
    GROUP BY cell, pos
),
cent AS (
    SELECT cell, list(cx ORDER BY pos) AS cvec FROM cavg GROUP BY cell
),
a2 AS (
    SELECT vec_id, embedding, cell
    FROM (SELECT e.vec_id, e.embedding, c.cell,
                 {_COS_SQL.format(a='e.embedding', b='c.cvec')} AS sim
          FROM emb e CROSS JOIN cent c)
    QUALIFY row_number() OVER (PARTITION BY vec_id
                               ORDER BY sim DESC, cell) = 1
),
q AS (SELECT embedding AS qv FROM emb WHERE vec_id = 0),
probe_cells AS (
    SELECT cell FROM cent CROSS JOIN q
    ORDER BY {_COS_SQL.format(a='cvec', b='qv')} DESC, cell LIMIT 4
),
cand AS (
    SELECT a2.vec_id, a2.embedding
    FROM a2 JOIN probe_cells USING (cell)
),
cb AS (
    SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                              vec_id) AS code,
           embedding AS pqvec
    FROM (SELECT vec_id, embedding FROM emb
          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16) AS s
),
subs AS (SELECT unnest(range(0, 8)) AS m),
pqd AS (
    SELECT e.vec_id, s.m, c.code,
           list_sum(list_transform(range(1, 9),
               t -> (e.embedding[s.m * 8 + t]::DOUBLE
                     - c.pqvec[s.m * 8 + t]::DOUBLE)
                  * (e.embedding[s.m * 8 + t]::DOUBLE
                     - c.pqvec[s.m * 8 + t]::DOUBLE))) AS dist
    FROM cand e CROSS JOIN subs s CROSS JOIN cb c
),
pqcodes AS (
    SELECT vec_id, m, code
    FROM pqd
    QUALIFY row_number() OVER (PARTITION BY vec_id, m
                               ORDER BY dist, code) = 1
),
lut AS (
    SELECT s.m, cb.code,
           list_sum(list_transform(range(1, 9),
               t -> (q.qv[s.m * 8 + t]::DOUBLE
                     - cb.pqvec[s.m * 8 + t]::DOUBLE)
                  * (q.qv[s.m * 8 + t]::DOUBLE
                     - cb.pqvec[s.m * 8 + t]::DOUBLE))) AS l
    FROM subs s CROSS JOIN cb CROSS JOIN q
),
adc AS (
    SELECT c.vec_id, ROUND(list_sum(list(l.l ORDER BY c.m)), 6) AS ad
    FROM pqcodes c JOIN lut l ON l.m = c.m AND l.code = c.code
    GROUP BY c.vec_id
),
short AS (SELECT vec_id FROM adc ORDER BY ad, vec_id LIMIT 40)
SELECT e.vec_id,
       ROUND({_COS_SQL.format(a='e.embedding', b='qv')}, 6) AS cos_sim
FROM emb e JOIN short USING (vec_id) CROSS JOIN q
ORDER BY cos_sim DESC, vec_id LIMIT 20
"""


@register(
    "x3e_ivfpq_topk",
    oracle=_IVFPQ_ORACLE,
    doc="X3e [ext]: IVF-PQ top-k — the production ANN probe composed "
        "from x3b's IVF cells and x3d's PQ codes "
        "(operators/similarity.py:ivf_pq_topk): probe nprobe=4 of 16 "
        "cells, rank the candidates by ADC over 8-byte codes (never "
        "touching raw candidate vectors), exact-cosine rerank only "
        "the 40-row shortlist. Per-probe cost at 100 TB: O(candidate "
        "codes) + 40 raw-vector fetches — no corpus scan, no "
        "quadratic term, and the ranked representation is "
        "32x-compressed. The oracle replays IVF + PQ + both cut "
        "boundaries end to end (ADC round-6 + vec_id ties before the "
        "shortlist; round-6 cosine + vec_id ties at the end).",
    tags=("ext", "vector"),
)
def x3e_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_warehouse_spark.operators.similarity import ivf_pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_pq_topk(emb, vec_col="embedding", id_col="vec_id",
                       query_vec=_query_vec(spark, sf_dir), k=20,
                       n_cells=16, nprobe=4, n_sub=8, rerank=2)


# x3f: x3e's probe with the PRODUCTION-SIZE codebook (256 codewords).
# The Spark side AUTO-ROUTES through pq_encode_arrow (the literal-
# expression argmin is ~16k plan nodes at 256 codes); the SQL replay
# has no such problem — the codebook is a TABLE (cb), so the identical
# oracle machinery scales by changing one LIMIT. Cross-engine
# exactness leans on the same two cut-absorption arguments x3e states:
# the ADC value is rounded to 6 BEFORE the shortlist cut (absorbing
# kernel fold-order ulps unless a true value sits within an ulp of a
# rounding boundary — the x3e "re-associates the sum" clause, which is
# exactly what the Arrow kernel's x^2+c^2-2xc expansion does), and the
# final order is the round-6 exact cosine. Codes themselves do not
# appear in the output; a sub-ulp argmin tie would have to flip
# SHORTLIST membership at the 40-row boundary to matter (fixture
# margins measured comfortably away; expr/arrow code equality is
# additionally pinned in tests).
_IVFPQ256_ORACLE = _IVFPQ_ORACLE.replace(
    "ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16) AS s",
    "ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 256) AS s", 1)


@register(
    "x3f_ivfpq_arrow256",
    oracle=_IVFPQ256_ORACLE,
    doc="X3f [ext]: IVF-PQ top-k at the PRODUCTION codebook size — "
        "x3e's probe with a 256-codeword (8-bit) sampled book, which "
        "auto-routes the encode through the Arrow kernel "
        "(operators/similarity.py:pq_encode_arrow; the expr plan is "
        "~16k argmin nodes at this size). This is the configuration "
        "the r14 codebook-size analysis showed the 4-bit book cannot "
        "reach (1.6-2.4x the recall at 1M, SCALE.md r14 addendum 2), "
        "and the gate cell makes the Arrow kernel itself "
        "value-verified cross-engine, not just expr-equivalence-"
        "tested. Oracle = x3e's replay with the codebook CTE at "
        "LIMIT 256 (SQL has no literal blowup: the codebook is a "
        "table); both cut boundaries round-6-absorbed as in x3e.",
    tags=("ext", "vector"),
)
def x3f_ivfpq_arrow256(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_warehouse_spark.operators.similarity import (
        ivf_pq_topk, pq_codebook_sample,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    cb = pq_codebook_sample(emb, vec_col="embedding", id_col="vec_id",
                            n_codes=256, dim=len(qv))
    return ivf_pq_topk(emb, vec_col="embedding", id_col="vec_id",
                       query_vec=qv, k=20, nprobe=4, n_sub=8,
                       rerank=2, codebook=cb)


# x3g: x3e's probe with the LLOYD-TRAINED codebook and the ADC bias
# correction (pq_codeword_energy) — the production trained-PQ path,
# gate-verified instead of pytest-only (r14 verdict ask #3). The
# oracle replays the ENTIRE pipeline in SQL:
#   1. PQ seed = the 16 md5-smallest vectors (pq_codebook_sample's
#      deterministic k-medoids seeding, exactly replayable);
#   2. ONE Lloyd iteration: per-subspace argmin assignment against the
#      seed (the same literal fold as pq_encode, bit-identical), then
#      the per-(subspace, codeword, position) mean CAST TO FLOAT —
#      the same float-absorption argument as x3b's IVF centroid
#      replay (cross-engine AVG fold-order ulps are ~1e-16 relative;
#      the float32 cast has 1e-7 resolution). The Spark wrapper
#      quantizes the trained book to float32 to match. Codewords that
#      attract no vectors keep their seed value (standard Lloyd;
#      COALESCE in the oracle).
#   3. Energy table (Jégou §III-C bias correction): re-assign the
#      corpus against the TRAINED book, per-(subspace, codeword) mean
#      residual, ROUNDED to 6 (half-up on both engines; the wrapper
#      rounds Spark's table the same way) — absent codewords are 0.
#   4. x3e's probe discipline unchanged: IVF nprobe=4/16 candidate
#      cut, ADC LUT = query-to-codeword distance + energy, round-6
#      ADC shortlist of 40 with vec_id ties, exact-cosine rerank,
#      final (round-6 cosine DESC, vec_id) top 20.
_PQ_SUBDIST_SQL = """
           list_sum(list_transform(range(1, 9),
               t -> (e.embedding[s.m * 8 + t]::DOUBLE
                     - c.cvec[s.m * 8 + t]::DOUBLE)
                  * (e.embedding[s.m * 8 + t]::DOUBLE
                     - c.cvec[s.m * 8 + t]::DOUBLE)))"""

_IVFPQ_TRAINED_ORACLE = f"""
WITH emb AS (SELECT vec_id, embedding FROM embeddings),
seeds AS (
    SELECT row_number() OVER (ORDER BY vec_id) AS cell,
           embedding AS cvec
    FROM (SELECT vec_id, embedding FROM emb ORDER BY vec_id LIMIT 16)
),
iv1 AS (
    SELECT vec_id, embedding, cell
    FROM (SELECT e.vec_id, e.embedding, s.cell,
                 {_COS_SQL.format(a='e.embedding', b='s.cvec')} AS sim
          FROM emb e CROSS JOIN seeds s)
    QUALIFY row_number() OVER (PARTITION BY vec_id
                               ORDER BY sim DESC, cell) = 1
),
cavg AS (
    SELECT cell, pos, CAST(AVG(x) AS FLOAT) AS cx
    FROM (SELECT cell, CAST(unnest(embedding) AS DOUBLE) AS x,
                 unnest(range(1, 65)) AS pos
          FROM iv1)
    GROUP BY cell, pos
),
cent AS (
    SELECT cell, list(cx ORDER BY pos) AS cvec FROM cavg GROUP BY cell
),
iv2 AS (
    SELECT vec_id, embedding, cell
    FROM (SELECT e.vec_id, e.embedding, c.cell,
                 {_COS_SQL.format(a='e.embedding', b='c.cvec')} AS sim
          FROM emb e CROSS JOIN cent c)
    QUALIFY row_number() OVER (PARTITION BY vec_id
                               ORDER BY sim DESC, cell) = 1
),
q AS (SELECT embedding AS qv FROM emb WHERE vec_id = 0),
probe_cells AS (
    SELECT cell FROM cent CROSS JOIN q
    ORDER BY {_COS_SQL.format(a='cvec', b='qv')} DESC, cell LIMIT 4
),
cand AS (
    SELECT iv2.vec_id FROM iv2 JOIN probe_cells USING (cell)
),
scb AS (
    SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                              vec_id) AS code,
           embedding AS cvec
    FROM (SELECT vec_id, embedding FROM emb
          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16) AS s
),
subs AS (SELECT unnest(range(0, 8)) AS m),
ts AS (SELECT unnest(range(1, 9)) AS t),
d0 AS (
    SELECT e.vec_id, s.m, c.code,
{_PQ_SUBDIST_SQL} AS dist
    FROM emb e CROSS JOIN subs s CROSS JOIN scb c
),
a0 AS (
    SELECT vec_id, m, code FROM d0
    QUALIFY row_number() OVER (PARTITION BY vec_id, m
                               ORDER BY dist, code) = 1
),
means AS (
    SELECT a0.m, a0.code, ts.t,
           CAST(AVG(e.embedding[a0.m * 8 + ts.t]::DOUBLE) AS FLOAT) AS cx
    FROM a0 JOIN emb e USING (vec_id) CROSS JOIN ts
    GROUP BY a0.m, a0.code, ts.t
),
pos AS (SELECT unnest(range(1, 65)) AS p),
tvals AS (
    SELECT s.code, pos.p, COALESCE(m.cx, s.cvec[pos.p]) AS v
    FROM scb s CROSS JOIN pos
    LEFT JOIN means m ON m.code = s.code AND m.m * 8 + m.t = pos.p
),
tcb AS (SELECT code, list(v ORDER BY p) AS cvec FROM tvals GROUP BY code),
d1 AS (
    SELECT e.vec_id, s.m, c.code,
{_PQ_SUBDIST_SQL} AS dist
    FROM emb e CROSS JOIN subs s CROSS JOIN tcb c
),
a1t AS (
    SELECT vec_id, m, code, dist FROM d1
    QUALIFY row_number() OVER (PARTITION BY vec_id, m
                               ORDER BY dist, code) = 1
),
energy AS (
    SELECT m, code, ROUND(AVG(dist), 6) AS en FROM a1t GROUP BY m, code
),
ccodes AS (
    SELECT a1t.vec_id, a1t.m, a1t.code FROM a1t JOIN cand USING (vec_id)
),
lut AS (
    SELECT s.m, c.code,
           list_sum(list_transform(range(1, 9),
               t -> (q.qv[s.m * 8 + t]::DOUBLE
                     - c.cvec[s.m * 8 + t]::DOUBLE)
                  * (q.qv[s.m * 8 + t]::DOUBLE
                     - c.cvec[s.m * 8 + t]::DOUBLE)))
           + COALESCE(e2.en, 0.0) AS l
    FROM subs s CROSS JOIN tcb c CROSS JOIN q
    LEFT JOIN energy e2 ON e2.m = s.m AND e2.code = c.code
),
adc AS (
    SELECT c.vec_id, ROUND(list_sum(list(l.l ORDER BY c.m)), 6) AS ad
    FROM ccodes c JOIN lut l ON l.m = c.m AND l.code = c.code
    GROUP BY c.vec_id
),
short AS (SELECT vec_id FROM adc ORDER BY ad, vec_id LIMIT 40)
SELECT e.vec_id,
       ROUND({_COS_SQL.format(a='e.embedding', b='qv')}, 6) AS cos_sim
FROM emb e JOIN short USING (vec_id) CROSS JOIN q
ORDER BY cos_sim DESC, vec_id LIMIT 20
"""


@register(
    "x3g_ivfpq_trained",
    oracle=_IVFPQ_TRAINED_ORACLE,
    doc="X3g [ext]: IVF-PQ top-k with the LLOYD-TRAINED codebook and "
        "the ADC bias correction — the configuration a production "
        "ANN user actually runs (operators/similarity.py:"
        "pq_codebook_train + pq_codeword_energy + ivf_pq_topk; Jégou "
        "et al. 2011 §III). One Lloyd iteration refines the "
        "md5-sampled seed (distortion drops monotonically, "
        "pytest-pinned); the per-codeword mean residual energy "
        "de-biases the ADC estimator (a centroid codeword "
        "systematically underestimates true distance by exactly this "
        "quantity in expectation — r14's lane measured the "
        "uncorrected bias flipping the trained-vs-sampled ranking). "
        "The trained book is float32-quantized and the energy table "
        "round-6-quantized so the SQL oracle replays the whole "
        "train->energy->probe pipeline exactly (the same "
        "float-absorption argument as x3b's centroid replay). Probe "
        "discipline is x3e's: IVF nprobe=4/16, ADC shortlist 40, "
        "exact rerank top 20 — still zero corpus scans per probe "
        "with a prebuilt index at 100 TB.",
    tags=("ext", "vector"),
)
def x3g_ivfpq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    import numpy as np

    from data_warehouse_spark.operators.similarity import (
        ivf_pq_topk, pq_codebook_train, pq_codeword_energy,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    cb = pq_codebook_train(emb, vec_col="embedding", id_col="vec_id",
                           n_codes=16, n_sub=8, iters=1, dim=len(qv))
    # float32 quantization: absorbs cross-engine AVG fold-order ulps
    # (~1e-16 relative) far below float32 resolution (~1e-7), the
    # exact trick x3b's oracle uses for IVF centroids (CAST AS FLOAT)
    cb = [[float(np.float32(v)) for v in c] for c in cb]
    en = pq_codeword_energy(emb, vec_col="embedding", id_col="vec_id",
                            codebook=cb, n_sub=8)
    # round-6 half-up (energies are non-negative), matching the
    # oracle's ROUND(AVG(dist), 6) — NOT Python round() (half-even)
    en = [[math.floor(v * 1e6 + 0.5) / 1e6 for v in row] for row in en]
    return ivf_pq_topk(emb, vec_col="embedding", id_col="vec_id",
                       query_vec=qv, k=20, n_cells=16, nprobe=4,
                       n_sub=8, rerank=2, codebook=cb,
                       codeword_energy=en)


# x3h: incremental IVF index maintenance — the ANN analogue of the
# x2e/x2g incremental-dedup pair. The corpus (vec_id % 5 != 0) builds
# the index; the batch (vec_id % 5 == 0, which INCLUDES the fixture
# query vector 0) is appended by assigning against the EXISTING
# centroids only — O(|batch| * n_cells), the indexed corpus never
# re-scanned. The probe then spans old and new rows in one plan; the
# query's own vector arriving IN the batch and surfacing at rank 1
# is the freshness property this row certifies. The oracle is x3b's
# replay with centroids from the corpus subset and the batch assigned
# against the trained centroids (same cosine + QUALIFY machinery, so
# assignments agree by the same round-12-snap/ties argument).
_IVF_INCR_ORACLE = f"""
WITH emb AS (SELECT vec_id, embedding FROM embeddings),
corpus AS (SELECT * FROM emb WHERE vec_id % 5 <> 0),
batch AS (SELECT * FROM emb WHERE vec_id % 5 = 0),
seeds AS (
    SELECT row_number() OVER (ORDER BY vec_id) AS cell,
           embedding AS cvec
    FROM (SELECT vec_id, embedding FROM corpus ORDER BY vec_id LIMIT 16)
),
a1 AS (
    SELECT vec_id, embedding, cell
    FROM (SELECT e.vec_id, e.embedding, s.cell,
                 {_COS_SQL.format(a='e.embedding', b='s.cvec')} AS sim
          FROM corpus e CROSS JOIN seeds s)
    QUALIFY row_number() OVER (PARTITION BY vec_id
                               ORDER BY sim DESC, cell) = 1
),
cavg AS (
    SELECT cell, pos, CAST(AVG(x) AS FLOAT) AS cx
    FROM (SELECT cell, CAST(unnest(embedding) AS DOUBLE) AS x,
                 unnest(range(1, 65)) AS pos
          FROM a1)
    GROUP BY cell, pos
),
cent AS (
    SELECT cell, list(cx ORDER BY pos) AS cvec FROM cavg GROUP BY cell
),
a2 AS (
    SELECT vec_id, embedding, cell
    FROM (SELECT e.vec_id, e.embedding, c.cell,
                 {_COS_SQL.format(a='e.embedding', b='c.cvec')} AS sim
          FROM corpus e CROSS JOIN cent c)
    QUALIFY row_number() OVER (PARTITION BY vec_id
                               ORDER BY sim DESC, cell) = 1
),
b2 AS (
    SELECT vec_id, embedding, cell
    FROM (SELECT e.vec_id, e.embedding, c.cell,
                 {_COS_SQL.format(a='e.embedding', b='c.cvec')} AS sim
          FROM batch e CROSS JOIN cent c)
    QUALIFY row_number() OVER (PARTITION BY vec_id
                               ORDER BY sim DESC, cell) = 1
),
all2 AS (SELECT * FROM a2 UNION ALL SELECT * FROM b2),
q AS (SELECT embedding AS qv FROM emb WHERE vec_id = 0),
probe_cells AS (
    SELECT cell FROM cent CROSS JOIN q
    ORDER BY {_COS_SQL.format(a='cvec', b='qv')} DESC, cell LIMIT 4
)
SELECT all2.vec_id,
       ROUND({_COS_SQL.format(a='all2.embedding', b='qv')}, 6) AS cos_sim
FROM all2 JOIN probe_cells USING (cell) CROSS JOIN q
ORDER BY cos_sim DESC, vec_id LIMIT 20
"""


@register(
    "x3h_ivf_incremental",
    oracle=_IVF_INCR_ORACLE,
    doc="X3h [ext]: incremental IVF index maintenance "
        "(operators/similarity.py:extend_ivf_index) — the ANN "
        "analogue of x2e/x2g incremental dedup: a new vector batch "
        "(20% of the fixture, including the query vector itself) is "
        "appended to an index built on the other 80% by assigning "
        "against the EXISTING centroids — O(|batch| * n_cells), the "
        "indexed corpus never re-scanned — and the probe spans old "
        "and new rows in one plan (the fresh query vector surfaces at "
        "rank 1: the freshness property a streaming-ingest ANN "
        "serving path needs). Centroids unchanged by the append, so "
        "probe cell selection is stable; drift/rebuild policy in the "
        "operator docstring. Oracle = x3b's full SQL replay with "
        "corpus-subset centroids plus the batch assignment.",
    tags=("ext", "vector", "incremental"),
)
def x3h_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_warehouse_spark.operators.similarity import (
        build_ivf_index, extend_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    corpus = emb.filter(F.col("vec_id") % 5 != 0)
    batch = emb.filter(F.col("vec_id") % 5 == 0)
    idx = build_ivf_index(corpus, vec_col="embedding", id_col="vec_id",
                          n_cells=16, iters=1, dim=len(qv),
                          persist=False)
    extended = extend_ivf_index(idx, batch)
    return extended.probe(qv, k=20, nprobe=4)


# x3i: IVF drift monitor — the rebuild policy of extend_ivf_index's
# drift caveat as CODE (r15 verdict ask #5). The corpus (vec_id % 5
# <> 0) trains the index; the appended batch (vec_id % 5 = 0) is
# adversarially DRIFTED — every batch vector is replaced by the
# fixture query vector 0 — so the whole batch collapses into one
# cell. ivf_cell_stats then reads the skew (max/mean cell population
# over the TRAINED cells, empty cells included) off the assignment
# with one map-side-combined groupBy and flags rebuild. The oracle
# replays x3b's deterministic quantizer on the corpus subset, assigns
# the drifted batch against the trained centroids, and re-derives the
# same five statistics in SQL.
_IVF_DRIFT_ORACLE = f"""
WITH emb AS (SELECT vec_id, embedding FROM embeddings),
corpus AS (SELECT * FROM emb WHERE vec_id % 5 <> 0),
q AS (SELECT embedding AS qv FROM emb WHERE vec_id = 0),
batch AS (
    SELECT e.vec_id, q.qv AS embedding
    FROM emb e CROSS JOIN q WHERE e.vec_id % 5 = 0
),
seeds AS (
    SELECT row_number() OVER (ORDER BY vec_id) AS cell,
           embedding AS cvec
    FROM (SELECT vec_id, embedding FROM corpus ORDER BY vec_id LIMIT 16)
),
a1 AS (
    SELECT vec_id, embedding, cell
    FROM (SELECT e.vec_id, e.embedding, s.cell,
                 {_COS_SQL.format(a='e.embedding', b='s.cvec')} AS sim
          FROM corpus e CROSS JOIN seeds s)
    QUALIFY row_number() OVER (PARTITION BY vec_id
                               ORDER BY sim DESC, cell) = 1
),
cavg AS (
    SELECT cell, pos, CAST(AVG(x) AS FLOAT) AS cx
    FROM (SELECT cell, CAST(unnest(embedding) AS DOUBLE) AS x,
                 unnest(range(1, 65)) AS pos
          FROM a1)
    GROUP BY cell, pos
),
cent AS (
    SELECT cell, list(cx ORDER BY pos) AS cvec FROM cavg GROUP BY cell
),
a2 AS (
    SELECT vec_id, cell
    FROM (SELECT e.vec_id, c.cell,
                 {_COS_SQL.format(a='e.embedding', b='c.cvec')} AS sim
          FROM corpus e CROSS JOIN cent c)
    QUALIFY row_number() OVER (PARTITION BY vec_id
                               ORDER BY sim DESC, cell) = 1
),
b2 AS (
    SELECT vec_id, cell
    FROM (SELECT e.vec_id, c.cell,
                 {_COS_SQL.format(a='e.embedding', b='c.cvec')} AS sim
          FROM batch e CROSS JOIN cent c)
    QUALIFY row_number() OVER (PARTITION BY vec_id
                               ORDER BY sim DESC, cell) = 1
),
allc AS (SELECT cell FROM a2 UNION ALL SELECT cell FROM b2),
counts AS (
    SELECT c.cell, CAST(COUNT(a.cell) AS BIGINT) AS cell_n
    FROM cent c LEFT JOIN allc a ON a.cell = c.cell
    GROUP BY c.cell
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(cell_n) AS BIGINT) AS n_rows,
       CAST(MAX(cell_n) AS BIGINT) AS max_cell,
       CAST(SUM(CASE WHEN cell_n = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_empty,
       ROUND(CAST(MAX(cell_n) * COUNT(*) AS DOUBLE) / SUM(cell_n), 6)
         AS skew,
       CAST(MAX(cell_n) * COUNT(*) AS DOUBLE) / SUM(cell_n) > 2.0
         AS rebuild
FROM counts
"""


@register(
    "x3i_ivf_drift",
    oracle=_IVF_DRIFT_ORACLE,
    doc="X3i [ext]: IVF index drift monitor "
        "(operators/similarity.py:ivf_cell_stats) — the lifecycle "
        "companion to x3h's incremental append: appending assigns "
        "against FROZEN centroids, so a shifted ingest distribution "
        "skews cells (hot cells make probes O(skew) slower; starved "
        "cells hide their vectors from the prober) and the rebuild "
        "decision must be a queryable metric, not prose. Query: train "
        "on the 80% corpus, append the 20% batch with every vector "
        "adversarially replaced by the fixture query vector (total "
        "collapse into one cell; the append exercises the new "
        "check_ids id-disjointness guard), then read n_cells / "
        "n_rows / max_cell / n_empty / skew / rebuild off the "
        "assignment in one map-side-combined groupBy + 1-row "
        "aggregate — no collect, safe at any index size. "
        "tests/test_llm_queries.py property-tests the monotone drift "
        "response and the balanced-index negative case.",
    tags=("ext", "vector", "incremental"),
)
def x3i_ivf_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_warehouse_spark.operators.similarity import (
        build_ivf_index, extend_ivf_index, ivf_cell_stats,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    corpus = emb.filter(F.col("vec_id") % 5 != 0)
    # the drifted batch: original batch ids, every embedding replaced
    # by the query vector (broadcast 1-row cross join keeps the
    # float32 column type bit-identical to the fixture)
    qrow = emb.filter(F.col("vec_id") == 0) \
        .select(F.col("embedding").alias("qemb"))
    batch = (emb.filter(F.col("vec_id") % 5 == 0).select("vec_id")
             .crossJoin(F.broadcast(qrow))
             .select("vec_id", F.col("qemb").alias("embedding")))
    idx = build_ivf_index(corpus, vec_col="embedding", id_col="vec_id",
                          n_cells=16, iters=1, dim=len(qv),
                          persist=False)
    extended = extend_ivf_index(idx, batch, check_ids=True)
    return ivf_cell_stats(extended, rebuild_skew=2.0)
