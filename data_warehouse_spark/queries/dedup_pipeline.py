"""End-of-pipeline dedup clustering: near-dup PAIRS -> duplicate
COMPONENTS (operators/graph.py). The DuckDB oracle computes the same
components with a recursive CTE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_warehouse_spark.io import load_table
from data_warehouse_spark.operators.dedup import ngram_jaccard_pairs
from data_warehouse_spark.operators.graph import connected_components
from data_warehouse_spark.queries.registry import register

_TOKS = "string_split_regex(lower(trim(text)), '\\s+')"


@register(
    "x8_dup_components",
    oracle=f"""
WITH RECURSIVE toks AS (
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
), pairs AS (
    SELECT i.id_a, i.id_b
    FROM inter i
    JOIN sizes sa ON i.id_a = sa.id AND i.block IS NOT DISTINCT FROM sa.block
    JOIN sizes sb ON i.id_b = sb.id AND i.block IS NOT DISTINCT FROM sb.block
    WHERE n_inter * 1.0 / (sa.n_g + sb.n_g - n_inter) >= 0.1
), edges AS (
    SELECT id_a AS a, id_b AS b FROM pairs
    UNION ALL SELECT id_b, id_a FROM pairs
), reach (id, r) AS (
    SELECT a, a FROM edges
    UNION
    SELECT e.a, r.r FROM edges e JOIN reach r ON e.b = r.id
)
SELECT id AS doc_id, MIN(r) AS component_id FROM reach GROUP BY id
""",
    doc="X8: duplicate clusters from near-dup pairs — the retention "
        "step of a dedup pipeline (keep min-id doc per component). "
        "Pairs are X2c's exact n-gram Jaccard (same threshold); "
        "components via iterative min-label propagation "
        "(operators/graph.py): one shuffle join per round, rounds = "
        "graph diameter (clique-like dup clusters converge in 2-4). "
        "The DuckDB oracle computes identical components with a "
        "recursive CTE, making this one of the few oracle-checked "
        "ITERATIVE queries in the registry.",
    tags=("ext", "dedup", "graph"),
)
def x8_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, text_col="text", id_col="doc_id",
                                block_col="lang", n=2, threshold=0.1)
    comp = connected_components(pairs, "id_a", "id_b")
    return comp.select(F.col("id").alias("doc_id"), "component_id")


@register(
    "x12_dedup_corpus",
    oracle=f"""
WITH RECURSIVE toks AS (
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
), pairs AS (
    SELECT i.id_a, i.id_b
    FROM inter i
    JOIN sizes sa ON i.id_a = sa.id AND i.block IS NOT DISTINCT FROM sa.block
    JOIN sizes sb ON i.id_b = sb.id AND i.block IS NOT DISTINCT FROM sb.block
    WHERE n_inter * 1.0 / (sa.n_g + sb.n_g - n_inter) >= 0.1
), edges AS (
    SELECT id_a AS a, id_b AS b FROM pairs
    UNION ALL SELECT id_b, id_a FROM pairs
), reach (id, r) AS (
    SELECT a, a FROM edges
    UNION
    SELECT e.a, r.r FROM edges e JOIN reach r ON e.b = r.id
), dupes AS (
    SELECT id FROM (SELECT id, MIN(r) AS cid FROM reach GROUP BY id)
    WHERE id <> cid
)
SELECT d.doc_id, d.lang, d.n_chars
FROM documents d LEFT JOIN dupes ON d.doc_id = dupes.id
WHERE dupes.id IS NULL
""",
    doc="X12 [ext]: the END-TO-END dedup deliverable — the corpus a "
        "training run actually consumes. Composes the whole pipeline "
        "under one plan: X2c exact n-gram Jaccard pairs -> X8 connected "
        "components -> keep the min-id doc per cluster -> LEFT ANTI "
        "join the drop-list back against the corpus. The drop-list is "
        "the duplicate tail (tiny by construction), so the final join "
        "broadcasts it: removing duplicates from 100 TB costs one "
        "corpus scan beyond the pair generation itself. Docs that "
        "appear in no near-dup pair never enter the component join at "
        "all — they stream straight through the anti join. r12: the "
        "clustering step is connected_components_AUTO — the end-to-end "
        "form is what a pipeline author calls without knowing their "
        "pair graph's diameter, so it must self-route (clique-like "
        "near-dup graphs converge inside the min-label probe and pay "
        "nothing; a high-diameter graph would contract and hand off "
        "to alternating-stars instead of silently running "
        "diameter-many rounds).",
    tags=("ext", "dedup", "graph"),
)
def x12_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_warehouse_spark.operators.graph import (
        connected_components_auto,
    )
    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, text_col="text", id_col="doc_id",
                                block_col="lang", n=2, threshold=0.1)
    comp = connected_components_auto(pairs, "id_a", "id_b")
    drop = comp.filter(F.col("id") != F.col("component_id")) \
               .select(F.col("id").alias("doc_id"))
    return docs.join(F.broadcast(drop), on="doc_id", how="left_anti") \
               .select("doc_id", "lang", "n_chars")


# Planted-diameter chain construction shared by x8b/x12b (r11, VERDICT
# r10 ask #3): consecutive doc_ids form chains of length
# L = max(2, ceil(log2(n_docs))), so amplifying the corpus grows the
# component DIAMETER — and with it the propagation ROUND COUNT, the
# one scale dimension x8/x12's clique-like sf0.1 graphs (diameter 2-4
# at every multiplier) never probe. doc_ids are dense 0..n-1 in the
# fixtures AND stay dense under the floor-free amplifier's salt
# (ddece72:tools/floorfree.py; id*n + copy is a
# bijection onto 0..n*mult-1), so chain membership floor(id / L) is
# well-defined at every multiplier; both engines derive L from their
# own COUNT(*), and ceil(log2(.)) is float-safe across engines because
# the only inputs where 1-ulp error could flip the ceiling are exact
# powers of two, where log2 is exact (fixture counts 500*m / 5000*m
# carry a factor 5^3+ and are never powers of two anyway).
def _reach_sql(chains_select: str) -> str:
    """One template for both lanes' oracle recursion (r11 review: a
    fix to the edge construction or the reach recursion must apply to
    x8b/x12b AND x8c by construction). `chains_select` is the 1-row
    SELECT producing the chain length L."""
    return f"""
chains AS (
    {chains_select}
), edges0 AS (
    SELECT a.doc_id AS a, b.doc_id AS b
    FROM documents a
    JOIN documents b ON b.doc_id = a.doc_id + 1
    CROSS JOIN chains
    WHERE a.doc_id // L = b.doc_id // L
), edges AS (
    SELECT a, b FROM edges0 UNION ALL SELECT b, a FROM edges0
), reach (id, r) AS (
    SELECT a, a FROM edges
    UNION
    SELECT e.a, r.r FROM edges e JOIN reach r ON e.b = r.id
)"""


_CHAIN_REACH_SQL = _reach_sql(
    "SELECT GREATEST(2, CAST(CEIL(LOG2(COUNT(*))) AS BIGINT)) AS L\n"
    "    FROM documents")


def _chain_edges(spark: SparkSession, sf_dir: str,
                 chain_len: int | None = None) -> DataFrame:
    """Consecutive-id chain edges over documents.doc_id; chain_len
    None = the planted-diameter rule max(2, ceil(log2(n)))."""
    import math
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    if chain_len is None:
        n = docs.count()  # parquet-metadata count, no scan
        chain_len = max(2, math.ceil(math.log2(n)))
    a, b = docs.alias("a"), docs.alias("b")
    return (a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1)
            .filter(F.floor(F.col("a.doc_id") / chain_len)
                    == F.floor(F.col("b.doc_id") / chain_len))
            .select(F.col("a.doc_id").alias("id_a"),
                    F.col("b.doc_id").alias("id_b")))


@register(
    "x8b_components_sparse",
    oracle="WITH RECURSIVE " + _CHAIN_REACH_SQL + """
SELECT id AS doc_id, MIN(r) AS component_id FROM reach GROUP BY id
""",
    doc="X8b [ext]: connected components on the PLANTED-DIAMETER "
        "sparse lane — the scale evidence x8's 0.12x sf0.1 reading "
        "can't supply (its near-dup graphs are clique-like, so "
        "min-label propagation converges in 2-4 rounds at EVERY "
        "multiplier; this lane's chain length ceil(log2(n)) makes "
        "round count itself grow with amplification: 9 rounds at "
        "sf0.01, 13 at sf0.1, 23 at 1024x). Spark runs the identical "
        "operators/graph.py loop the production x8 uses — one "
        "shuffle join + groupBy per round, label table checkpointed, "
        "driver traffic one scalar per round; the DuckDB oracle runs "
        "its native iterative mechanism (recursive CTE) over the "
        "same edges, making the cell an iterative-engine vs "
        "iterative-engine comparison at matched O(n * diameter) work. "
        "Total label volume stays n * rounds, so the lane is "
        "disk-honest at every multiplier.",
    tags=("ext", "dedup", "graph"),
)
def x8b_components_sparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _chain_edges(spark, sf_dir)
    comp = connected_components(edges, "id_a", "id_b", max_iters=64)
    return comp.select(F.col("id").alias("doc_id"), "component_id")


@register(
    "x12b_dedup_corpus_sparse",
    oracle="WITH RECURSIVE " + _CHAIN_REACH_SQL + """
, dupes AS (
    SELECT id FROM (SELECT id, MIN(r) AS cid FROM reach GROUP BY id)
    WHERE id <> cid
)
SELECT d.doc_id, d.lang, d.n_chars
FROM documents d LEFT JOIN dupes ON d.doc_id = dupes.id
WHERE dupes.id IS NULL
""",
    doc="X12b [ext]: the end-to-end dedup deliverable on the planted-"
        "diameter lane — x8b's components feed the keep-min-id policy "
        "and the drop-list anti-joins back against the corpus. The "
        "drop-list here is (L-1)/L of the corpus (every chain keeps "
        "one doc), deliberately NOT broadcast-small like x12's "
        "duplicate tail: the anti join must hold up when dedup "
        "removes most of the corpus, the worst case a crawl-heavy "
        "training pipeline actually hits. AQE picks the join "
        "strategy from the runtime drop-list size instead of the "
        "broadcast hint x12 hard-codes.",
    tags=("ext", "dedup", "graph"),
)
def x12b_dedup_corpus_sparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    comp = connected_components(_chain_edges(spark, sf_dir),
                                "id_a", "id_b", max_iters=64)
    drop = comp.filter(F.col("id") != F.col("component_id")) \
               .select(F.col("id").alias("doc_id"))
    return docs.join(drop, on="doc_id", how="left_anti") \
               .select("doc_id", "lang", "n_chars")


_HD_CHAIN = 256  # fixed diameter, independent of corpus size

_HD_REACH_SQL = _reach_sql(f"SELECT CAST({_HD_CHAIN} AS BIGINT) AS L")


@register(
    "x8c_components_highdiam",
    oracle="WITH RECURSIVE " + _HD_REACH_SQL + """
SELECT id AS doc_id, MIN(r) AS component_id FROM reach GROUP BY id
""",
    doc="X8c [ext, r11]: connected components where min-label "
        "propagation is the WRONG algorithm — chains of FIXED length "
        "256, so the diameter stays 256 at every corpus size and "
        "label propagation needs 257 rounds regardless of cluster "
        "size (the web-graph / long-thread shape, vs x8's clique-like "
        "near-dup graphs where 2-4 rounds win). Spark runs the "
        "ALTERNATING large-star/small-star algorithm (Kiveris et al. "
        "2014; operators/graph.py connected_components_stars): "
        "O(log^2 n) alternations independent of diameter — 7 "
        "alternations here vs min-label's 257 rounds, measured in "
        "SCALE.md. The DuckDB oracle iterates its recursive CTE to "
        "the same fixpoint (256 iterations — diameter is every "
        "iterative engine's round count unless the algorithm "
        "shortcuts it, which is the point).",
    tags=("ext", "dedup", "graph"),
)
def x8c_components_highdiam(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_warehouse_spark.operators.graph import (
        connected_components_stars,
    )
    edges = _chain_edges(spark, sf_dir, chain_len=_HD_CHAIN)
    comp = connected_components_stars(edges, "id_a", "id_b")
    return comp.select(F.col("id").alias("doc_id"), "component_id")


@register(
    "x8d_components_auto",
    oracle="WITH RECURSIVE " + _HD_REACH_SQL + """
SELECT id AS doc_id, MIN(r) AS component_id FROM reach GROUP BY id
""",
    doc="X8d [ext, r12]: connected components via AUTOMATIC algorithm "
        "routing (operators/graph.py connected_components_auto — "
        "VERDICT r11 ask #4) on the worst case for a wrong choice: "
        "x8c's fixed diameter-256 chains, where min-label propagation "
        "needs 257 rounds and alternating-stars needs ~7. The router "
        "probes with min-label for 8 rounds, detects non-convergence, "
        "CONTRACTS the graph by the partial labels (each label "
        "already covers up to 8 chain hops, so the quotient graph is "
        "~8x smaller than what a stars restart would process), and "
        "hands the quotient to the stars loop; the final join maps "
        "every node through its partial label to the component "
        "minimum. Identical oracle to x8c — the router must produce "
        "bit-identical components to the explicitly-chosen algorithm. "
        "On clique-like graphs (x8/x12's regime) the probe converges "
        "in 2-4 rounds and the stars machinery never runs, so the "
        "auto form is safe to call as a default at either extreme "
        "(measured both regimes in SCALE.md round-12).",
    tags=("ext", "dedup", "graph"),
)
def x8d_components_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_warehouse_spark.operators.graph import (
        connected_components_auto,
    )
    edges = _chain_edges(spark, sf_dir, chain_len=_HD_CHAIN)
    comp = connected_components_auto(edges, "id_a", "id_b")
    return comp.select(F.col("id").alias("doc_id"), "component_id")
