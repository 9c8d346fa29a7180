"""Vector similarity search over embedding columns (SURVEY §2.12
X3/X4 + the ANN mandate).

Embeddings are array<float> columns. Dot products / norms are pure
column expressions (zip_with + aggregate in double precision) — JVM
execution, no Python. Two search paths:

  cosine_topk          exact brute force — the correctness baseline;
                       one pass, top-k via TakeOrdered (no full sort).
  ivf_topk             IVF-style approximate: k-means-lite centroids
                       (deterministic seed rows as initial centers, a
                       few Lloyd iterations in DataFrame ops), probe
                       the nprobe nearest cells only. The scale path:
                       search cost drops by ~n_cells/nprobe.
  cosine_pairs_blocked X4: pairwise sims within a blocking key.
  cosine_lsh_pairs     X2d: near-dup pairs with NO blocking key —
                       sign-random-projection (Charikar) banding +
                       exact-cosine verify of the candidate tail.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_warehouse_spark.io import bcast_id_cap, spread_for_compute

def _dlit(x: float) -> str:
    """SQL double literal: decimal forms need the D suffix (Spark parses
    bare `0.1` as DECIMAL), scientific forms are already DOUBLE."""
    f = float(x)
    if f != f or f in (float("inf"), float("-inf")):
        raise ValueError(f"non-finite vector component: {x!r}")
    r = repr(f)
    return r if ("e" in r or "E" in r) else r + "D"


def _elem(name: str, i: int) -> str:
    return f"CAST(`{name}`[{i}] AS DOUBLE)"


def _bad_elem(x: Column) -> Column:
    """Element predicate for the PQ validity gates: NULL, NaN, or
    +/-Infinity. Finiteness is required (not just non-NaN) because an
    inf element makes every subspace distance inf — argmin then yields
    codeword 1 and the ADC LUT sum is a FINITE garbage score that can
    enter the shortlist, where the exact-cosine rerank turns it into a
    NaN that sorts largest under DESC (rank-1 displacement). Matching
    np.isfinite in pq_encode_arrow keeps the expr and Arrow paths
    byte-identical on the same corpus (r14 ADVICE #1)."""
    return x.isNull() | F.isnan(x) | (F.abs(x) == F.lit(float("inf")))


def _dot(a: Column | str, b: Column | str) -> Column:
    """Dot product of two array columns as zip_with+aggregate, summed
    left-to-right in double precision. One GetArrayItem per dimension
    loses to this HOF form everywhere measured: each index re-reads the
    nested column (2.8x slower on cached join pairs, ~8x over a parquet
    scan).
    """
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: Column | str) -> Column:
    """L2 norm, in the same HOF form as _dot."""
    a = F.col(a) if isinstance(a, str) else a
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x))


def cosine(a: Column | str, b: Column | str) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _norm_sql(vec_col: str) -> str:
    return (f"SQRT(aggregate(`{vec_col}`, 0.0D, "
            "(a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))")


def _cos_sql(vec_col: str, query_vec: list[float], norm_sql: str) -> str:
    """Cosine of an array column against a literal query vector, as ONE
    SQL expression: the zip_with/aggregate dot product over the row
    norm `norm_sql` times the query norm folded to a literal."""
    import math

    qn = math.sqrt(sum(float(x) * float(x) for x in query_vec))
    arr = "array(" + ",".join(_dlit(x) for x in query_vec) + ")"
    return (f"aggregate(zip_with(`{vec_col}`, {arr}, "
            "(x, y) -> CAST(x AS DOUBLE) * y), 0.0D, (a, x) -> a + x)"
            f" / ({norm_sql} * {_dlit(qn)})")


def cosine_topk(df: DataFrame, vec_col: str, id_col: str,
                query_vec: list[float], k: int = 20) -> DataFrame:
    """X3: exact top-k by cosine vs a literal query vector. The ORDER
    BY + LIMIT compiles to TakeOrderedAndProject: per-partition heaps,
    driver merges k rows — constant driver memory at any table size.

    The similarity is one zip_with/aggregate expression: interpreted
    per element, but JVM-only, so there are no Python workers to start.
    """
    sim = F.expr(_cos_sql(vec_col, query_vec, _norm_sql(vec_col)))
    return (spread_for_compute(df)
            .select(F.col(id_col), F.round(sim, 6).alias("cos_sim"))
            .orderBy(F.col("cos_sim").desc(), F.col(id_col))
            .limit(k))


def cosine_topk_multi(df: DataFrame, vec_col: str, id_col: str,
                      query_vecs: list[list[float]], k: int = 20) -> DataFrame:
    """X3c: exact top-k for MANY query vectors in ONE scan — the
    amortized form of cosine_topk for batch retrieval (dedup probes,
    eval sets, reranker feeds). Returns (query_id, id_col, cos_sim)
    with query_id = position in `query_vecs`.

    Q queries never mean Q scans: each row's norm is computed once, the
    Q similarity expressions are evaluated side by side and exploded,
    and a per-query row_number keeps the top k.
    """
    if not query_vecs:
        raise ValueError("query_vecs is empty")
    dims = {len(q) for q in query_vecs}
    if len(dims) != 1:
        raise ValueError(f"query vectors have mixed dimensions: {dims}")

    sided = spread_for_compute(df).select(
        F.col(id_col), F.col(vec_col),
        F.expr(_norm_sql(vec_col)).alias("__nrm"))
    sims = [_cos_sql(vec_col, qv, "`__nrm`") for qv in query_vecs]
    scored = sided.select(
        F.col(id_col),
        F.posexplode(F.expr("array(" + ",".join(sims) + ")"))
        .alias("query_id", "cos_sim"))

    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col(id_col))
    return (scored
            .select("query_id", F.col(id_col),
                    F.round("cos_sim", 6).alias("cos_sim"))
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k).drop("__rn"))


def cosine_pairs_blocked(df: DataFrame, vec_col: str, id_col: str,
                         block_col: str, threshold: float,
                         max_block_rows: int | None = 100_000,
                         dim: int | None = None) -> DataFrame:
    """X4: pairwise cosine within blocks (embedding near-dup dedup).
    The block key bounds the quadratic term; the join is a hash join on
    the block column, AQE-skew-handled.

    Blocks over `max_block_rows` auto-route through an IVF coarse
    quantizer: vectors bucket to their nearest centroid and pairs are
    only formed within (block, cell) — near-duplicate vectors land in
    the same cell with high probability, so recall concentrates exactly
    where the threshold filter keeps pairs, while the quadratic term
    drops from |block|² to Σ|cell|². ``max_block_rows=None`` forces
    the exact path (the correctness baseline the oracle checks).
    """
    from data_warehouse_spark.operators.dedup import (
        oversized_blocks, split_oversized,
    )

    if max_block_rows is not None:
        big = oversized_blocks(df, block_col, max_block_rows)
        if big:
            n_cells = 64  # Σ|cell|² « |block|² under any balanced split
            small_part, big_part = split_oversized(df, block_col, big)
            # cell assignment keys on (block, id), not id alone: the
            # exact path only requires ids unique WITHIN a block, and
            # assign_cells' per-id argmax window would otherwise keep a
            # single row per id across ALL oversized blocks — silently
            # dropping the colliding block's row and its pairs
            big_part = big_part.withColumn(
                "__rowid", F.struct(F.col(block_col), F.col(id_col)))
            centroids = build_ivf_centroids(big_part, vec_col, "__rowid",
                                            n_cells=n_cells, iters=1,
                                            dim=dim)
            assigned = assign_cells(big_part, centroids, vec_col,
                                    "__rowid", dim=dim).drop("__rowid")
            routed = (cosine_pairs_blocked(
                assigned.withColumn(
                    "__bc", F.struct(F.col(block_col), F.col("cell"))),
                vec_col, id_col, "__bc", threshold, max_block_rows=None,
                dim=dim)
                .select(F.col("block").getField(block_col).alias("block"),
                        "id_a", "id_b", "cos_sim"))
            exact = cosine_pairs_blocked(small_part, vec_col, id_col,
                                         block_col, threshold,
                                         max_block_rows=None, dim=dim)
            return exact.unionByName(routed)
    # Norms are hoisted to one evaluation per ROW before the join; the
    # per-PAIR expression is only the dot product. dot/(na*nb) is the
    # same IEEE arithmetic either way, so oracle parity is unaffected,
    # but the interpreted higher-order-function work per pair drops ~3x.
    df = spread_for_compute(df)
    sided = df.select(F.col(block_col).alias("block"), F.col(id_col),
                      F.col(vec_col), _norm(vec_col).alias("nrm"))
    a = sided.select("block", F.col(id_col).alias("id_a"),
                     F.col(vec_col).alias("va"), F.col("nrm").alias("na"))
    b = sided.select("block", F.col(id_col).alias("id_b"),
                     F.col(vec_col).alias("vb"), F.col("nrm").alias("nb"))
    sim = _dot("va", "vb") / (F.col("na") * F.col("nb"))
    return (a.join(b, on="block")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("block", "id_a", "id_b", F.round(sim, 6).alias("cos_sim"))
            .filter(F.col("cos_sim") >= threshold))


def semantic_dedup(df: DataFrame, vec_col: str, id_col: str,
                   n_cells: int = 16, threshold: float = 0.9,
                   iters: int = 1, dim: int | None = None,
                   max_cell_rows: int | None = 100_000) -> DataFrame:
    """X17: SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic
    dedup over an embedding column: k-means-cluster the corpus, then
    prune within each cluster any vector whose cosine to a
    SMALLER-id cluster-mate clears `threshold`. Returns one row per
    input vector: (id, cell, pruned_by, kept) with pruned_by = the
    smallest such mate (null -> kept).

    The paper keeps one representative per epsilon-ball inside each
    cluster (their tie-break: distance to centroid); this
    implementation's survivor rule is min-id — deterministic,
    engine-replayable, and the same rule x12's document pipeline
    uses — which keeps exactly one representative per ball whenever
    similarity is transitive at the threshold (at 0.9 on near-dup
    copies it is in practice; the rule degrades to keeping the
    id-minimal maximal independent prefix otherwise, same as the
    paper's greedy scan order).

    Composition of already-verified pieces: build_ivf_centroids
    (deterministic seeds + Lloyd steps — the x3b oracle replays this
    bit-for-bit), assign_cells (map-only Arrow argmax kernel), and
    cosine_pairs_blocked keyed on the cell (hash join, id_a < id_b,
    so a vector's candidate pruners are exactly its smaller
    same-cell mates). Nothing here is quadratic in the corpus: the
    pairwise term is Σ|cell|² and the clustering is scans +
    broadcast-size centroid tables. At 100 TB you raise n_cells to
    hold the mean cell at the task-memory budget (the paper runs
    ~100k clusters at 1B+ docs for the same reason); cells that
    still exceed `max_cell_rows` auto-route through
    cosine_pairs_blocked's IVF sub-split, trading exact in-cell
    recall for a bounded quadratic (pass None to force the exact
    path — what a value-level oracle requires).
    """
    centroids = build_ivf_centroids(df, vec_col, id_col,
                                    n_cells=n_cells, iters=iters, dim=dim)
    # three consumers read the assignment (both sides of the pair
    # self-join + the output left join) and Spark shares no subtree
    # across branches — without the checkpoint the scan + Arrow argmax
    # kernel (and the Lloyd clustering beneath it) execute ~3x per
    # query (r12 review finding; same trade as x2g's candidates:
    # executor-local blocks, lost-executor re-runs the query)
    assigned = assign_cells(df, centroids, vec_col, id_col, dim=dim) \
        .localCheckpoint(eager=False)
    # the pair join's block key is renamed away from "cell":
    # cosine_pairs_blocked's oversized-block route runs assign_cells
    # INTERNALLY, whose output column is also "cell" — keying the
    # block on the same name makes the sub-split's struct reference
    # ambiguous (surfaced by the routing pytest)
    pairs = cosine_pairs_blocked(
        assigned.withColumnRenamed("cell", "__sd_cell"), vec_col, id_col,
        block_col="__sd_cell", threshold=threshold,
        max_block_rows=max_cell_rows, dim=dim)
    pruned = (pairs.groupBy(F.col("id_b").alias(id_col))
              .agg(F.min("id_a").alias("pruned_by")))
    return (assigned
            .select(id_col, F.col("cell").cast("long").alias("cell"))
            .join(pruned, on=id_col, how="left")
            .select(id_col, "cell", "pruned_by",
                    F.col("pruned_by").isNull().alias("kept")))


def hyperplane_band_values(df: DataFrame, vec_col: str, id_col: str,
                           num_bits: int = 128, band_bits: int = 8,
                           seed: int = 7) -> DataFrame:
    """Sign-random-projection (SimHash-for-vectors, Charikar STOC'02)
    band values: project each embedding onto `num_bits` seeded Gaussian
    hyperplanes, take sign bits, and pack each run of `band_bits`
    consecutive bits into one integer band value. Returns
    (id_col, bands array<int>) with num_bits/band_bits entries.

    Two vectors agree on any one bit with probability 1 - theta/pi
    (theta = their angle), so a full band matches with p_bit^band_bits
    — the cosine analogue of MinHash banding.

    Plan shape: one mapInArrow pass — the (batch x dim) @ (dim x
    num_bits) sign matmul runs on the zero-copy Arrow values buffer.
    The hyperplanes are regenerated per worker from the fixed seed (a
    dim x num_bits float64 array — microseconds, no broadcast needed,
    deterministic everywhere)."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T

    if num_bits % band_bits:
        raise ValueError("num_bits must be a multiple of band_bits")
    n_bands = num_bits // band_bits
    out_schema = T.StructType([
        df.schema[id_col],
        T.StructField("bands", T.ArrayType(T.IntegerType(), False)),
    ])
    powers = 1 << np.arange(band_bits, dtype=np.int64)

    def fingerprint_batches(batches):
        planes = None
        for b in batches:
            if b.num_rows == 0:
                continue
            ids = b.column(b.schema.get_field_index(id_col))
            emb = b.column(b.schema.get_field_index(vec_col))
            lens = np.diff(emb.offsets.to_numpy())
            if not (emb.null_count == 0 and len(lens)
                    and (lens == lens[0]).all()):
                raise ValueError("null/ragged embeddings in batch")
            dim = int(lens[0])
            if planes is None or planes.shape[0] != dim:
                planes = (np.random.RandomState(seed)
                          .standard_normal((dim, num_bits)))
            m = (emb.flatten().to_numpy(zero_copy_only=False)
                 .reshape(-1, dim).astype(np.float64))
            signs = (m @ planes) > 0                      # n x num_bits
            vals = (signs.reshape(-1, n_bands, band_bits)
                    .astype(np.int64) @ powers)           # n x n_bands
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(list(vals.astype(np.int32)),
                               type=pa.list_(pa.int32()))],
                names=[id_col, "bands"])

    return df.select(id_col, vec_col).mapInArrow(
        fingerprint_batches, out_schema)


def cosine_lsh_pairs(df: DataFrame, vec_col: str, id_col: str,
                     threshold: float = 0.9, num_bits: int = 128,
                     band_bits: int = 8, seed: int = 7) -> DataFrame:
    """Embedding-cosine near-dup pairs WITHOUT a blocking key — the
    mandate's fifth dedup family. Random-hyperplane LSH proposes
    candidates (any of num_bits/band_bits sign-bit bands identical);
    exact cosine verifies them, so every output value is exact and only
    recall is probabilistic: p(detect) = 1 - (1 - p_bit^band_bits)^bands
    with p_bit = 1 - arccos(cos)/pi — 1 - 2e-10 at cos 0.99 for the
    128/8 default, tapering fast below the threshold.

    Scale shape mirrors minhash_lsh_pairs: signature scan -> band
    explode -> bucket equi-join -> distinct candidate pairs (the tiny
    near-dup tail, lazily checkpointed because two consumers hang off
    it) -> exact verify joined back to the embeddings of candidate ids
    only (left-semi prefilter). Never a cross join; the quadratic term
    is bounded by bucket occupancy, and at 100 TB the 2^band_bits
    bucket space per band keeps random collisions at n^2 / 2^band_bits
    per band only for vectors that genuinely agree on 8 sign bits —
    band_bits is the scale knob and should track log2(n) (8 bits suits
    ~1e5-1e6 rows; 16-24 at web scale, with num_bits scaled to keep the
    band count). Zero-norm embeddings collide in every band (all-zero
    signs) but their exact cosine is NaN, so the verify filter drops
    them — they are never reported, consistently with cosine_topk's
    NaN policy being confined to ranking."""
    df = spread_for_compute(df)
    fps = hyperplane_band_values(df, vec_col, id_col, num_bits,
                                 band_bits, seed)
    banded = fps.select(
        id_col, F.posexplode("bands").alias("band", "val"))
    left = banded.withColumnRenamed(id_col, "id_a")
    right = banded.withColumnRenamed(id_col, "id_b")
    candidates = (left.join(right, on=["band", "val"])
                  .filter(F.col("id_a") < F.col("id_b"))
                  .select("id_a", "id_b")
                  .distinct()
                  # two consumers below (semi-prefilter + verify join);
                  # same lazy-checkpoint rationale as dedup.py
                  .localCheckpoint(eager=False))
    cand_ids = (candidates.select(F.col("id_a").alias(id_col))
                .unionByName(candidates.select(F.col("id_b").alias(id_col)))
                .distinct())
    # broadcast the candidate-id tail (r16, guide §3.2): cand_ids
    # derives from the checkpointed candidates (ExistingRDD, no size
    # stats), so the planner otherwise sort-merges — exchanging the
    # whole embeddings table on id just to keep the tail's rows. The
    # bound is the same tail-smallness the checkpoint relies on, and
    # strictly fewer bytes than the (id, vec) sides the verify join
    # below already broadcasts. Size-gated (r17, VERDICT r16 ask #3 —
    # io.bcast_id_cap documents the bound): above the cap the hint is
    # dropped and the planner keeps the shuffle semi (slower, never
    # fatal at adversarial collision rates).
    if 2 * candidates.count() <= bcast_id_cap():
        cand_ids = F.broadcast(cand_ids)
    sided = (df.join(cand_ids, on=id_col, how="left_semi")
             .select(F.col(id_col), F.col(vec_col),
                     _norm(vec_col).alias("nrm")))
    a = sided.select(F.col(id_col).alias("id_a"),
                     F.col(vec_col).alias("va"), F.col("nrm").alias("na"))
    b = sided.select(F.col(id_col).alias("id_b"),
                     F.col(vec_col).alias("vb"), F.col("nrm").alias("nb"))
    sim = _dot("va", "vb") / (F.col("na") * F.col("nb"))
    return (candidates.join(a, on="id_a").join(b, on="id_b")
            .select("id_a", "id_b", F.round(sim, 6).alias("cos_sim"))
            .filter(F.col("cos_sim") >= threshold))


def build_ivf_centroids(df: DataFrame, vec_col: str, id_col: str,
                        n_cells: int = 16, iters: int = 2,
                        dim: int | None = None) -> DataFrame:
    """Deterministic IVF coarse quantizer: seed centroids = the vectors
    with the n_cells smallest ids, then `iters` Lloyd steps done as
    assign (broadcast-join + argmin) / recompute (posexplode + avg).
    Everything distributed; centroids stay a small broadcastable side."""
    centroids = (df.orderBy(id_col).limit(n_cells)
                 .select(F.monotonically_increasing_id().alias("__tmp"),
                         F.col(vec_col).alias("cvec"))
                 .select(F.row_number().over(
                     Window.orderBy("__tmp")).alias("cell"), "cvec"))
    for _ in range(iters):
        assigned = assign_cells(df, centroids, vec_col, id_col, dim=dim)
        centroids = (assigned
                     .select("cell", F.posexplode(vec_col).alias("pos", "x"))
                     .groupBy("cell", "pos").agg(F.avg("x").alias("cx"))
                     .groupBy("cell")
                     .agg(F.array_sort(F.collect_list(F.struct("pos", "cx")))
                          .alias("pairs"))
                     .select("cell", F.transform("pairs", lambda p: p.cx.cast("float"))
                             .alias("cvec")))
    return centroids


def assign_cells(df: DataFrame, centroids: DataFrame, vec_col: str,
                 id_col: str = "vec_id", dim: int | None = None) -> DataFrame:
    """Nearest-centroid assignment, MAP-ONLY: the centroid table is
    collected (it is n_cells rows by construction — the quantizer's
    whole point is a tiny coarse codebook) and shipped to an Arrow
    kernel that does one (batch x n_cells) cosine matmul + argmax per
    Arrow batch. Zero exchange: the round-6 form — broadcast join to
    n_cells replicated rows, then a row_number window argmax — shuffled
    N x n_cells rows on the id for what is a per-row reduction; at
    corpus scale that is a full-table shuffle with n_cells-fold
    amplification, and locally it measured 0.66 s vs ~0.2 s per assign
    at sf0.1 (round 7). Tie-break matches the old window ORDER BY
    (__sim DESC, cell ASC): centroids are sorted by cell, sims are
    SNAPPED to 12 decimals, and np.argmax takes the first maximum.
    The snap is load-bearing: BLAS matmul is position-dependent in
    its final ulps, so two BIT-IDENTICAL centroid columns can score
    0.9999999999999999 vs 1.0 for the same row (observed — duplicate
    seed vectors in the dedup route), which would break the
    deterministic smallest-cell tie contract the sequential JVM fold
    gave for free. Snapping at 1e-12 collapses ulp-level ties while
    staying ~7 orders below any real decision margin (the x3b
    oracle-margin test pins every assignment >= 3.8e-5 from a flip).
    A null/ragged vector — or one whose every score is masked out
    below — gets the smallest NON-masked cell (the window form's
    nulls-last ordering assigned the smallest cell; same answer
    whenever cell 1 is healthy, and never a masked cell)."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T

    crows = sorted(((r["cell"], list(r["cvec"]))
                    for r in centroids.select("cell", "cvec").collect()),
                   key=lambda cv: cv[0])
    if not crows:
        raise ValueError("assign_cells: empty centroid table")
    cells = np.array([c for c, _ in crows], dtype=np.int64)
    C = np.array([v for _, v in crows], dtype=np.float64)
    # A zero-norm or non-finite centroid must never win. This is a
    # DELIBERATE behavior change from the round-6 window form, not
    # parity with it: Spark orders NaN GREATER than any double, so the
    # window's `__sim DESC` put NaN-scored centroids FIRST — they WON
    # every row (only NULL sims, from null/ragged vectors, sorted
    # last). That was the bug commit 71391ea set out to fix; the mask
    # is the fix, and np.argmax treating NaN as maximal is why the
    # mask (not just nan_to_num on the centroid matrix) is needed.
    bad_c = ~np.isfinite(C).all(axis=1) | ((C * C).sum(axis=1) == 0)
    cnorm = np.sqrt((C * C).sum(axis=1, keepdims=True))
    cnorm[~np.isfinite(cnorm) | (cnorm == 0)] = 1.0
    Cn = np.nan_to_num(C / cnorm, nan=0.0, posinf=0.0, neginf=0.0)
    if bad_c.all():
        raise ValueError("assign_cells: every centroid is zero/non-finite")
    # Fallback for rows with NO usable score (null/ragged vector, or an
    # all-NaN embedding of correct length whose sims are all -inf):
    # the smallest non-masked cell. cells[0] would hand such rows a
    # masked-out centroid whenever bad_c[0] is set.
    fallback_cell = int(cells[np.flatnonzero(~bad_c)[0]])

    # The output `cell` column mirrors the centroid table's cell dtype
    # — hardcoding int32 would silently wrap a caller's int64 ids.
    # Internal callers use row_number() (int32), so int32/int64 both
    # occur only by caller choice.
    cell_dt = centroids.schema["cell"].dataType
    _cell_np_pa = {"integer": (np.int32, pa.int32()),
                   "long": (np.int64, pa.int64()),
                   "short": (np.int16, pa.int16()),
                   "byte": (np.int8, pa.int8())}
    if cell_dt.typeName() not in _cell_np_pa:
        raise TypeError(
            f"assign_cells: unsupported centroid cell dtype {cell_dt}")
    np_cell, pa_cell = _cell_np_pa[cell_dt.typeName()]

    out_schema = T.StructType(
        list(df.schema) + [T.StructField("cell", cell_dt)])
    vec_ix_name, id_like_schema = vec_col, df.schema

    def assign_batches(batches):
        for b in batches:
            if b.num_rows == 0:
                continue
            emb = b.column(b.schema.get_field_index(vec_ix_name))
            lens = np.diff(emb.offsets.to_numpy())
            if emb.null_count == 0 and len(lens) and \
                    (lens == lens[0]).all() and lens[0] == Cn.shape[1]:
                flat = emb.flatten().to_numpy(zero_copy_only=False)
                m = flat.reshape(-1, int(lens[0])).astype(np.float64)
                norms = np.sqrt((m * m).sum(axis=1))
                norms[norms == 0] = 1.0
                sims = np.round((m / norms[:, None]) @ Cn.T, 12)
                # NaN row values (non-finite embedding components) and
                # masked centroids must lose, not win-by-NaN
                sims = np.nan_to_num(sims, nan=-np.inf)
                sims[:, bad_c] = -np.inf
                am = np.argmax(sims, axis=1)
                best = np.where(np.isneginf(sims[np.arange(len(am)), am]),
                                fallback_cell, cells[am])
            else:
                best = np.empty(b.num_rows, dtype=np.int64)
                for i, v in enumerate(emb.to_pylist()):
                    if v and len(v) == Cn.shape[1]:
                        a = np.asarray(v, dtype=np.float64)
                        n = np.sqrt((a * a).sum()) or 1.0
                        s = np.nan_to_num(np.round(Cn @ (a / n), 12),
                                          nan=-np.inf)
                        s[bad_c] = -np.inf
                        am = int(np.argmax(s))
                        best[i] = (fallback_cell if np.isneginf(s[am])
                                   else cells[am])
                    else:
                        best[i] = fallback_cell  # no usable score
            yield pa.RecordBatch.from_arrays(
                [b.column(i) for i in range(b.num_columns)]
                + [pa.array(best.astype(np_cell), type=pa_cell)],
                names=[f.name for f in id_like_schema] + ["cell"])

    return df.mapInArrow(assign_batches, out_schema)


class IvfIndex:
    """A built IVF index: the (tiny) centroid table plus the full
    corpus with its cell assignment — the expensive parts of ANN
    serving, computed ONCE and reused across probes.

    `persist=True` (the serving default) caches both sides
    MEMORY_AND_DISK, so repeated probes schedule against the cached
    assignment instead of re-scoring the corpus against every centroid
    per query — the difference between an index and a full re-build
    per lookup. Call :meth:`unpersist` when done."""

    def __init__(self, centroids: DataFrame, assigned: DataFrame,
                 vec_col: str, id_col: str, dim: int | None):
        self.centroids = centroids
        self.assigned = assigned
        self.vec_col = vec_col
        self.id_col = id_col
        self.dim = dim

    def probe(self, query_vec: list[float], k: int = 20,
              nprobe: int = 4) -> DataFrame:
        """Approximate top-k for one query: rank this index's cells by
        centroid similarity, brute-force only the nprobe best."""
        q = F.array(*[F.lit(float(x)) for x in query_vec])
        best_cells = (self.centroids
                      .select("cell",
                              cosine(F.col("cvec"), q).alias("csim"))
                      .orderBy(F.col("csim").desc(), "cell").limit(nprobe)
                      .select("cell"))
        probed = self.assigned.join(F.broadcast(best_cells), on="cell")
        return cosine_topk(probed, self.vec_col, self.id_col, query_vec, k)

    def unpersist(self) -> None:
        for side in (self.centroids, self.assigned):
            try:
                side.unpersist()
            except Exception:
                pass


def build_ivf_index(df: DataFrame, vec_col: str, id_col: str,
                    n_cells: int = 16, iters: int = 1,
                    dim: int | None = None,
                    persist: bool = True) -> IvfIndex:
    """Build phase of IVF ANN: centroids + full-corpus cell assignment.
    This is the one corpus-sized computation; every probe afterwards
    touches only nprobe cells. At 100 TB the assignment would land in
    a parquet/bucketed table at ingest (like operators/bucketing.py's
    layouts); within a session, caching is the same idea."""
    centroids = build_ivf_centroids(df, vec_col, id_col, n_cells,
                                    iters=iters, dim=dim)
    assigned = assign_cells(df, centroids, vec_col, id_col, dim=dim)
    if persist:
        centroids = centroids.persist()
        assigned = assigned.persist()
    return IvfIndex(centroids, assigned, vec_col, id_col, dim)


def extend_ivf_index(index: IvfIndex, batch: DataFrame,
                     persist: bool = False,
                     check_ids: bool = False) -> IvfIndex:
    """Incremental IVF index maintenance — the ANN analogue of the
    x2e/x2g incremental-dedup pair: assign a NEW batch of vectors to
    the EXISTING centroids and append, so index growth costs
    O(|batch| * n_cells) and the indexed corpus is NEVER re-scanned
    (the same never-re-pair-the-corpus contract as
    minhash_probe_index). Probes over the returned index span old and
    new rows in one plan; the centroid table is unchanged, so probe
    cell selection is identical before and after.

    Drift caveat (the standard IVF maintenance contract, Jégou et al.
    2011 §V): appending does not retrain — if the batch distribution
    shifts, cells skew and recall degrades. The rebuild DECISION is
    code, not prose (r15 verdict ask #5): :func:`ivf_cell_stats`
    computes the per-cell population skew (max/mean over the trained
    cells) and a rebuild flag against a threshold; run it after each
    append epoch and rebuild via build_ivf_index when it trips. At
    100 TB the assignment table is a partitioned/bucketed table and
    this append is one ingest write; the stats query is one
    map-side-combined groupBy to n_cells rows.

    Id-disjointness precondition (r15 ADVICE #2): the batch's ids must
    be DISJOINT from the already-indexed ids — this operator appends,
    it does not upsert, so re-ingesting a batch under at-least-once
    delivery would duplicate rows in the assignment and a probe could
    return the same id twice. `check_ids=True` enforces it with one
    semi-join probe against the existing assignment (O(|batch|),
    id-column-pruned — cheap next to the assignment itself) and raises
    on overlap; the default leaves the exactly-once contract to the
    ingest pipeline (the x2e/x2g incremental-dedup convention, where
    the upstream batch boundary already guarantees it).

    `persist` caches the appended batch assignment (the existing
    index's caching is untouched either way)."""
    if index.vec_col not in batch.columns or index.id_col not in batch.columns:
        raise ValueError(
            f"extend_ivf_index: batch must carry the indexed columns "
            f"({index.vec_col!r}, {index.id_col!r})")
    if check_ids:
        dup = (batch.select(index.id_col)
               .join(index.assigned.select(index.id_col),
                     on=index.id_col, how="left_semi")
               .limit(1).take(1))
        if dup:
            raise ValueError(
                "extend_ivf_index: batch id overlaps the indexed "
                f"corpus (e.g. {index.id_col}="
                f"{dup[0][index.id_col]!r}) — appends must be "
                "id-disjoint (exactly-once ingest); dedup the batch "
                "against the index first")
    assigned_new = assign_cells(batch.select(index.id_col, index.vec_col),
                                index.centroids, index.vec_col,
                                index.id_col, dim=index.dim)
    if persist:
        assigned_new = assigned_new.persist()
    # column order differs (assign_cells appends `cell`); unionByName
    # aligns. The existing side keeps its own persistence.
    merged = index.assigned.select(index.id_col, index.vec_col, "cell") \
        .unionByName(assigned_new.select(index.id_col, index.vec_col,
                                         "cell"))
    return IvfIndex(index.centroids, merged, index.vec_col,
                    index.id_col, index.dim)


def ivf_cell_stats(index: IvfIndex, rebuild_skew: float = 2.0) -> DataFrame:
    """IVF index health / drift monitor (r15 verdict ask #5): one row
    of per-cell population statistics plus a rebuild decision —
    the code form of extend_ivf_index's drift caveat.

      n_cells   trained cells (from the centroid table, so EMPTY
                cells count — a drifted index both overfills hot
                cells and starves the rest)
      n_rows    indexed vectors
      max_cell  hottest cell's population
      n_empty   cells with zero vectors
      skew      max_cell / mean cell population
                (= max_cell * n_cells / n_rows); 1.0 is perfectly
                balanced, n_cells is total collapse into one cell
      rebuild   skew > rebuild_skew — when true, probe cost and
                recall have degraded enough that build_ivf_index
                should retrain (probing a cell costs O(cell size):
                a skew of s makes worst-case probes ~s times the
                balanced cost, and a starved cell's vectors hide in
                neighbours the prober doesn't visit)

    Cost: one map-side-combined groupBy of the assignment to n_cells
    rows, broadcast-left-joined onto the centroid list, one final
    1-row aggregate — safe at any index size, no collect.
    """
    counts = index.assigned.groupBy("cell").agg(
        F.count(F.lit(1)).alias("cell_n"))
    per_cell = (index.centroids.select("cell")
                .join(counts, on="cell", how="left")
                .select(F.coalesce(F.col("cell_n"),
                                   F.lit(0).cast("long")).alias("cell_n")))
    return per_cell.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("cell_n").alias("n_rows"),
        F.max("cell_n").alias("max_cell"),
        F.sum(F.when(F.col("cell_n") == 0, 1).otherwise(0))
         .alias("n_empty"),
    ).select(
        "n_cells", "n_rows", "max_cell", "n_empty",
        F.round((F.col("max_cell") * F.col("n_cells")).cast("double")
                / F.col("n_rows"), 6).alias("skew"),
        ((F.col("max_cell") * F.col("n_cells")).cast("double")
         / F.col("n_rows") > F.lit(float(rebuild_skew))).alias("rebuild"))


def rebuild_index_if_drifted(index: IvfIndex, rebuild_skew: float = 2.0,
                             n_cells: int | None = None,
                             iters: int = 1) -> tuple[IvfIndex, bool]:
    """The monitor-then-rebuild loop closed as one call: read
    :func:`ivf_cell_stats`, and when the skew threshold trips, retrain
    via :func:`build_ivf_index` over the index's CURRENT contents
    (original corpus plus every appended batch — the assignment table
    is the authoritative id+vector store). Returns (index, rebuilt).

    The stats read is a bounded 1-row collect (the n_cells/centroid
    parameter-read convention). A rebuild costs the same one
    corpus-sized pass as the original build; between rebuilds, appends
    stay O(|batch| * n_cells) — so the amortized maintenance schedule
    is the operator consumer's rebuild_skew choice, with the default
    (2.0: worst probe ~2x the balanced cost) matching x3i's gate row.

    Caveat inherited from k-means itself: EXACT duplicate vectors
    always share an argmax, so a pileup of identical vectors cannot be
    split by retraining and keeps the skew floor at ~dup_mass *
    n_cells / n_rows; near-duplicate drift (the realistic ingest
    shift) does redistribute. Run exact/near dedup (x1/x2/x17)
    upstream if identical-vector mass is expected."""
    row = ivf_cell_stats(index, rebuild_skew).collect()[0]
    if not row.rebuild:
        return index, False
    corpus = index.assigned.select(index.id_col, index.vec_col)
    rebuilt = build_ivf_index(
        corpus, vec_col=index.vec_col, id_col=index.id_col,
        n_cells=n_cells or row.n_cells, iters=iters, dim=index.dim,
        persist=False)
    return rebuilt, True


def ivf_topk(df: DataFrame, vec_col: str, id_col: str,
             query_vec: list[float], k: int = 20, n_cells: int = 16,
             nprobe: int = 4) -> DataFrame:
    """One-shot convenience: build (unpersisted) + single probe.
    Repeated queries should use build_ivf_index()/IvfIndex.probe() so
    the corpus-sized assignment is paid once, not per call."""
    idx = build_ivf_index(df, vec_col, id_col, n_cells=n_cells, iters=1,
                          dim=len(query_vec), persist=False)
    return idx.probe(query_vec, k=k, nprobe=nprobe)


def pq_codebook_sample(df: DataFrame, vec_col: str, id_col: str,
                       n_codes: int = 16,
                       dim: int | None = None) -> list[list[float]]:
    """Deterministic PQ codebook: the `n_codes` corpus vectors with the
    smallest md5(id) — a k-medoids-style seeding (codewords are real
    data points, no averaging), so the selection replays exactly in
    SQL (`ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT n`) and the
    codebook is identical on any engine and any partitioning. The
    collect is an n_codes-row parameter read (the IVF-centroid
    convention), not data flow. Production note: a Lloyd-refined
    codebook drops reconstruction error further; the sampled codebook
    is the deterministic, oracle-replayable baseline and the API
    accepts any codebook list.

    Degenerate rows (null vector, null/NaN element, and — when `dim`
    is given — wrong dimension) are excluded BEFORE the md5 cut, so a
    corrupted corpus can never plant a garbage codeword: the sentinel
    contract pq_encode applies on read extends to the codebook build.
    On a clean corpus the filter selects the identical rows, so the
    `ORDER BY md5, id LIMIT n` oracle replay is unchanged."""
    ok = (F.col(vec_col).isNotNull()
          & ~F.exists(vec_col, _bad_elem))
    if dim is not None:
        ok = ok & (F.size(vec_col) == dim)
    rows = (df.where(ok)
              .orderBy(F.md5(F.col(id_col).cast("string")), id_col)
              .limit(n_codes).select(vec_col).collect())
    return [list(r[0]) for r in rows]


def _pq_sub_dist(vec_col: str, codebook: list[list[float]], m: int,
                 j: int, d_sub: int) -> Column:
    """Squared L2 between subspace m of `vec_col` and codeword j's
    subspace-m slice, as one codegen expression: terms fold
    left-to-right in double — the shared fold order of the pq_encode
    oracle contract."""
    terms = " + ".join(
        f"({_elem(vec_col, m * d_sub + t)} - "
        f"{_dlit(codebook[j][m * d_sub + t])}) * "
        f"({_elem(vec_col, m * d_sub + t)} - "
        f"{_dlit(codebook[j][m * d_sub + t])})"
        for t in range(d_sub))
    return F.expr(terms)


def _pq_dist_array_hof(vec_col: str, codebook: list[list[float]],
                       m: int, d_sub: int) -> Column:
    """Subspace-m distance ARRAY (one entry per codeword) as a single
    higher-order-function expression: transform over the literal
    codeword-slice array, aggregate(zip_with(...)) inside. Value-
    identical to _pq_sub_dist's codegen form — (x-b)*(x-b) terms in
    double, folded left-to-right over t (aggregate's fold == the
    joined `+` chain; 0.0 + x == x bitwise for the non-negative
    terms) — but the PLAN is ~20x smaller: the codegen form inlines
    n_codes * d_sub squared-diff trees and the argmin duplicates the
    whole array (array_position + array_min), which put Catalyst
    analysis/compile at 15-20 s per training pass at 16 codewords
    (measured r15; 2000-row corpus — pure plan cost, not work). HOFs
    evaluate interpreted per row, so this form is for the PARAMETER
    passes (train/energy: one pass over a bounded sample, plan cost
    dominated); the hot encode path (pq_encode) keeps the codegen
    form, and >32-codeword books auto-route to the Arrow kernel."""
    cb_m = F.array(*[
        F.array(*[F.lit(float(codebook[j][m * d_sub + t]))
                  for t in range(d_sub)])
        for j in range(len(codebook))])
    sub = F.slice(F.col(vec_col), m * d_sub + 1, d_sub)
    return F.transform(
        cb_m,
        lambda c: F.aggregate(
            F.zip_with(sub, c,
                       lambda a, b: (a.cast("double") - b)
                       * (a.cast("double") - b)),
            F.lit(0.0), lambda acc, x: acc + x))


def pq_codebook_train(df: DataFrame, vec_col: str, id_col: str,
                      n_codes: int = 16, n_sub: int = 8,
                      iters: int = 2,
                      dim: int | None = None) -> list[list[float]]:
    """Lloyd-refined PQ codebook (Jégou et al. 2011 §III): per-subspace
    k-means over the corpus, seeded from pq_codebook_sample's
    md5-smallest vectors (the same deterministic-seeding convention as
    build_ivf_centroids). Each iteration is ONE distributed pass:
    every row emits (subspace, argmin codeword id, subvector) structs,
    a posexplode + groupBy computes the per-(subspace, codeword,
    position) mean, and the n_sub*n_codes*d_sub(=dim*n_codes) result
    rows come back as a parameter read (the centroid-collect
    convention — ~1k rows, never data flow). Codewords that attract no
    vectors keep their previous value (standard Lloyd). The assignment
    evaluates via _pq_dist_array_hof — value-identical to pq_encode's
    codegen argmin (same terms, same fold order) in a ~20x smaller
    plan, because a parameter pass is plan-compile-dominated (r15:
    train 15.3 s -> 4.7 s at 16 codewords on 2000 rows).

    Returns the codebook in pq_encode's full-dim layout: codeword j =
    the positional concatenation of each subspace's j-th codeword, so
    it drops into pq_encode/ivf_pq_topk unchanged. Rows failing
    pq_encode's validity gate (null/ragged/NaN) are excluded from
    training, matching the sentinel contract there.

    Determinism note: the assignment step is exact (the same literal
    expressions as pq_encode), but the recompute step's F.avg folds in
    partition order, so trained codewords can differ in final ulps
    across partitionings — the same caveat as build_ivf_centroids.
    That is why the ORACLE path stays the sampled codebook (exactly
    replayable in SQL).

    What training buys — measured, not assumed (SCALE.md r14 lane,
    ddece72:.r14/pq_train_eval.py): distortion (reconstruction error) drops
    ~37% over the seed and never increases (Lloyd monotonicity,
    pytest-pinned), but RANKING quality (ADC error at a query,
    recall@k) is corpus-dependent at 16 codewords: a centroid's
    ||q - c(x)||^2 systematically underestimates ||q - x||^2 by the
    per-cell quantization energy (the bias term Jégou et al. 2011
    analyze), while a sampled data-point codeword measures a distance
    to a real point (near-zero bias), so on clustered or
    low-intrinsic-dimension corpora the SAMPLED book can rank better
    despite worse distortion. Use this trainer where reconstruction
    error is the objective. The ADC bias-correction term IS
    implemented (pq_codeword_energy -> pq_encode's codeword_energy):
    it makes the trained book the most accurate distance ESTIMATOR of
    the measured variants (mean |ADC err| 3.5-3.7 vs the sampled
    book's 4.9-5.1 on the r14 lane), but RANKING remains
    variance-limited at 16 codewords — closing that needs 256
    codewords/subspace (the API accepts any larger codebook list);
    see SCALE.md's r14 addendum."""
    codebook = pq_codebook_sample(df, vec_col, id_col, n_codes=n_codes,
                                  dim=dim)
    if not codebook:
        raise ValueError("pq_codebook_train: empty corpus")
    dim = len(codebook[0])
    if any(len(c) != dim for c in codebook):
        # dim=None on a mixed-dimension corpus: the md5 cut sampled a
        # ragged seed (pq_codebook_sample only size-filters when dim is
        # given). Re-sample with dim pinned to the first valid row's
        # dimension so the seed is rectangular — otherwise _pq_sub_dist
        # indexes past a short codeword and raises a bare IndexError
        # mid-build (r14 ADVICE #4).
        codebook = pq_codebook_sample(df, vec_col, id_col,
                                      n_codes=n_codes, dim=dim)
        if not codebook:
            raise ValueError("pq_codebook_train: empty corpus at "
                             f"dim {dim}")
    if dim % n_sub:
        raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
    d_sub = dim // n_sub
    ok = (F.col(vec_col).isNotNull()
          & (F.size(vec_col) == dim)
          & ~F.exists(vec_col, _bad_elem))
    for _ in range(iters):
        subs = []
        for m in range(n_sub):
            darr = _pq_dist_array_hof(vec_col, codebook, m, d_sub)
            subs.append(F.struct(
                F.lit(m).alias("m"),
                F.array_position(darr, F.array_min(darr))
                 .cast("int").alias("code"),
                F.slice(F.col(vec_col), m * d_sub + 1, d_sub)
                 .alias("sub")))
        means = (df.where(ok)
                 .select(F.explode(F.array(*subs)).alias("s"))
                 .select("s.m", "s.code",
                         F.posexplode("s.sub").alias("t", "x"))
                 .groupBy("m", "code", "t")
                 .agg(F.avg(F.col("x").cast("double")).alias("cx"))
                 .collect())
        new_cb = [list(c) for c in codebook]
        for r in means:
            new_cb[r["code"] - 1][r["m"] * d_sub + r["t"]] = float(r["cx"])
        codebook = new_cb
    return codebook


def pq_codeword_energy(df: DataFrame, vec_col: str, id_col: str,
                       codebook: list[list[float]],
                       n_sub: int = 8) -> list[list[float]]:
    """Per-(subspace, codeword) mean residual energy
    E[||x_m - c_m||^2 | argmin = c] — the ADC bias-correction table
    (Jégou et al. 2011 §III-C: for a centroid codebook,
    ||q_m - c_m||^2 systematically UNDERESTIMATES ||q_m - x_m||^2 by
    exactly this quantity in expectation, since Lloyd residuals are
    centered and the cross term vanishes). Feed the result to
    pq_encode(codeword_energy=...) to de-bias trained-book ADC — the
    r14 lane measured the uncorrected bias flipping the
    trained-vs-sampled ranking comparison (SCALE.md).

    One distributed pass (the argmin via _pq_dist_array_hof — value-
    identical to pq_encode's codegen form, so assignments agree
    bit-for-bit, in a plan-compile-cheap shape) + an n_sub*n_codes
    parameter-read collect; rows failing pq_encode's validity gate
    are excluded, matching the sentinel contract. Codewords that
    attract no vectors get energy 0.0 (no correction)."""
    if not codebook:
        raise ValueError("empty codebook")
    k = len(codebook)
    dim = len(codebook[0])
    if dim % n_sub:
        raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
    d_sub = dim // n_sub
    ok = (F.col(vec_col).isNotNull()
          & (F.size(vec_col) == dim)
          & ~F.exists(vec_col, _bad_elem))
    subs = []
    for m in range(n_sub):
        darr = _pq_dist_array_hof(vec_col, codebook, m, d_sub)
        subs.append(F.struct(
            F.lit(m).alias("m"),
            F.array_position(darr, F.array_min(darr))
             .cast("int").alias("code"),
            F.array_min(darr).alias("d")))
    rows = (df.where(ok)
            .select(F.explode(F.array(*subs)).alias("s"))
            .groupBy("s.m", "s.code")
            .agg(F.avg("s.d").alias("e")).collect())
    energy = [[0.0] * k for _ in range(n_sub)]
    for r in rows:
        energy[r["m"]][r["code"] - 1] = float(r["e"])
    return energy


def pq_encode(df: DataFrame, vec_col: str, id_col: str,
              codebook: list[list[float]], n_sub: int = 8,
              query_vec: list[float] | None = None,
              codeword_energy: list[list[float]] | None = None) -> DataFrame:
    """Product quantization (Jégou et al. 2011): encode each vector as
    `n_sub` codeword ids — per subspace, the argmin-L2 codeword, ties
    to the smaller id — and, when `query_vec` is given, score the
    asymmetric-distance (ADC) approximation against it from a
    16-entry-per-subspace lookup table.

    Output: id_col, pq_code ('c0-c1-...-c7', 0-based codeword ids),
    and approx_dist (round-6 ADC squared-L2) when query_vec is set.
    With `codeword_energy` (pq_codeword_energy's n_sub x n_codes
    table) each subspace LUT entry carries the Jégou bias correction
    — the estimator for a Lloyd-trained codebook becomes unbiased in
    expectation; leave it None for the oracle-replayed sampled-book
    path (the correction bakes into the LUT literals, so the plan
    stays map-only either way).

    100 TB design: the encode is MAP-ONLY — the codebook enters the
    plan as literals (K*dim doubles, ~8 KB), every distance is a
    codegen'd expression, zero exchanges (plan-asserted). The payoff
    is the memory wall: 8 code bytes per vector instead of 256 float
    bytes (32x), so a 100 TB embedding store's searchable index fits
    in ~3 TB of executor memory, and ADC scoring reads ONLY codes —
    the raw vectors never move after encode. Compose with the IVF
    half (build_ivf_index) for the standard IVF-PQ layout: cell
    prefilter bounds candidates, ADC ranks them, exact rerank on the
    surviving tail (cosine_topk_multi).

    Exactness contract with the oracle: subspace distances sum
    (x_t - c_t)^2 left-to-right in double over float32 inputs, the
    ADC total sums subspaces in m order, and only the final ADC value
    is rounded — the same fold order DuckDB's list_sum uses, so codes
    and scores agree bit-for-bit before the shared round(6).

    Degenerate inputs (null vector, wrong dimension, null/NaN element)
    emit pq_code = NULL and approx_dist = NULL — ONE explicit sentinel,
    never a malformed shorter code: without the guard, NULL subspace
    codes made concat_ws silently drop segments and the NULL ADC
    distance sorted NULLS-FIRST in an ascending shortlist, displacing
    real candidates. This mirrors assign_cells' hardening contract for
    the same input class; ivf_pq_topk's shortlist cut sorts
    approx_dist NULLS LAST so sentinel rows can never outrank a real
    ADC candidate.
    """
    if not codebook:
        raise ValueError("empty codebook")
    k = len(codebook)
    dim = len(codebook[0])
    if dim % n_sub:
        raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
    d_sub = dim // n_sub
    if any(len(c) != dim for c in codebook):
        raise ValueError("ragged codebook")
    # validity gate for the sentinel contract above; the exists() scan
    # is one codegen pass over the array, no exchange
    ok = (F.col(vec_col).isNotNull()
          & (F.size(vec_col) == dim)
          & ~F.exists(vec_col, _bad_elem))

    def sub_dist_expr(m: int, j: int) -> Column:
        return _pq_sub_dist(vec_col, codebook, m, j, d_sub)

    code_cols = []
    for m in range(n_sub):
        darr = F.array(*[sub_dist_expr(m, j) for j in range(k)])
        # array_position returns the FIRST index holding the min —
        # ties break to the smaller codeword id, same as the oracle's
        # ORDER BY dist, code
        code_cols.append(
            F.when(ok, F.array_position(darr, F.array_min(darr))
                        .cast("int")).alias(f"__c{m}"))
    encoded = df.select(F.col(id_col), ok.alias("__ok"), *code_cols)

    sel: list[Column] = [
        F.col(id_col),
        # NULL sentinel for invalid rows (never a partial concat_ws)
        F.when(F.col("__ok"),
               F.concat_ws("-", *[(F.col(f"__c{m}") - 1).cast("string")
                                  for m in range(n_sub)]))
         .alias("pq_code"),
    ]
    if codeword_energy is not None and (
            len(codeword_energy) != n_sub
            or any(len(e) != k for e in codeword_energy)):
        raise ValueError("codeword_energy must be n_sub x n_codes")
    if query_vec is not None:
        if len(query_vec) != dim:
            raise ValueError("query_vec dim mismatch")
        adist: Column | None = None
        for m in range(n_sub):
            lut = []
            for j in range(k):
                s = 0.0
                for t in range(d_sub):
                    dlt = float(query_vec[m * d_sub + t]) \
                        - float(codebook[j][m * d_sub + t])
                    s += dlt * dlt
                # ADC bias correction (pq_codeword_energy): add the
                # codeword's mean residual energy so a trained-book
                # estimate is unbiased instead of systematically low
                if codeword_energy is not None:
                    s += float(codeword_energy[m][j])
                lut.append(s)
            term = F.element_at(F.array(*[F.lit(v) for v in lut]),
                                F.col(f"__c{m}"))
            adist = term if adist is None else adist + term
        # The explicit __ok gate is LOAD-BEARING, not belt-and-braces:
        # Spark 4.1.2's whole-stage codegen for element_at over a
        # LITERAL array with a nullable index has a stale-buffer bug —
        # a NULL index reproducibly returns the PREVIOUS ROW's element
        # instead of NULL (minimal repro: 4-row df, one NULL int,
        # element_at(array(10.0,20.0), c) yields the prior row's
        # value). Gating on __ok makes the sentinel row's approx_dist
        # NULL regardless of what the buggy kernel leaves in the
        # buffer.
        sel.append(F.when(F.col("__ok"), F.round(adist, 6))
                    .alias("approx_dist"))
    return encoded.select(*sel)


def pq_encode_arrow(df: DataFrame, vec_col: str, id_col: str,
                    codebook: list[list[float]], n_sub: int = 8,
                    query_vec: list[float] | None = None,
                    codeword_energy: list[list[float]] | None = None) -> DataFrame:
    """pq_encode's contract on an Arrow kernel — the LARGE-codebook
    path. The expression form's plan grows as n_codes * n_sub * d_sub
    literal terms: fine at 16 codewords (~1k nodes, whole-stage
    codegen), hopeless at the production 256 (~16k nodes per argmin —
    codegen blowup), so ivf_pq_topk AUTO-ROUTES through this kernel
    when the codebook exceeds 32 codewords (the same auto-route
    discipline as x2c's oversized blocks and x8d's router).

    Same outputs (id_col, pq_code, approx_dist when query_vec), same
    NULL sentinel for null/ragged/NaN vectors, same tie contract
    (np.argmin's first-minimum = smallest codeword id, matching
    array_position), and the ADC LUT (including codeword_energy) is
    computed by the IDENTICAL Python fold as pq_encode, summed in the
    same m order — so when codes agree, approx_dist agrees to the
    rounding function. Residual caveat: subspace distances here are
    numpy reductions, whose fold order differs from the expr form in
    final ulps — a flip needs an EXACT distance tie at sub-ulp margin
    (none on the fixtures; equivalence pinned in tests). The ORACLE
    path stays the expression form.

    100 TB shape: one mapInArrow pass, codebook broadcast as a task
    literal (k * dim doubles), distances via the (x^2 + c^2 - 2xc)
    expansion — per batch an (n x k) matrix per subspace, never
    materializing n x k x d_sub."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T

    if not codebook:
        raise ValueError("empty codebook")
    k = len(codebook)
    dim = len(codebook[0])
    if dim % n_sub:
        raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
    d_sub = dim // n_sub
    if any(len(c) != dim for c in codebook):
        raise ValueError("ragged codebook")
    if codeword_energy is not None and (
            len(codeword_energy) != n_sub
            or any(len(e) != k for e in codeword_energy)):
        raise ValueError("codeword_energy must be n_sub x n_codes")
    CB = np.asarray(codebook, dtype=np.float64).reshape(k, n_sub, d_sub)
    luts = None
    if query_vec is not None:
        if len(query_vec) != dim:
            raise ValueError("query_vec dim mismatch")
        # the same Python fold as pq_encode's LUT — identical values
        luts = []
        for m in range(n_sub):
            lut = []
            for j in range(k):
                s = 0.0
                for t in range(d_sub):
                    dlt = float(query_vec[m * d_sub + t]) \
                        - float(codebook[j][m * d_sub + t])
                    s += dlt * dlt
                if codeword_energy is not None:
                    s += float(codeword_energy[m][j])
                lut.append(s)
            luts.append(np.asarray(lut, dtype=np.float64))

    id_field = df.schema[id_col]
    fields = [T.StructField(id_col, id_field.dataType),
              T.StructField("pq_code", T.StringType())]
    if query_vec is not None:
        fields.append(T.StructField("approx_dist", T.DoubleType()))
    out_schema = T.StructType(fields)
    has_q = query_vec is not None

    def _codes_for(M: "np.ndarray") -> "np.ndarray":
        # M: (n, dim) float64, all finite. (x^2 + c^2 - 2 x.c) per
        # subspace; argmin first-min = smallest codeword id
        n = M.shape[0]
        S = M.reshape(n, n_sub, d_sub)
        out = np.empty((n, n_sub), dtype=np.int64)
        for m in range(n_sub):
            X = S[:, m, :]
            C = CB[:, m, :]
            d = (X * X).sum(axis=1)[:, None] \
                + (C * C).sum(axis=1)[None, :] - 2.0 * (X @ C.T)
            out[:, m] = np.argmin(d, axis=1)
        return out

    def encode_batches(batches):
        for b in batches:
            if b.num_rows == 0:
                continue
            ids = b.column(0)
            emb = b.column(1)
            n = b.num_rows
            lens = np.diff(emb.offsets.to_numpy())
            codes = np.zeros((n, n_sub), dtype=np.int64)
            if emb.null_count == 0 and len(lens) and \
                    (lens == lens[0]).all() and lens[0] == dim:
                M = emb.flatten().to_numpy(zero_copy_only=False) \
                    .reshape(n, dim).astype(np.float64)
                ok = np.isfinite(M).all(axis=1)
                if ok.any():
                    codes[ok] = _codes_for(M[ok])
            else:
                ok = np.zeros(n, dtype=bool)
                rows = emb.to_pylist()
                good, idxs = [], []
                for i, v in enumerate(rows):
                    if v is not None and len(v) == dim:
                        a = np.asarray(v, dtype=np.float64)
                        if np.isfinite(a).all():
                            ok[i] = True
                            good.append(a)
                            idxs.append(i)
                if good:
                    codes[np.asarray(idxs)] = _codes_for(
                        np.stack(good))
            pq_code = [("-".join(str(int(c)) for c in codes[i])
                        if ok[i] else None) for i in range(n)]
            arrays = [ids, pa.array(pq_code, type=pa.string())]
            if has_q:
                acc = np.zeros(n, dtype=np.float64)
                for m in range(n_sub):  # same m fold order as the expr
                    acc = acc + luts[m][codes[:, m]]
                # half-UP at 6dp (distances are non-negative), matching
                # F.round in pq_encode and DuckDB ROUND — np.round is
                # half-to-even, which disagrees on exact .5 ties at the
                # 6th decimal and could flip the shortlist cut by 1e-6
                # (r14 ADVICE #2). Residual ulp edge (r15 ADVICE #3):
                # F.round is BigDecimal HALF_UP on the exact decimal
                # expansion of the double, while acc*1e6 here is one
                # float multiply — when that product itself rounds
                # across the .5 boundary the two can still differ by
                # 1e-6, so expr/Arrow byte-identity is NEAR-exact, not
                # guaranteed. Accepted: a per-element Decimal pass
                # would serialize the hot loop; the auto-route treats
                # the two lanes as equivalent only under the shared
                # round(6) contract, and the parity gate pins the
                # fixture-observable cases.
                ad = np.floor(acc * 1e6 + 0.5) / 1e6
                arrays.append(pa.array(
                    [float(ad[i]) if ok[i] else None for i in range(n)],
                    type=pa.float64()))
            yield pa.RecordBatch.from_arrays(
                arrays, schema=pa.schema(
                    [(id_col, ids.type), ("pq_code", pa.string())]
                    + ([("approx_dist", pa.float64())] if has_q else [])))

    return df.select(id_col, vec_col).mapInArrow(encode_batches,
                                                 out_schema)


def ivf_pq_topk(df: DataFrame, vec_col: str, id_col: str,
                query_vec: list[float], k: int = 20,
                n_cells: int | None = None,
                nprobe: int = 4, n_sub: int = 8, rerank: int = 2,
                index: "IvfIndex | None" = None,
                codebook: list[list[float]] | None = None,
                codeword_energy: list[list[float]] | None = None) -> DataFrame:
    """The production ANN probe shape — IVF-PQ (Jégou et al. 2011):
    IVF cells bound the candidate set (~nprobe/n_cells of the corpus),
    ADC over PQ codes ranks the candidates without touching raw
    vectors, and only the k*rerank shortlist pays an exact cosine.

    Without `index`/`codebook` this is the ONE-SHOT convenience form
    (the ivf_topk convention): it builds an unpersisted index and
    md5-samples a codebook, both corpus-sized passes, per call.
    Repeated probes MUST pass a prebuilt `index`
    (build_ivf_index(persist=True)) and a `codebook`
    (pq_codebook_sample once, or any trained codebook) — then the
    per-probe cost is O(candidate codes) + O(k*rerank) raw-vector
    fetches via broadcast semi-joins, never a corpus scan. (In
    production the codes themselves would also be a persisted column
    of the assignment table; here the candidate set is small enough —
    ~nprobe/n_cells of the corpus — that encoding candidates inline
    keeps the one-shot form honest.)

    Determinism contract (what makes the SQL oracle replay exact):
    the nprobe cell cut orders by the raw centroid cosine with
    smallest-cell ties (identical expression on both engines; cell
    ASSIGNMENT inherits assign_cells' 1e-12 snap + smallest-cell
    ties), ADC distances fold in the same order as DuckDB's list_sum
    and are rounded to 6 before the shortlist cut with vec_id ties,
    and the final order is (round-6 exact cosine DESC, vec_id).

    PRECONDITION when `index` is passed: `df` MUST be the corpus the
    index (and codebook) were built from — a mismatched pair joins
    cleanly on cell/id and returns silently wrong results, so the
    cheap invariants ARE checked here: vec_col/id_col must match the
    index's, the index dim must match len(query_vec), and `n_cells`
    must be left None (it is a build-time parameter fixed by the
    index; passing it alongside an index is a contradiction, not an
    override)."""
    if index is not None:
        if n_cells is not None:
            raise ValueError(
                "n_cells is fixed by the prebuilt index; pass it to "
                "build_ivf_index, not to the probe")
        if (vec_col, id_col) != (index.vec_col, index.id_col):
            raise ValueError(
                f"index was built over ({index.vec_col!r}, "
                f"{index.id_col!r}), probe asked for ({vec_col!r}, "
                f"{id_col!r}) — df must be the indexed corpus")
        if index.dim is not None and index.dim != len(query_vec):
            raise ValueError(
                f"query dim {len(query_vec)} != index dim {index.dim}")
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    idx = index if index is not None else build_ivf_index(
        df, vec_col, id_col, n_cells=16 if n_cells is None else n_cells,
        iters=1, dim=len(query_vec), persist=False)
    best_cells = (idx.centroids
                  .select("cell",
                          cosine(F.col("cvec"), q).alias("csim"))
                  .orderBy(F.col("csim").desc(), "cell").limit(nprobe)
                  .select("cell"))
    probed = idx.assigned.join(F.broadcast(best_cells), on="cell")
    if codebook is None:
        codebook = pq_codebook_sample(df, vec_col, id_col, n_codes=16,
                                      dim=len(query_vec))
    # nulls LAST: pq_encode's sentinel rows (null/ragged vectors) carry
    # approx_dist=NULL and must never displace real ADC candidates.
    # AUTO-ROUTE: beyond 32 codewords the literal-expression encode's
    # plan explodes (n_codes * n_sub * d_sub terms per argmin), so the
    # production 256-codeword book rides the Arrow kernel instead —
    # same contract, pq_encode_arrow's docstring carries the ulp-tie
    # caveat (oracle configurations stay at 16 codewords = expr path)
    encode = pq_encode_arrow if len(codebook) > 32 else pq_encode
    shortlist = (encode(probed, vec_col, id_col, codebook,
                        n_sub=n_sub, query_vec=query_vec,
                        codeword_energy=codeword_energy)
                 .orderBy(F.col("approx_dist").asc_nulls_last(), id_col)
                 .limit(k * rerank)
                 .select(id_col))
    return (df.join(F.broadcast(shortlist), on=id_col)
            .select(id_col,
                    F.round(cosine(F.col(vec_col), q), 6)
                     .alias("cos_sim"))
            .orderBy(F.col("cos_sim").desc(), id_col).limit(k))
