"""Deduplication operators for large-scale training-data pipelines
(SURVEY §2.12 X1/X2 + BASELINE.json north-star mandate).

All variants are pure DataFrame compositions — explode/groupBy/join —
so they shuffle on content-derived keys and scale horizontally; no
driver-side similarity matrices.

  exact_dedup           sha2(text) group-by             (X1)
  minhash_signatures    MinHash via (a*h+b) mod p over one xxhash64
  minhash_lsh_pairs     banding -> bucket join -> candidate pairs (X2)
  simhash_fingerprints  64-bit SimHash
  simhash_near_pairs    chunk-banding + hamming verify
  ngram_jaccard_pairs   word n-gram exact Jaccard within blocks
  shared_spans          cross-document exact substring spans  (X16)
"""

from __future__ import annotations

import itertools
import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_warehouse_spark.io import bcast_id_cap, spread_for_compute

# Largest hash-group df the grouped-pairs branch of shared_spans may
# collect into one aggregation buffer (~20 B/entry -> ~80 KB). Caps
# above this route through the keep-join + streaming self-join path,
# which enforces the same over-cap drop without materializing a group
# (r11 advice fix: the task-memory bound is enforced, not documented).
GROUPED_PAIRS_CAP_MAX = 4096

# per-call sequence for shared_spans' multi-pass scratch subdirs
_PASS_SEQ = itertools.count()


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """X1: exact content dedup — canonical row = min id per sha2(text).

    At 100 TB this is one shuffle on a 256-bit hash (uniform keys, no
    skew) carrying only (hash, id); full rows rejoin by id afterwards
    if needed.
    """
    h = F.sha2(F.col(text_col), 256)
    return (df.select(h.alias("content_hash"), F.col(id_col))
            .groupBy("content_hash")
            .agg(F.min(id_col).alias("canonical_id"),
                 F.count(F.lit(1)).alias("n_copies")))


def shingles(text_col: str, n: int = 3) -> F.Column:
    """Word n-gram shingles as an array column (lowercased, whitespace
    tokenized) — built-in expressions only.

    Built by zipping n shifted slices of the token array rather than
    indexing `toks` inside a transform lambda: higher-order-function
    lambdas are interpreted (no codegen), so an expression like
    `slice(split(text), i, n)` re-runs the regex split once per
    element — O(tokens^2) per document. The zip form touches only
    materialized element values inside the lambda (measured ~4x faster
    at 5k docs, and the gap grows with document length)."""
    t = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    parts = [F.slice(t, i + 1, F.greatest(F.size(t) - i, F.lit(0))).alias(f"t{i}")
             for i in range(n)]
    z = F.arrays_zip(*parts)
    joined = F.transform(z, lambda s: F.when(
        s[f"t{n-1}"].isNotNull(),
        F.concat_ws(" ", *[s[f"t{i}"] for i in range(n)])))
    return F.filter(joined, lambda x: x.isNotNull())


#: Mersenne prime 2^31-1 — modulus of the universal-hash family below.
#: Operand bounds make every intermediate ANSI-overflow-safe:
#: h <= 2^31-1 and a <= P-1, so a*h + b < 2^62 + 2^31 << 2^63-1.
_MINHASH_PRIME = (1 << 31) - 1


def _minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the (a*h + b) mod p family —
    seeded so signatures are reproducible across runs/engines."""
    import random
    rng = random.Random(0x5EED_CAFE)
    return [(rng.randrange(1, _MINHASH_PRIME),
             rng.randrange(0, _MINHASH_PRIME)) for _ in range(num_hashes)]


def _minhash_signatures_arrow(df: DataFrame, text_col: str, id_col: str,
                              num_hashes: int, shingle_n: int) -> DataFrame:
    """Arrow-kernel form of minhash_signatures (xxhash64 family only):
    one mapInArrow pass computes shingles -> hashes -> the num_hashes
    mins per document, value-identical to the expression form.

    Motivation (r16 optimization round, ddece72:.r16/sig_split.py):
    the expression form's cost is NOT the hash — it is the interpreted
    higher-order-function lambdas building shingle strings, the
    Generate row machinery, and 32 aggregate-buffer updates per
    exploded shingle (~half the stage each at sf0.1). The kernel does
    the same work with NO per-row Python objects (guide §4.2 — hand
    whole batches to vectorized native code): tokenization is one
    Arrow ``split_pattern_regex`` per batch, shingle strings are built
    by three vectorized token gathers + one
    ``binary_join_element_wise`` (all C++), XXH64 runs vectorized over
    the shingle StringArray's data buffer (functions/xxh64_np.py,
    bit-equal to F.xxhash64 — pinned by test), and the
    (shingles x num_hashes) mod-mul + segmented min is exact int64
    (operands < 2^62 by the 31-bit hash domain), chunked by doc
    slices over one reused buffer. A first kernel revision looped
    ``" ".join(toks[j:j+n]).encode()`` per shingle in Python and
    built the full mod-mul matrix per batch; the vectorized+chunked
    build measures 1.9x faster on the kernel body at the sf0.1
    corpus (5k docs) and 5.1x at 20k docs, where the monolithic
    matrix's fresh-page allocation stalls dominate
    (ddece72:.r16/shingle_vec_proto.py + ddece72:OPTIMIZATION_r16.md,
    output identical by assertion on every corpus tried).

    Exactness argument, surface by surface (every one pinned by the
    JVM-vs-kernel equality property test in tests/test_operators.py):
      - lower/trim run in the JVM BEFORE the boundary (identical by
        construction; Python str.lower is NOT used — it can diverge
        from UTF8String.toLowerCase on exotic codepoints);
      - Java's \\s is the ASCII class [ \\t\\n\\x0B\\f\\r] and Spark's
        split keeps leading/trailing empty tokens (limit -1); Arrow's
        ``split_pattern_regex`` (RE2) has the same empty-token
        behavior — asserted identical to re.split on the adversarial
        corpus in ddece72:.r16/shingle_vec_proto.py AND via the property test
        (the expression form is the reference);
      - binary_join_element_wise(" ") over non-null UTF-8 strings
        concatenates the same bytes as concat_ws(" ");
      - XXH64 seed 42 over UTF-8 bytes == xxh64_bytes (spec impl);
      - (a*h + b) % p in int64 is exact integer math in both engines.

    Docs with zero shingles emit no row, like the explode form. A
    batch whose total shingle bytes would overflow the int32 string
    offsets (> 2 GiB) fails loudly in Arrow ("offset overflow") —
    unreachable under the 64k-row default tier for any
    length-bounded corpus (x15/x18/x20 pipelines bound docs by
    construction).
    """
    import numpy as np

    from data_warehouse_spark.functions.xxh64_np import xxh64_bytes

    coeffs = _minhash_coeffs(num_hashes)
    A = np.array([a for a, _ in coeffs], dtype=np.int64)
    B = np.array([b for _, b in coeffs], dtype=np.int64)
    prime = np.int64(_MINHASH_PRIME)
    n_gram = shingle_n
    id_type = dict(df.dtypes)[id_col]

    def run(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            ids = batch.column(0)
            # Java \s (ASCII class), limit -1 empty-token semantics
            toks = pc.split_pattern_regex(
                batch.column(1), pattern="[ \t\n\x0b\f\r]+")
            tok_off = (toks.offsets.to_numpy(zero_copy_only=False)
                       .astype(np.int64))
            n_shingles = np.diff(tok_off) - (n_gram - 1)
            np.clip(n_shingles, 0, None, out=n_shingles)
            if toks.null_count:  # null text -> no shingles
                n_shingles *= ~np.asarray(toks.is_null())
            keep = np.flatnonzero(n_shingles > 0)
            if keep.size == 0:
                # int64 indices to match the non-empty path's
                # np.flatnonzero-derived take (ADVICE r16 consistency)
                yield pa.RecordBatch.from_arrays(
                    [ids.take(pa.array([], pa.int64())),
                     pa.array([], pa.list_(pa.int64()))],
                    [id_col, "signature"])
                continue
            s_kept = n_shingles[keep]
            # doc d's shingles occupy output rows
            # [starts[d], starts[d] + s_kept[d])
            starts = np.zeros(keep.size, np.int64)
            np.cumsum(s_kept[:-1], out=starts[1:])
            total = int(s_kept.sum())
            # flat-token index of each output shingle's first token:
            # per-doc token offset + within-doc shingle position
            j = (np.arange(total, dtype=np.int64)
                 - np.repeat(starts, s_kept))
            idx0 = np.repeat(tok_off[keep], s_kept) + j
            flat = toks.values
            sh = pc.binary_join_element_wise(
                *(pc.take(flat, pa.array(idx0 + i, pa.int64()))
                  for i in range(n_gram)), " ")
            # zero-copy (data, offsets) view of the shingle strings
            offs = np.frombuffer(sh.buffers()[1], np.int32,
                                 count=len(sh) + 1,
                                 offset=sh.offset * 4).astype(np.int64)
            data = np.frombuffer(sh.buffers()[2], np.uint8)
            h = (xxh64_bytes(data, offs)
                 & np.uint64(0x7FFFFFFF)).astype(np.int64)
            # (shingles x num_hashes) exact int64: h < 2^31, a < p-1,
            # so h*a + b < 2^62 — no overflow, identical to the ANSI
            # long arithmetic of the expression form. Chunked by doc
            # slices of ~64k shingles with ONE reused buffer and
            # in-place ops: the monolithic (total x num_hashes)
            # matrix is ~1 GB of fresh demand-zeroed allocation per
            # 64k-row batch — measured multi-second page-fault stalls
            # at >=20k-doc batches (ddece72:OPTIMIZATION_r16.md) — while the
            # chunked form bounds the temporary at ~16 MB per task
            # regardless of batch size, with bit-identical
            # per-element math (elementwise ops; chunk boundaries
            # align with doc starts so every reduceat segment is
            # intact).
            n_docs = keep.size
            chunk = 1 << 16
            sig = np.empty((n_docs, num_hashes), np.int64)
            buf = np.empty(
                (min(total, chunk + int(s_kept.max())), num_hashes),
                np.int64)
            d0 = 0
            while d0 < n_docs:
                d1 = max(int(np.searchsorted(
                    starts, starts[d0] + chunk, side="left")), d0 + 1)
                lo = int(starts[d0])
                hi = int(starts[d1]) if d1 < n_docs else total
                v = buf[:hi - lo]
                np.multiply(h[lo:hi, None], A[None, :], out=v)
                v += B[None, :]
                v %= prime
                np.minimum.reduceat(v, starts[d0:d1] - lo, axis=0,
                                    out=sig[d0:d1])
                d0 = d1
            sig_arr = pa.ListArray.from_arrays(
                pa.array(np.arange(0, (n_docs + 1) * num_hashes,
                                   num_hashes, dtype=np.int32)),
                pa.array(sig.ravel()))
            yield pa.RecordBatch.from_arrays(
                [ids.take(pa.array(keep, pa.int64())), sig_arr],
                [id_col, "signature"])

    src = df.select(
        F.col(id_col),
        F.lower(F.trim(F.col(text_col))).alias("__txt"))
    return src.mapInArrow(
        run, schema=f"{id_col} {id_type}, signature array<bigint>")


def minhash_signatures(df: DataFrame, text_col: str, id_col: str,
                       num_hashes: int = 32, shingle_n: int = 3,
                       hash_family: str = "xxhash64",
                       impl: str = "auto") -> DataFrame:
    """MinHash signature per document: h_i = min over shingles of
    (a_i * hash(shingle) + b_i) mod p. One row per doc with an
    array<long> signature.

    ``impl`` picks the physical form (r16 optimization round):
    "auto" routes the xxhash64 family through the Arrow kernel
    (_minhash_signatures_arrow — value-identical, ~2x the stage
    locally; the expression form's cost is interpreted shingle
    lambdas + Generate rows + 32 agg-buffer updates per shingle, not
    the hash), and the md5 family through the expression form (its
    reason to exist is the bit-for-bit SQL oracle replay, so its
    plan IS the spec). "expr" forces the expression form for either
    family.

    ``hash_family`` picks the per-shingle hash (the x5d/x2b
    convention): "xxhash64" (default) is the fast JVM production
    path; "md5" derives the 31-bit base hash from md5_60 — slower,
    but bit-identical in DuckDB SQL, which lets an oracle replay the
    ENTIRE signature+banding pipeline (x2f) instead of approximating
    an LSH with a brute-force join.

    Plan shape: explode shingles, hash each shingle string ONCE, then
    derive the num_hashes functions as multiply-add-mod long
    arithmetic over that single hash (the classic universal family,
    same construction as Spark ML's MinHashLSH) and take num_hashes
    `min` aggregates in one groupBy(id). Earlier revisions evaluated
    xxhash64(salt_i ++ shingle) per function — num_hashes full string
    hashes per shingle; deriving from one hash measured ~2.5x faster
    on the signature stage (the pipeline's dominant cost, and it runs
    on BOTH sides of the banding self-join). Everything stays inside
    whole-stage codegen; map-side partial `min` collapses each
    partition to one num_hashes-long row per doc before the exchange,
    so the shuffle carries ~num_hashes longs per (doc, partition)
    regardless of document length. The 31-bit domain keeps every
    product below 2^62 — safe under ANSI mode (Spark 4 default), where
    a wrap-around long multiply would throw instead of wrapping.

    Docs with zero shingles (empty/whitespace text) produce no exploded
    rows and therefore no signature, matching the previous
    `size(shingles) > 0` filter.
    """
    if hash_family not in ("xxhash64", "md5"):
        raise ValueError(f"unknown hash_family: {hash_family!r}")
    if impl not in ("auto", "expr"):
        raise ValueError(f"unknown impl: {impl!r}")
    if impl == "auto" and hash_family == "xxhash64":
        return _minhash_signatures_arrow(spread_for_compute(df), text_col,
                                         id_col, num_hashes, shingle_n)
    if hash_family == "md5":
        from data_warehouse_spark.functions.text import md5_60

        def base_hash(c):
            return md5_60(c).bitwiseAND(F.lit(0x7FFFFFFF))
    else:
        def base_hash(c):
            return F.xxhash64(c).bitwiseAND(F.lit(0x7FFFFFFF))
    df = spread_for_compute(df)
    sh = (df.select(F.col(id_col),
                    F.explode(shingles(text_col, shingle_n)).alias("__s"))
          .select(F.col(id_col), base_hash(F.col("__s")).alias("__h")))
    aggs = [F.min((F.col("__h") * F.lit(a) + F.lit(b)) % F.lit(_MINHASH_PRIME))
            .alias(f"__h{i}")
            for i, (a, b) in enumerate(_minhash_coeffs(num_hashes))]
    return (sh.groupBy(id_col).agg(*aggs)
            .select(id_col, F.array(*[F.col(f"__h{i}")
                                      for i in range(num_hashes)])
                    .alias("signature")))


def minhash_lsh_pairs(df: DataFrame, text_col: str, id_col: str,
                      num_hashes: int = 32, bands: int = 8,
                      shingle_n: int = 3,
                      jaccard_threshold: float = 0.5,
                      block_col: str | None = None,
                      hash_family: str = "xxhash64",
                      verify: str = "array") -> DataFrame:
    """X2: near-dup candidate pairs via LSH banding, verified by exact
    shingle Jaccard.

    Pipeline: signatures -> explode into `bands` band-hashes ->
    self-join on (band, band_hash) -> distinct candidate pairs ->
    exact-Jaccard verify. Shuffles on band buckets and doc/shingle
    keys only; never a cross join.

    ``verify`` picks the exact-verify physical shape (r16, from the
    ddece72:.r16/x2_decomp.py stage split — verify was 62% of x2's wall at
    256x, and x2 is 26% of the headline):

      "array" (default): each candidate doc's DISTINCT shingle set
        rides as ONE array row through the two pair joins and the
        intersection is a JVM ``array_intersect`` per pair — |pairs|
        rows through join+filter instead of |pairs| x |shingles| rows
        through join+groupBy. Measured -18% on the whole x2 plan at
        256x (-26% at 64x), identical output. Row width is bounded by
        the largest doc's distinct-shingle count (~20 B/shingle):
        fine for any chunked/length-capped corpus (x15/x18/x20
        pipelines bound docs by construction).
      "explode": the per-shingle row form — one (id, shingle) row per
        doc-shingle, intersection via (id_b, shingle) join +
        pair groupBy. Same values; prefer it only for corpora with
        UNBOUNDED single-doc lengths (multi-MB docs would make
        "array" rows multi-MB wide; exploded rows stay skinny and
        spread across tasks).

    Both paths verify ONLY docs that appear in some candidate pair
    (left-semi prefilter) and are value-identical (property-tested,
    tests/test_operators.py).

    With `block_col`, candidates are restricted to pairs sharing the
    blocking key (the key joins into the bucket equi-join, so
    cross-block pairs are never materialized) and the output carries a
    `block` column — this is the scale path `ngram_jaccard_pairs`
    routes oversized blocks through.
    """
    if verify not in ("array", "explode"):
        raise ValueError(f"verify must be 'array' or 'explode', "
                         f"got {verify!r}")
    if not jaccard_threshold > 0:
        # r17 (ADVICE r16): the array verify keeps zero-intersection
        # candidate pairs until the threshold filter, while the explode
        # verify's inner join on shingle drops them structurally — at
        # threshold <= 0 the two shapes would diverge. No caller wants
        # "every banding collision is a dup" anyway; fail loudly.
        raise ValueError(
            f"jaccard_threshold must be > 0, got {jaccard_threshold!r}")
    if num_hashes % bands:
        raise ValueError(
            f"num_hashes={num_hashes} not divisible by bands={bands}: "
            "the trailing signature rows would be silently dropped "
            "from every band, degrading recall with no error")
    rows_per_band = num_hashes // bands
    df = spread_for_compute(df)
    # NOT checkpointed: both sides of the banding self-join do
    # recompute the signature subtree (no ReusedExchange), but the
    # duplicate compute pipelines across cores and measured FASTER at
    # sf0.1 than a materialize+re-read barrier (2.2 s vs 2.7 s warm) —
    # only the final candidate set (tiny) is worth checkpointing.
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n,
                              hash_family=hash_family)
    if block_col is not None:
        # 1-field struct, not the raw value: the banding self-join and
        # the verify joins key on "block" with plain (null-UNSAFE)
        # equality, which silently drops every pair of a NULL-keyed
        # block; struct equality compares fields null-safely, so a
        # NULL block behaves as one real key. Unwrapped at output.
        sigs = sigs.join(
            df.select(F.col(id_col),
                      F.struct(F.col(block_col).alias("v")).alias("block")),
            on=id_col)
    band_keys = ["band", "bucket"] + (["block"] if block_col is not None else [])
    banded = sigs.select(
        id_col, *(["block"] if block_col is not None else []),
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.xxhash64(*[F.element_at("signature", b * rows_per_band + r + 1)
                                  for r in range(rows_per_band)]).alias("bucket"))
            for b in range(bands)
        ])).alias("bb"),
    ).select(id_col, *(["block"] if block_col is not None else []),
             "bb.band", "bb.bucket")

    left = banded.withColumnRenamed(id_col, "id_a")
    right = banded.withColumnRenamed(id_col, "id_b")
    candidates = (left.join(right, on=band_keys)
                  .filter(F.col("id_a") < F.col("id_b"))
                  .select("id_a", "id_b",
                          *(["block"] if block_col is not None else []))
                  .distinct()
                  # referenced twice below (verify join + semi-join id
                  # prefilter); checkpoint so the banding join runs
                  # once — candidates are the tiny near-dup tail, so
                  # the materialization is cheap at any corpus size.
                  # eager=False defers the checkpoint to the first job
                  # over it, but that job still runs at construction:
                  # the broadcast size gate below counts the candidates
                  # before this function returns. Fault-tolerance
                  # trade, as in graph.py: checkpoint blocks are
                  # executor-local with no lineage replay, so losing an
                  # executor mid-query fails the job (re-run) instead
                  # of recomputing — the blocks here are only the
                  # candidate tail, so re-runs are cheap relative to
                  # protecting them
                  .localCheckpoint(eager=False))

    # exact verify: Jaccard over distinct shingles — computed ONLY for
    # docs that appear in some candidate pair (left-semi prefilter).
    # Banding already exploded the whole corpus once; re-exploding it
    # all for the verify would double the corpus-sized work, while the
    # candidate set is the tiny near-dup tail by construction.
    #
    # cand_ids is BROADCAST (r16, guide §3.2): it derives from the
    # checkpointed candidate tail (an ExistingRDD with no size stats),
    # so the planner defaulted to a sort-merge semi-join that
    # EXCHANGED the whole corpus — text payload included — on id just
    # to keep the tail's docs (ddece72:plans/r16/x2_minhash_lsh_before.txt,
    # Exchange(4)+Sort(5) over the documents scan, twice). The hint
    # turns it into a broadcast semi right above the scan: zero
    # corpus shuffle. Size bound: cand_ids <= 2 x |candidate pairs|
    # ids — the same tail-smallness the localCheckpoint above already
    # relies on, and strictly fewer bytes than the (id, shingle-set)
    # sides the verify join below has ALWAYS broadcast.
    #
    # The hint is SIZE-GATED (r17, VERDICT r16 ask #3): at adversarial
    # dup rates the tail is O(corpus) and the hint would hard-fail at
    # the broadcast cap; the count scans only the (materialized)
    # checkpoint, and above the cap the pre-r16 shuffle semi-join is
    # kept — slower, never fatal. io.bcast_id_cap documents the bound.
    extra = ["block"] if block_col is not None else []
    cand_ids = (candidates.select(F.col("id_a").alias(id_col))
                .unionByName(candidates.select(F.col("id_b").alias(id_col)))
                .distinct())
    if 2 * candidates.count() <= bcast_id_cap():
        cand_ids = F.broadcast(cand_ids)
    in_pairs = df.join(cand_ids, on=id_col, how="left_semi")
    if verify == "array":
        # NOT checkpointed: the shingle-set subtree does run once per
        # pair side (self-join dedup re-aliases the branch; no
        # exchange reuse even at runtime — ddece72:.r16/x2_verify_shape.py),
        # but with the broadcast semi above each run is a map-only
        # scan+filter that pipelines across cores, and a measured
        # localCheckpoint barrier here cost ~2x on the whole query
        # (5.61 vs 2.69 s best-of-5 at sf0.1) — the same
        # recompute-beats-materialize verdict as the signature
        # subtree (SCALE.md round-16 x2 decomposition).
        docsh = in_pairs.select(
            F.col(id_col).alias("id"),
            F.array_distinct(shingles(text_col, shingle_n)).alias("shset"))
        a = docsh.select(F.col("id").alias("id_a"),
                         F.col("shset").alias("sh_a"))
        b = docsh.select(F.col("id").alias("id_b"),
                         F.col("shset").alias("sh_b"))
        paired = candidates.join(a, on="id_a").join(b, on="id_b")
        n_inter = F.size(F.array_intersect("sh_a", "sh_b"))
        jac = n_inter / (F.size("sh_a") + F.size("sh_b") - n_inter)
        return (paired.withColumn("jaccard", jac)
                .filter(F.col("jaccard") >= jaccard_threshold)
                .select(*([F.col("block")["v"].alias("block")]
                          if block_col is not None else []),
                        "id_a", "id_b",
                        F.round("jaccard", 6).alias("jaccard")))
    sh = (in_pairs.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(shingles(text_col, shingle_n)))
        .alias("shingle")))
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    # join the b-side on (id_b, shingle) so the hash join emits only the
    # shingle intersection — joining on id_b alone would materialize an
    # |A|x|B| per-pair shingle cross product before the equality filter
    inter = (candidates
             .join(sh.withColumnRenamed("id", "id_a"), on="id_a")
             .join(sh.withColumnRenamed("id", "id_b"),
                   on=["id_b", "shingle"])
             .groupBy("id_a", "id_b", *extra)
             .agg(F.count(F.lit(1)).alias("n_inter")))
    out = (inter
           .join(sizes.withColumnRenamed("id", "id_a")
                 .withColumnRenamed("n_sh", "n_a"), on="id_a")
           .join(sizes.withColumnRenamed("id", "id_b")
                 .withColumnRenamed("n_sh", "n_b"), on="id_b")
           .withColumn("jaccard", F.col("n_inter")
                       / (F.col("n_a") + F.col("n_b") - F.col("n_inter")))
           .filter(F.col("jaccard") >= jaccard_threshold)
           .select(*([F.col("block")["v"].alias("block")]
                     if block_col is not None else []),
                   "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")))
    return out


def minhash_lsh_incremental(corpus: DataFrame, batch: DataFrame,
                            text_col: str, id_col: str,
                            num_hashes: int = 32, bands: int = 8,
                            shingle_n: int = 3,
                            jaccard_threshold: float = 0.5) -> DataFrame:
    """X2g: incremental near-dup — a new crawl batch checked against
    the EXISTING corpus's LSH band index, the near-dup analog of
    x2e's exact-hash incremental dedup (and the production shape of
    X2: a continuously-ingesting pipeline never re-pairs the whole
    corpus against itself; it probes each day's batch against a
    persisted index and appends the batch's own bands afterwards).

    Returns ONE ROW PER BATCH DOC: (id, dup_of, jaccard, is_dup)
    where dup_of is the smallest corpus id whose exact shingle
    Jaccard with the batch doc clears the threshold (null -> novel
    doc), and jaccard is that winning pair's score.

    Pipeline: corpus signatures -> (band, bucket, corpus_id) index;
    batch signatures -> same banding; equi-join on (band, bucket)
    for candidates; exact-Jaccard verify restricted (left-semi) to
    candidate docs; min-corpus-id winner per batch doc; left join
    back onto the full batch so novel docs keep is_dup = false.

    At 100 TB the index is the persisted artifact — bucketed by
    (band, bucket) j12-style so the daily probe join co-locates
    without a corpus-side shuffle — and only the BATCH is shingled
    per run; corpus text is touched only for the candidate tail's
    verify (left-semi on candidate ids, which prunes the corpus scan
    to near-dup suspects). Banding arithmetic matches
    minhash_lsh_pairs band-for-band (same signature family, same
    xxhash64 bucket fold) but is spelled locally rather than
    factored out: sharing a helper would make every X2-family query
    a code-change in lockstep with this one, and the 10-line
    expression is cheaper to keep in sync than the re-verification
    of four green queries (window-budget trade, documented here).

    The exact verify uses minhash_lsh_pairs' array_intersect-per-pair
    shape (r16): each candidate doc's DISTINCT shingle set rides as
    ONE array row through the pair joins — |pairs| rows through
    join+filter instead of |pairs| x |shingles| rows through
    join+groupBy, and the two per-side size aggregates disappear.
    Value-identical to the exploded form (a zero-shingle doc can
    never be a candidate — no signature, no bands — and every
    candidate pair's jaccard is the same arithmetic either way);
    pinned by the x2g oracle + the self-dedup property test.
    """
    if not jaccard_threshold > 0:
        # ADVICE r16: the array verify would emit zero-intersection
        # pairs at threshold <= 0 that the exploded form never did
        raise ValueError(
            f"jaccard_threshold must be > 0, got {jaccard_threshold!r}")
    if num_hashes % bands:
        raise ValueError(
            f"num_hashes={num_hashes} not divisible by bands={bands}: "
            "the trailing signature rows would be silently dropped "
            "from every band, degrading recall with no error")
    rows_per_band = num_hashes // bands
    corpus = spread_for_compute(corpus)
    batch = spread_for_compute(batch)

    def banded(src: DataFrame, out_id: str) -> DataFrame:
        sigs = minhash_signatures(src, text_col, id_col,
                                  num_hashes, shingle_n)
        return (sigs.select(
            F.col(id_col).alias(out_id),
            F.explode(F.array(*[
                F.struct(F.lit(b).alias("band"),
                         F.xxhash64(*[F.element_at(
                             "signature", b * rows_per_band + r + 1)
                             for r in range(rows_per_band)]).alias("bucket"))
                for b in range(bands)
            ])).alias("bb"))
            .select(out_id, "bb.band", "bb.bucket"))

    index = banded(corpus, "__cid")          # the persisted artifact
    probes = banded(batch, "__bid")
    candidates = (probes.join(index, on=["band", "bucket"])
                  .select("__bid", "__cid")
                  .distinct()
                  # referenced three times below (two semi-filters +
                  # the verify join spine); checkpoint so the banding
                  # join runs once — candidates are the tiny near-dup
                  # tail. Same fault-tolerance trade as
                  # minhash_lsh_pairs: blocks are executor-local, a
                  # lost executor re-runs the (cheap) query.
                  .localCheckpoint(eager=False))
    # size-gate for the two side broadcasts below (r17, VERDICT r16
    # ask #3 — io.bcast_id_cap documents the bound); per-side distinct
    # ids <= |pairs|, and the count scans only the checkpointed tail
    hint_ids = candidates.count() <= bcast_id_cap()

    def side_sets(src: DataFrame, ids: DataFrame, out_id: str,
                  set_col: str) -> DataFrame:
        # broadcast the candidate-id set (r16, guide §3.2): it derives
        # from the checkpointed tail (ExistingRDD, no stats), so the
        # planner otherwise exchanges the whole src side — corpus text
        # included — just to keep the tail's docs. Same tail-smallness
        # bound the checkpoint above already relies on; above the cap
        # the unhinted shuffle semi is kept (slower, never fatal).
        ids = ids.withColumnRenamed(out_id, id_col).distinct()
        in_pairs = src.join(
            F.broadcast(ids) if hint_ids else ids,
            on=id_col, how="left_semi")
        return in_pairs.select(
            F.col(id_col).alias(out_id),
            F.array_distinct(shingles(text_col, shingle_n))
            .alias(set_col))

    bset = side_sets(batch, candidates.select("__bid"), "__bid", "sh_b")
    cset = side_sets(corpus, candidates.select("__cid"), "__cid", "sh_c")
    paired = candidates.join(bset, on="__bid").join(cset, on="__cid")
    n_inter = F.size(F.array_intersect("sh_b", "sh_c"))
    jac = (paired
           .withColumn("__j", n_inter / (F.size("sh_b") + F.size("sh_c")
                                         - n_inter))
           .filter(F.col("__j") >= jaccard_threshold))
    # winner per batch doc = LEXICOGRAPHIC struct min: corpus ids are
    # distinct within a group, so this is min(__cid) carrying its own
    # pair's jaccard along — no second join to recover the score
    best = (jac.groupBy("__bid")
            .agg(F.min(F.struct(F.col("__cid"), F.col("__j"))).alias("m"))
            .select(F.col("__bid").alias(id_col),
                    F.col("m.__cid").alias("dup_of"),
                    F.round("m.__j", 6).alias("jaccard")))
    return (batch.select(id_col).join(best, on=id_col, how="left")
            .select(id_col, "dup_of", "jaccard",
                    F.col("dup_of").isNotNull().alias("is_dup")))


def minhash_band_index(df: DataFrame, text_col: str, id_col: str,
                       num_hashes: int = 32, bands: int = 8,
                       shingle_n: int = 3) -> DataFrame:
    """The persisted artifact of X2g's 100 TB story, as a DataFrame:
    (band, bucket, corpus_id) — one row per (doc, band). Write it once
    with operators.bucketing.write_bucketed(keys=[band, bucket]) and
    every daily probe join co-locates with NO index-side Exchange
    (tests/test_plans.py pins the plan). Banding arithmetic is
    band-for-band identical to minhash_lsh_incremental's inline form
    (same signature family, same xxhash64 bucket fold) — asserted
    equal in tests, not shared, for the window-budget reason
    documented there."""
    if num_hashes % bands:
        raise ValueError(
            f"num_hashes={num_hashes} not divisible by bands={bands}: "
            "the trailing signature rows would be silently dropped "
            "from every band, degrading recall with no error")
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(spread_for_compute(df), text_col, id_col,
                              num_hashes, shingle_n)
    return (sigs.select(
        F.col(id_col).alias("corpus_id"),
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.xxhash64(*[F.element_at(
                         "signature", b * rows_per_band + r + 1)
                         for r in range(rows_per_band)]).alias("bucket"))
            for b in range(bands)
        ])).alias("bb"))
        .select("bb.band", "bb.bucket", "corpus_id"))


def probe_candidates(index: DataFrame, batch: DataFrame,
                     text_col: str, id_col: str,
                     num_hashes: int = 32, bands: int = 8,
                     shingle_n: int = 3) -> DataFrame:
    """The probe's candidate join on its own — batch bands (the same
    minhash_band_index arithmetic) equi-joined against the persisted
    index. Exposed separately so the plan test can assert the
    index-side zero-Exchange shape BEFORE the checkpoint that
    minhash_probe_index puts above it truncates the executed plan."""
    probes = (minhash_band_index(batch, text_col, id_col,
                                 num_hashes, bands, shingle_n)
              .withColumnRenamed("corpus_id", "__bid"))
    return (probes.join(index, on=["band", "bucket"])
            .select("__bid", F.col("corpus_id").alias("__cid"))
            .distinct())


def minhash_probe_index(index: DataFrame, batch: DataFrame,
                        fetch_texts, text_col: str, id_col: str,
                        num_hashes: int = 32, bands: int = 8,
                        shingle_n: int = 3,
                        jaccard_threshold: float = 0.5) -> DataFrame:
    """The daily-probe half of the incremental near-dup pipeline,
    against a PERSISTED index (VERDICT r12 ask #5): band the batch,
    equi-join the (band, bucket)-bucketed index — co-located, so the
    index side carries no Exchange — then exact-verify ONLY the
    candidate tail.

    `fetch_texts(ids_df) -> DataFrame(id_col, text_col)` supplies the
    candidate corpus docs' texts. This is deliberately a callback, not
    a corpus DataFrame: a left-semi join against the corpus would scan
    O(corpus) text per probe, which is exactly what the persisted
    index exists to avoid. In production this is a point-lookup
    (id-keyed doc store / id-sorted layout); the x2g probe lane
    synthesizes texts from ids, which models the same O(candidates)
    cost. Everything else — per-run shingling O(batch), candidate
    volume O(batch) on a sparse-sharing corpus — matches
    minhash_lsh_incremental row-for-row (asserted in tests).

    Returns one row per batch doc: (id, dup_of, jaccard, is_dup)."""
    if not jaccard_threshold > 0:
        # ADVICE r16: the array verify would emit zero-intersection
        # pairs at threshold <= 0 that the exploded form never did
        raise ValueError(
            f"jaccard_threshold must be > 0, got {jaccard_threshold!r}")
    candidates = (probe_candidates(index, batch, text_col, id_col,
                                   num_hashes, bands, shingle_n)
                  # three consumers (two shingle sides + verify spine)
                  .localCheckpoint(eager=False))
    # size-gate for the batch-side broadcast below (r17, VERDICT r16
    # ask #3 — io.bcast_id_cap documents the bound)
    hint_ids = candidates.count() <= bcast_id_cap()
    batch = spread_for_compute(batch)

    ctext = fetch_texts(candidates.select(
        F.col("__cid").alias(id_col)).distinct())
    # array-form exact verify (r16, same shape as minhash_lsh_pairs /
    # minhash_lsh_incremental): one distinct-shingle-set array row per
    # candidate doc, array_intersect per pair — no per-shingle rows,
    # no per-side size aggregates
    cset = ctext.select(F.col(id_col).alias("__cid"),
                        F.array_distinct(shingles(text_col, shingle_n))
                        .alias("sh_c"))
    # broadcast the candidate-id tail so the batch side is filtered
    # above its scan instead of exchanged (guide §3.2; same bound as
    # the checkpoint above, size-gated per io.bcast_id_cap)
    bids = candidates.select("__bid") \
        .withColumnRenamed("__bid", id_col).distinct()
    bset = (batch.join(F.broadcast(bids) if hint_ids else bids,
                       on=id_col, how="left_semi")
            .select(F.col(id_col).alias("__bid"),
                    F.array_distinct(shingles(text_col, shingle_n))
                    .alias("sh_b")))
    paired = candidates.join(bset, on="__bid").join(cset, on="__cid")
    n_inter = F.size(F.array_intersect("sh_b", "sh_c"))
    jac = (paired
           .withColumn("__j", n_inter / (F.size("sh_b") + F.size("sh_c")
                                         - n_inter))
           .filter(F.col("__j") >= jaccard_threshold))
    best = (jac.groupBy("__bid")
            .agg(F.min(F.struct(F.col("__cid"), F.col("__j"))).alias("m"))
            .select(F.col("__bid").alias(id_col),
                    F.col("m.__cid").alias("dup_of"),
                    F.round("m.__j", 6).alias("jaccard")))
    return (batch.select(id_col).join(best, on=id_col, how="left")
            .select(id_col, "dup_of", "jaccard",
                    F.col("dup_of").isNotNull().alias("is_dup")))


def simhash_fingerprints(df: DataFrame, text_col: str, id_col: str,
                         bits: int = 64,
                         hash_family: str = "xxhash64") -> DataFrame:
    """SimHash: per-token 64-bit hashes vote per bit position; the sign
    of each bit-sum forms the fingerprint.

    Plan shape: explode distinct tokens -> token hash -> one groupBy(id)
    with `bits` trivial bitmask-sum aggregates (all codegen'd, map-side
    combined) -> fingerprint assembly. One shuffle keyed on the doc id.

    ``hash_family`` picks the per-token hash:
      - "xxhash64" (default): Spark's native JVM xxhash64 — the fast
        production path.
      - "md5": the low 60 bits of md5 (conv(substr(md5(t),1,15),16,10))
        — slower, but EXACTLY reproducible in DuckDB SQL
        (('0x'||substr(md5(t),1,15))::BIGINT, verified bit-equal incl.
        Unicode), which is what lets the x2b registry query carry a
        value-level oracle instead of a rows-only check. 15 hex digits
        = 60 bits < 2**63, so the signed-long parse is exact; callers
        should pass bits=60 (bits 60-63 would vote on constant zeros
        and come out 0 in every fingerprint — harmless for hamming,
        pure waste)."""
    if hash_family not in ("xxhash64", "md5"):
        raise ValueError(f"unknown simhash hash_family: {hash_family!r}")

    def mask_for(b: int) -> int:
        # bit 63 is the sign bit: 1<<63 overflows signed long, but the
        # two's-complement long with only that bit set is LONG_MIN.
        return (1 << b) if b < 63 else -(1 << 63)

    toks = F.array_distinct(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
    df = spread_for_compute(df)
    if hash_family == "md5":
        tok_hash = F.conv(F.substring(F.md5(F.col("__t")), 1, 15),
                          16, 10).cast("long")
    else:
        tok_hash = F.xxhash64("__t")
    tok_hashes = (df.select(F.col(id_col), F.explode(toks).alias("__t"))
                  .select(id_col, tok_hash.alias("__h")))
    votes = tok_hashes.groupBy(id_col).agg(*[
        F.sum(F.when(F.col("__h").bitwiseAND(F.lit(mask_for(b))) != 0, 1)
              .otherwise(-1)).alias(f"__v{b}")
        for b in range(bits)
    ])
    fp = None
    for b in range(bits):
        term = F.when(F.col(f"__v{b}") > 0, F.lit(mask_for(b))).otherwise(F.lit(0))
        fp = term if fp is None else fp.bitwiseOR(term)
    return votes.select(F.col(id_col), fp.alias("simhash"))


def simhash_pairs_from_fingerprints(fps: DataFrame, id_col: str,
                                    max_hamming: int,
                                    fp_col: str = "simhash") -> DataFrame:
    """Band 64-bit fingerprints into ``max_hamming + 1`` chunks (Manku,
    Jain & Sarma, WWW'07: with h differing bits and h+1 chunks, the
    pigeonhole principle guarantees at least one chunk is identical),
    bucket-join on (chunk, value), verify with bit_count(xor).

    A fixed chunk count below ``max_hamming + 1`` silently loses recall
    — e.g. 4 chunks with max_hamming=4 misses every pair whose 4
    differing bits fall one per chunk — so the chunk count is derived,
    never configured. Chunk widths split 64 as evenly as possible
    (width >= 1 requires max_hamming <= 63).
    """
    if not 0 <= max_hamming <= 63:
        raise ValueError("max_hamming must be in [0, 63] for 64-bit SimHash")
    n_chunks = max_hamming + 1
    base, extra = divmod(64, n_chunks)
    widths = [base + (1 if c < extra else 0) for c in range(n_chunks)]
    offsets = [sum(widths[:c]) for c in range(n_chunks)]
    chunks = fps.select(
        id_col, fp_col,
        F.explode(F.array(*[
            F.struct(F.lit(c).alias("chunk"),
                     F.shiftright(fp_col, offsets[c])
                     .bitwiseAND(F.lit((1 << widths[c]) - 1)).alias("val"))
            for c in range(n_chunks)
        ])).alias("cc"),
    ).select(id_col, fp_col, "cc.chunk", "cc.val")
    a = chunks.select(F.col(id_col).alias("id_a"),
                      F.col(fp_col).alias("sh_a"), "chunk", "val")
    b = chunks.select(F.col(id_col).alias("id_b"),
                      F.col(fp_col).alias("sh_b"), "chunk", "val")
    return (a.join(b, on=["chunk", "val"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b",
                    F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
                    .alias("hamming"))
            .distinct()
            .filter(F.col("hamming") <= max_hamming))


def simhash_near_pairs(df: DataFrame, text_col: str, id_col: str,
                       max_hamming: int = 8, bits: int = 64,
                       hash_family: str = "xxhash64") -> DataFrame:
    """Near-dup pairs by SimHash: fingerprint, then Manku-style
    (max_hamming + 1)-chunk banding with exact hamming verify.

    The fingerprints (one 64-bit value per doc) are checkpointed so the
    token-explode + 64-aggregate vote job runs once; both sides of the
    chunk-bucket self-join otherwise recompute it (the plan shows zero
    ReusedExchange). Locally this is noise (6.5 vs 6.9 s warm at
    sf0.1 — the duplicate compute pipelines across idle cores); at
    corpus scale the duplicated subtree is two full corpus scans while
    the materialized fingerprints are doc-count-sized, so the
    checkpoint is the right default. eager=False defers the
    materialization job to the first action; the fault-tolerance trade
    (executor-local blocks, no lineage replay — an executor loss fails
    the job and it re-runs) is the same one graph.py documents."""
    fps = simhash_fingerprints(df, text_col, id_col, bits=bits,
                               hash_family=hash_family) \
        .localCheckpoint(eager=False)
    return simhash_pairs_from_fingerprints(fps, id_col, max_hamming)


def oversized_blocks(df: DataFrame, block_col: str,
                     max_block_rows: int) -> list:
    """Blocking keys whose row count exceeds `max_block_rows` — a
    bounded driver-side list (one entry per oversized key; capped).
    The list is a ROUTING DECISION (is there anything to re-route?),
    not a data path; the actual split goes through
    :func:`split_oversized`'s broadcast join."""
    big = (df.groupBy(block_col).agg(F.count(F.lit(1)).alias("__n"))
           .filter(F.col("__n") > max_block_rows)
           .select(block_col).limit(10_001).collect())
    if len(big) > 10_000:
        raise ValueError("more than 10000 oversized blocks; raise "
                         "max_block_rows or choose a finer block key")
    return [r[block_col] for r in big]


def split_oversized(df: DataFrame, block_col: str,
                    big: list) -> tuple[DataFrame, DataFrame]:
    """(small_part, big_part): rows whose block key is absent/present
    in `big`, via a broadcast anti/semi join against the (≤10k-entry)
    key list. Two wins over the previous `isin(big)` literal filters:
    the plan stays flat no matter how many keys routed (a 10k-literal
    In expression bloats every plan that embeds it twice), and an
    oversized NULL block routes CORRECTLY — `isin` never matches NULL,
    which would have silently left a >max_block_rows NULL-keyed block
    on the quadratic exact path. eqNullSafe treats NULL as one block
    key, consistent with groupBy producing it as one group."""
    from pyspark.sql import types as T

    spark = df.sparkSession
    keys = spark.createDataFrame(
        [(k,) for k in big],
        T.StructType([T.StructField("__big_key",
                                    df.schema[block_col].dataType)]))
    cond = df[block_col].eqNullSafe(keys["__big_key"])
    small = df.join(F.broadcast(keys), on=cond, how="left_anti")
    bigp = df.join(F.broadcast(keys), on=cond, how="left_semi")
    return small, bigp


def ngram_jaccard_pairs(df: DataFrame, text_col: str, id_col: str,
                        block_col: str, n: int = 2,
                        threshold: float = 0.2,
                        max_block_rows: int | None = 100_000) -> DataFrame:
    """Exact word-n-gram Jaccard similarity between all document pairs
    within a blocking key (e.g. language): explode n-grams, self-join
    on (block, ngram), aggregate intersections, compute |A∪B| from
    per-doc sizes.

    The within-block join is quadratic in block size, and natural block
    keys skew hard at corpus scale (an "en" language block ~ the whole
    corpus). Blocks over `max_block_rows` therefore auto-route through
    the MinHash-LSH prefilter (same n-gram definition, same exact
    Jaccard verify on the surviving candidates): pair values stay
    exact, recall on oversized blocks becomes the LSH banding
    probability (high near/above the threshold, tapering below) instead
    of 1.0 — the documented trade that keeps the plan shuffle-bounded
    at 100 TB. ``max_block_rows=None`` forces the exact path for every
    block.
    """
    if max_block_rows is not None:
        big = oversized_blocks(df, block_col, max_block_rows)
        if big:
            small_part, big_part = split_oversized(df, block_col, big)
            routed = minhash_lsh_pairs(
                big_part, text_col, id_col, shingle_n=n,
                jaccard_threshold=threshold, block_col=block_col)
            exact = ngram_jaccard_pairs(small_part, text_col, id_col,
                                        block_col, n, threshold,
                                        max_block_rows=None)
            return exact.unionByName(routed)
    # struct-wrapped block key for the same NULL-safety reason as the
    # LSH path above (the grams self-join and both size joins key on
    # "block" with plain equality); unwrapped in the final select
    grams = spread_for_compute(df).select(
        F.col(id_col).alias("id"),
        F.struct(F.col(block_col).alias("v")).alias("block"),
        F.explode(F.array_distinct(shingles(text_col, n))).alias("g"))
    # one explicit shuffle on the join key: both self-join sides and the
    # size aggregate hang off the same exchange, so the expensive
    # shingle explode is computed once (AQE reuses the exchange) instead
    # of once per consumer
    grams = grams.repartition("block", "g")
    sizes = grams.groupBy("id", "block").agg(F.count(F.lit(1)).alias("n_g"))
    inter = (grams.withColumnRenamed("id", "id_a")
             .join(grams.withColumnRenamed("id", "id_b"), on=["block", "g"])
             .filter(F.col("id_a") < F.col("id_b"))
             .groupBy("block", "id_a", "id_b")
             .agg(F.count(F.lit(1)).alias("n_inter")))
    return (inter
            .join(sizes.select(F.col("id").alias("id_a"), "block",
                               F.col("n_g").alias("n_a")), on=["block", "id_a"])
            .join(sizes.select(F.col("id").alias("id_b"), "block",
                               F.col("n_g").alias("n_b")), on=["block", "id_b"])
            .withColumn("jaccard", F.col("n_inter")
                        / (F.col("n_a") + F.col("n_b") - F.col("n_inter")))
            .filter(F.col("jaccard") >= threshold)
            .select(F.col("block")["v"].alias("block"), "id_a", "id_b",
                    F.round("jaccard", 6).alias("jaccard")))


def shared_spans(df: DataFrame, text_col: str, id_col: str,
                 min_span: int = 40,
                 max_hash_df: int | None = None,
                 n_passes: int = 1,
                 pass_dir: str | None = None) -> DataFrame:
    """X16: cross-document exact repeated-span (substring) dedup — the
    Lee et al. 2022 "Deduplicating Training Data Makes Language Models
    Better" exact-substring family: find every MAXIMAL character span
    of length >= `min_span` shared verbatim between two documents (the
    spans a training pipeline clips out, vs the whole-doc near-dups
    x2/x2b/x2c remove).

    Shape (suffix-array semantics, shuffle-bounded plan):
      1. explode every `min_span`-char window per doc with its
         position: (doc_id, pos, h) where h is the portable md5-60
         window hash (functions/text.py:md5_60 — the same family that
         gives x5d its value-level oracle, so the whole pipeline
         replays bit-for-bit in SQL). Map-only; rows ~= corpus chars.
      2. self-equi-join on h across doc_ids (doc_a < doc_b): a single
         match IS a `min_span`-char exact shared substring (no
         verify step needed — 60-bit hashes make a false window
         collision ~2^-60; both engines hash identically so parity is
         unaffected either way).
      3. merge runs: matches of one shared span lie on one DIAGONAL
         (pos_b - pos_a constant) at consecutive pos_a; standard
         gaps-and-islands (pos_a - row_number over the diagonal) turns
         each run into one row with span_len = run + min_span - 1.

    100 TB argument: the explode is map-only; the join shuffles
    uniform 64-bit keys; the islands window partitions by
    (doc_a, doc_b, diagonal) — bounded by match volume, not corpus
    size. The one quadratic hazard is an ULTRA-HOT window (boilerplate
    shared by k docs -> k^2/2 pairs): `max_hash_df` drops window
    hashes seen more than that many times BEFORE the pair join (the
    Lee et al. repeated-substring frequency cap); both the cap and its
    effect replay exactly in the SQL oracle. None = exact everywhere.

    `n_passes` (r11, VERDICT r10 ask #1) bounds the SINGLE-NODE DISK
    footprint of the fingerprint shuffle: pass k re-runs the map-only
    explode and keeps only windows with ``pmod(h, n_passes) = k``, so
    each pass's shuffle spill is ~1/K of the single-pass volume; the
    per-pass pair reports are materialized (tiny: match volume) and
    unioned before the islands merge. EXACT by hash-range
    disjointness: the per-pass groupBy(h) sees every entry of each of
    its hashes (the filter is a function of h alone), so group
    contents, the df-cap decision, and the emitted pair multiset are
    identical to single-pass; the islands merge runs ONCE over the
    union, so maximal spans never fragment at pass boundaries. Cost:
    K x explode CPU (~15% of wall at 256x) for a K x smaller spill —
    the lever that turned x16c@1024x from a measured ENOSPC (63 GB
    spill vs 47 GB free, SCALE.md round-10) into a measured cell.
    Requires the grouped-pairs cap (<= GROUPED_PAIRS_CAP_MAX): the
    uncapped path's localCheckpoint holds the FULL fingerprint table
    on disk, which defeats the decomposition. On a real cluster the
    same role is played by executor-local disks; K passes are the
    single-box stand-in.

    Execution-model caveats of n_passes > 1 (r12, ADVICE r11):
      - the call is EAGER, unlike every other branch: the K pair-
        report write jobs run at call time, and the returned DataFrame
        READS those parquet files rather than recomputing;
      - by default the files live under the process-scoped scratch
        dir, which is reaped at process exit (and by the orphan
        sweep) — a returned DataFrame consumed after the owning
        process exits, or a plan persisted for later, fails with
        missing files. Pass `pass_dir` (an empty/nonexistent
        directory; the caller owns its lifecycle) when the result
        must outlive the process;
      - the per-pass disk bound relies on a best-effort JVM gc hint
        to the ContextCleaner between passes. The GUARANTEED bound is
        2 x spill/K (two passes may briefly coexist); when the hint
        is unavailable (Spark Connect has no py4j gateway) or the
        cleaner lags, coexistence can degrade toward all-passes —
        size K against that worst case if disk is tight.
    """
    from data_warehouse_spark.functions.colref import qcol
    from data_warehouse_spark.functions.text import md5_60

    w = min_span
    # caller-supplied names resolve through qcol (functions/colref.py):
    # bare F.col would parse a dotted name as struct access
    win_hash = F.transform(
        F.sequence(F.lit(1), F.length(qcol(text_col)) - (w - 1)),
        lambda i: F.struct(
            i.alias("pos"),
            md5_60(F.substr(qcol(text_col), i, F.lit(w))).alias("h")))
    wins = (spread_for_compute(df.filter(F.length(qcol(text_col)) >= w))
            .select(qcol(id_col).alias("doc_id"),
                    F.explode(win_hash).alias("wh"))
            .select("doc_id", F.col("wh.pos").alias("pos"),
                    F.col("wh.h").alias("h")))
    def _grouped_pairs(wsub: DataFrame) -> DataFrame:
        # Grouped-pairs plan (round 10): the df cap bounds every
        # surviving hash group at <= max_hash_df entries, so the pair
        # join collapses into ONE shuffle — groupBy(h).collect_list,
        # drop over-cap groups (the Lee et al. boilerplate rule,
        # applied at the same point as the old keep-join), then expand
        # the <= C(cap, 2) cross-doc pairs per group with nested array
        # transforms, map-only. vs the round-9 join plan this removes
        # the localCheckpoint of the full fingerprint table (which
        # spilled ~20 B/window to disk — the 256x scale ceiling), the
        # keep-join, and the second self-join scan: the explode+md5 —
        # the dominant per-row cost — runs exactly once and the
        # window table crosses the wire exactly once. Task-memory
        # bound: a group materializes up to max_hash_df * ~20 B in
        # one aggregation buffer before the size filter drops it —
        # ENFORCED, not just documented (r11 advice fix): caps above
        # GROUPED_PAIRS_CAP_MAX (~80 KB/group) route through the
        # keep-join + streaming self-join branch below, which honors
        # the same drop-over-cap semantics without ever collecting a
        # group into an array.
        entries = (wsub.groupBy("h")
                   .agg(F.collect_list(F.struct("doc_id", "pos"))
                        .alias("es"))
                   .filter((F.size("es") >= 2)
                           & (F.size("es") <= max_hash_df))
                   .select(F.array_sort("es").alias("es")))
        arr = F.col("es")
        pairs = F.flatten(F.transform(arr, lambda a, i:
            F.transform(
                # es is sorted by (doc_id, pos): entries after index i
                # with a strictly larger doc_id give each cross-doc
                # pair exactly once, oriented doc_a < doc_b — the same
                # multiset the a.h = b.h AND a.doc_id < b.doc_id join
                # produces
                F.filter(F.slice(arr, i + F.lit(2), F.size(arr)),
                         lambda b: a["doc_id"] < b["doc_id"]),
                lambda b: F.struct(a["doc_id"].alias("doc_a"),
                                   b["doc_id"].alias("doc_b"),
                                   a["pos"].alias("pos_a"),
                                   b["pos"].alias("pos_b")))))
        return entries.select(F.explode(pairs).alias("p")).select("p.*")

    grouped = (max_hash_df is not None
               and max_hash_df <= GROUPED_PAIRS_CAP_MAX)
    if n_passes > 1:
        if not grouped:
            raise ValueError(
                "n_passes > 1 requires a grouped-pairs df cap "
                f"(max_hash_df <= {GROUPED_PAIRS_CAP_MAX}): the "
                "uncapped path checkpoints the full fingerprint "
                "table, defeating the per-pass disk bound")
        spark = df.sparkSession
        if pass_dir is None:
            from data_warehouse_spark.scratch import process_dir
            # unique dir per call (a shared wiped-per-call tag would
            # break a previously returned DataFrame that still reads
            # its pass files); bounded: pair reports are match-volume-
            # sized and the parent process_dir is reaped atexit + on
            # orphan sweep. Callers needing the result to OUTLIVE the
            # process pass their own pass_dir (docstring caveats).
            base = os.path.join(process_dir("dws_scratch"),
                                f"span_passes_{next(_PASS_SEQ)}")
        else:
            base = pass_dir
        paths = []
        for k in range(n_passes):
            hk = _grouped_pairs(
                wins.filter(F.pmod(F.col("h"), F.lit(n_passes)) == k))
            p = os.path.join(base, f"pass{k}")
            hk.write.mode("overwrite").parquet(p)
            paths.append(p)
            # Drop the pass's plan and prompt the JVM ContextCleaner
            # to delete its shuffle files BEFORE the next pass spills:
            # without this, all K passes' shuffle files coexist and
            # the decomposition saves nothing. Cleanup is async, so
            # the budget below still assumes two passes may briefly
            # coexist (2 x spill/K must fit free disk). Best-effort
            # only: Spark Connect exposes no py4j gateway (_jvm raises
            # AttributeError) — skip the hint there; the guaranteed
            # bound stays 2 x spill/K, degrading toward all-passes-
            # coexist only if the cleaner lags (docstring caveats).
            del hk
            try:
                spark._jvm.System.gc()
            except AttributeError:
                pass
        hits = spark.read.parquet(*paths)
    elif grouped:
        hits = _grouped_pairs(wins)
    else:
        # Exact-everywhere path (no cap), and the routing target for
        # caps ABOVE GROUPED_PAIRS_CAP_MAX: group sizes are unbounded
        # (two identical 1 GB documents = one giant group), so pairs
        # must come from a streaming self-join, never a collected
        # array. wins feeds both join sides; without pinning,
        # Catalyst's self-join dedup re-aliases each branch and
        # re-runs the explode + per-window md5 2x. Lazy
        # localCheckpoint computes it once (the x7_tfidf pattern; on
        # a cluster the same role is played by writing the
        # fingerprint table, which x2e materializes).
        wins = wins.localCheckpoint(eager=False)
        if max_hash_df is not None:
            # Large-cap keep-join (the round-9 plan shape): drop
            # over-cap hashes BEFORE the pair join via a counts-only
            # aggregate + left-semi join — same pair multiset as the
            # grouped-pairs branch for the same cap, group never
            # materialized.
            keep = (wins.groupBy("h")
                    .agg(F.count(F.lit(1)).alias("__df"))
                    .filter((F.col("__df") >= 2)
                            & (F.col("__df") <= max_hash_df))
                    .select("h"))
            # pin the FILTERED table too: the self-join below would
            # otherwise evaluate the keep aggregate + semi join once
            # per side unless Catalyst's exchange reuse happens to
            # dedupe them (r11 review — same rationale as the explode
            # pin above)
            wins = (wins.join(keep, on="h", how="left_semi")
                    .localCheckpoint(eager=False))
        hits = (wins.alias("a")
                .join(wins.alias("b"),
                      (F.col("a.h") == F.col("b.h"))
                      & (F.col("a.doc_id") < F.col("b.doc_id")))
                .select(F.col("a.doc_id").alias("doc_a"),
                        F.col("b.doc_id").alias("doc_b"),
                        F.col("a.pos").alias("pos_a"),
                        F.col("b.pos").alias("pos_b")))
    diag = hits.withColumn("diag", F.col("pos_b") - F.col("pos_a"))
    w_run = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    islands = diag.withColumn(
        "grp", F.col("pos_a") - F.row_number().over(w_run))
    return (islands.groupBy("doc_a", "doc_b", "diag", "grp")
            .agg(F.min("pos_a").alias("a_start"),
                 (F.max("pos_a") - F.min("pos_a") + w).alias("span_len"))
            .select("doc_a", "doc_b", "a_start",
                    (F.col("a_start") + F.col("diag")).alias("b_start"),
                    "span_len"))


def remove_shared_spans(df: DataFrame, text_col: str, id_col: str,
                        min_span: int = 40,
                        max_hash_df: int | None = None,
                        n_passes: int = 1,
                        pass_dir: str | None = None) -> DataFrame:
    """X16b: excise the spans shared_spans detects — the cleaned corpus
    a training run actually consumes (Lee et al. 2022 clip the shared
    substrings out; X16 alone only reports them).

    Policy: KEEP-FIRST — every span is cut from the pair's HIGHER
    doc_id (doc_b; shared_spans guarantees doc_a < doc_b), so one copy
    of the text survives in the lowest-id document that carries it.
    (Lee et al.'s strictest variant drops every occurrence; that is
    the same pipeline with the doc_a side unioned into the cut list.)

    FIXED POINT (r11, property-tested in tests/test_properties.py):
    one pass is idempotent when no shared span nests inside another —
    excision then returns the victim to text whose adjacencies all
    pre-existed. It is NOT idempotent in general: a splice junction
    can CREATE a >=min_span match (cut S out of u+S+v and u+v becomes
    adjacent; if u+v matches another doc — e.g. a span planted inside
    another span — pass 2 finds it). Pipelines needing a guaranteed
    clean corpus iterate until sum(n_cut) = 0; convergence is fast
    because every pass strictly shrinks total corpus length.

    Shape, all pure column expressions (no UDF):
      1. cut list: (doc_id=doc_b, [b_start, b_start+span_len)) from
         shared_spans, distinct (one span can surface via several
         doc_a partners).
      2. per-doc interval UNION-MERGE: classic gaps-and-islands — a
         running max of interval ends over (s, e) order opens a new
         island exactly when s > max(e) seen so far; overlapping AND
         adjacent cuts collapse to one excision (removing [1,5)+[5,9)
         equals removing [1,9)).
      3. excision: merged intervals collect to a sorted array per doc
         (bounded: merged DISJOINT spans per doc <= len/min_span) and
         one F.aggregate fold concatenates the kept segments —
         substr(text, prev_end, s - prev_end) per interval plus the
         tail — entirely JVM-side.

    100 TB argument: steps 1-2 shuffle only the span list (match
    volume, not corpus size); step 3 joins the corpus LEFT to the
    per-doc interval table — docs without cuts pass through untouched
    and AQE broadcasts the interval side when it is small (the common
    case: most of a deduped corpus has no 40-char verbatim overlap).
    Text moves through exactly one map stage; it is never shuffled.
    """
    spans = shared_spans(df, text_col, id_col, min_span=min_span,
                         max_hash_df=max_hash_df, n_passes=n_passes,
                         pass_dir=pass_dir)
    cuts = (spans.select(
                F.col("doc_b").alias("__sid"),
                F.col("b_start").cast("int").alias("s"),
                (F.col("b_start") + F.col("span_len")).cast("int").alias("e"))
            .distinct())
    w_ord = Window.partitionBy("__sid").orderBy("s", "e")
    prev_max = F.max("e").over(
        w_ord.rowsBetween(Window.unboundedPreceding, -1))
    merged = (cuts
              .withColumn("__new", F.when(prev_max.isNull()
                                          | (F.col("s") > prev_max), 1)
                          .otherwise(0))
              .withColumn("__isl", F.sum("__new").over(w_ord))
              .groupBy("__sid", "__isl")
              .agg(F.min("s").alias("s"), F.max("e").alias("e")))
    ints = merged.groupBy("__sid").agg(
        F.array_sort(F.collect_list(F.struct("s", "e"))).alias("__ints"),
        F.count(F.lit(1)).cast("long").alias("__n_cut"))
    from data_warehouse_spark.functions.colref import qcol
    t = qcol(text_col)  # caller name: dotted/backticked-safe
    # internals referenced THROUGH the ints frame, not F.col: a caller
    # frame that legitimately carries a column named __ints/__n_cut
    # would otherwise make the post-join reference ambiguous (second
    # r10 review pass)
    iarr, ncut = ints["__ints"], ints["__n_cut"]
    init = F.struct(F.lit(1).cast("int").alias("p"),
                    F.lit("").alias("acc"))
    folded = F.aggregate(
        iarr, init,
        lambda a, iv: F.struct(
            iv["e"].alias("p"),
            F.concat(a["acc"],
                     F.substr(t, a["p"], iv["s"] - a["p"])).alias("acc")),
        lambda a: F.concat(a["acc"], F.substr(t, a["p"])))
    return (df.join(ints, qcol(id_col) == ints["__sid"], "left")
            .select(qcol(id_col),
                    F.when(iarr.isNull(), t)
                    .otherwise(folded).alias("text_clean"),
                    F.coalesce(ncut, F.lit(0).cast("long"))
                    .alias("n_cut")))


def remove_shared_spans_to_fixpoint(df: DataFrame, text_col: str,
                                    id_col: str, min_span: int = 40,
                                    max_hash_df: int | None = None,
                                    n_passes: int = 1,
                                    max_rounds: int = 8) -> DataFrame:
    """X16b to CONVERGENCE: re-run remove_shared_spans until a round
    cuts nothing — the guaranteed-clean corpus for pipelines exposed
    to the splice-junction class (one removal pass is idempotent only
    when no shared span nests inside another; see remove_shared_spans
    FIXED POINT note and tests/test_properties.py). Convergence is
    finite because every non-trivial round strictly shrinks total
    corpus length; real corpora converge in 1-2 rounds (the junction
    counterexample takes 3). Returns (id_col, text_clean, n_cut_total,
    n_rounds) with n_cut_total summed across rounds. Each round
    materializes the cleaned text with an eager localCheckpoint:
    round k+1's detection must not re-execute rounds 1..k's excision
    fold (the x8 lineage-truncation rationale; on a cluster, a real
    checkpoint dir or an intermediate table plays this role)."""
    from data_warehouse_spark.functions.colref import qcol

    cur = df.select(qcol(id_col), qcol(text_col).alias("__text"))
    total = None
    for rnd in range(1, max_rounds + 1):
        out = remove_shared_spans(cur, "__text", id_col,
                                  min_span=min_span,
                                  max_hash_df=max_hash_df,
                                  n_passes=n_passes)
        out = out.localCheckpoint(eager=True)
        cut = out.agg(F.sum("n_cut")).collect()[0][0] or 0
        per_round = out.select(qcol(id_col),
                               F.col("text_clean").alias("__text"),
                               F.col("n_cut"))
        total = (per_round.select(qcol(id_col), "__text",
                                  F.col("n_cut").alias("__total"))
                 if total is None else
                 total.drop("__text")
                 .join(per_round, on=[id_col])
                 .select(qcol(id_col), "__text",
                         (F.col("__total") + F.col("n_cut"))
                         .alias("__total")))
        cur = total.select(qcol(id_col), "__text")
        if cut == 0:
            return total.select(qcol(id_col),
                                F.col("__text").alias("text_clean"),
                                F.col("__total").alias("n_cut_total"),
                                F.lit(rnd).cast("int").alias("n_rounds"))
    raise RuntimeError(
        f"span removal did not reach a fixpoint in {max_rounds} "
        "rounds — adversarially nested corpus; raise max_rounds")
