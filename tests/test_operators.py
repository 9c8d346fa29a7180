"""Unit/property tests for composite operators (merge, dedup, joins,
similarity) — the reference's semantic-validity checks re-expressed as
asserts (SURVEY §5)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from data_warehouse_spark import io
from data_warehouse_spark.io import load_table
from data_warehouse_spark.operators.dedup import (
    exact_dedup, minhash_lsh_pairs, simhash_near_pairs,
    simhash_pairs_from_fingerprints,
)
from data_warehouse_spark.operators.joins import asof_join
from data_warehouse_spark.operators.merge import upsert
from data_warehouse_spark.operators.similarity import cosine_topk, ivf_topk


def test_upsert_semantics_and_idempotency(spark):
    old = spark.createDataFrame([Row(k=1, v="a"), Row(k=2, v="b")])
    new = spark.createDataFrame([Row(k=2, v="B"), Row(k=3, v="C")])
    once = upsert(old, new, ["k"])
    assert {(r.k, r.v) for r in once.collect()} == {(1, "a"), (2, "B"), (3, "C")}
    twice = upsert(once, new, ["k"])
    assert {(r.k, r.v) for r in twice.collect()} == {(1, "a"), (2, "B"), (3, "C")}


def test_asof_join_picks_nearest_preceding(spark):
    import datetime as dt
    t = lambda m: dt.datetime(2024, 1, 1, 0, m)  # noqa: E731
    left = spark.createDataFrame(
        [Row(k=1, ts=t(10)), Row(k=1, ts=t(30)), Row(k=2, ts=t(5))])
    right = spark.createDataFrame(
        [Row(k=1, rts=t(8), w=1.0), Row(k=1, rts=t(25), w=2.0),
         Row(k=2, rts=t(7), w=9.0)])
    out = asof_join(left, right, on="k", left_ts="ts", right_ts="rts",
                    value_cols=["rts", "w"])
    got = {(r.k, r.ts.minute): (r.w, r.rts.minute if r.rts else None)
           for r in out.collect()}
    assert got[(1, 10)] == (1.0, 8)
    assert got[(1, 30)] == (2.0, 25)
    assert got[(2, 5)] is not None and got[(2, 5)][1] is None or got[(2, 5)] == (None, None)


def test_exact_dedup_collapses_copies(spark):
    df = spark.createDataFrame(
        [Row(id=1, text="hello world"), Row(id=2, text="hello world"),
         Row(id=3, text="different")])
    out = {r.canonical_id: r.n_copies
           for r in exact_dedup(df, "text", "id").collect()}
    assert out == {1: 2, 3: 1}


def test_minhash_finds_planted_near_dup(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(50)
    # plant a near-dup: doc 0's text with one word appended
    planted = docs.filter(F.col("doc_id") == 0).select(
        (F.col("doc_id") + 9000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail")).alias("text"))
    corpus = docs.select("doc_id", "text").unionByName(planted)
    pairs = minhash_lsh_pairs(corpus, "text", "doc_id",
                              jaccard_threshold=0.5).collect()
    assert any({p.id_a, p.id_b} == {0, 9000} for p in pairs)
    for p in pairs:
        assert p.jaccard >= 0.5


def test_lsh_broadcast_gate_falls_back_above_cap(spark, sf_dir, monkeypatch):
    """r17 (VERDICT r16 ask #3): the candidate-tail broadcast hints are
    size-gated. At an adversarial dup rate the tail is O(corpus) and
    the r16 unconditional hint would hard-fail at the 8 GB / 512M-row
    broadcast cap; above the cap the prefilter must fall back to the
    unhinted shuffle semi-join with row-identical output. The corpus below is fully duplicated (every doc has a
    near-dup), modeling the adversarial rate; the cap is forced to 0
    so the fixture-sized tail takes the fallback path.

    The plan assertion targets exactly what the gate controls: the
    RESOLVED BROADCAST HINT on the prefilter semi-join (printed as
    `strategy=broadcast` in the optimized logical plan). The physical
    join strategy is deliberately NOT asserted — at fixture scale the
    limit gives the planner real stats and it may broadcast on its own
    (stats-backed, under autoBroadcastJoinThreshold — the safe kind),
    and after execution AQE can re-plan from runtime stats; at the
    production scale the gate protects, the tail is an ExistingRDD
    with no stats and the unhinted plan is the pre-r16 SMJ semi (the
    shape in ddece72:plans/r16/x2_minhash_lsh_before.txt)."""

    docs = load_table(spark, sf_dir, "documents").limit(40) \
        .select("doc_id", "text")
    planted = docs.select((F.col("doc_id") + 9000).alias("doc_id"),
                          F.concat("text", F.lit(" t")).alias("text"))
    corpus = docs.unionByName(planted)

    def run():
        df = minhash_lsh_pairs(corpus, "text", "doc_id",
                               jaccard_threshold=0.5)
        hints = df._jdf.queryExecution().optimizedPlan() \
            .toString().count("strategy=broadcast")
        rows = sorted((r.id_a, r.id_b, r.jaccard) for r in df.collect())
        return rows, hints

    hinted_rows, hints = run()
    assert hints > 0                           # normal-corpus hint intact
    assert len(hinted_rows) >= 40              # the dup rate really is ~100%
    monkeypatch.setattr(io, "BCAST_ID_CAP", 0)
    fallback_rows, fallback_hints = run()
    assert fallback_rows == hinted_rows
    assert fallback_hints == 0                 # above the cap: no hint


def test_lsh_broadcast_gate_incremental_and_cosine(spark, sf_dir, monkeypatch):
    """Same gate on the other three sites (x2g incremental, probe,
    cosine LSH): cap 0 must flip them to the fallback with identical
    rows."""
    from data_warehouse_spark.operators.dedup import minhash_lsh_incremental
    from data_warehouse_spark.operators.similarity import cosine_lsh_pairs

    docs = load_table(spark, sf_dir, "documents").limit(30) \
        .select("doc_id", "text")
    batch = docs.select((F.col("doc_id") + 9000).alias("doc_id"),
                        F.concat("text", F.lit(" t")).alias("text"))
    vecs = load_table(spark, sf_dir, "embeddings").limit(50)

    def run_all():
        inc = sorted(map(tuple, minhash_lsh_incremental(
            docs, batch, "text", "doc_id").collect()))
        cos = sorted(map(tuple, cosine_lsh_pairs(
            vecs, "embedding", "vec_id", threshold=0.8).collect()))
        return inc, cos

    before = run_all()
    monkeypatch.setattr(io, "BCAST_ID_CAP", 0)
    assert run_all() == before


def test_lsh_jaccard_threshold_must_be_positive(spark, sf_dir):
    """ADVICE r16: the array-form verify keeps zero-intersection pairs
    until the threshold filter, so threshold <= 0 would diverge from
    the exploded form — every entry point refuses it loudly."""
    from data_warehouse_spark.operators.dedup import (
        minhash_lsh_incremental, minhash_probe_index,
    )
    docs = load_table(spark, sf_dir, "documents").limit(5) \
        .select("doc_id", "text")
    with pytest.raises(ValueError, match="jaccard_threshold"):
        minhash_lsh_pairs(docs, "text", "doc_id", jaccard_threshold=0.0)
    with pytest.raises(ValueError, match="jaccard_threshold"):
        minhash_lsh_incremental(docs, docs, "text", "doc_id",
                                jaccard_threshold=-0.5)
    with pytest.raises(ValueError, match="jaccard_threshold"):
        minhash_probe_index(docs, docs, lambda ids: docs, "text",
                            "doc_id", jaccard_threshold=0.0)


def test_minhash_band_divisibility_fails_loudly(spark, sf_dir):
    """ADVICE r12 item #2: num_hashes not divisible by bands used to
    silently drop trailing signature rows from every band (recall
    loss with no error). Both the all-pairs and incremental forms
    must refuse the misconfiguration before any job runs."""
    from data_warehouse_spark.operators.dedup import minhash_lsh_incremental
    docs = load_table(spark, sf_dir, "documents").limit(10) \
        .select("doc_id", "text")
    with pytest.raises(ValueError, match="not divisible"):
        minhash_lsh_pairs(docs, "text", "doc_id", num_hashes=32, bands=5)
    with pytest.raises(ValueError, match="not divisible"):
        minhash_lsh_incremental(docs, docs, "text", "doc_id",
                                num_hashes=32, bands=5)


def test_planted_copy_id_guard_errors_on_amplified_ids(spark):
    """ADVICE r12 item #3: x2d/x17's +100000 planted-copy offset must
    ERROR on an id space that would collide (amplified fixtures salt
    vec_id to vec_id*n + copy), never silently corrupt ids."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException
    from data_warehouse_spark.queries.llm_vector import _planted_copy_id
    ok = spark.sql("SELECT CAST(99999 AS BIGINT) AS vec_id") \
        .select(_planted_copy_id().alias("v")).collect()
    assert ok[0].v == 199999
    bad = spark.sql("SELECT CAST(100000 AS BIGINT) AS vec_id") \
        .select(_planted_copy_id().alias("v"))
    with pytest.raises((Py4JJavaError, SparkRuntimeException),
                       match="planted-copy id offset collides"):
        bad.collect()


def test_minhash_probe_index_matches_inline_form(spark, sf_dir):
    """Round-13 (VERDICT r12 ask #5): the persisted-index probe path
    (minhash_band_index -> minhash_probe_index) must return ROW-FOR-ROW
    what minhash_lsh_incremental computes inline from the same corpus
    and batch — the split exists for the persisted-artifact lifecycle,
    never for different semantics. fetch_texts here is a semi-join
    back into the corpus (the test's stand-in for the production
    point-lookup)."""
    from data_warehouse_spark.operators.dedup import (
        minhash_band_index, minhash_lsh_incremental, minhash_probe_index,
    )
    docs = load_table(spark, sf_dir, "documents") \
        .select("doc_id", "text").limit(60)
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    # batch: some exact re-arrivals, one near-dup, some novel docs
    rearrive = corpus.limit(5).select(
        (F.col("doc_id") + 50_000).alias("doc_id"), "text")
    neardup = corpus.limit(1).select(
        (F.col("doc_id") + 60_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail tok")).alias("text"))
    novel = docs.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 70_000).alias("doc_id"), "text")
    batch = rearrive.unionByName(neardup).unionByName(novel)

    inline = {tuple(r) for r in minhash_lsh_incremental(
        corpus, batch, "text", "doc_id").collect()}

    index = minhash_band_index(corpus, "text", "doc_id")

    def fetch(ids):
        return corpus.join(ids, on="doc_id", how="left_semi")

    probed = {tuple(r) for r in minhash_probe_index(
        index, batch, fetch, "text", "doc_id").collect()}
    assert probed == inline
    assert any(r[3] for r in probed)  # some dup actually found


@pytest.mark.slow  # r17: heavyweight lane, out of the default driver gate (pytest.ini)
def test_x16_shared_spans_planted_exact_bounds(spark):
    """X16 (round-9): a planted 64-char span shared verbatim by two
    otherwise-disjoint documents must come back as exactly ONE maximal
    span with exact 1-based offsets and length; sub-threshold overlap
    must not report; the hot-hash cap must drop everything at df=1."""
    from data_warehouse_spark.operators.dedup import shared_spans

    import hashlib
    # aperiodic shared text (a periodic string would match on several
    # diagonals and split the expected single maximal span)
    shared = "".join(hashlib.md5(f"s{i}".encode()).hexdigest()[:4]
                     for i in range(16))
    assert len(shared) == 64
    short = "tiny common bit"  # < 40 chars: below the span threshold
    # disjoint filler alphabets guarantee no accidental 40-char overlap
    d1 = "a" * 30 + shared + "q" * 25 + short
    d2 = "z" * 51 + shared + "m" * 20
    d3 = short + "b" * 60
    df = spark.createDataFrame([(1, d1), (2, d2), (3, d3)],
                               "doc_id long, text string")

    rows = shared_spans(df, "text", "doc_id", min_span=40).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.doc_a, r.doc_b) == (1, 2)
    assert r.span_len == 64          # maximal, not clipped or extended
    assert r.a_start == 31           # 1-based: after "a"*30
    assert r.b_start == 52           # 1-based: after "z"*51

    # every shared window has df>=2, so a df<=1 cap drops them all
    assert shared_spans(df, "text", "doc_id", min_span=40,
                        max_hash_df=1).count() == 0

    # cap-routing equivalence (r11 advice fix): a cap above
    # GROUPED_PAIRS_CAP_MAX takes the keep-join + streaming self-join
    # branch instead of collect_list, with identical results — both
    # when the cap doesn't bind (= exact path) and when it does
    from data_warehouse_spark.operators.dedup import GROUPED_PAIRS_CAP_MAX
    big = GROUPED_PAIRS_CAP_MAX + 1
    small_rows = sorted(map(tuple, shared_spans(
        df, "text", "doc_id", min_span=40, max_hash_df=64).collect()))
    big_rows = sorted(map(tuple, shared_spans(
        df, "text", "doc_id", min_span=40, max_hash_df=big).collect()))
    assert big_rows == small_rows == sorted(map(tuple, rows))
    # binding case: 3 copies of the span -> every window df=3; a df<=2
    # cap must drop all pairs on BOTH branches. Caps between 2 and 63
    # can't hit the large-cap branch, so plant df=3 and cap at 2 via
    # a 3rd copy, then compare branch behavior through the public cap
    # semantics: grouped branch cap=2 == large-branch semantics at
    # df=3 (both empty).
    df3 = spark.createDataFrame(
        [(1, d1), (2, d2), (3, "y" * 17 + shared + "w" * 33)],
        "doc_id long, text string")
    assert shared_spans(df3, "text", "doc_id", min_span=40,
                        max_hash_df=2).count() == 0
    assert shared_spans(df3, "text", "doc_id", min_span=40,
                        max_hash_df=big).count() == 3  # (1,2)(1,3)(2,3)

    # K-pass hash-range decomposition (r11): identical span report —
    # per-pass groupBy(h) sees every entry of its hashes, the union of
    # pass pair-reports is the single-pass multiset, and the islands
    # merge runs once so maximal spans never fragment across passes.
    # n_passes=3 doesn't divide the hash space evenly and 7 exceeds
    # the distinct-window count of some docs — both must still agree.
    for np_ in (3, 7):
        multi = sorted(map(tuple, shared_spans(
            df3, "text", "doc_id", min_span=40,
            max_hash_df=64, n_passes=np_).collect()))
        single = sorted(map(tuple, shared_spans(
            df3, "text", "doc_id", min_span=40,
            max_hash_df=64).collect()))
        assert multi == single and len(single) == 3
    import pytest as _pytest
    with _pytest.raises(ValueError):
        shared_spans(df3, "text", "doc_id", min_span=40,
                     max_hash_df=None, n_passes=2)


def test_x16b_span_removal_planted(spark):
    """X16b (round-10): planted spans VANISH from the pair's higher
    doc_id, the first copy and non-shared text are byte-identical,
    overlapping + adjacent cuts merge to one excision, and a doc that
    is pure duplicate text empties out."""
    import hashlib

    from data_warehouse_spark.operators.dedup import remove_shared_spans

    shared = "".join(hashlib.md5(f"r{i}".encode()).hexdigest()[:4]
                     for i in range(16))  # 64 aperiodic chars
    shared2 = "".join(hashlib.md5(f"u{i}".encode()).hexdigest()[:4]
                      for i in range(13))  # 52 chars, disjoint family
    d0 = "c" * 45 + shared2 + "d" * 33         # first copy of shared2
    d1 = "a" * 30 + shared + "q" * 25          # first copy of shared
    d2 = "z" * 51 + shared + "m" * 20          # later copy: excised
    d3 = "b" * 70                              # untouched
    d4 = shared + shared2                      # LOWEST-id copy of
    #     neither piece: two cuts, adjacent -> merged -> empties out
    docs = {0: d0, 1: d1, 2: d2, 3: d3, 4: d4}
    df = spark.createDataFrame(sorted(docs.items()),
                               "doc_id long, text string")
    out = {r.doc_id: r for r in
           remove_shared_spans(df, "text", "doc_id",
                               min_span=40).collect()}
    assert set(out) == set(docs)  # left join: every doc survives
    # first copies and no-overlap docs byte-identical, n_cut 0
    for kept in (0, 1, 3):
        assert out[kept].text_clean == docs[kept]
        assert out[kept].n_cut == 0
    # the later copy loses exactly the span; flanks byte-identical
    assert out[2].text_clean == "z" * 51 + "m" * 20
    assert out[2].n_cut == 1
    # doc 4 is nothing but other docs' text: adjacent cuts merge to
    # ONE excision and the doc empties
    assert out[4].text_clean == ""
    assert out[4].n_cut == 1


def test_x16c_sparse_corpus_matches_closed_form(spark, sf_dir):
    """X16c (round-10): the sparse-sharing synthetic corpus has a
    CLOSED-FORM answer — exactly one maximal 128-char span per planted
    pair (2p, 2p+1) with pair % 3 == 0, at offsets 65 + 32*(doc_id%5)
    — and the registry pipeline must reproduce it exactly. This pins
    the generator (unique bodies, linear match volume: the property
    that makes the scale lane honest) AND the detector at once."""
    from data_warehouse_spark.io import load_table
    from data_warehouse_spark.queries.llm_text import x16c_span_dedup_sparse

    ids = sorted(r.doc_id for r in
                 load_table(spark, sf_dir, "documents")
                 .select("doc_id").collect())
    present = set(ids)
    want = {}
    for p in range(0, (max(ids) // 2) + 1, 3):
        a, b = 2 * p, 2 * p + 1
        if a in present and b in present:
            want[(a, b)] = (65 + 32 * (a % 5), 65 + 32 * (b % 5))
    rows = x16c_span_dedup_sparse(spark, sf_dir).collect()
    got = {(r.doc_a, r.doc_b): (r.a_start, r.b_start, r.span_len)
           for r in rows}
    assert len(rows) == len(got) == len(want)  # one maximal span/pair
    for (a, b), (pa, pb) in want.items():
        ra, rb, rl = got[(a, b)]
        # the detected MAXIMAL span must contain the planted 128 chars
        # on the planted diagonal; body chars are hex, so a genuine
        # shared extension of k extra chars occurs at p = 16^-k per
        # side — bound it at 12 (p ~ 2^-48 of a false failure)
        left_ext = pa - ra
        right_ext = rl - 128 - left_ext
        assert rb - ra == pb - pa, (a, b)          # planted diagonal
        assert 0 <= left_ext <= 12, (a, b, ra)     # contains, bounded
        assert 0 <= right_ext <= 12, (a, b, rl)


def test_x2f_sparse_minhash_matches_closed_form(spark, sf_dir):
    """X2f (round-10): the sparse corpus has a closed-form answer —
    every planted pair (2p, 2p+1), pair % 3 == 0, shares exactly 56 of
    its 58 distinct 3-gram shingles (Jaccard 56/60 = 0.933333), and NO
    other cross-doc pair shares any gram. The md5-family banding is
    deterministic given the ids, and on the fixture id range it
    detects every planted pair (per-pair miss p ~ 1e-5; a miss would
    be engine-identical and caught here loudly). No false pairs."""
    from data_warehouse_spark.io import load_table
    from data_warehouse_spark.queries.llm_text import x2f_minhash_sparse

    ids = sorted(r.doc_id for r in
                 load_table(spark, sf_dir, "documents")
                 .select("doc_id").collect())
    present = set(ids)
    want = {(2 * p, 2 * p + 1)
            for p in range(0, (max(ids) // 2) + 1, 3)
            if 2 * p in present and 2 * p + 1 in present}
    rows = x2f_minhash_sparse(spark, sf_dir).collect()
    got = {(r.id_a, r.id_b): r.jaccard for r in rows}
    assert set(got) == want
    assert all(j == 0.933333 for j in got.values()), got
    """Two identical documents share one span covering the whole text."""
    from data_warehouse_spark.operators.dedup import shared_spans

    import hashlib
    text = "".join(hashlib.md5(f"t{i}".encode()).hexdigest()[:4]
                   for i in range(30))  # 120 aperiodic chars
    df = spark.createDataFrame([(10, text), (20, text)],
                               "doc_id long, text string")
    rows = shared_spans(df, "text", "doc_id", min_span=40).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.doc_a, r.doc_b, r.a_start, r.b_start) == (10, 20, 1, 1)
    assert r.span_len == 120


def test_simhash_planted_dup_hamming_zero(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(30)
    exact_copy = docs.filter(F.col("doc_id") == 1).select(
        (F.col("doc_id") + 9000).alias("doc_id"), "text")
    corpus = docs.select("doc_id", "text").unionByName(exact_copy)
    pairs = simhash_near_pairs(corpus, "text", "doc_id", max_hamming=3).collect()
    match = [p for p in pairs if {p.id_a, p.id_b} == {1, 9001}]
    assert match and match[0].hamming == 0


def test_simhash_banding_catches_one_bit_per_chunk(spark):
    """Recall regression test for the Manku banding fix: a hamming-4
    pair whose 4 differing bits fall one per 16-bit quarter (bits 0,
    16, 32, 48) shares NO chunk under the old fixed 4x16 banding and
    was silently missed. With max_hamming+1 = 5 chunks the pigeonhole
    guarantee holds and the pair must surface."""
    spread = (1 << 0) | (1 << 16) | (1 << 32) | (1 << 48)
    fps = spark.createDataFrame(
        [Row(id=1, simhash=0), Row(id=2, simhash=spread),
         # control: hamming 5 > max_hamming must not pass the verify
         Row(id=3, simhash=spread | (1 << 60))])
    out = simhash_pairs_from_fingerprints(fps, "id", max_hamming=4).collect()
    got = {(r.id_a, r.id_b): r.hamming for r in out}
    assert got.get((1, 2)) == 4, f"spread-bit pair missed: {got}"
    assert (1, 3) not in got


def test_simhash_rejects_invalid_max_hamming(spark):
    import pytest
    fps = spark.createDataFrame([Row(id=1, simhash=0)])
    with pytest.raises(ValueError):
        simhash_pairs_from_fingerprints(fps, "id", max_hamming=64)


def test_upsert_collapses_duplicate_keys_within_batch(spark):
    """PK contract (trips_lambda.py:180-206): one surviving row per key
    even when a single batch carries the same key twice; with order_col
    the highest-ordered version wins deterministically."""
    old = spark.createDataFrame([Row(k=1, v=10, ver=0)])
    new = spark.createDataFrame(
        [Row(k=1, v=20, ver=1), Row(k=1, v=30, ver=2),
         Row(k=2, v=40, ver=1), Row(k=2, v=50, ver=2)])
    out = upsert(old, new, ["k"], order_col="ver")
    assert {(r.k, r.v) for r in out.collect()} == {(1, 30), (2, 50)}
    # without order_col: still exactly one row per key
    arbitrary = upsert(old, new, ["k"])
    counts = arbitrary.groupBy("k").count().collect()
    assert all(r["count"] == 1 for r in counts)


def test_asof_join_tie_break_is_partition_invariant(spark):
    """Several right rows sharing (key, ts): the winner must be the
    same whatever the physical partitioning — the content-hash sort key
    makes last() deterministic across shuffles."""
    import datetime as dt
    t = dt.datetime(2024, 1, 1, 0, 10)
    left = spark.createDataFrame([Row(k=1, ts=t)])
    right = spark.createDataFrame(
        [Row(k=1, rts=t, w=float(i)) for i in range(8)])
    outs = []
    for nparts in (1, 3, 7):
        out = asof_join(left, right.repartition(nparts), on="k",
                        left_ts="ts", right_ts="rts", value_cols=["w"])
        outs.append([r.w for r in out.collect()])
    assert outs[0] == outs[1] == outs[2]
    assert len(outs[0]) == 1 and outs[0][0] in {float(i) for i in range(8)}


def test_merge_read_failure_raises_instead_of_dropping(spark, sf_dir, tmp_path):
    """A corrupt/unreadable existing target must fail the merge loudly.
    The old bare-except path classified any read error as 'first load'
    and the dynamic overwrite then dropped the old rows of every
    touched partition."""
    import os

    import pytest

    from data_warehouse_spark.operators.merge import merge_into_partitioned

    target = str(tmp_path / "fact")
    os.makedirs(target)
    with open(os.path.join(target, "part-00000.parquet"), "wb") as f:
        f.write(b"this is not a parquet file")

    batch = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "value").limit(10)
    with pytest.raises(Exception):
        merge_into_partitioned(spark, target, batch,
                               keys=["event_id"], ts_col="ts")
    # the corrupt target was not clobbered by a new-only overwrite
    with open(os.path.join(target, "part-00000.parquet"), "rb") as f:
        assert f.read() == b"this is not a parquet file"


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = list(emb.filter(F.col("vec_id") == 0).select("embedding").first()[0])
    exact = [r.vec_id for r in
             cosine_topk(emb, "embedding", "vec_id", q, k=10).collect()]
    approx = [r.vec_id for r in
              ivf_topk(emb, "embedding", "vec_id", q, k=10,
                       n_cells=8, nprobe=4).collect()]
    # the query vector itself must be found, and recall should be decent
    assert 0 in approx
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.5, f"IVF recall too low: {recall}"


def test_merge_into_partitioned_rewrites_only_touched_partitions(spark, sf_dir, tmp_path):
    """The 100 TB upsert path: a one-day batch must leave every other
    date partition's files untouched on disk, and a ts-range scan of
    the result must prune partitions (PartitionFilters in the plan)."""
    import os

    from data_warehouse_spark.io import load_table, write_partitioned
    from data_warehouse_spark.operators.merge import merge_into_partitioned

    target = str(tmp_path / "fact")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value")
    # fragmented target (several unsorted files per date), so the merge
    # reads the touched date back through several tasks
    write_partitioned(ev.repartition(4), target, ts_col="ts")

    def file_states(root):
        out = {}
        for dirp, _, files in os.walk(root):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(dirp, f)
                    out[p] = os.path.getmtime(p)
        return out

    before = file_states(target)

    batch = (ev.filter(F.col("ts").between("2024-01-10 00:00:00",
                                           "2024-01-10 23:59:59"))
             .withColumn("value", F.col("value") + 1000.0))
    merge_into_partitioned(spark, target, batch,
                           keys=["event_id"], ts_col="ts")

    after = file_states(target)
    changed_dirs = {os.path.dirname(p) for p in set(before) ^ set(after)}
    changed_dirs |= {os.path.dirname(p) for p in before
                     if p in after and before[p] != after[p]}
    # only the dt=2024-01-10 partition directory was rewritten
    assert changed_dirs and all(d.endswith("dt=2024-01-10") for d in changed_dirs), changed_dirs
    # ... and it was rewritten compactly: one parquet file, its rows in
    # key order (not one file per upstream shuffle partition)
    import pyarrow.parquet as pq
    day_files = [p for p in after if os.path.dirname(p).endswith("dt=2024-01-10")]
    assert len(day_files) == 1, day_files
    ids = pq.read_table(day_files[0], columns=["event_id"]).column(0).to_pylist()
    assert ids == sorted(ids) and len(ids) > 1

    # merged values took effect, row count unchanged (pure update)
    back = spark.read.parquet(target)
    assert back.count() == ev.count()
    day = back.filter(F.col("dt") == "2024-01-10")
    orig_day = ev.filter(F.col("ts").between("2024-01-10 00:00:00",
                                             "2024-01-10 23:59:59"))
    assert day.count() == orig_day.count()
    assert day.agg(F.min("value")).first()[0] >= 1000.0

    # partition pruning: a date filter must reach the partition index
    plan = back.filter(F.col("dt") == "2024-01-10")._jdf.queryExecution() \
        .executedPlan().toString()
    assert "PartitionFilters" in plan and "dt" in plan.split("PartitionFilters")[1][:120]


def test_point_in_polygon_exact_concave_chevron(spark):
    """Even-odd ray cast must be exact for concave rings: the chevron
    is a [-16,16]x[40,70] rectangle with a V-notch cut to (0,54); a
    point inside the notch passes the bbox prefilter but must be
    rejected by the exact test."""
    from data_warehouse_spark.operators.spatial import point_in_polygon_exact

    chevron = [(-16.0, 70.0), (0.0, 54.0), (16.0, 70.0),
               (16.0, 40.0), (-16.0, 40.0)]
    polys = spark.createDataFrame(
        [(2, chevron)],
        "region_id long, ring array<struct<lon: double, lat: double>>")
    pts = spark.createDataFrame(
        [Row(pid=1, lat=50.0, lon=0.0),    # in the solid body
         Row(pid=2, lat=65.0, lon=0.0),    # in the notch -> outside
         Row(pid=3, lat=65.0, lon=-14.0),  # beside the notch -> inside
         Row(pid=4, lat=30.0, lon=0.0)])   # below the bbox
    got = {r.pid for r in point_in_polygon_exact(pts, polys).collect()}
    assert got == {1, 3}


def test_ngram_jaccard_giant_block_routes_via_lsh(spark, sf_dir):
    """A block over max_block_rows must route through the MinHash-LSH
    prefilter instead of the block-quadratic self-join, while still
    surfacing the planted duplicate with its exact Jaccard. Plan
    evidence: the LSH path checkpoints its candidate pairs (the
    banding subtree materializes into a Scan ExistingRDD), so the
    routed plan verifies against a checkpointed candidate scan while
    the exact path self-joins with no checkpoint."""
    from data_warehouse_spark.operators.dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents").limit(40).select(
        "doc_id", "text", F.lit("en").alias("lang"))
    planted = docs.filter(F.col("doc_id") == 0).select(
        (F.col("doc_id") + 9000).alias("doc_id"), "text", "lang")
    corpus = docs.unionByName(planted)

    exact = ngram_jaccard_pairs(corpus, "text", "doc_id", "lang",
                                max_block_rows=None)
    routed = ngram_jaccard_pairs(corpus, "text", "doc_id", "lang",
                                 max_block_rows=10)
    exact_plan = exact._jdf.queryExecution().executedPlan().toString()
    routed_plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "xxhash64" not in exact_plan
    assert "ExistingRDD" not in exact_plan
    assert "ExistingRDD[id_a" in routed_plan

    exact_pairs = {(r.id_a, r.id_b): r.jaccard for r in exact.collect()}
    routed_pairs = {(r.id_a, r.id_b): r.jaccard for r in routed.collect()}
    assert routed_pairs.get((0, 9000)) == 1.0
    # candidates that survive carry EXACT jaccard values (subset recall)
    for pair, j in routed_pairs.items():
        assert exact_pairs.get(pair) == j


def test_cosine_pairs_giant_block_routes_via_ivf(spark, sf_dir):
    """X4's oversized-block route: pairs form only within IVF cells;
    a planted identical vector lands in its twin's cell and surfaces
    with cos_sim 1.0; every routed pair matches the exact path."""
    from data_warehouse_spark.operators.similarity import cosine_pairs_blocked

    emb = load_table(spark, sf_dir, "embeddings").limit(60).select(
        "vec_id", "embedding", F.lit("b").alias("grp"))
    dup = emb.filter(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 9000).alias("vec_id"), "embedding", "grp")
    corpus = emb.unionByName(dup)

    exact = {(r.id_a, r.id_b): r.cos_sim for r in cosine_pairs_blocked(
        corpus, "embedding", "vec_id", "grp", 0.9,
        max_block_rows=None).collect()}
    routed = {(r.id_a, r.id_b): r.cos_sim for r in cosine_pairs_blocked(
        corpus, "embedding", "vec_id", "grp", 0.9,
        max_block_rows=10).collect()}
    assert routed.get((0, 9000)) == 1.0
    for pair, s in routed.items():
        assert exact.get(pair) == s


def test_connected_components_path_graph_and_isolated_pair(spark):
    from data_warehouse_spark.operators.graph import connected_components

    # path 1-2-3-4-5 (diameter 4 — forces real multi-round propagation)
    # plus the disjoint pair 10-11
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (4, 5), (10, 11)], ["id_a", "id_b"])
    got = {(r.id, r.component_id)
           for r in connected_components(edges, "id_a", "id_b").collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (5, 1),
                   (10, 10), (11, 10)}


def test_scd2_apply_close_insert_noop_newkey(spark):
    from datetime import datetime

    from data_warehouse_spark.operators.merge import scd2_apply

    t0 = datetime(2023, 1, 1)
    eff = datetime(2024, 6, 1)
    dim = spark.createDataFrame(
        [(1, "A", t0, None, True),    # will change -> close + new version
         (2, "B", t0, None, True),    # no-op update -> untouched
         (3, "C", t0, None, True),    # no update at all -> untouched
         (1, "Z", datetime(2022, 1, 1), t0, False)],  # history passes through
        "k int, seg string, valid_from timestamp, valid_to timestamp, "
        "is_current boolean")
    updates = spark.createDataFrame(
        [(1, "A2", eff), (2, "B", eff), (9, "N", eff),
         (9, "N_OLD", datetime(2024, 1, 1))],  # dup key: latest eff wins
        "k int, seg string, eff_ts timestamp")
    out = scd2_apply(dim, updates, keys=["k"], attrs=["seg"])
    rows = {(r.k, r.seg, r.valid_from, r.valid_to, r.is_current)
            for r in out.collect()}
    assert rows == {
        (1, "A", t0, eff, False),          # closed
        (1, "A2", eff, None, True),        # new current version
        (2, "B", t0, None, True),          # no-op kept verbatim
        (3, "C", t0, None, True),          # untouched
        (1, "Z", datetime(2022, 1, 1), t0, False),  # history
        (9, "N", eff, None, True),         # brand-new key, latest update
    }


def test_cosine_topk_multi_matches_single(spark):
    """cosine_topk_multi: each query's slice equals the single-query
    cosine_topk answer, and empty or mixed-dimension query lists fail
    loudly."""
    from data_warehouse_spark.io import load_table
    from data_warehouse_spark.operators.similarity import (
        cosine_topk, cosine_topk_multi,
    )
    from data_warehouse_spark.queries.llm_vector import _query_vecs

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    qvs = _query_vecs(spark, sf, (0, 1, 2))

    multi = sorted(
        (r.query_id, r.vec_id, r.cos_sim) for r in
        cosine_topk_multi(emb, "embedding", "vec_id", qvs, k=5).collect())
    single = sorted(
        (qi, r.vec_id, r.cos_sim)
        for qi, qv in enumerate(qvs)
        for r in cosine_topk(emb, "embedding", "vec_id", qv, k=5).collect())
    assert multi == single

    with pytest.raises(ValueError, match="empty"):
        cosine_topk_multi(emb, "embedding", "vec_id", [], k=5)
    with pytest.raises(ValueError, match="mixed"):
        cosine_topk_multi(emb, "embedding", "vec_id", [[1.0], [1.0, 2.0]])


def _arrow_batch_shapes(df):
    """(rows, payload bytes) of every Arrow batch mapInPandas hands the
    Python worker for df's single `v` column."""
    import pandas as pd

    def shapes(batches):
        for b in batches:
            yield pd.DataFrame({"rows": [len(b)],
                                "nbytes": [int(b["v"].map(len).sum())]})

    return [(r.rows, r.nbytes) for r in
            df.mapInPandas(shapes, "rows long, nbytes long").collect()]


def test_arrow_batches_are_bounded_by_bytes_and_records(spark):
    """Every mapInPandas/mapInArrow kernel sees batches bounded two
    ways with the session's defaults: wide rows by Spark's
    maxBytesPerBatch (64 MiB), narrow rows by the 65,536-record cap.
    If a Spark upgrade drops the byte cap, KB-scale media rows would
    build batches of rows x blob bytes and this test fails."""
    from data_warehouse_spark.session import ARROW_BATCH_DEFAULT

    cap = 64 * 1024 * 1024
    wide = spark.range(10_000, numPartitions=1).select(
        F.expr("CAST(repeat('x', 10000) AS BINARY)").alias("v"))
    batches = _arrow_batch_shapes(wide)
    assert sum(n for n, _ in batches) == 10_000
    assert len(batches) > 1
    assert all(nbytes <= cap for _, nbytes in batches), batches

    narrow = spark.range(ARROW_BATCH_DEFAULT * 2 + 1000, numPartitions=1) \
        .select(F.col("id").cast("string").alias("v"))
    batches = _arrow_batch_shapes(narrow)
    assert sum(n for n, _ in batches) == ARROW_BATCH_DEFAULT * 2 + 1000
    assert len(batches) > 1
    assert all(n <= ARROW_BATCH_DEFAULT for n, _ in batches), batches


def test_scd2_apply_guards_and_late_updates(spark):
    """Empty attrs/keys raise a clear error instead of a TypeError deep
    in the plan, and an update older than the current row's valid_from
    is a no-op (would otherwise close a row with valid_to <
    valid_from)."""
    from datetime import datetime

    import pytest

    from data_warehouse_spark.operators.merge import scd2_apply

    t0 = datetime(2023, 1, 1)
    dim = spark.createDataFrame(
        [(1, "A", t0, None, True)],
        "k int, seg string, valid_from timestamp, valid_to timestamp, "
        "is_current boolean")
    late = spark.createDataFrame(
        [(1, "A_OLD", datetime(2022, 6, 1))],  # predates valid_from
        "k int, seg string, eff_ts timestamp")

    with pytest.raises(ValueError, match="attrs"):
        scd2_apply(dim, late, keys=["k"], attrs=[])
    with pytest.raises(ValueError, match="key"):
        scd2_apply(dim, late, keys=[], attrs=["seg"])

    rows = {(r.k, r.seg, r.valid_from, r.valid_to, r.is_current)
            for r in scd2_apply(dim, late, keys=["k"], attrs=["seg"]).collect()}
    assert rows == {(1, "A", t0, None, True)}  # late update ignored


def test_a9_pivot_missing_cell_is_zero(spark):
    """A year with no orders of some priority must surface 0.0 (the
    coalesce path the full fixture never exercises)."""
    from datetime import datetime

    from data_warehouse_spark.queries.registry import load_all
    import data_warehouse_spark.queries.relational as rel

    df = spark.createDataFrame(
        [(datetime(1995, 3, 1), "1-URGENT", 10.50),
         (datetime(1995, 4, 1), "1-URGENT", 4.25),
         (datetime(1996, 5, 1), "5-LOW", 7.00)],
        "o_orderdate timestamp, o_orderpriority string, o_totalprice double")
    import unittest.mock as mock
    with mock.patch.object(rel, "load_table", return_value=df):
        out = {r.order_year: r for r in
               load_all()["a9_pivot"].fn(spark, "ignored").collect()}
    assert out[1995].urgent == 14.75 and out[1995].low == 0.0
    assert out[1996].low == 7.0 and out[1996].urgent == 0.0
    assert out[1996].not_specified == 0.0


def test_ivf_index_build_probe_reuses_assignment(spark, sf_dir):
    """The serving shape of ANN: build once, probe many. A probe's plan
    must read the CACHED cell assignment (InMemoryRelation), not
    re-derive the corpus-sized assign/centroid subtree per query; two
    probes must agree with the one-shot ivf_topk on the same query."""
    from data_warehouse_spark.operators.similarity import build_ivf_index

    emb = load_table(spark, sf_dir, "embeddings")
    q0 = list(emb.filter(F.col("vec_id") == 0).select("embedding").first()[0])
    q1 = list(emb.filter(F.col("vec_id") == 1).select("embedding").first()[0])

    idx = build_ivf_index(emb, "embedding", "vec_id", n_cells=8, iters=1)
    try:
        first = idx.probe(q0, k=10, nprobe=4)
        plan = first._jdf.queryExecution().optimizedPlan().toString()
        assert "InMemoryRelation" in plan, (
            "probe does not reuse the persisted assignment:\n" + plan)
        got0 = {r.vec_id for r in first.collect()}
        got1 = {r.vec_id for r in idx.probe(q1, k=10, nprobe=4).collect()}
        one_shot = {r.vec_id for r in
                    ivf_topk(emb, "embedding", "vec_id", q0, k=10,
                             n_cells=8, nprobe=4).collect()}
        assert got0 == one_shot  # same quantizer -> same answer
        assert 1 in got1         # second probe finds its own query vector
    finally:
        idx.unpersist()


def test_incremental_rollup_merge_equals_rebuild(spark):
    """U7's contract: folding per-batch deltas through incremental_rollup
    equals the one-shot aggregate, for any batch split — including
    batches that introduce brand-new keys (full-outer null sides)."""
    import random

    from data_warehouse_spark.operators.merge import incremental_rollup

    rng = random.Random(11)
    rows = [(f"k{rng.randrange(6)}", rng.randrange(-50, 50), i % 3)
            for i in range(300)]
    df = spark.createDataFrame(rows, "key string, v long, batch int")

    def roll(part):
        return part.groupBy("key").agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"),
            F.min("v").alias("lo"), F.max("v").alias("hi"))

    merges = {"n": "sum", "s": "sum", "lo": "min", "hi": "max"}
    acc = None
    for b in range(3):
        acc = incremental_rollup(acc, roll(df.filter(F.col("batch") == b)),
                                 keys=["key"], merges=merges)
    got = {r.key: (r.n, r.s, r.lo, r.hi) for r in acc.collect()}
    want = {r.key: (r.n, r.s, r.lo, r.hi) for r in roll(df).collect()}
    assert got == want

    # a delta with an unseen key survives the full-outer merge intact
    extra = roll(spark.createDataFrame([("brand_new", 7, 9)],
                                       "key string, v long, batch int"))
    merged = incremental_rollup(acc, extra, keys=["key"], merges=merges)
    got2 = {r.key: (r.n, r.s, r.lo, r.hi) for r in merged.collect()}
    assert got2["brand_new"] == (1, 7, 7, 7)
    assert got2["k0"] == want["k0"]

    # non-mergeable aggregates are rejected loudly, not silently wrong
    try:
        incremental_rollup(acc, extra, keys=["key"], merges={"n": "avg"})
        raise AssertionError("avg must be rejected")
    except ValueError:
        pass


def test_redact_pii_removes_every_occurrence(spark):
    """After redact_pii, no PII pattern matches anywhere; placeholders
    appear exactly where the audit counts said they would."""
    from data_warehouse_spark.functions.text import (
        PII_PATTERNS, pii_counts, redact_pii,
    )

    rows = [
        (1, "mail a.b+c@x-corp.co.uk and 192.168.1.1 then +41791234567 ok"),
        (2, "no pii here, just 1.2 versions and a plus + sign"),
        (3, "double jane@ex.org bob@ex.org 10.0.0.1 10.0.0.2"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = df.select(
        "id", redact_pii(F.col("text")).alias("red"),
        *pii_counts(F.col("text"))).collect()
    by_id = {r.id: r for r in out}
    for _, pat, token in PII_PATTERNS:
        leftover = df.sparkSession.createDataFrame(
            [(r.red,) for r in out], "red string") \
            .filter(F.regexp_count("red", F.lit(pat)) > 0).count()
        assert leftover == 0, f"unredacted {pat}"
    assert by_id[1].n_email == 1 and by_id[1].n_ipv4 == 1 and by_id[1].n_phone == 1
    assert by_id[2].red == rows[1][1]  # clean text passes through unchanged
    assert by_id[3].red.count("<EMAIL>") == 2 and by_id[3].red.count("<IP>") == 2


def test_upsert_null_key_is_one_key_value(spark):
    """The PK contract holds for a NULL key too: the anti-join is
    null-safe, so a new NULL-key row REPLACES the old one instead of
    duplicating it (round-5 review finding)."""
    old = spark.createDataFrame([Row(k=None, v="old"), Row(k=1, v="a")],
                                "k int, v string")
    new = spark.createDataFrame([Row(k=None, v="new")], "k int, v string")
    got = {(r.k, r.v) for r in upsert(old, new, ["k"]).collect()}
    assert got == {(None, "new"), (1, "a")}


def test_merge_into_partitioned_preserves_null_ts_rows(spark, tmp_path):
    """NULL-ts rows live in the default partition; the merge must read
    them back before dynamically overwriting that partition (round-5
    review finding: isin() never matches NULL dt)."""
    import datetime as dt

    from data_warehouse_spark.operators.merge import merge_into_partitioned

    target = str(tmp_path / "t")
    t0 = dt.datetime(2024, 1, 10, 12)
    first = spark.createDataFrame(
        [Row(event_id=1, ts=t0, v="a"), Row(event_id=2, ts=None, v="b")],
        "event_id long, ts timestamp, v string")
    merge_into_partitioned(spark, target, first, keys=["event_id"],
                           ts_col="ts")
    # second batch touches the null partition with a DIFFERENT key:
    # the old null-ts row must survive
    second = spark.createDataFrame(
        [Row(event_id=3, ts=None, v="c")],
        "event_id long, ts timestamp, v string")
    merge_into_partitioned(spark, target, second, keys=["event_id"],
                           ts_col="ts")
    got = {(r.event_id, r.v) for r in spark.read.parquet(target).collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c")}


def test_merge_into_partitioned_first_load_dedups_batch(spark, tmp_path):
    """The first load obeys the same last-writer-wins contract as the
    merge path (round-5 advice): an initial batch carrying one key
    twice must land exactly the newest row, not both."""
    import datetime as dt

    from data_warehouse_spark.operators.merge import merge_into_partitioned

    target = str(tmp_path / "t")
    t0 = dt.datetime(2024, 1, 10, 12)
    first = spark.createDataFrame(
        [Row(event_id=1, ts=t0, v="stale"),
         Row(event_id=1, ts=t0 + dt.timedelta(hours=1), v="latest"),
         Row(event_id=2, ts=t0, v="b")],
        "event_id long, ts timestamp, v string")
    merge_into_partitioned(spark, target, first, keys=["event_id"],
                           ts_col="ts")
    got = {(r.event_id, r.v) for r in spark.read.parquet(target).collect()}
    assert got == {(1, "latest"), (2, "b")}


def test_merge_into_partitioned_evaluates_batch_once(spark, tmp_path):
    """The merge materialises its batch once and takes the touched
    dates from that same job: a counting UDF in the batch sees each
    row once per merge, on the first load and on a merge into an
    existing target (a distinct-dates collect before the write would
    evaluate the batch twice)."""
    import datetime as dt

    from data_warehouse_spark.operators.merge import merge_into_partitioned

    seen = spark.sparkContext.accumulator(0)

    def count(ts):
        seen.add(1)
        return ts

    counted = F.udf(count, "timestamp").asNondeterministic()
    t0 = dt.datetime(2024, 1, 10, 12)
    rows = [Row(event_id=i, ts=t0 + dt.timedelta(hours=6 * i), v="a")
            for i in range(6)]          # spans two dates
    batch = spark.createDataFrame(rows, "event_id long, ts timestamp, v string")
    target = str(tmp_path / "t")
    for _ in range(2):
        before = seen.value
        merge_into_partitioned(spark, target, batch.withColumn("ts", counted("ts")),
                               keys=["event_id"], ts_col="ts")
        assert seen.value - before == len(rows)
    assert spark.read.parquet(target).count() == len(rows)


@pytest.mark.parametrize("planted, error", [
    ({"event_id": [2]}, "v is missing, declared string"),
    ({"event_id": [2], "v": [7]}, "v is bigint, declared string"),
    ({"event_id": [2], "v": ["b"], "w": [1]}, "w is not declared"),
])
def test_merge_into_partitioned_rejects_target_files_that_disagree(
        spark, tmp_path, planted, error):
    """The merge reads its target with the batch's schema; a file in a
    touched partition that lacks a column, stores it as another type,
    or carries a column the batch does not have fails the merge before
    anything is rewritten (read with the batch schema, the first would
    come back as NULLs and the last would be dropped by the rewrite)."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_warehouse_spark.operators.merge import merge_into_partitioned

    target = str(tmp_path / "t")
    t0 = dt.datetime(2024, 1, 10, 12)
    batch = spark.createDataFrame([Row(event_id=1, ts=t0, v="a")],
                                  "event_id long, ts timestamp, v string")
    merge_into_partitioned(spark, target, batch, keys=["event_id"], ts_col="ts")
    part = os.path.join(target, "dt=2024-01-10")
    pq.write_table(pa.table(planted | {"ts": pa.array([t0], pa.timestamp("us", "UTC"))}),
                   os.path.join(part, "planted.parquet"))
    before = sorted(os.listdir(part))
    with pytest.raises(ValueError, match=error):
        merge_into_partitioned(spark, target, batch.withColumn("v", F.lit("b")),
                               keys=["event_id"], ts_col="ts")
    assert sorted(os.listdir(part)) == before


def test_split_oversized_routes_null_blocks_and_matches_isin(spark):
    """The broadcast-join split must route an oversized NULL-keyed
    block to the prefilter path — the old isin() literal filter never
    matched NULL, silently leaving such a block on the quadratic exact
    path — and agree with isin semantics for non-NULL keys."""
    from data_warehouse_spark.operators.dedup import (
        oversized_blocks, split_oversized,
    )

    rows = ([Row(b=None, v=i) for i in range(5)]
            + [Row(b="en", v=i) for i in range(5)]
            + [Row(b="fr", v=0)])
    df = spark.createDataFrame(rows, "b string, v int")
    big = oversized_blocks(df, "b", 3)
    assert set(big) == {None, "en"}
    small, bigp = split_oversized(df, "b", big)
    assert {(r.b, r.v) for r in small.collect()} == {("fr", 0)}
    assert bigp.count() == 10


def test_null_block_pairs_survive_both_jaccard_paths(spark):
    """END-TO-END NULL-block coverage (round-6 review finding): the
    routing alone was not enough — the LSH and exact paths' joins
    keyed on the raw block with null-UNSAFE equality, so a NULL-keyed
    block produced zero pairs no matter how it was routed. Both paths
    must now emit the planted near-dup pair of a NULL block."""
    from data_warehouse_spark.operators.dedup import ngram_jaccard_pairs

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [Row(b=None, id=1, text=base),
            Row(b=None, id=2, text=base + " extra"),
            *[Row(b=None, id=10 + i, text=f"doc {i} unrelated words "
                  f"number{i} token{i} filler{i}") for i in range(6)],
            Row(b="en", id=100, text=base),
            Row(b="en", id=101, text=base + " tail")]
    df = spark.createDataFrame(rows, "b string, id long, text string")

    exact = ngram_jaccard_pairs(df, "text", "id", "b", n=2,
                                threshold=0.5, max_block_rows=None)
    got_exact = {(r.block, r.id_a, r.id_b) for r in exact.collect()}
    assert (None, 1, 2) in got_exact and ("en", 100, 101) in got_exact

    # force the NULL block (8 rows) through the LSH route
    routed = ngram_jaccard_pairs(df, "text", "id", "b", n=2,
                                 threshold=0.5, max_block_rows=4)
    got_routed = {(r.block, r.id_a, r.id_b) for r in routed.collect()}
    assert (None, 1, 2) in got_routed


def test_scd2_preserves_null_current_and_drops_null_eff_updates(spark):
    import datetime as dt

    from data_warehouse_spark.operators.merge import scd2_apply

    t0 = dt.datetime(2024, 1, 1)
    dim = spark.createDataFrame(
        [Row(k=1, a="x", valid_from=t0, valid_to=None, is_current=True),
         Row(k=2, a="y", valid_from=t0, valid_to=None, is_current=None)],
        "k int, a string, valid_from timestamp, valid_to timestamp, "
        "is_current boolean")
    ups = spark.createDataFrame(
        [Row(k=9, a="z", eff_ts=None)],  # malformed: no effective ts
        "k int, a string, eff_ts timestamp")
    out = scd2_apply(dim, ups, keys=["k"], attrs=["a"])
    rows = {(r.k, r.a, r.is_current) for r in out.collect()}
    # malformed update dropped (no all-NULL row), NULL-is_current row
    # preserved verbatim in the history branch
    assert rows == {(1, "x", True), (2, "y", None)}


def test_asof_join_carries_whole_row_not_per_column_fill(spark):
    """A genuine NULL in the most recent right row must WIN (native
    ASOF semantics take the whole row) — per-column last(ignorenulls)
    would backfill it from an older row, yielding a chimera mixing two
    right rows (round-5 review finding)."""
    import datetime as dt

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)  # noqa: E731
    left = spark.createDataFrame([Row(k=1, ts=t(30))])
    right = spark.createDataFrame(
        [Row(k=1, rts=t(10), temp=10.0, precip=1.0),
         Row(k=1, rts=t(20), temp=None, precip=5.0)],
        "k int, rts timestamp, temp double, precip double")
    out = asof_join(left, right, on="k", left_ts="ts", right_ts="rts",
                    value_cols=["temp", "precip"]).collect()
    assert len(out) == 1
    r = out[0]
    # the t(20) row wins atomically: temp is its genuine NULL, never
    # t(10)'s 10.0
    assert r.temp is None and r.precip == 5.0


def test_md5_60bit_hash_family_bit_equal_across_engines(spark):
    """x2b's oracle rests on one cross-engine invariant: Spark's
    conv(substr(md5(t),1,15),16,10)::long equals DuckDB's
    ('0x'||substr(md5(t),1,15))::BIGINT for EVERY string. Pin it on a
    deterministic battery of edge inputs — empty, whitespace, long,
    multi-byte unicode (2/3/4-byte UTF-8), control chars, digits-only
    hex-looking strings — plus 200 seeded random unicode strings."""
    import random

    import duckdb
    from pyspark.sql import functions as F

    rng = random.Random(42)
    corpus = ["", " ", "\t", "a", "hello world", "0xff", "deadbeef",
              "wörld", "日本語テキスト", "🚀🚀🚀", "\x00\x01", "é" * 500,
              "the " * 1000]
    alphabet = "abc äöü 東京 🙂 0123456789"
    corpus += ["".join(rng.choice(alphabet)
                       for _ in range(rng.randint(1, 80)))
               for _ in range(200)]

    sdf = spark.createDataFrame([(i, t) for i, t in enumerate(corpus)],
                                "i long, t string")
    got = {r.i: r.h for r in sdf.select(
        "i", F.conv(F.substring(F.md5("t"), 1, 15), 16, 10)
        .cast("long").alias("h")).collect()}

    con = duckdb.connect()
    con.register("c", __import__("pandas").DataFrame(
        {"i": range(len(corpus)), "t": corpus}))
    want = dict(con.sql(
        "SELECT i, ('0x' || substr(md5(t), 1, 15))::BIGINT FROM c"
    ).fetchall())
    assert got == want


def test_assign_cells_masked_fallback_and_cell_dtype(spark):
    """Round-8 advice closure: (a) a row with NO usable score — null
    vector, ragged vector, all-NaN embedding of correct length — must
    fall back to the smallest NON-masked cell, never to a masked-out
    centroid at index 0; (b) the output `cell` column mirrors the
    centroid table's dtype (an int64 codebook must not wrap through a
    hardcoded int32)."""
    import pyspark.sql.types as T
    from pyspark.sql import Row

    from data_warehouse_spark.operators.similarity import assign_cells

    # Centroid 1 is zero-norm (masked); centroid 2/3 are healthy.
    big = 2**31 + 7  # would wrap negative through int32
    cent = spark.createDataFrame(
        [Row(cell=1, cvec=[0.0, 0.0]),
         Row(cell=2, cvec=[1.0, 0.0]),
         Row(cell=big, cvec=[0.0, 1.0])],
        "cell long, cvec array<double>")
    rows = [
        Row(vec_id=1, embedding=[10.0, 0.1]),        # -> cell 2
        Row(vec_id=2, embedding=[0.1, 10.0]),        # -> cell big (int64!)
        Row(vec_id=3, embedding=None),               # no score -> 2, NOT 1
        Row(vec_id=4, embedding=[1.0]),              # ragged -> 2
        Row(vec_id=5, embedding=[float("nan")] * 2),  # all -inf -> 2
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = assign_cells(df, cent, "embedding", "vec_id")
    assert out.schema["cell"].dataType == T.LongType()
    got = {r.vec_id: r.cell for r in out.collect()}
    assert got == {1: 2, 2: big, 3: 2, 4: 2, 5: 2}

    # Same battery down the row-at-a-time path (mixed-length batch) —
    # int32 codebook keeps int32 output.
    cent32 = spark.createDataFrame(
        [Row(cell=1, cvec=[0.0, 0.0]), Row(cell=2, cvec=[1.0, 0.0])],
        "cell int, cvec array<double>")
    out32 = assign_cells(df, cent32, "embedding", "vec_id")
    assert out32.schema["cell"].dataType == T.IntegerType()
    got32 = {r.vec_id: r.cell for r in out32.collect()}
    assert got32 == {1: 2, 2: 2, 3: 2, 4: 2, 5: 2}

    # Vectorized (uniform-length, null-free) path: the all-NaN row's
    # sims are all -inf after nan_to_num — np.where must route it to
    # the fallback there too, in the same batch as healthy rows.
    uniform = spark.createDataFrame(
        [rows[0], rows[1], rows[4]],
        "vec_id long, embedding array<double>").coalesce(1)
    gotu = {r.vec_id: r.cell
            for r in assign_cells(uniform, cent, "embedding",
                                  "vec_id").collect()}
    assert gotu == {1: 2, 2: big, 5: 2}


def test_rolling_fingerprint_md5_family_bit_equal_across_engines(spark):
    """x5d's new oracle rests on the md5-60 family surviving the FULL
    winnowing pipeline (substr windows -> md5-60 -> array/list min)
    bit-equal across engines, not just the bare hash. Pin it on the
    edge battery — empty, shorter-than-window, exactly-window,
    multi-byte unicode (2/3/4-byte UTF-8), nulls — plus 150 seeded
    random unicode strings. Also pin that the xxhash64 production
    default still answers (shape only) and rejects unknown families."""
    import random

    import duckdb
    import pandas as pd
    import pytest
    from pyspark.sql import functions as F

    from data_warehouse_spark.functions.text import rolling_fingerprint

    rng = random.Random(8)
    corpus = ["", " ", "a", "exactly8", "seven77", "nine chars",
              "hello world, a longer english sentence.",
              "wörld wörld", "日本語テキストのサンプルです",
              "🚀🚀🚀🚀🚀🚀🚀🚀🚀", "é" * 40, None]
    alphabet = "abc äöü 東京 🙂 0123456789 .,!"
    corpus += ["".join(rng.choice(alphabet)
                       for _ in range(rng.randint(1, 60)))
               for _ in range(150)]

    sdf = spark.createDataFrame([(i, t) for i, t in enumerate(corpus)],
                                "i long, t string")
    got = {r.i: r.fp for r in sdf.select(
        "i", rolling_fingerprint(F.col("t"), hash_family="md5")
        .alias("fp")).collect()}

    con = duckdb.connect()
    con.register("c", pd.DataFrame(
        {"i": range(len(corpus)), "t": corpus}))
    want = dict(con.sql("""
        SELECT i, list_min(list_transform(
            generate_series(1, greatest(length(t) - 7, 1)),
            k -> ('0x' || substr(md5(substr(t, k, 8)), 1, 15))::BIGINT))
        FROM c""").fetchall())
    assert got == want

    xx = sdf.select(rolling_fingerprint(F.col("t")).alias("fp")).collect()
    assert len(xx) == len(corpus)
    with pytest.raises(ValueError, match="hash_family"):
        rolling_fingerprint(F.col("t"), hash_family="sha1")


def test_upsert_accepts_dotted_key_names(spark):
    """The alias-qualified anti-join condition must backtick-quote key
    names: a bare F.col("__upsert_old.a.b") parses the dot as struct
    access and fails resolution, where the pre-alias old[k] indexing
    accepted such names (round-9 review finding)."""
    from pyspark.sql.types import StructType, StructField, IntegerType, StringType
    schema = StructType([StructField("a.b", IntegerType()),
                         StructField("v", StringType())])
    old = spark.createDataFrame([(1, "old"), (2, "keep")], schema)
    new = spark.createDataFrame([(1, "new")], schema)
    got = {(r["a.b"], r["v"]) for r in upsert(old, new, ["a.b"]).collect()}
    assert got == {(1, "new"), (2, "keep")}


def test_f7_bounds_survive_non_utc_driver_tz(spark, sf_dir):
    """f7's freeze-compare bounds must be tz-AWARE datetimes: pyspark
    converts a naive literal through time.mktime in the PYTHON
    process timezone, so on a non-UTC host naive lo/hi shift by the
    offset and the verdict goes false (round-9 review finding,
    repro'd at TZ=Asia/Tokyo). tzset only moves the python-side
    conversion — the JVM session stays UTC — which is exactly the
    asymmetry the bug needs."""
    import os
    import time

    import pytest

    from data_warehouse_spark.queries.scalars import f7_current_timestamp
    if not hasattr(time, "tzset"):
        pytest.skip("tzset unavailable on this platform")
    prev = os.environ.get("TZ")
    os.environ["TZ"] = "Asia/Tokyo"
    time.tzset()
    try:
        row = f7_current_timestamp(spark, sf_dir).collect()[0]
    finally:
        if prev is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = prev
        time.tzset()
    assert row.stamped_within_job is True


def test_a8_median_envelope_holds_for_tiny_groups(spark, tmp_path):
    """a8's median verdict uses DISCRETE (nearest-rank) p45/p55: an
    interpolated envelope excludes every actual data value in a small
    group (2 rows {0,100} -> p45=45, p55=55, estimate 0 -> FALSE) and
    would fail the gate on any fixture with a thin event_type
    (round-9 review finding). Exercises the REAL registry query on a
    planted 2-row-per-group events table."""
    from data_warehouse_spark.queries.relational import a8_approx_agg
    rows = [("click", 1, 0.0), ("click", 2, 100.0),
            ("view", 3, 7.0),
            # all-NULL value group: no estimate exists to bound, so the
            # verdict must be literal TRUE (coalesce guard), never NULL
            ("scroll", 4, None), ("scroll", 5, None)]
    df = spark.createDataFrame(
        rows, "event_type string, user_id long, value double")
    # planted with the full declared events schema (io.EVENTS_SCHEMA):
    # load_table refuses a file that lacks a declared column
    df.select(F.monotonically_increasing_id().alias("event_id"),
              F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"),
              "user_id", "event_type", "value", F.lit("{}").alias("props")) \
        .write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = {r.event_type: r for r in a8_approx_agg(spark, str(tmp_path)).collect()}
    assert out["click"].median_within_rank_bound is True
    assert out["view"].median_within_rank_bound is True
    assert out["scroll"].median_within_rank_bound is True
    assert out["scroll"].users_within_4rsd is True
    assert out["click"].users_within_4rsd is True
    assert out["click"].exact_users == 2 and out["click"].n == 2


def test_span_removal_fixpoint_on_junction_corpus(spark):
    """remove_shared_spans_to_fixpoint converges on the documented
    splice-junction corpus (3 rounds: cut S, cut the recreated W,
    verify clean) and is a no-op pass-through on a clean corpus."""
    import hashlib

    from data_warehouse_spark.operators.dedup import (
        remove_shared_spans_to_fixpoint,
    )

    def stream(tag, n):
        out = ""
        i = 0
        while len(out) < n:
            out += hashlib.md5(f"{tag}-{i}".encode()).hexdigest()
            i += 1
        return out[:n]

    S, W = stream("fxS", 64), stream("fxW", 40)
    u, v = W[:20], W[20:]
    df = spark.createDataFrame(
        [(1, S + "q" * 60 + W), (2, u + S + v)],
        "doc_id long, text string")
    rows = {r.doc_id: r for r in remove_shared_spans_to_fixpoint(
        df, "text", "doc_id", min_span=40).collect()}
    assert rows[1].text_clean == S + "q" * 60 + W   # first copies kept
    assert rows[2].text_clean == ""                 # S then W excised
    assert rows[2].n_cut_total == 2 and rows[1].n_cut_total == 0
    assert rows[1].n_rounds == 3                    # cut, cut, clean

    clean = spark.createDataFrame(
        [(1, stream("fa", 120)), (2, stream("fb", 120))],
        "doc_id long, text string")
    out = {r.doc_id: r for r in remove_shared_spans_to_fixpoint(
        clean, "text", "doc_id", min_span=40).collect()}
    assert out[1].n_rounds == 1 and out[1].n_cut_total == 0
    assert out[1].text_clean == stream("fa", 120)


def test_shared_spans_npasses_honors_caller_pass_dir(spark, tmp_path):
    """ADVICE r11: with n_passes > 1 the result reads materialized
    pass files; a caller-supplied pass_dir must receive them (so the
    result can outlive the process-scoped scratch) and the returned
    DataFrame must still equal the single-pass report."""
    import os

    from pyspark.sql import functions as F

    from data_warehouse_spark.operators.dedup import shared_spans

    docs = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.md5(F.concat(F.lit("u"), F.col("id").cast("string"))),
            F.md5((F.floor(F.col("id") / 2) * 1000).cast("string")),
            F.md5((F.floor(F.col("id") / 2) * 1000).cast("string")),
            F.md5(F.concat(F.lit("v"), F.col("id").cast("string")))
        ).alias("text"))
    base = str(tmp_path / "passes")
    multi = shared_spans(docs, "text", "doc_id", min_span=40,
                         max_hash_df=64, n_passes=3, pass_dir=base)
    single = shared_spans(docs, "text", "doc_id", min_span=40,
                          max_hash_df=64)
    assert sorted(os.listdir(base)) == ["pass0", "pass1", "pass2"]
    assert sorted(map(tuple, multi.collect())) \
        == sorted(map(tuple, single.collect()))


def test_minhash_verify_paths_identical(spark, sf_dir):
    """The r16 "array" exact-verify path must be VALUE-IDENTICAL to
    the original "explode" path — on the live fixture corpus, on the
    blocked (block_col) form, and on a synthetic corpus with one very
    long document (the regime the docstring routes to "explode")."""
    from pyspark.sql import functions as F

    from data_warehouse_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents")

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    arr = minhash_lsh_pairs(docs, "text", "doc_id", num_hashes=32,
                            bands=8, jaccard_threshold=0.5,
                            verify="array")
    exp = minhash_lsh_pairs(docs, "text", "doc_id", num_hashes=32,
                            bands=8, jaccard_threshold=0.5,
                            verify="explode")
    got = rows(arr)
    assert got and got == rows(exp)

    blocked = docs.withColumn("lang_block",
                              (F.col("doc_id") % 3).cast("string"))
    arr_b = minhash_lsh_pairs(blocked, "text", "doc_id", num_hashes=32,
                              bands=8, jaccard_threshold=0.5,
                              block_col="lang_block", verify="array")
    exp_b = minhash_lsh_pairs(blocked, "text", "doc_id", num_hashes=32,
                              bands=8, jaccard_threshold=0.5,
                              block_col="lang_block", verify="explode")
    assert rows(arr_b) == rows(exp_b)

    # long-doc case: two near-identical ~12k-word docs plus a decoy
    base = " ".join(f"w{i % 997} t{i}" for i in range(6000))
    long_docs = spark.createDataFrame(
        [(1, base), (2, base + " extra tail tokens here"),
         (3, "a completely different short text entirely")],
        "doc_id long, text string")
    arr_l = rows(minhash_lsh_pairs(long_docs, "text", "doc_id",
                                   num_hashes=32, bands=8,
                                   jaccard_threshold=0.5,
                                   verify="array"))
    exp_l = rows(minhash_lsh_pairs(long_docs, "text", "doc_id",
                                   num_hashes=32, bands=8,
                                   jaccard_threshold=0.5,
                                   verify="explode"))
    assert arr_l == exp_l
    assert [(a, b) for a, b, _ in arr_l] == [(1, 2)]

    import pytest
    with pytest.raises(ValueError, match="verify"):
        minhash_lsh_pairs(docs, "text", "doc_id", verify="bogus")


def test_minhash_arrow_kernel_matches_expression_form(spark, sf_dir):
    """The r16 Arrow signature kernel (impl='auto' for the xxhash64
    family) must be BIT-IDENTICAL to the expression form — same rows,
    same 32-long signatures — on the live fixture corpus AND on an
    adversarial corpus covering every tokenizer edge the kernel
    replicates: Java-\\s separators (ASCII-only — unicode whitespace
    must NOT split), leading/trailing separators (empty tokens kept,
    Spark split limit -1), sub-n-token and null/empty docs (no row),
    unicode lowering (done JVM-side, never in Python), and >=32-byte
    shingles (the XXH64 stripe path)."""
    from data_warehouse_spark.operators.dedup import minhash_signatures

    adversarial = [
        (1, "plain ascii words here"),
        (2, "  leading and  trailing  "),
        (3, "tabs\tand\nnewlines\x0bvt\x0cff\rcr mixed"),
        (4, ""),
        (5, None),
        (6, "one two"),
        (7, "ünïcode wörds ärę kept Σπάρκ İstanbul lowered"),
        (8, "nbsp is not a Java-s separator so these stay"),
        (9, "UPPER Case MiXeD lowering"),
        (10, "supercalifragilistic expialidocious antidisestablishment"
             " floccinaucinihilipilification words"),   # >=32-B shingles
        (11, "word " * 200),
        (12, "\t\t\t"),
        (13, "a  b   c"),
    ]

    def sigs(df, impl):
        out = minhash_signatures(df, "text", "doc_id", 32, 3, impl=impl)
        return {r.doc_id: list(r.signature) for r in out.collect()}

    adf = spark.createDataFrame(adversarial, "doc_id long, text string")
    corp = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    for df in (adf, corp):
        a = sigs(df, "expr")
        b = sigs(df, "auto")
        assert a == b
    # the adversarial set must actually exercise the no-row cases
    assert set(sigs(adf, "auto")) == {1, 2, 3, 7, 8, 9, 10, 11, 13}
