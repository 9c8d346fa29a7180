"""Semantic tests for the round-5 additions to the LLM-pipeline query
battery (x13 decontamination, x14 token-budget sampling, x2e
incremental dedup) and the w6 distribution windows — invariants the
DuckDB parity hash can't express (class structure, budget bounds,
golden re-derivation in plain Python)."""

from __future__ import annotations

import hashlib
import re

import pytest

from data_warehouse_spark.io import load_table
from data_warehouse_spark.queries.registry import load_all


def _q(name):
    return load_all()[name].fn


def test_x13_decontaminate_never_flags_eval_docs(spark, sf_dir):
    rows = _q("x13_decontaminate")(spark, sf_dir).collect()
    assert rows  # the fixtures plant near-dups, so hits must exist
    assert all(r.doc_id % 37 != 0 for r in rows)
    assert all(1 <= r.n_shared <= r.n_grams for r in rows)
    assert all(0.0 < r.overlap_frac <= 1.0 for r in rows)


def test_x14_budget_sample_matches_python_rederivation(spark, sf_dir):
    got = {(r.lang, r.doc_id, r.n_tokens, r.cum_tokens)
           for r in _q("x14_token_budget_sample")(spark, sf_dir).collect()}

    docs = load_table(spark, sf_dir, "documents") \
        .select("lang", "doc_id", "text").collect()
    by_lang: dict[str, list] = {}
    for r in docs:
        # mirror word_count = size(split(lower(trim(text)), '\s+')):
        # re.split on the trimmed string yields [''] (count 1) for
        # empty text, exactly as Spark's split does — str.split()
        # would yield 0 and shift every later cum_tokens in the lang
        n_tokens = len(re.split(r"\s+", r.text.strip().lower()))
        k = hashlib.md5(str(r.doc_id).encode()).hexdigest()
        by_lang.setdefault(r.lang, []).append((k, r.doc_id, n_tokens))
    want = set()
    for lang, items in by_lang.items():
        cum = 0
        for k, doc_id, n_tokens in sorted(items):
            cum += n_tokens
            if cum > 2000:
                break
            want.add((lang, doc_id, n_tokens, cum))
    assert got == want and got  # non-empty at sf0.001


def test_x2e_incremental_dedup_classes(spark, sf_dir):
    rows = _q("x2e_incremental_dedup")(spark, sf_dir).collect()
    rearrivals = [r for r in rows if r.doc_id >= 2000000]
    fresh = [r for r in rows if r.doc_id < 2000000]
    assert rearrivals and fresh
    # every re-arrival maps back to its original corpus doc
    assert all(r.is_dup and r.dup_of == r.doc_id - 2000000
               for r in rearrivals)
    # the held-out tenth is unseen content (fixture corpus is dup-free)
    assert all((not r.is_dup) and r.dup_of is None for r in fresh)


def test_a12_null_ts_and_null_type_match_oracle_semantics(spark, tmp_path):
    """r10 review fix: a NULL-ts row forms a day=NULL group that the
    oracle's COUNT(DISTINCT CAST(ts AS DATE)) skips — n_days must
    count non-null days only; its users still fold into the sketch
    union. And a NULL event_type group must survive the certification
    join (eqNullSafe) instead of being dropped."""
    import datetime as dt

    from pyspark.sql import functions as F

    from data_warehouse_spark.queries.warehouse import a12_sketch_rollup

    t0 = dt.datetime(2024, 1, 1, 12, 0)
    rows = [("click", t0, 1), ("click", t0 + dt.timedelta(days=1), 2),
            ("click", None, 3),          # NULL day; user 3 still counted
            (None, t0, 4), (None, None, 5)]   # NULL type group survives
    df = spark.createDataFrame(
        rows, "event_type string, ts timestamp, user_id long")
    # planted with the full declared events schema (io.EVENTS_SCHEMA):
    # load_table refuses a file that lacks a declared column
    df.select(F.monotonically_increasing_id().alias("event_id"), "ts",
              "user_id", "event_type", F.lit(1.0).alias("value"),
              F.lit("{}").alias("props")) \
        .write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = {r.event_type: r for r in
           a12_sketch_rollup(spark, str(tmp_path)).collect()}
    assert set(out) == {"click", None}       # NULL group kept
    assert out["click"].n_days == 2          # NULL day skipped
    assert out["click"].exact_distinct_users == 3  # NULL-day user kept
    assert out["click"].est_within_4sigma
    assert out[None].n_days == 1
    assert out[None].exact_distinct_users == 2
    assert out[None].union_equals_single


def test_a12_sketch_rollup_accuracy_and_merge_equals_rebuild(spark, sf_dir):
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    # replay the rollup's estimate branch raw (the registry query now
    # emits the hash-certifiable contract form, not the raw estimate)
    est = {r.event_type: r.est for r in
           ev.select("event_type", F.to_date("ts").alias("day"), "user_id")
           .groupBy("event_type", "day")
           .agg(F.hll_sketch_agg("user_id", F.lit(12)).alias("sk"))
           .groupBy("event_type")
           .agg(F.hll_sketch_estimate(
               F.hll_union_agg("sk", F.lit(False))).alias("est"))
           .collect()}
    exact = {r.event_type: r.n for r in
             ev.groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("n")).collect()}
    assert est.keys() == exact.keys() and est
    for et, e in est.items():
        # lgConfigK=12 -> relative standard error ~1.6%; allow 3 sigma
        assert abs(e - exact[et]) <= max(3, 0.05 * exact[et]), et
    # merge-equals-rebuild: union of daily sketches == one global sketch
    direct = {r.event_type: r.est for r in
              ev.groupBy("event_type")
              .agg(F.hll_sketch_estimate(
                  F.hll_sketch_agg("user_id", F.lit(12))).alias("est"))
              .collect()}
    for et, e in est.items():
        assert e == direct[et], et
    # and the certified contract the driver hashes: verdicts TRUE,
    # exact branch exact
    rows = _q("a12_sketch_rollup")(spark, sf_dir).collect()
    assert {r.event_type for r in rows} == set(exact)
    for r in rows:
        assert r.est_within_4sigma and r.union_equals_single, r.event_type
        assert r.exact_distinct_users == exact[r.event_type], r.event_type
    # tighter 3 rsd bound kept in pytest only (r10 advice): the union-
    # of-daily-sketches estimate vs the exact count, per group
    rsd = 1.04 / (2.0 ** 6)
    for et, e in est.items():
        assert abs(e - exact[et]) <= 3 * rsd * exact[et] + 1, et


def test_w6_distribution_bounds_and_quartile_balance(spark, sf_dir):
    rows = _q("w6_distribution")(spark, sf_dir).collect()
    assert rows
    assert all(1 <= r.quartile <= 4 for r in rows)
    assert all(0.0 <= r.pct_rank <= 1.0 for r in rows)
    assert all(0.0 < r.cum_dist <= 1.0 for r in rows)
    # ntile balance: within a segment, bucket sizes differ by <= 1
    sizes: dict[tuple, int] = {}
    for r in rows:
        sizes[(r.c_mktsegment, r.quartile)] = \
            sizes.get((r.c_mktsegment, r.quartile), 0) + 1
    for seg in {s for s, _ in sizes}:
        counts = [n for (s, _), n in sizes.items() if s == seg]
        assert max(counts) - min(counts) <= 1


def test_validation_report_operator_semantics(spark):
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from data_warehouse_spark.operators.validation import validation_report

    df = spark.createDataFrame([
        Row(k=1, v=10.0), Row(k=2, v=-1.0), Row(k=2, v=None),
    ])
    out = {r.rule: (r.n_violations, r.n_rows) for r in validation_report(
        df, rules={"v_positive": F.col("v") > 0}, unique_key=["k"]
    ).collect()}
    # NULL predicate counts as a violation; dup key counted once
    assert out == {"v_positive": (2, 3), "k_unique": (1, 3)}


def test_validation_uniqueness_strategies_agree_incl_null_keys(spark):
    """The grouped (no-Expand) and inline (countDistinct) uniqueness
    strategies must report the same numbers — including on NULL keys,
    where both treat NULL as one real key value (two NULL-keyed rows =
    one duplicate), per the engine's PK contract."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from data_warehouse_spark.operators.validation import validation_report

    df = spark.createDataFrame([
        Row(k=1, v=1.0), Row(k=1, v=2.0), Row(k=None, v=3.0),
        Row(k=None, v=4.0), Row(k=2, v=5.0),
    ], "k int, v double")
    reports = {
        s: {r.rule: (r.n_violations, r.n_rows) for r in validation_report(
            df, rules={"v_positive": F.col("v") > 0}, unique_key=["k"],
            uniqueness=s).collect()}
        for s in ("grouped", "inline")
    }
    assert reports["grouped"] == reports["inline"]
    # 5 rows, 3 distinct keys (1, 2, NULL) -> 2 violations
    assert reports["grouped"]["k_unique"] == (2, 5)


def test_validation_sketch_uniqueness_verdict(spark):
    """DQ1b's strategy: uniqueness='sketch' emits a VERDICT row, no
    exact distinct anywhere. Healthy data (unique keys) -> 0; a
    doubled ingest (50% dup mass, the failure the check exists to
    catch) -> 1. The 3-rsd-tight accuracy itself is a8's territory;
    here only the far-from-band behavior is contracted."""
    from pyspark.sql import functions as F

    from data_warehouse_spark.operators.validation import validation_report

    healthy = spark.range(0, 20_000).select(
        F.col("id").alias("k"), F.lit(1.0).alias("v"))
    out = {r.rule: (r.n_violations, r.n_rows) for r in validation_report(
        healthy, rules={"v_positive": F.col("v") > 0}, unique_key=["k"],
        uniqueness="sketch").collect()}
    assert out == {"v_positive": (0, 20_000), "k_near_unique": (0, 20_000)}

    doubled = healthy.unionByName(healthy)
    out2 = {r.rule: r.n_violations for r in validation_report(
        doubled, rules={"v_positive": F.col("v") > 0}, unique_key=["k"],
        uniqueness="sketch").collect()}
    assert out2["k_near_unique"] == 1  # replayed ingest: verdict trips

    # composite key takes the struct path
    comp = spark.range(0, 5_000).select(
        F.col("id").alias("a"), (F.col("id") % 7).alias("b"),
        F.lit(2.0).alias("v"))
    out3 = {r.rule: r.n_violations for r in validation_report(
        comp, rules={"v_positive": F.col("v") > 0}, unique_key=["a", "b"],
        uniqueness="sketch").collect()}
    assert out3["a_b_near_unique"] == 0

    # NULL-is-one-key contract (r10 review fix): a single-column key is
    # struct-wrapped too, so NULL-keyed rows are ONE key value the
    # sketch counts — not pure duplicate mass a bare-column
    # approx_count_distinct would ignore. 10% NULL-keyed singleton rows
    # on otherwise-unique keys must stay verdict 0.
    nullkeyed = spark.range(0, 20_000).select(
        F.when(F.col("id") % 10 != 0, F.col("id")).alias("k"),
        F.lit(1.0).alias("v"))
    out4 = {r.rule: r.n_violations for r in validation_report(
        nullkeyed, rules={"v_positive": F.col("v") > 0}, unique_key=["k"],
        uniqueness="sketch").collect()}
    # 2000 NULL-keyed rows ARE duplicate mass under the one-key-value
    # contract (1999 dups / 18001 distinct ~ 11% > 8% band) -> verdict
    # trips; under the old bare-column bug the sketch would instead
    # have reported est=18000 vs n=20000 for the same 1 verdict BUT a
    # frame with only a FEW nulls flips: check that too
    assert out4["k_near_unique"] == 1
    few_nulls = spark.range(0, 20_000).select(
        F.when(F.col("id") != 0, F.col("id")).alias("k"),
        F.lit(1.0).alias("v"))
    out5 = {r.rule: r.n_violations for r in validation_report(
        few_nulls, rules={"v_positive": F.col("v") > 0}, unique_key=["k"],
        uniqueness="sketch").collect()}
    # one NULL row = one key value: unique frame, verdict clean (the
    # bare-column form would also read 0 here, but grouped/inline
    # agreement on NULL semantics is the contract being pinned)
    assert out5["k_near_unique"] == 0


def test_dq1b_registry_verdict_and_plan(spark, sf_dir):
    """The registry dq1b: row rules match dq1 exactly, the uniqueness
    verdict row is 0 (planted dup mass ~0.4% << the 8% band), and the
    PLAN carries no exact-distinct Expand and no second scan branch —
    the sketch rides the one row-rule aggregate."""
    got = {r.rule: (r.n_violations, r.n_rows) for r in
           _q("dq1b_validation_sketch")(spark, sf_dir).collect()}
    exact = {r.rule: (r.n_violations, r.n_rows) for r in
             _q("dq1_validation_report")(spark, sf_dir).collect()}
    for rule in ("ts_not_null", "value_positive", "event_type_in_domain",
                 "purchase_props_have_k"):
        assert got[rule] == exact[rule], rule
    assert got["event_id_near_unique"][0] == 0
    assert got["event_id_near_unique"][1] == exact["event_id_unique"][1]

    plan = _q("dq1b_validation_sketch")(spark, sf_dir) \
        ._jdf.queryExecution().executedPlan().toString()
    # no exact-distinct anywhere (unpivot's own 1-row Expand is fine)
    assert "count(distinct" not in plan.lower()
    # the sketch rides the ONE row-rule aggregate: partial+final of a
    # single logical aggregate, no second uniqueness branch (dq1's
    # grouped strategy legitimately carries 4+ HashAggregate nodes)
    assert plan.count("HashAggregate") <= 3, plan[:2000]


def test_dq1_catches_exactly_the_planted_corruption(spark, sf_dir):
    got = {r.rule: r.n_violations for r in
           _q("dq1_validation_report")(spark, sf_dir).collect()}

    ev = load_table(spark, sf_dir, "events") \
        .select("event_id", "event_type", "props").collect()
    ids = [r.event_id for r in ev] + \
        [r.event_id for r in ev if r.event_id % 499 == 0]
    n_dups = sum(1 for r in ev if r.event_id % 499 == 0)
    # re-derive each plant from the raw log (each corrupted copy of a
    # re-delivered id violates twice — once per copy)
    want = {
        "ts_not_null": sum(1 for i in ids if i % 991 == 0),
        "value_positive": sum(1 for i in ids if i % 997 == 0),
        "event_type_in_domain": sum(1 for i in ids if i % 1009 == 0),
        "event_id_unique": n_dups,
    }
    by_id_purchase = {r.event_id: r.event_type == "purchase" for r in ev}
    # an id hit by BOTH plants (e.g. 0) has its type corrupted to
    # 'unknown' first, so the purchase-scoped props rule passes on it
    want["purchase_props_have_k"] = sum(
        1 for i in ids
        if i % 1013 == 0 and i % 1009 != 0 and by_id_purchase[i])
    assert got == want
    assert sum(got.values()) > 0  # plants exist at this sf


def test_scalable_budget_sample_equals_single_window(spark, sf_dir):
    """The two-phase prefix sum (operators/sampling.py) must reproduce
    the naive one-reducer-per-stratum window EXACTLY — same rows, same
    cum values — while parallelizing across range chunks."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_warehouse_spark.functions.text import word_count
    from data_warehouse_spark.operators.sampling import (
        token_budget_sample_scalable,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "lang", F.md5(F.col("doc_id").cast("string")).alias("k"),
        word_count("text").cast("long").alias("w"))

    naive_w = (Window.partitionBy("lang").orderBy("k")
               .rowsBetween(Window.unboundedPreceding, 0))
    naive = {(r.lang, r.k, r.w, r.cum) for r in
             docs.withColumn("cum", F.sum("w").over(naive_w))
             .filter(F.col("cum") <= 2000).collect()}

    for coarse in (1, 7, 32):
        scaled = {(r.lang, r.k, r.w, r.cum) for r in
                  token_budget_sample_scalable(
                      docs, "lang", "k", "w", 2000, coarse=coarse).collect()}
        assert scaled == naive and naive


def test_scalable_budget_sample_keeps_null_stratum(spark):
    """NULL is a real window partition in the naive form; the two-phase
    join must be null-safe on the stratum or the whole NULL stratum
    silently vanishes (round-5 review finding)."""
    from pyspark.sql import Row

    from data_warehouse_spark.operators.sampling import (
        token_budget_sample_scalable,
    )

    df = spark.createDataFrame(
        [Row(s=None, k="k1", w=5), Row(s=None, k="k2", w=5),
         Row(s="en", k="k1", w=5)],
        "s string, k string, w long")
    got = {(r.s, r.k, r.cum) for r in token_budget_sample_scalable(
        df, "s", "k", "w", budget=100, coarse=3).collect()}
    assert got == {(None, "k1", 5), (None, "k2", 10), ("en", "k1", 5)}


def test_validation_report_empty_input_reports_zero_not_null(spark):
    from pyspark.sql import functions as F

    from data_warehouse_spark.operators.validation import validation_report

    empty = spark.createDataFrame([], "k int, v double")
    out = {r.rule: (r.n_violations, r.n_rows) for r in validation_report(
        empty, rules={"v_pos": F.col("v") > 0}, unique_key=["k"]).collect()}
    assert out == {"v_pos": (0, 0), "k_unique": (0, 0)}


def test_validation_report_rejects_colliding_rule_names(spark):
    import pytest
    from pyspark.sql import functions as F

    from data_warehouse_spark.operators.validation import validation_report

    df = spark.createDataFrame([(1,)], "k int")
    with pytest.raises(ValueError):
        validation_report(df, rules={"k_unique": F.col("k") > 0},
                          unique_key=["k"])
    with pytest.raises(ValueError):
        validation_report(df, rules={"__n": F.col("k") > 0})


def test_x2_oracle_validity_fixture_pairs_sit_above_banding_knee():
    """Round-7 advice guard: x2's exact-Jaccard DuckDB oracle equals
    the LSH output only because the fixture corpus is bimodal — the
    x2 registration doc claims every true pair sits far above the
    8-band/r=4 detection knee (miss prob per pair ~4e-4 at j~0.89 vs
    ~46% at j=0.55). A fixture regeneration that planted pairs NEAR
    the 0.5 threshold would re-roll a per-pair miss chance every
    round and surface as a driver hash-fail. This pins the claim at
    the gate's scale factors with the actual banding math: the UNION
    BOUND over all true pairs of P(miss) = (1 - j^4)^8 must stay
    under 1% per run (measured 5.2e-4 at sf0.001, 2.0e-4 at sf0.01
    on the current fixtures, min pair j = 8/9), and NOTHING may fall
    in the [0.35, 0.5) shadow zone just below threshold (where a
    boundary pair could flip in under tokenization drift).
    DuckDB-only — no Spark needed.

    Round-13 (ADVICE r12 item #1): x2g_incremental_minhash leans on
    the SAME invariant — its 32-hash/8-band probe has the identical
    r=4 knee, and its exact-Jaccard oracle equals the LSH probe only
    while this bimodality holds.

    Round-14 (VERDICT r13 ask #8): the invariant now lives in the
    GENERATOR-CALLABLE gate tools/fixture_gate.py (function + CLI),
    landed so a regeneration fails at the source; this test pins that
    same function against the shipped fixtures every round, and
    test_fixture_gate_trips_on_shadow_zone_corpus proves the gate
    actually fires."""
    from tools.fixture_gate import assert_minhash_oracle_bimodal

    for sf in ("sf0.001", "sf0.01"):
        rep = assert_minhash_oracle_bimodal(
            parquet_path=f"/root/testdata/{sf}/documents.parquet")
        assert rep["n_true_pairs"] > 0, sf


def test_fixture_gate_trips_on_shadow_zone_corpus():
    """The gate must FIRE on a violating corpus, not just pass on good
    ones: a synthetic pair at 3-gram Jaccard ~0.41 (inside the
    [0.35, 0.5) shadow zone) trips the shadow assert; the same corpus
    with the pair lifted to j~0.87 passes. Tokens are md5-unique
    across docs so no accidental cross-pair grams exist."""
    import hashlib

    import pytest

    from tools.fixture_gate import assert_minhash_oracle_bimodal

    def tok(tag, i):
        return hashlib.md5(f"{tag}-{i}".encode()).hexdigest()

    def doc(tag, n=60):
        return " ".join(tok(tag, i) for i in range(n))

    def pair(shared, tag_a, tag_b):
        # two 60-token docs sharing the first `shared` tokens:
        # j = (shared-2) / (116 - (shared-2)) for shared >= 3
        a = [tok(tag_a, i) for i in range(60)]
        b = [tok(tag_a, i) if i < shared else tok(tag_b, i)
             for i in range(60)]
        return " ".join(a), " ".join(b)

    # shadow pair: shared=36 -> j = 34/82 ~ 0.415
    a, b = pair(36, "p1", "p1x")
    bad = [(1, a), (2, b), (3, doc("u3")), (4, doc("u4"))]
    with pytest.raises(AssertionError, match="shadow zone"):
        assert_minhash_oracle_bimodal(rows=bad)

    # safe pair: shared=58 -> j = 56/60 ~ 0.93, no shadow, tight bound
    a, b = pair(58, "q1", "q1x")
    good = [(1, a), (2, b), (3, doc("u3")), (4, doc("u4"))]
    rep = assert_minhash_oracle_bimodal(rows=good)
    assert rep["n_true_pairs"] == 1 and not rep["shadow_pairs"]

    # pairless corpus: vacuous for x2 parity -> must also trip
    with pytest.raises(AssertionError, match="vacuous"):
        assert_minhash_oracle_bimodal(rows=[(1, doc("u1")),
                                            (2, doc("u2"))])


def test_x3b_oracle_validity_ivf_margins_dwarf_float_noise():
    """Round-7 guard for x3b's full-replay oracle: the one inexact
    step in the IVF pipeline is the Lloyd centroid average — Spark's
    distributed double sum is summation-order-nondeterministic at
    ~1e-16 relative, quantized by the float32 cast to a ~6e-8 grid,
    so a cross-engine (or cross-run) divergence needs a decision
    margin at the ~1e-9 scale. This pins every decision's actual
    margin far above that: min runner-up gap in the final cell
    assignment, the nprobe=4 cell-rank boundary, and the k=20
    boundary within the probed set (measured 3.8e-5 / 6.0e-2 /
    3.9e-3 at sf0.001). DuckDB-only."""
    import duckdb

    COS = """
list_sum(list_transform(range(1, 65), i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE))
/ (sqrt(list_sum(list_transform(range(1, 65), i -> {a}[i]::DOUBLE * {a}[i]::DOUBLE)))
 * sqrt(list_sum(list_transform(range(1, 65), i -> {b}[i]::DOUBLE * {b}[i]::DOUBLE))))
"""
    base = f"""
WITH emb AS (SELECT vec_id, embedding FROM embeddings),
seeds AS (
    SELECT row_number() OVER (ORDER BY vec_id) AS cell, embedding AS cvec
    FROM (SELECT vec_id, embedding FROM emb ORDER BY vec_id LIMIT 16)),
s1 AS (SELECT e.vec_id, e.embedding, s.cell,
              {COS.format(a='e.embedding', b='s.cvec')} AS sim
       FROM emb e CROSS JOIN seeds s),
a1 AS (SELECT vec_id, embedding, cell FROM s1
       QUALIFY row_number() OVER (PARTITION BY vec_id
                                  ORDER BY sim DESC, cell) = 1),
cavg AS (SELECT cell, pos, CAST(AVG(x) AS FLOAT) AS cx
         FROM (SELECT cell, CAST(unnest(embedding) AS DOUBLE) AS x,
                      unnest(range(1,65)) AS pos FROM a1)
         GROUP BY cell, pos),
cent AS (SELECT cell, list(cx ORDER BY pos) AS cvec FROM cavg GROUP BY cell),
s2 AS (SELECT e.vec_id, e.embedding, c.cell,
              {COS.format(a='e.embedding', b='c.cvec')} AS sim
       FROM emb e CROSS JOIN cent c),
a2 AS (SELECT vec_id, embedding, cell FROM s2
       QUALIFY row_number() OVER (PARTITION BY vec_id
                                  ORDER BY sim DESC, cell) = 1),
q AS (SELECT embedding AS qv FROM emb WHERE vec_id = 0),
crank AS (SELECT cell, {COS.format(a='cvec', b='qv')} AS csim,
                 row_number() OVER (
                     ORDER BY {COS.format(a='cvec', b='qv')} DESC,
                              cell) AS rn
          FROM cent CROSS JOIN q),
probed AS (SELECT a2.vec_id, {COS.format(a='a2.embedding', b='qv')} AS cs
           FROM a2 JOIN (SELECT cell FROM crank WHERE rn <= 4) pc
             USING (cell) CROSS JOIN q),
pr AS (SELECT cs, row_number() OVER (ORDER BY cs DESC, vec_id) AS rn
       FROM probed)
"""
    for sf in ("sf0.001", "sf0.01"):
        con = duckdb.connect()
        con.sql("CREATE VIEW embeddings AS SELECT * FROM read_parquet("
                f"'/root/testdata/{sf}/embeddings.parquet')")
        m_assign = con.sql(base + """
SELECT MIN(m) FROM (
  SELECT vec_id, MAX(sim) - ANY_VALUE(s2nd) AS m FROM (
    SELECT vec_id, sim,
           nth_value(sim, 2) OVER (PARTITION BY vec_id
             ORDER BY sim DESC, cell
             ROWS BETWEEN UNBOUNDED PRECEDING
                      AND UNBOUNDED FOLLOWING) AS s2nd
    FROM s2) GROUP BY vec_id)
""").fetchone()[0]
        m_cell = con.sql(base + """
SELECT (SELECT csim FROM crank WHERE rn = 4)
     - (SELECT csim FROM crank WHERE rn = 5)
""").fetchone()[0]
        m_k = con.sql(base + """
SELECT (SELECT cs FROM pr WHERE rn = 20)
     - (SELECT cs FROM pr WHERE rn = 21)
""").fetchone()[0]
        for name, m in (("assignment", m_assign), ("probe-cell", m_cell),
                        ("top-k boundary", m_k)):
            assert m is not None and m > 1e-6, (
                f"{sf}: {name} margin {m} within float-noise range — "
                "the x3b full-replay oracle is no longer engine-stable "
                "on these fixtures; demote x3b to rows-only or "
                "re-derive the stability argument")


def test_x17_oracle_validity_semdedup_margins_recall_separation():
    """x17's full-replay oracle rests on the same two legs as x3b's
    plus one of x2d's: (1) every cell-assignment margin on the
    union population (fixture + perturbed copies) must dwarf the
    ~1e-9 float noise the distributed Lloyd average can introduce;
    (2) no within-cell pair may sit near the 0.9 prune gate (planted
    copies score >= 0.9938, cross pairs <= ~0.81 on these fixtures —
    measured min gate distance 0.0938); and the SemDeDup property
    itself: (3) a copy lands in its original's cluster >= 85% of the
    time (measured 0.948/0.954 at sf0.001/sf0.01), else the in-cell
    prune would silently lose its recall. DuckDB-only."""
    import duckdb

    COS = """
list_sum(list_transform(range(1, 65), i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE))
/ (sqrt(list_sum(list_transform(range(1, 65), i -> {a}[i]::DOUBLE * {a}[i]::DOUBLE)))
 * sqrt(list_sum(list_transform(range(1, 65), i -> {b}[i]::DOUBLE * {b}[i]::DOUBLE))))
"""
    PERTURB = ("list_transform(range(1, 65), i -> CAST(0.9::DOUBLE * "
               "embedding[i] + 0.1::DOUBLE * embedding[(i % 64) + 1] "
               "AS FLOAT))")
    base = f"""
WITH u AS (
    SELECT vec_id, embedding FROM embeddings
    UNION ALL
    SELECT vec_id + 100000, {PERTURB} FROM embeddings
),
seeds AS (
    SELECT row_number() OVER (ORDER BY vec_id) AS cell, embedding AS cvec
    FROM (SELECT vec_id, embedding FROM u ORDER BY vec_id LIMIT 16)),
s1 AS (SELECT e.vec_id, e.embedding, s.cell,
              {COS.format(a='e.embedding', b='s.cvec')} AS sim
       FROM u e CROSS JOIN seeds s),
a1 AS (SELECT vec_id, embedding, cell FROM s1
       QUALIFY row_number() OVER (PARTITION BY vec_id
                                  ORDER BY sim DESC, cell) = 1),
cavg AS (SELECT cell, pos, CAST(AVG(x) AS FLOAT) AS cx
         FROM (SELECT cell, CAST(unnest(embedding) AS DOUBLE) AS x,
                      unnest(range(1,65)) AS pos FROM a1)
         GROUP BY cell, pos),
cent AS (SELECT cell, list(cx ORDER BY pos) AS cvec FROM cavg GROUP BY cell),
s2 AS (SELECT e.vec_id, e.embedding, c.cell,
              {COS.format(a='e.embedding', b='c.cvec')} AS sim
       FROM u e CROSS JOIN cent c),
a2 AS (SELECT vec_id, embedding, cell FROM s2
       QUALIFY row_number() OVER (PARTITION BY vec_id
                                  ORDER BY sim DESC, cell) = 1)
"""
    for sf in ("sf0.001", "sf0.01"):
        con = duckdb.connect()
        con.sql("CREATE VIEW embeddings AS SELECT * FROM read_parquet("
                f"'/root/testdata/{sf}/embeddings.parquet')")
        m_assign = con.sql(base + """
SELECT MIN(m) FROM (
  SELECT vec_id, MAX(sim) - ANY_VALUE(s2nd) AS m FROM (
    SELECT vec_id, sim,
           nth_value(sim, 2) OVER (PARTITION BY vec_id
             ORDER BY sim DESC, cell
             ROWS BETWEEN UNBOUNDED PRECEDING
                      AND UNBOUNDED FOLLOWING) AS s2nd
    FROM s2) GROUP BY vec_id)
""").fetchone()[0]
        assert m_assign is not None and m_assign > 1e-6, (
            f"{sf}: assignment margin {m_assign} within float-noise "
            "range — x17's full-replay oracle is no longer "
            "engine-stable; demote to rows-only or re-derive")
        gate_gap = con.sql(base + f"""
SELECT MIN(ABS(ROUND({COS.format(a='a.embedding', b='b.embedding')}, 6)
               - 0.9))
FROM a2 a JOIN a2 b ON a.cell = b.cell AND a.vec_id < b.vec_id
""").fetchone()[0]
        assert gate_gap is not None and gate_gap > 0.01, (
            f"{sf}: a within-cell pair sits {gate_gap} from the 0.9 "
            "prune gate — boundary pairs make the x17 prune flip "
            "under float drift; re-derive the separation argument")
        cocell = con.sql(base + """
SELECT AVG(CASE WHEN a.cell = b.cell THEN 1.0 ELSE 0.0 END)
FROM a2 a JOIN a2 b ON b.vec_id = a.vec_id + 100000
WHERE a.vec_id < 100000
""").fetchone()[0]
        assert cocell is not None and cocell >= 0.85, (
            f"{sf}: only {cocell:.2%} of planted copies share their "
            "original's cluster — SemDeDup's in-cell prune has lost "
            "its recall on these fixtures")


def test_x17_semdedup_prunes_copies_keeps_originals(spark, sf_dir):
    """Semantic contract on the live fixture: originals are never
    pruned (no natural pair clears 0.9), every pruned row is a
    planted copy pruned by exactly its own original (min-id rule +
    the 0.9 gate admit nothing else), and the prune catches >= 85%
    of copies (the co-cell recall the DuckDB test pins)."""
    rows = _q("x17_semdedup")(spark, sf_dir).collect()
    n_emb = sum(1 for r in rows if r.vec_id < 100000)
    assert n_emb and len(rows) == 2 * n_emb
    originals = [r for r in rows if r.vec_id < 100000]
    assert all(r.kept and r.pruned_by is None for r in originals)
    copies = [r for r in rows if r.vec_id >= 100000]
    pruned = [r for r in copies if not r.kept]
    assert all(r.pruned_by == r.vec_id - 100000 for r in pruned)
    assert len(pruned) >= 0.85 * len(copies)


def test_x17b_sparse_construction_invariants(spark, sf_dir):
    """X17b's oracle-validity pins (round-13, VERDICT r12 ask #4).
    The lane's whole argument is arithmetic, so it is asserted, not
    sampled: (1) every cosine between constructed vectors sits on the
    k/64 grid — planted pairs at EXACTLY 62/64 = 0.96875, everything
    else at least one grid step (0.03125) below the 0.9 gate; (2)
    planted volume is linear — each id joins at most one planted
    pair; (3) the semantic contract holds end to end: every pruned
    row is an odd planted id pruned by exactly its even base, and
    with both pair members co-celled the prune fires (recall loss can
    only come from a pair straddling a Voronoi boundary, which the
    same-assignment oracle replays identically)."""
    import itertools

    import numpy as np

    rows = _q("x17b_semdedup_sparse")(spark, sf_dir).collect()
    n = len(rows)
    assert n == spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()

    def planted_odd(i):
        return (i // 2) % 3 == 0 and i % 2 == 1

    for r in rows:
        if not r.kept:
            assert planted_odd(r.vec_id) and r.pruned_by == r.vec_id - 1
    cell_of = {r.vec_id: r.cell for r in rows}
    kept_of = {r.vec_id: r.kept for r in rows}
    co_celled = pruned_count = 0
    for r in rows:
        if planted_odd(r.vec_id) and cell_of.get(r.vec_id - 1) == r.cell:
            co_celled += 1
            assert not kept_of[r.vec_id], (
                f"co-celled planted pair ({r.vec_id - 1}, {r.vec_id}) "
                "not pruned")
            pruned_count += 1
    assert co_celled > 0, "no planted pair was co-celled — the lane " \
        "would be vacuous"

    # grid claim, exact: recompute a sample of constructed vectors in
    # numpy from the same md5 recipe and check every pairwise cosine
    import hashlib

    def vec(i):
        p, odd = i // 2, i % 2 == 1
        base = i - 1 if (p % 3 == 0 and odd) else i
        v = np.array([
            1.0 if hashlib.md5(f"v{base}-{j}".encode())
            .hexdigest()[0] >= "8" else -1.0 for j in range(64)])
        if p % 3 == 0 and odd:
            v[p % 64] *= -1.0
        return v
    sample = [vec(i) for i in range(40)]
    for (i, a), (j, b) in itertools.combinations(enumerate(sample), 2):
        cos = float(a @ b) / 64.0
        assert cos * 64 == round(cos * 64), "off the k/64 grid"
        if j == i + 1 and i % 2 == 0 and (i // 2) % 3 == 0:
            assert cos == 62.0 / 64.0
        else:
            assert cos <= 0.875, f"background pair ({i},{j}) at {cos}"


def test_x2g_incremental_minhash_semantics(spark):
    """Unit semantics on a constructed corpus/batch: exact
    re-arrivals report jaccard 1.0 against the SMALLEST identical
    corpus doc, a near-dup batch doc reports its hand-computed
    Jaccard, novel and sub-shingle-length docs come back is_dup =
    false (never dropped), and nothing pairs below the threshold."""
    from pyspark.sql import functions as F  # noqa: F401

    from data_warehouse_spark.operators.dedup import minhash_lsh_incremental

    base = "w%d " * 30  # 30 words -> 28 shingles
    t1 = (base % tuple(range(30))).strip()
    # one word changed mid-doc: affects shingles 10..12 on each side
    # -> inter = 25, union = 28 + 28 - 25 = 31, j = 25/31 ~ 0.806
    t2 = t1.replace("w12 ", "zz ")
    corpus = spark.createDataFrame(
        [(2, t1), (4, "completely different text about other things "
                      "with enough words to form several shingles here"),
         (6, t1)],  # exact dup of id 2 inside the corpus
        ["doc_id", "text"])
    batch = spark.createDataFrame(
        [(10, t1),            # re-arrival: j=1.0, dup_of = min(2, 6) = 2
         (20, t2),            # near-dup of 2 and 6: j = 25/31
         (30, "totally novel content nothing shared with the corpus "
              "at all in any shingle of this text"),
         (40, "too short")],  # < 3 words: no shingles, must survive
        ["doc_id", "text"])
    out = {r.doc_id: r for r in minhash_lsh_incremental(
        corpus, batch, text_col="text", id_col="doc_id",
        jaccard_threshold=0.5).collect()}
    assert set(out) == {10, 20, 30, 40}
    assert out[10].is_dup and out[10].dup_of == 2 and out[10].jaccard == 1.0
    assert out[20].is_dup and out[20].dup_of == 2
    assert abs(out[20].jaccard - round(25 / 31, 6)) < 1e-9
    assert not out[30].is_dup and out[30].dup_of is None
    assert not out[40].is_dup and out[40].jaccard is None


def test_x2g_fixture_rearrivals_all_caught(spark, sf_dir):
    """On the live fixture: every re-arrival (identical text under a
    new id) MUST be flagged — identical shingle sets give identical
    signatures, so banding detection is certain, not probabilistic —
    with dup_of <= its original id: the min-id winner rule may
    prefer a SMALLER near-dup of the original over the original's
    own exact match (observed on the fixture: re-arrival of 161
    reports dup_of=144 at j=0.9886), so jaccard is pinned to 1.0
    only when dup_of IS the original. The split-straddling planted
    near-dups are covered by x2's union-bound test (x2g's pair
    population is a subset; see the registration doc)."""
    rows = _q("x2g_incremental_minhash")(spark, sf_dir).collect()
    rearr = [r for r in rows if r.doc_id >= 2000000]
    assert rearr, "fixture produced no re-arrival batch rows"
    for r in rearr:
        assert r.is_dup, f"re-arrival {r.doc_id} not flagged: {r}"
        orig = r.doc_id - 2000000
        assert r.dup_of <= orig
        if r.dup_of == orig:
            assert r.jaccard == 1.0, (
                f"re-arrival {r.doc_id} vs its own original: {r}")
        else:
            assert r.jaccard >= 0.5
    assert any(not r.is_dup for r in rows), (
        "every batch doc flagged dup — the held-out tenth should "
        "contain novel content")


def test_semantic_dedup_prune_matches_per_row_rederivation(spark):
    """Property check on the composition (pair join + min-agg + left
    join): holding the operator's OWN cell assignment fixed, every
    row's pruned_by must equal the per-row definition — the smallest
    same-cell id whose rounded cosine clears the threshold — computed
    independently in numpy over the same float32 inputs. Catches a
    regression in the pair direction (id_a < id_b), the min rule, or
    the novel-row left join without retesting the clustering (x3b's
    replay oracle owns that)."""
    import numpy as np

    from data_warehouse_spark.operators.similarity import semantic_dedup

    rng = np.random.default_rng(7)
    dim, n = 8, 60
    base = rng.normal(size=(n, dim)).astype(np.float32)
    rows = [(i, [float(x) for x in base[i]]) for i in range(n)]
    # plant near-copies of every 5th vector (tiny jitter keeps cos
    # ~0.9999) — these must be pruned by their originals when co-celled
    for i in range(0, n, 5):
        v = base[i] + rng.normal(scale=1e-3, size=dim).astype(np.float32)
        rows.append((1000 + i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = semantic_dedup(df, vec_col="embedding", id_col="vec_id",
                         n_cells=4, threshold=0.9, iters=1, dim=dim)
    got = {r.vec_id: (r.cell, r.pruned_by, r.kept) for r in out.collect()}
    assert len(got) == len(rows)

    vecs = {i: np.array(v, dtype=np.float32) for i, v in rows}
    cells = {i: got[i][0] for i in vecs}

    def cos(a, b):
        a, b = vecs[a].astype(np.float64), vecs[b].astype(np.float64)
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    for j in vecs:
        pruners = [i for i in vecs
                   if i < j and cells[i] == cells[j]
                   and round(cos(i, j), 6) >= 0.9]
        want = min(pruners) if pruners else None
        assert got[j][1] == want, (j, got[j], want)
        assert got[j][2] == (want is None)


def test_minhash_incremental_matches_brute_force_random_corpus(spark):
    """Property check against an independent Python brute force on a
    seeded random corpus with planted duplicates: x2g's whole output
    (dup_of, jaccard, is_dup per batch doc) must equal exact
    batch-x-corpus shingle Jaccard with the min-corpus-id winner.
    Planted pairs sit at j >= 0.88 (one word mutated in 50), where the
    32-hash/8-band miss probability is ~6e-4 per pair and the seeded
    hash family makes detection deterministic for this corpus."""
    import random

    from data_warehouse_spark.operators.dedup import minhash_lsh_incremental

    rng = random.Random(42)
    words = [f"tok{i}" for i in range(400)]

    def doc():
        return " ".join(rng.choice(words) for _ in range(50))

    corpus = [(2 * i + 1, doc()) for i in range(40)]   # odd ids
    batch = [(1000 + i, doc()) for i in range(10)]     # novel
    for k, (cid, text) in enumerate(corpus[:6]):       # near-copies
        toks = text.split()
        toks[20] = "mutated"
        batch.append((2000 + k, " ".join(toks)))
    for k, (cid, text) in enumerate(corpus[10:14]):    # exact copies
        batch.append((3000 + k, text))

    def sh(text):
        t = text.split()
        return {" ".join(t[i:i + 3]) for i in range(len(t) - 2)}

    expect = {}
    for bid, btext in batch:
        best = None
        for cid, ctext in corpus:
            a, b = sh(btext), sh(ctext)
            j = len(a & b) / len(a | b)
            if j >= 0.5 and (best is None or cid < best[0]):
                best = (cid, round(j, 6))
        expect[bid] = best

    out = minhash_lsh_incremental(
        spark.createDataFrame(corpus, ["doc_id", "text"]),
        spark.createDataFrame(batch, ["doc_id", "text"]),
        text_col="text", id_col="doc_id", jaccard_threshold=0.5)
    got = {r.doc_id: ((r.dup_of, r.jaccard) if r.is_dup else None)
           for r in out.collect()}
    assert got == expect
    # the construction must exercise all three classes
    assert sum(v is None for v in expect.values()) >= 10
    assert sum(v is not None and v[1] == 1.0 for v in expect.values()) >= 4
    assert sum(v is not None and v[1] < 1.0 for v in expect.values()) >= 6


def test_x18_pipeline_semantics(spark, sf_dir):
    """The composed prep's class structure on the live fixture: no
    eval doc (37-multiples) survives into the output, every planted
    re-collected copy (+1000000 ids) was deduped away in favor of its
    original, the budget holds per language, and the packing
    arithmetic is consistent row by row."""
    rows = _q("x18_corpus_prep")(spark, sf_dir).collect()
    assert rows
    assert all(r.doc_id % 37 != 0 for r in rows)
    assert all(r.doc_id < 1000000 for r in rows)
    for r in rows:
        assert 0 < r.n_tokens <= r.cum_tokens <= 2000
        assert r.start_seq == (r.cum_tokens - r.n_tokens) // 512
        assert r.end_seq == (r.cum_tokens - 1) // 512
        assert r.start_seq <= r.end_seq


def test_x19_quality_gate_keeps_exact_top_quarter(spark, sf_dir):
    """Per language: the kept set is exactly the ceil(n/4) best by
    (quality DESC, doc_id) — ranks contiguous from 1, count matches
    the bound, and no kept doc scores below a dropped one (checked
    against an independent full re-score of the corpus)."""
    from pyspark.sql import functions as F

    from data_warehouse_spark.functions.text import quality_score

    rows = _q("x19_quality_gate")(spark, sf_dir).collect()
    assert rows
    full = (load_table(spark, sf_dir, "documents")
            .select("lang", "doc_id",
                    quality_score(F.col("text")).alias("q")).collect())
    by_lang: dict = {}
    for r in full:
        by_lang.setdefault(r.lang, []).append((-r.q, r.doc_id))
    kept: dict = {}
    for r in rows:
        kept.setdefault(r.lang, []).append(r)
    assert set(kept) == set(by_lang)
    import math
    for lang, rs in kept.items():
        n = len(by_lang[lang])
        bound = math.ceil(0.25 * n)
        assert len(rs) == bound
        assert sorted(r.rnk for r in rs) == list(range(1, bound + 1))
        assert all(r.n_lang == n for r in rs)
        want_ids = [d for _, d in sorted(by_lang[lang])[:bound]]
        assert sorted(r.doc_id for r in rs) == sorted(want_ids)


def test_semantic_dedup_oversized_cell_routing(spark):
    """The >max_cell_rows scale lever: forcing a tiny cap routes every
    big cell through cosine_pairs_blocked's IVF sub-split. Routing may
    only LOSE pairs (sub-cells partition each cell), so the routed
    kept-set must be a superset of the exact kept-set — and the
    planted near-identical copies (cos ~0.9999) must still be caught,
    since a near-duplicate pair lands in the same sub-cell unless it
    straddles a sub-centroid boundary (>= 80% recall pinned)."""
    import numpy as np

    from data_warehouse_spark.operators.similarity import semantic_dedup

    # realistic routed regime: blocks several times larger than the
    # 64-sub-centroid codebook (the design's >100k-row shape scaled
    # down), NOT fewer rows than centroids — in that degenerate case
    # near-identical SEED pairs each self-assign to their own
    # singleton sub-cell and recall collapses by construction
    rng = np.random.default_rng(11)
    dim, n = 8, 1200
    base = rng.normal(size=(n, dim)).astype(np.float32)
    rows = [(i, [float(x) for x in base[i]]) for i in range(n)]
    for i in range(100, n, 10):   # copies of non-seed originals
        v = base[i] + rng.normal(scale=1e-3, size=dim).astype(np.float32)
        rows.append((10000 + i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    exact = {r.vec_id: r.kept for r in semantic_dedup(
        df, "embedding", "vec_id", n_cells=2, threshold=0.9,
        iters=1, dim=dim, max_cell_rows=None).collect()}
    routed = {r.vec_id: r.kept for r in semantic_dedup(
        df, "embedding", "vec_id", n_cells=2, threshold=0.9,
        iters=1, dim=dim, max_cell_rows=300).collect()}
    assert set(routed) == set(exact)
    # routing only loses pairs: anything exact keeps, routed keeps too
    assert all(routed[v] for v in exact if exact[v])
    planted = [v for v in routed if v >= 10000]
    pruned_routed = [v for v in planted if not routed[v]]
    pruned_exact = [v for v in planted if not exact[v]]
    assert pruned_exact, "exact path caught no planted copies"
    assert len(pruned_routed) >= 0.8 * len(pruned_exact), (
        f"routed path caught {len(pruned_routed)}/{len(pruned_exact)} "
        "of the exact path's planted-copy prunes")


def test_prefix_sum_scalable_struct_keys_match_naive_window(spark):
    """x19 orders the prefix sum by a STRUCT key ((-quality, id)) —
    new key territory for the decomposition (prior property tests used
    md5 strings). Adversarial data: heavy ties in the first struct
    field (coarse scores), a NULL stratum, single-row strata. The
    two-phase result must equal the naive single-window form at
    several chunk counts."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_warehouse_spark.operators.sampling import prefix_sum_scalable

    rng = random.Random(5)
    rows = []
    for i in range(400):
        stratum = rng.choice(["a", "b", "c", None])
        score = rng.choice([0.125, 0.25, 0.5, 1.0])   # heavy ties
        rows.append((stratum, score, i))
    rows.append(("solo", 0.5, 9999))                   # single-row stratum
    df = spark.createDataFrame(rows, ["s", "score", "rid"]) \
        .select("s",
                F.struct((-F.col("score")).alias("negq"),
                         F.col("rid").alias("rid")).alias("k"),
                F.lit(1).cast("long").alias("one"))
    w = (Window.partitionBy("s").orderBy("k")
         .rowsBetween(Window.unboundedPreceding, 0))
    naive = {(r.s, r.k.negq, r.k.rid): r.cum for r in
             df.withColumn("cum", F.sum("one").over(w)).collect()}
    for coarse in (2, 7, 32):
        got = {(r.s, r.k.negq, r.k.rid): r.cum for r in
               prefix_sum_scalable(df, stratum="s", key="k",
                                   weight="one", coarse=coarse).collect()}
        assert got == naive, f"coarse={coarse} diverged from naive window"


def test_x20_chunks_match_python_rederivation(spark, sf_dir):
    import math

    got = {(r.doc_id, r.chunk_idx, r.tok_start, r.chunk_text, r.n_tokens)
           for r in _q("x20_chunk_overlap")(spark, sf_dir).collect()}

    docs = load_table(spark, sf_dir, "documents") \
        .select("doc_id", "text").collect()
    want = set()
    for d in docs:
        # the repo-wide split contract: empty text -> [''] (one token)
        toks = re.split(r"\s+", d.text.strip().lower())
        n = len(toks)
        nc = 1 if n <= 64 else math.ceil((n - 64) / 48) + 1
        for i in range(nc):
            s = i * 48
            w = toks[s:s + 64]
            want.add((d.doc_id, i, s, " ".join(w), len(w)))
    assert got == want
    # stride discipline: every chunk except a doc's last is full-size,
    # and consecutive chunks overlap by exactly 16 tokens
    last = {}
    for doc_id, idx, _s, _t, _n in got:
        last[doc_id] = max(last.get(doc_id, -1), idx)
    for doc_id, idx, s, _t, n in got:
        assert s == idx * 48
        if idx < last[doc_id]:
            assert n == 64


def test_x3d_pq_matches_python_rederivation(spark, sf_dir):
    rows = _q("x3d_pq_adc")(spark, sf_dir).collect()
    got = {r.vec_id: (r.pq_code, r.approx_dist) for r in rows}

    emb = load_table(spark, sf_dir, "embeddings") \
        .select("vec_id", "embedding").collect()
    by_id = {r.vec_id: list(r.embedding) for r in emb}
    # codebook = the 16 md5-smallest ids, exactly as both engines pick
    order = sorted(by_id, key=lambda i: (hashlib.md5(str(i).encode())
                                         .hexdigest(), i))
    cb = [by_id[i] for i in order[:16]]
    q0 = by_id[0]

    assert set(got) == set(by_id)
    for vid, v in by_id.items():
        codes, ad = [], 0.0
        for m in range(8):
            dists = []
            for j in range(16):
                s = 0.0
                for t in range(8):
                    d = v[m * 8 + t] - cb[j][m * 8 + t]
                    s += d * d
                dists.append(s)
            jmin = min(range(16), key=lambda j: (dists[j], j))
            codes.append(jmin)
            s = 0.0
            for t in range(8):
                d = q0[m * 8 + t] - cb[jmin][m * 8 + t]
                s += d * d
            ad += s
        code_str, adist = got[vid]
        assert code_str == "-".join(map(str, codes)), vid
        assert abs(adist - ad) < 1e-6, vid
    # the query vector's own ADC distance is the floor of the metric:
    # for v = q0 the per-subspace codeword distances ARE the lookup
    # table, so its argmin codes achieve exactly sum-of-lut-minima —
    # a broken LUT indexing would break this identity
    lut_min_sum = 0.0
    for m in range(8):
        best = None
        for j in range(16):
            s = 0.0
            for t in range(8):
                d = q0[m * 8 + t] - cb[j][m * 8 + t]
                s += d * d
            best = s if best is None or s < best else best
        lut_min_sum += best
    assert abs(got[0][1] - lut_min_sum) < 1e-6


def test_x21_mixture_schedule_stride_property(spark, sf_dir):
    import math

    rows = _q("x21_mixture_schedule")(spark, sf_dir).collect()
    w = {"en": 0.5, "de": 0.15, "fr": 0.15, "es": 0.1, "zh": 0.1}
    n_lang = {}
    for r in rows:
        n_lang[r.lang] = n_lang.get(r.lang, 0) + 1
        # vtime is exactly rank / weight (round-6)
        assert abs(r.vtime - round(r.rnk / w[r.lang], 6)) < 1e-9
    # ranks are a 1..n_lang permutation per language (the prefix sum
    # really is a dense md5-order rank)
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, set()).add(r.rnk)
    for lang, rnks in by_lang.items():
        assert rnks == set(range(1, n_lang[lang] + 1)), lang
    # stride-scheduling interleave: for any horizon T, the number of
    # lang docs scheduled at vtime <= T is exactly min(floor(T*w), n)
    for T in (10.0, 25.0, 100.0, 400.0):
        for lang in w:
            got = sum(1 for r in rows if r.lang == lang and r.vtime <= T)
            want = min(math.floor(T * w[lang] + 1e-9), n_lang.get(lang, 0))
            assert got == want, (lang, T, got, want)


def test_x3e_ivfpq_recall_vs_exact(spark, sf_dir):
    """IVF-PQ's top-20 must recall most of the exact brute-force
    top-20 (the x3b recall contract extended through the ADC stage),
    and every returned cos_sim must equal the exact query's value for
    that id — the rerank stage reports EXACT scores, approximation
    only shapes the candidate set."""
    approx = {r.vec_id: r.cos_sim
              for r in _q("x3e_ivfpq_topk")(spark, sf_dir).collect()}
    exact = {r.vec_id: r.cos_sim
             for r in _q("x3_cosine_topk")(spark, sf_dir).collect()}
    assert len(approx) == 20
    overlap = set(approx) & set(exact)
    assert len(overlap) >= 10, sorted(approx)
    for vid in overlap:
        assert abs(approx[vid] - exact[vid]) < 1e-9, vid


def test_ivf_pq_topk_prebuilt_index_matches_one_shot(spark, sf_dir):
    """The serving path (prebuilt IvfIndex + codebook, the form that
    skips the per-probe corpus passes) must return exactly the
    one-shot form's rows — same cells, same codes, same cuts."""
    from data_warehouse_spark.operators.similarity import (
        build_ivf_index, ivf_pq_topk, pq_codebook_sample,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qv = (emb.filter("vec_id = 0").select("embedding")
          .collect()[0][0])
    qv = list(qv)
    one_shot = ivf_pq_topk(emb, "embedding", "vec_id", qv, k=20)
    idx = build_ivf_index(emb, "embedding", "vec_id", n_cells=16,
                          iters=1, dim=64, persist=True)
    cb = pq_codebook_sample(emb, "embedding", "vec_id", n_codes=16)
    try:
        served = ivf_pq_topk(emb, "embedding", "vec_id", qv, k=20,
                             index=idx, codebook=cb)
        a = [(r.vec_id, r.cos_sim) for r in one_shot.collect()]
        b = [(r.vec_id, r.cos_sim) for r in served.collect()]
        assert a == b
    finally:
        idx.unpersist()


def test_ivf_pq_topk_degenerate_rows_never_displace(spark):
    """r13 ADVICE #1: null/ragged/NaN vectors must emit pq_encode's
    NULL sentinel (one explicit NULL pq_code, never a malformed
    shorter concat) and sort NULLS LAST at the ADC shortlist cut, so
    degenerate rows cannot displace real candidates even when they
    outnumber the whole k*rerank shortlist."""
    import math

    from pyspark.sql import types as T

    from data_warehouse_spark.operators.similarity import (
        ivf_pq_topk, pq_codebook_sample, pq_encode,
    )

    dim, n = 8, 40
    clean = [(i, [float(math.sin(i * dim + t)) for t in range(dim)])
             for i in range(n)]
    bad = ([(1000 + i, None) for i in range(12)]             # null vecs
           + [(2000, [1.0, 2.0, 3.0])]                       # ragged
           + [(3000, [float("nan")] + [0.5] * (dim - 1))]    # NaN elem
           # inf is the sneaky one (r14 ADVICE #1): every subspace
           # distance is inf, argmin yields code 1, and the ADC LUT
           # sum is a FINITE garbage score — without the finiteness
           # gate it enters the shortlist and its exact-cosine NaN
           # sorts first under DESC, displacing the true rank 1
           + [(4000, [float("inf")] + [0.5] * (dim - 1))]
           + [(4001, [float("-inf")] * dim)])
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ])
    corrupt = spark.createDataFrame(clean + bad, schema)
    qv = clean[0][1]
    # nprobe = n_cells: every cell (so every degenerate row) is probed
    got = ivf_pq_topk(corrupt, "embedding", "vec_id", qv, k=5,
                      n_cells=2, nprobe=2, n_sub=2, rerank=2).collect()
    assert len(got) == 5
    assert all(r.vec_id < 1000 for r in got)
    assert all(r.cos_sim is not None for r in got)
    # the sentinel contract itself
    cb = pq_codebook_sample(corrupt, "embedding", "vec_id",
                            n_codes=4, dim=dim)
    assert len(cb) == 4 and all(len(c) == dim for c in cb)
    enc = {r.vec_id: (r.pq_code, r.approx_dist)
           for r in pq_encode(corrupt, "embedding", "vec_id", cb,
                              n_sub=2, query_vec=qv).collect()}
    for bad_id in (1000, 2000, 3000, 4000, 4001):
        assert enc[bad_id] == (None, None), bad_id
    for good_id in range(5):
        code, ad = enc[good_id]
        assert code is not None and code.count("-") == 1, good_id
        assert ad is not None, good_id


def test_ivf_pq_topk_prebuilt_index_contract(spark, sf_dir):
    """r13 ADVICE #2: with a prebuilt index the probe must reject the
    contradictions it can check cheaply — n_cells alongside an index,
    column names that differ from the index's, a query dim that
    differs from the index dim."""
    import pytest

    from data_warehouse_spark.operators.similarity import (
        build_ivf_index, ivf_pq_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qv = list(emb.filter("vec_id = 0").select("embedding")
              .collect()[0][0])
    idx = build_ivf_index(emb, "embedding", "vec_id", n_cells=16,
                          iters=1, dim=64, persist=False)
    with pytest.raises(ValueError, match="fixed by the prebuilt index"):
        ivf_pq_topk(emb, "embedding", "vec_id", qv, n_cells=16,
                    index=idx)
    with pytest.raises(ValueError, match="indexed corpus"):
        ivf_pq_topk(emb, "embedding", "doc_id", qv, index=idx)
    with pytest.raises(ValueError, match="dim"):
        ivf_pq_topk(emb, "embedding", "vec_id", qv[:32], index=idx)


@pytest.mark.slow  # r17: heavyweight lane, out of the default driver gate (pytest.ini)
def test_pq_codebook_train_improves_distortion_and_recall(spark, sf_dir):
    """r13 verdict ask #5: the Lloyd-refined codebook must not
    increase quantization distortion over its own seed (the
    md5-sampled book — k-means monotonicity, checked on the real
    corpus), and its IVF-PQ recall vs the exact top-20 must be >= the
    sampled book's on the same prebuilt index, ON THIS CORPUS. The
    recall half is fixture-specific, not universal: the r14 lane
    (ddece72:.r14/pq_train_eval.py, SCALE.md) measured that at 16 codewords a
    data-point codebook can out-RANK the lower-distortion Lloyd means
    on clustered/manifold corpora (centroid-ADC's systematic
    underestimation bias = per-cell quantization energy), which is
    also why the ORACLE path keeps the sampled book."""
    import pyspark.sql.functions as F

    from data_warehouse_spark.operators.similarity import (
        _pq_sub_dist, build_ivf_index, ivf_pq_topk,
        pq_codebook_sample, pq_codebook_train,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    sampled = pq_codebook_sample(emb, "embedding", "vec_id",
                                 n_codes=16, dim=64)
    trained = pq_codebook_train(emb, "embedding", "vec_id",
                                n_codes=16, n_sub=8, iters=2, dim=64)
    assert len(trained) == 16 and all(len(c) == 64 for c in trained)
    assert all(all(x == x and abs(x) != float("inf") for x in c)
               for c in trained)

    def distortion(cb):
        d_sub = 64 // 8
        col = None
        for m in range(8):
            darr = F.array(*[_pq_sub_dist("embedding", cb, m, j, d_sub)
                             for j in range(16)])
            term = F.array_min(darr)
            col = term if col is None else col + term
        return emb.select(F.avg(col).alias("d")).collect()[0]["d"]

    d_sampled, d_trained = distortion(sampled), distortion(trained)
    assert d_trained <= d_sampled * (1 + 1e-9), (d_trained, d_sampled)

    # recall as a MEAN over 4 queries: single-query recall is
    # high-variance and can even invert the codebook ranking on
    # low-intrinsic-dimension corpora (the r14 manifold counterexample,
    # SCALE.md / ddece72:.r14/pq_train_eval_sin_manifold.json)
    qids = [0, 7, 19, 42]
    qvs = {r.vec_id: list(r.embedding) for r in
           emb.filter(F.col("vec_id").isin(qids)).collect()}
    exacts = {}
    for qid in qids:
        qarr = F.array(*[F.lit(float(x)) for x in qvs[qid]])
        from data_warehouse_spark.operators.similarity import cosine
        exacts[qid] = {r.vec_id for r in emb.select(
            "vec_id", F.round(cosine(F.col("embedding"), qarr), 6)
            .alias("c"))
            .orderBy(F.col("c").desc(), "vec_id").limit(20).collect()}
    idx = build_ivf_index(emb, "embedding", "vec_id", n_cells=16,
                          iters=1, dim=64, persist=True)
    try:
        def recall(cb):
            return sum(len({r.vec_id for r in ivf_pq_topk(
                emb, "embedding", "vec_id", qvs[qid], k=20, index=idx,
                codebook=cb).collect()} & exacts[qid])
                for qid in qids)

        assert recall(trained) >= recall(sampled)
    finally:
        idx.unpersist()


def test_mixture_schedule_rejects_nonpositive_weights(spark, sf_dir):
    """r13 ADVICE #3: zero/negative/non-finite weights would silently
    emit infinite or negative vtime — must raise instead."""
    import pytest

    from data_warehouse_spark.operators.sampling import mixture_schedule

    docs = load_table(spark, sf_dir, "documents")
    for bad in (0.0, -1.0, float("nan"), float("inf")):
        with pytest.raises(ValueError, match="finite and > 0"):
            mixture_schedule(docs, "lang", "doc_id", {"en": bad}, 0.1)
    with pytest.raises(ValueError, match="finite and > 0"):
        mixture_schedule(docs, "lang", "doc_id", {"en": 0.5}, 0.0)


def test_mm4_jvm_path_matches_arrow_seam(spark, sf_dir):
    """mm4 (whole-stage-codegen features) and mm4b (the same features
    behind the mapInPandas encoder seam) must return identical rows —
    the pair is the measured attribution of the seam's Arrow serde
    cost, so their semantics must be byte-identical."""
    a = [(r.doc_id, r.cos_sim)
         for r in _q("mm4_feature_ann")(spark, sf_dir).collect()]
    b = [(r.doc_id, r.cos_sim)
         for r in _q("mm4b_feature_ann_seam")(spark, sf_dir).collect()]
    assert a == b
    assert len(a) == 20


def test_pq_adc_bias_correction_debiases_trained_book(spark):
    """The r14 lane found centroid-ADC's systematic underestimation
    bias (= per-cell quantization energy) makes a LOWER-distortion
    trained book RANK worse than the sampled one. pq_codeword_energy
    is the Jégou correction table; adding it must cut the trained
    book's mean |ADC - true| substantially on clustered data, and the
    corrected estimate must be exactly LUT + energy (plan stays
    map-only: the correction bakes into the literals)."""
    import hashlib

    import pyspark.sql.functions as F

    from data_warehouse_spark.operators.similarity import (
        pq_codebook_train, pq_codeword_energy, pq_encode,
    )

    dim, n_sub, n_codes, n_clusters, n = 16, 4, 8, 16, 4000

    def h01(tag):
        return int(hashlib.md5(tag.encode()).hexdigest()[:8], 16) \
            / 2 ** 32 * 2 - 1

    centers = [[h01(f"c{k}-{j}") for j in range(dim)]
               for k in range(n_clusters)]
    centers_lit = F.array(*[F.array(*[F.lit(v) for v in row])
                            for row in centers])
    noise = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda j: (F.conv(F.substring(F.md5(F.concat(
            F.lit("n"), F.col("id").cast("string"), F.lit("-"),
            j.cast("string"))), 1, 8), 16, 10).cast("double")
            / F.lit(2.0 ** 32) * 2 - 1) * 0.25)
    ctr = F.element_at(centers_lit,
                       (F.col("id") % n_clusters).cast("int") + 1)
    df = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.zip_with(ctr, noise, lambda c, x: (c + x).cast("float"))
        .alias("embedding")).persist()
    try:
        qv = [float(x) for x in
              df.filter("vec_id = 0").select("embedding")
              .collect()[0][0]]
        trained = pq_codebook_train(df, "embedding", "vec_id",
                                    n_codes=n_codes, n_sub=n_sub,
                                    iters=2, dim=dim)
        energy = pq_codeword_energy(df, "embedding", "vec_id",
                                    trained, n_sub=n_sub)
        assert len(energy) == n_sub
        assert all(len(e) == n_codes for e in energy)
        assert all(v >= 0 for row in energy for v in row)
        assert any(v > 0 for row in energy for v in row)

        q = F.array(*[F.lit(x) for x in qv])
        true_sq = F.aggregate(
            F.zip_with("embedding", q,
                       lambda x, y: (x.cast("double") - y)
                       * (x.cast("double") - y)),
            F.lit(0.0), lambda a, x: a + x)

        def err_stats(ce):
            enc = pq_encode(df, "embedding", "vec_id", trained,
                            n_sub=n_sub, query_vec=qv,
                            codeword_energy=ce)
            j = df.select("vec_id", true_sq.alias("t")).join(
                enc.select("vec_id", "approx_dist"), on="vec_id")
            r = j.select(
                F.avg(F.col("approx_dist") - F.col("t")).alias("bias"),
                F.avg(F.abs(F.col("approx_dist") - F.col("t")))
                .alias("mae")).collect()[0]
            return r["bias"], r["mae"]

        raw_bias, raw_mae = err_stats(None)
        cor_bias, cor_mae = err_stats(energy)
        # the correction removes the BIAS (the uncorrected estimator
        # underestimates by ~the quantization energy; corrected is
        # unbiased in expectation) — residual |error| is variance,
        # which the correction cannot and should not touch
        assert raw_bias < 0, raw_bias
        assert abs(cor_bias) < 0.2 * abs(raw_bias), (cor_bias, raw_bias)
        assert cor_mae <= raw_mae, (cor_mae, raw_mae)
    finally:
        df.unpersist()


def test_pq_encode_arrow_matches_expr_form(spark, sf_dir):
    """The Arrow-kernel encode (the >32-codeword auto-route) must
    reproduce the expression form exactly on the real fixture: same
    codes, same ADC distances (the LUT is the identical Python fold),
    and the same NULL sentinel for degenerate rows."""
    from pyspark.sql import types as T

    from data_warehouse_spark.operators.similarity import (
        pq_codebook_sample, pq_encode, pq_encode_arrow,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cb = pq_codebook_sample(emb, "embedding", "vec_id",
                            n_codes=16, dim=64)
    qv = [float(x) for x in
          emb.filter("vec_id = 0").select("embedding").collect()[0][0]]
    a = {r.vec_id: (r.pq_code, r.approx_dist) for r in
         pq_encode(emb, "embedding", "vec_id", cb, n_sub=8,
                   query_vec=qv).collect()}
    b = {r.vec_id: (r.pq_code, r.approx_dist) for r in
         pq_encode_arrow(emb, "embedding", "vec_id", cb, n_sub=8,
                         query_vec=qv).collect()}
    assert set(a) == set(b) and a
    for vid, (code, ad) in a.items():
        bc, bad = b[vid]
        assert bc == code, vid
        assert abs(bad - ad) < 1e-9, vid

    # sentinel parity on degenerate rows
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ])
    corrupt = spark.createDataFrame(
        [(1, [1.0] * 64), (2, None), (3, [1.0, 2.0]),
         (4, [float("nan")] + [0.5] * 63),
         (5, [float("inf")] + [0.5] * 63)], schema)
    got = {r.vec_id: (r.pq_code, r.approx_dist) for r in
           pq_encode_arrow(corrupt, "embedding", "vec_id", cb,
                           n_sub=8, query_vec=qv).collect()}
    exp = {r.vec_id: (r.pq_code, r.approx_dist) for r in
           pq_encode(corrupt, "embedding", "vec_id", cb,
                     n_sub=8, query_vec=qv).collect()}
    assert got[1][0] is not None and got[1][1] is not None
    for bad_id in (2, 3, 4, 5):
        assert got[bad_id] == (None, None), bad_id
        # expr path must sentinel the same rows (r14 ADVICE #1: the
        # expr gate previously passed inf rows the Arrow kernel
        # rejected, silently changing results across the auto-route)
        assert exp[bad_id] == (None, None), bad_id


def test_pq_codebook_train_ragged_corpus_dim_none(spark):
    """r14 ADVICE #4: pq_codebook_train with dim=None on a corpus
    containing wrong-dimension vectors must not seed from a ragged
    sample (which made _pq_sub_dist raise a bare IndexError
    mid-build). It infers dim from the md5-smallest valid row and
    re-samples rectangular."""
    import math

    from pyspark.sql import types as T

    from data_warehouse_spark.operators.similarity import (
        pq_codebook_train,
    )

    dim = 8
    rows = [(i, [float(math.sin(i * dim + t)) for t in range(dim)])
            for i in range(30)]
    # wrong-dimension contaminants scattered through the md5 order
    # (dim 4 so whichever dim the md5-smallest row pins, n_sub=2
    # divides it — this test is about the ragged seed, not the
    # divisibility check)
    rows += [(100 + i, [1.0] * 4) for i in range(10)]
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ])
    df = spark.createDataFrame(rows, schema)
    cb = pq_codebook_train(df, "embedding", "vec_id", n_codes=4,
                           n_sub=2, iters=1, dim=None)
    d = len(cb[0])
    assert d in (4, dim)  # whichever dim the md5-smallest row has
    assert len(cb) == 4 and all(len(c) == d for c in cb)
    assert all(math.isfinite(x) for c in cb for x in c)


def test_ivf_pq_256_codebook_serving_path(spark):
    """The production-size codebook end to end: a 256-codeword book
    must AUTO-ROUTE through the Arrow encode (the expr plan is
    hopeless at ~16k literal terms per argmin) and serve correct
    results — full recall of the exact top-20 at a 500-row shortlist
    on a clustered corpus, and >= 15/20 already at 200 (the
    discriminating regime, where the 16-book's within-cluster ADC
    ties degrade to an id-lottery once the shortlist is smaller than
    the query's cluster — the size effect itself is quantified
    multi-query at 1M in SCALE.md's r14 lane, not pinned single-query
    here)."""
    import hashlib

    import pyspark.sql.functions as F

    from data_warehouse_spark.operators.similarity import (
        build_ivf_index, cosine, ivf_pq_topk, pq_codebook_sample,
    )

    dim, n_clusters, n = 64, 64, 20000

    def h01(tag):
        return int(hashlib.md5(tag.encode()).hexdigest()[:8], 16) \
            / 2 ** 32 * 2 - 1

    centers = [[h01(f"c{k}-{j}") for j in range(dim)]
               for k in range(n_clusters)]
    centers_lit = F.array(*[F.array(*[F.lit(v) for v in row])
                            for row in centers])
    noise = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda j: (F.conv(F.substring(F.md5(F.concat(
            F.lit("n"), F.col("id").cast("string"), F.lit("-"),
            j.cast("string"))), 1, 8), 16, 10).cast("double")
            / F.lit(2.0 ** 32) * 2 - 1) * 0.25)
    ctr = F.element_at(centers_lit,
                       (F.col("id") % n_clusters).cast("int") + 1)
    df = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.zip_with(ctr, noise, lambda c, x: (c + x).cast("float"))
        .alias("embedding")).persist()
    try:
        qv = [float(x) for x in
              df.filter("vec_id = 0").select("embedding")
              .collect()[0][0]]
        qarr = F.array(*[F.lit(x) for x in qv])
        exact = {r.vec_id for r in df.select(
            "vec_id", F.round(cosine(F.col("embedding"), qarr), 6)
            .alias("c"))
            .orderBy(F.col("c").desc(), "vec_id").limit(20).collect()}
        idx = build_ivf_index(df, "embedding", "vec_id", n_cells=16,
                              iters=1, dim=dim, persist=True)
        try:
            cb = pq_codebook_sample(df, "embedding", "vec_id",
                                    n_codes=256, dim=dim)
            assert len(cb) == 256

            def recall(rr):
                got = {r.vec_id for r in ivf_pq_topk(
                    df, "embedding", "vec_id", qv, k=20, nprobe=8,
                    rerank=rr, index=idx, codebook=cb).collect()}
                return len(got & exact)

            assert recall(25) == 20
            assert recall(10) >= 15
        finally:
            idx.unpersist()
    finally:
        df.unpersist()


def test_pq_hof_dist_array_matches_codegen_form(spark, sf_dir):
    """_pq_dist_array_hof (the plan-compile-cheap trainer form) must
    be VALUE-identical to _pq_sub_dist's codegen form — same terms,
    same left-to-right fold — on the real fixture: identical distance
    doubles and identical argmin codes for every (row, subspace).
    This is the bit-identity the x3g oracle replay leans on."""
    import pyspark.sql.functions as F

    from data_warehouse_spark.operators.similarity import (
        _pq_dist_array_hof, _pq_sub_dist, pq_codebook_sample,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cb = pq_codebook_sample(emb, "embedding", "vec_id",
                            n_codes=8, dim=64)
    d_sub = 64 // 8
    cols = []
    for m in range(8):
        hof = _pq_dist_array_hof("embedding", cb, m, d_sub)
        gen = F.array(*[_pq_sub_dist("embedding", cb, m, j, d_sub)
                        for j in range(len(cb))])
        cols.append((hof == gen).alias(f"eq{m}"))
        cols.append((F.array_position(hof, F.array_min(hof))
                     == F.array_position(gen, F.array_min(gen)))
                    .alias(f"am{m}"))
    bad = emb.select(*cols).filter(
        ~F.expr(" AND ".join(f"eq{m} AND am{m}" for m in range(8))))
    assert bad.count() == 0


def test_extend_ivf_index_freshness_and_isolation(spark, sf_dir):
    """x3h's contract: (1) a batch appended via extend_ivf_index is
    immediately probe-visible — the query's own vector arrives IN the
    batch and must surface at rank 1; (2) the merged assignment holds
    exactly corpus+batch rows; (3) extending with an empty batch is
    an identity on probe results; (4) a batch missing the indexed
    columns is rejected."""
    import pytest
    from pyspark.sql import functions as F

    from data_warehouse_spark.operators.similarity import (
        build_ivf_index, extend_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qv = [float(x) for x in
          emb.filter("vec_id = 0").select("embedding").collect()[0][0]]
    corpus = emb.filter(F.col("vec_id") % 5 != 0)
    batch = emb.filter(F.col("vec_id") % 5 == 0)
    idx = build_ivf_index(corpus, "embedding", "vec_id", n_cells=16,
                          iters=1, dim=64, persist=False)
    ext = extend_ivf_index(idx, batch)
    got = ext.probe(qv, k=20, nprobe=4).collect()
    assert got[0].vec_id == 0 and got[0].cos_sim == 1.0
    assert ext.assigned.count() == emb.count()
    # empty batch: identity
    same = extend_ivf_index(idx, batch.limit(0)).probe(qv, k=20, nprobe=4)
    base = idx.probe(qv, k=20, nprobe=4)
    assert [(r.vec_id, r.cos_sim) for r in same.collect()] == \
           [(r.vec_id, r.cos_sim) for r in base.collect()]
    with pytest.raises(ValueError, match="indexed columns"):
        extend_ivf_index(idx, batch.select(F.col("vec_id").alias("id")))


def test_x3i_drift_monitor_monotone_and_balanced_negative(spark, sf_dir):
    """The drift metric must (a) stay quiet on a balanced index,
    (b) trip after a collapsed append, and (c) respond MONOTONICALLY:
    each further drifted epoch raises the skew (the property the
    rebuild policy relies on — r15 verdict ask #5)."""
    from pyspark.sql import functions as F

    from data_warehouse_spark.operators.similarity import (
        build_ivf_index, extend_ivf_index, ivf_cell_stats,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 5 != 0)
    idx = build_ivf_index(corpus, vec_col="embedding", id_col="vec_id",
                          n_cells=16, iters=1, dim=64, persist=False)
    base = ivf_cell_stats(idx, rebuild_skew=8.0).collect()[0]
    assert base.n_cells == 16
    assert not base.rebuild, (
        f"balanced fixture index flagged for rebuild (skew={base.skew})")

    qrow = emb.filter(F.col("vec_id") == 0) \
        .select(F.col("embedding").alias("qemb"))
    skews = [base.skew]
    for epoch in range(1, 3):
        batch = (emb.filter(F.col("vec_id") % 5 == 0)
                 .select((F.col("vec_id") + 1_000_000 * epoch)
                         .alias("vec_id"))
                 .crossJoin(F.broadcast(qrow))
                 .select("vec_id", F.col("qemb").alias("embedding")))
        idx = extend_ivf_index(idx, batch, check_ids=True)
        row = ivf_cell_stats(idx, rebuild_skew=2.0).collect()[0]
        assert row.n_cells == 16, "append must never grow the cell set"
        skews.append(row.skew)
    assert skews[1] > skews[0] and skews[2] > skews[1], \
        f"drift metric not monotone under repeated collapse: {skews}"
    assert row.rebuild, f"two collapsed epochs must trip rebuild: {row}"
    # row conservation: stats see every appended vector exactly once
    n_corpus = corpus.count()
    n_batch = emb.filter(F.col("vec_id") % 5 == 0).count()
    assert row.n_rows == n_corpus + 2 * n_batch


def test_extend_ivf_index_check_ids_rejects_overlap(spark, sf_dir):
    """check_ids=True turns an at-least-once re-delivery (id overlap)
    into a loud failure instead of silent assignment duplicates."""
    import pytest
    from pyspark.sql import functions as F

    from data_warehouse_spark.operators.similarity import (
        build_ivf_index, extend_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 5 != 0)
    idx = build_ivf_index(corpus, vec_col="embedding", id_col="vec_id",
                          n_cells=16, iters=1, dim=64, persist=False)
    replay = emb.filter(F.col("vec_id") % 5 == 1)  # already indexed
    with pytest.raises(ValueError, match="id-disjoint"):
        extend_ivf_index(idx, replay, check_ids=True)


@pytest.mark.slow  # r17: heavyweight lane, out of the default driver gate (pytest.ini)
def test_rebuild_if_drifted_closes_the_loop(spark, sf_dir):
    """monitor -> rebuild: near-duplicate drift (batch vectors pulled
    90% toward the query vector — realistic ingest shift, NOT exact
    copies) trips the skew flag under frozen centroids; retraining
    over the index's current contents redistributes the drifted mass
    and the skew drops. Also: a balanced index is returned unchanged."""
    from pyspark.sql import functions as F

    from data_warehouse_spark.operators.similarity import (
        build_ivf_index, extend_ivf_index, ivf_cell_stats,
        rebuild_index_if_drifted,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 5 != 0)
    idx = build_ivf_index(corpus, vec_col="embedding", id_col="vec_id",
                          n_cells=16, iters=1, dim=64, persist=False)
    same, rebuilt = rebuild_index_if_drifted(idx, rebuild_skew=8.0)
    assert not rebuilt and same is idx

    qrow = emb.filter(F.col("vec_id") == 0) \
        .select(F.col("embedding").alias("qemb"))
    # two drifted epochs: v' = 0.9*q + 0.1*v (distinct per vector, so
    # retraining CAN split the mass — see the operator's exact-dup
    # caveat)
    for epoch in (1, 2):
        batch = (emb.filter(F.col("vec_id") % 5 == 0)
                 .select((F.col("vec_id") + 1_000_000 * epoch)
                         .alias("vec_id"), "embedding")
                 .crossJoin(F.broadcast(qrow))
                 .select("vec_id",
                         F.zip_with("embedding", "qemb",
                                    lambda v, q: (q * F.lit(0.9)
                                                  + v * F.lit(0.1))
                                    .cast("float")).alias("embedding")))
        idx = extend_ivf_index(idx, batch, check_ids=True)
    before = ivf_cell_stats(idx).collect()[0]
    assert before.rebuild, f"drifted append did not trip the flag: {before}"
    idx2, rebuilt = rebuild_index_if_drifted(idx, rebuild_skew=2.0)
    assert rebuilt
    after = ivf_cell_stats(idx2).collect()[0]
    assert after.n_rows == before.n_rows, "rebuild must not drop rows"
    assert after.skew < before.skew, (
        f"rebuild did not reduce skew: {before.skew} -> {after.skew}")
