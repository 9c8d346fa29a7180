"""Physical-plan assertions: the scale-critical plan properties from
SCALE.md, checked on the real optimizer output (not just documented).

These are the properties a 100 TB run depends on:
  - filter/column pushdown reaching the parquet scan
  - dimension joins broadcasting (no fact-side shuffle)
  - range join executing as a hash join, not BNL/cartesian
  - top-k compiling to TakeOrderedAndProject (no global sort)
  - whole-stage codegen covering the hot expressions
"""

from __future__ import annotations

import pytest

from data_warehouse_spark.plans import (
    assert_no_cartesian, codegen_text, count_exchanges, executed_plan,
    has_broadcast_join, has_partial_aggregation, pushed_filters,
    read_schema, uses_take_ordered,
)
from data_warehouse_spark.queries.registry import load_all

SF = "/root/testdata/sf0.001"


def q(spark, name: str):
    return load_all()[name].fn(spark, SF)


def test_s1_filter_pushdown(spark):
    # the range predicate must reach the scan in the raw ns domain
    # (io.scan_events_range) — not be stranded above the conversion
    assert "GreaterThanOrEqual(ts" in pushed_filters(q(spark, "s1_scan_filter"))


def test_p1_column_pruning(spark):
    schema = read_schema(q(spark, "p1_project"))
    # only the referenced columns are read, not all 11
    assert "l_shipdate" not in schema
    assert "l_extendedprice" in schema


def test_j2_broadcasts_dimension(spark):
    assert has_broadcast_join(q(spark, "j2_broadcast_join"))


def test_j5_range_join_is_hash_not_bnl(spark):
    assert_no_cartesian(q(spark, "j5_range_join"))


def test_o2_topk_uses_take_ordered(spark):
    assert uses_take_ordered(q(spark, "o2_topk"))


def test_a1_has_partial_aggregation(spark):
    assert has_partial_aggregation(q(spark, "a1_q1_pricing_summary"))


def test_a1_whole_stage_codegen(spark):
    # the hot agg expressions must compile into a codegen stage; the
    # adaptive pre-final plan hides '*(' markers, so use codegen explain
    assert "WholeStageCodegen" in codegen_text(q(spark, "a1_q1_pricing_summary"))


def test_w5_single_exchange_for_window_and_agg(spark):
    # lag window + session-id window + groupBy all hash on user_id:
    # Catalyst reuses one exchange; only the final agg may add one.
    assert count_exchanges(q(spark, "w5_sessionize")) <= 2


def test_x3_topk_no_global_sort(spark):
    assert uses_take_ordered(q(spark, "x3_cosine_topk"))


@pytest.mark.parametrize("name", ["j1_inner_join", "u1_upsert"])
def test_no_cartesian_anywhere(spark, name):
    assert "CartesianProduct" not in executed_plan(q(spark, name))


def test_a7_salted_agg_two_phase_shape(spark):
    # phase 1 groups on (key, salt), phase 2 on key: two shuffles max,
    # each with map-side partial aggregation
    df = q(spark, "a7_salted_agg")
    assert count_exchanges(df) <= 2
    assert has_partial_aggregation(df)


def test_bucketed_table_removes_sessionization_shuffle(spark, tmp_path):
    """SCALE.md's bucketing claim, proven on the optimizer's output: a
    window+groupBy on the bucket key reads pre-shuffled buckets and
    needs ZERO exchanges (vs 1 on the plain parquet scan)."""
    from pyspark.sql import Window, functions as F

    from data_warehouse_spark.io import load_table, write_bucketed

    ev = load_table(spark, SF, "events")
    spark.sql("DROP TABLE IF EXISTS ev_bucketed_test")
    write_bucketed(ev, "ev_bucketed_test", str(tmp_path / "evb"),
                   key="user_id", n_buckets=8, sort_cols=["user_id", "ts"])

    w = Window.partitionBy("user_id").orderBy("ts")

    def pipeline(src):
        return (src.withColumn("prev", F.lag("ts").over(w))
                .groupBy("user_id").agg(F.count(F.lit(1)).alias("n")))

    assert count_exchanges(pipeline(spark.table("ev_bucketed_test"))) == 0
    assert count_exchanges(pipeline(ev)) >= 1
    # same results either way
    a = {(r.user_id, r.n) for r in pipeline(spark.table("ev_bucketed_test")).collect()}
    b = {(r.user_id, r.n) for r in pipeline(ev).collect()}
    assert a == b


def test_s8_scan_is_partition_pruned(spark):
    """The dt filter must prune at the partition level: the parquet scan
    plans only the 2 matching dt= directories, not a post-scan filter
    over everything."""
    plan = executed_plan(q(spark, "s8_partition_pruned_scan"))
    assert "PartitionFilters" in plan and "dt" in plan.split(
        "PartitionFilters", 1)[1][:200]


def test_s8b_scan_is_dynamically_pruned(spark):
    """s8b's day list comes from a runtime aggregate (top-10 busiest
    days), so no static dt filter exists — the fact scan must carry a
    dynamicpruningexpression PartitionFilter (DPP: the broadcast dim
    subquery executes first and prunes the fact's partition listing).
    A deterministic function of dt would instead be pushed statically
    through the join and never exercise DPP — this pins the dynamic
    path specifically."""
    plan = executed_plan(q(spark, "s8b_dpp_scan"))
    fact_scans = [ln for ln in plan.splitlines()
                  if "PartitionFilters" in ln and "event_type" in ln]
    assert fact_scans, "no fact scan with PartitionFilters in plan"
    assert any("dynamicpruning" in ln for ln in fact_scans), (
        "fact scan lost its dynamicpruningexpression — DPP regressed:\n"
        + fact_scans[0][:400])


def test_runtime_bloom_filter_fires_on_fact_fact_join(spark):
    """Runtime Bloom-filter join pruning — the non-partition-key
    analogue of s8b's DPP: a selective dim-side filter materializes a
    bloom filter that is pushed into the FACT scan as
    might_contain(xxhash64(key)), skipping rows (and with parquet
    row-group stats, whole row groups) that cannot join. At 100 TB the
    defaults fire on their own (application side >= 10 GB, no
    broadcastable side on a fact-fact join); at fixture scale both
    thresholds and the broadcast fallback must be scoped down to
    exercise the rule, so this is a plan-mechanism test rather than a
    registry row — session confs are restored either way (a leaked
    autoBroadcastJoinThreshold=-1 would rewrite every other query's
    plan)."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "65536",
        "spark.sql.optimizer.runtime.bloomFilter."
        "creationSideThreshold": "33554432",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    import pyspark.sql.functions as F

    from data_warehouse_spark.io import load_table

    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, SF, "lineitem")
        orders = (load_table(spark, SF, "orders")
                  .filter(F.col("o_orderpriority") == "1-URGENT"))
        joined = (li.join(orders.select("o_orderkey"),
                          li["l_orderkey"] == orders["o_orderkey"])
                  .groupBy("l_returnflag")
                  .agg(F.count(F.lit(1)).alias("n")))
        plan = executed_plan(joined)
        assert "might_contain" in plan, (
            "runtime bloom filter not injected — rule regressed or "
            "thresholds changed upstream")
        # exactness: the bloom prefilter is lossy-pass/exact-join —
        # results must equal the unfiltered join's
        expected = {(r.l_returnflag, r.n) for r in
                    (li.join(orders.select("o_orderkey"),
                             li["l_orderkey"] == orders["o_orderkey"],
                             "left_semi").groupBy("l_returnflag")
                     .agg(F.count(F.lit(1)).alias("n"))).collect()}
        # left_semi differs when orders has dup keys; o_orderkey is
        # unique in the fixture so inner == semi here
        got = {(r.l_returnflag, r.n) for r in joined.collect()}
        assert got == expected
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_x3_small_scan_kernel_stays_jvm_side(spark):
    """x3 scores with the one-parse HOF expression at every input size:
    no Python evaluation node may appear in the scoring plan."""
    plan = executed_plan(q(spark, "x3_cosine_topk"))
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInArrow",
                   "FlatMapsInPandas", "MapInPandas"):
        assert marker not in plan, marker
    assert uses_take_ordered(q(spark, "x3_cosine_topk"))


def test_a11_cube_is_one_expand_pass(spark):
    # CUBE must plan as a single Expand + partial/final hash aggregate,
    # never 2^k scans of the fact table — and the Expand must replicate
    # the group-cardinality base aggregate, not the fact table: below
    # the Expand there has to be another HashAggregate (the finest-
    # granularity pre-aggregation), not the bare scan.
    plan = executed_plan(q(spark, "a11_cube"))
    assert plan.count("Expand") >= 1
    assert plan.count("FileScan") == 1
    assert has_partial_aggregation(q(spark, "a11_cube"))
    below_expand = plan.split("Expand", 1)[1]
    assert "HashAggregate" in below_expand


def test_u7_rollup_merge_never_rescans_history(spark):
    # the merge joins two pre-aggregated (group-sized) tables; both
    # sides must be aggregated BELOW the join, with partial aggregation
    # bounding what the exchanges carry
    plan = executed_plan(q(spark, "u7_incremental_rollup"))
    join_pos = plan.find("SortMergeJoin")
    if join_pos < 0:
        join_pos = plan.find("HashJoin")
    assert join_pos >= 0
    assert has_partial_aggregation(q(spark, "u7_incremental_rollup"))
    assert "CartesianProduct" not in plan


def test_upsert_order_col_anti_join_build_side_has_no_aggregate(spark):
    # with order_col, dedup_latest already leaves one row per key, so
    # the anti join's build side is the batch's key projection as is:
    # no distinct (exchange + partial/final aggregate) on any merge
    from data_warehouse_spark.operators.merge import upsert
    old = spark.range(100).selectExpr("id AS k", "id AS ts", "'old' AS v")
    new = spark.range(50, 150).selectExpr("id AS k", "id + 1000 AS ts",
                                          "'new' AS v")
    plan = executed_plan(upsert(old, new, keys=["k"], order_col="ts"))
    assert "LeftAnti" in plan
    assert plan.count("Aggregate") == 0, plan


def test_x11_redaction_stays_in_codegen(spark):
    # the scrub is chained regexp_replace projections: no Python
    # evaluation anywhere in the plan
    plan = executed_plan(q(spark, "x11_pii_redaction"))
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                   "PythonMapInArrow", "MapInArrow"):
        assert marker not in plan, marker
    assert "WholeStageCodegen" in codegen_text(q(spark, "x11_pii_redaction"))


def test_x2d_cosine_lsh_no_cartesian(spark):
    # LSH candidates come from a band-bucket equi-join; exact verify
    # joins only candidate ids — a cross join must never appear
    assert_no_cartesian(q(spark, "x2d_cosine_lsh"))


def test_x13_eval_set_broadcasts(spark):
    # decontamination's corpus side must stream against a BROADCAST
    # eval gram set — a shuffled corpus-vs-eval join would move the
    # whole corpus explode at 100 TB
    plan = executed_plan(q(spark, "x13_decontaminate"))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert_no_cartesian(q(spark, "x13_decontaminate"))
    assert has_partial_aggregation(q(spark, "x13_decontaminate"))


def test_x2e_corpus_index_aggregates_below_join(spark):
    # the (content_hash, canonical) index must be a group-by BELOW the
    # batch join — joining raw corpus text rows would shuffle the
    # corpus instead of its distinct-content index
    plan = executed_plan(q(spark, "x2e_incremental_dedup"))
    join_pos = min([p for p in (plan.find("SortMergeJoin"),
                                plan.find("ShuffledHashJoin"),
                                plan.find("BroadcastHashJoin")) if p >= 0],
                   default=-1)
    assert join_pos >= 0
    assert "HashAggregate" in plan[join_pos:]
    assert_no_cartesian(q(spark, "x2e_incremental_dedup"))


def test_x2g_incremental_probe_is_equi_join_no_cartesian(spark):
    # the batch probes the corpus's band index through a (band, bucket)
    # equi-join and the verify stage joins candidate ids only — at
    # 100 TB anything cartesian here would pair the batch against the
    # whole corpus
    assert_no_cartesian(q(spark, "x2g_incremental_minhash"))


def test_x17_semdedup_pairs_only_within_cells(spark):
    # cell assignment is a map-only Arrow kernel (no join at all) and
    # the prune join keys on the cell — the quadratic term must be
    # Σ|cell|², never corpus²: no cartesian, and the pair join must be
    # a real equi-join
    df = q(spark, "x17_semdedup")
    assert_no_cartesian(df)
    plan = executed_plan(df)
    assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan)


def test_x18_chain_broadcasts_and_final_plan_reads_checkpoints(spark):
    """x18's composition discipline: the cleaning chain broadcasts the
    eval gram set (x13's rule) with no cartesian anywhere; materialized,
    the chain reads the checkpointed quality stage (e3's execute-once
    lesson — three consumers would otherwise re-run the full-text scan
    inline) so exactly ONE documents scan remains (the eval branch);
    and the full query's plan reads checkpoints only — zero documents
    scans survive into the budget/packing stage."""
    from data_warehouse_spark.queries.llm_text import _x18_clean

    chain = _x18_clean(spark, SF, materialize=False)
    plan = executed_plan(chain)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan

    mat = _x18_clean(spark, SF, materialize=True)
    mplan = executed_plan(mat)
    assert "Scan ExistingRDD" in mplan, (
        "x18's quality stage is no longer checkpoint-materialized")
    doc_scans = [ln for ln in mplan.splitlines()
                 if "Scan parquet" in ln and "documents" in ln]
    assert len(doc_scans) == 1, (
        f"expected exactly the eval-gram branch's documents scan, got "
        f"{len(doc_scans)} — a chain consumer is re-deriving inline")

    fplan = executed_plan(q(spark, "x18_corpus_prep"))
    fdoc = [ln for ln in fplan.splitlines()
            if "Scan parquet" in ln and "documents" in ln]
    assert not fdoc, (
        "composed x18 plan re-derives the cleaning chain inline "
        "instead of reading its checkpoint")


def test_dq1_row_rules_are_one_aggregate_pass(spark):
    # all row rules ride ONE aggregation over the (unioned) log — no
    # per-rule scan fan-out — and the uniqueness check is its own
    # groupBy branch (round 6: the split removes the Expand that
    # doubled every input row through the first aggregate). The union
    # contributes two scans per branch; anything beyond 4 means a rule
    # re-scanned the input. The uniqueness branch must prune to the
    # key column (the rule columns never reach it) and no Expand node
    # may appear anywhere.
    df = q(spark, "dq1_validation_report")
    plan = executed_plan(df)
    assert plan.count("FileScan") <= 4
    # exactly ONE Expand: the final unpivot over the 1-row wide report.
    # A second one would be countDistinct's row-doubling Expand over
    # the scan (the inline strategy) sneaking back.
    assert plan.count("Expand") == 1
    assert has_partial_aggregation(df)


def test_a13_histogram_is_scan_shaped(spark):
    # bin assignment is a codegen projection: one scan, partial+final
    # agg, no Python, no join
    plan = executed_plan(q(spark, "a13_histogram"))
    assert plan.count("FileScan") == 1
    for marker in ("BatchEvalPython", "ArrowEvalPython", "Join"):
        assert marker not in plan, marker
    assert has_partial_aggregation(q(spark, "a13_histogram"))


def test_f13_url_parse_is_map_only(spark):
    # parse_url must stay a projection: no shuffle anywhere
    assert count_exchanges(q(spark, "f13_url_parse")) == 0


def test_ngram_oversized_block_routes_through_lsh(spark):
    """max_block_rows routing (dedup.py): a block over the cap must be
    served by the MinHash-LSH prefilter (signature stage visible as
    xxhash64 in the plan), while the pure-exact path never hashes. Pins
    the auto-route so the quadratic self-join can't silently come back
    for oversized blocks."""
    from data_warehouse_spark.io import load_table
    from data_warehouse_spark.operators.dedup import ngram_jaccard_pairs

    docs = load_table(spark, SF, "documents")
    routed = ngram_jaccard_pairs(docs, "text", "doc_id", "lang",
                                 n=2, threshold=0.5, max_block_rows=5)
    exact = ngram_jaccard_pairs(docs, "text", "doc_id", "lang",
                                n=2, threshold=0.5, max_block_rows=None)
    # the routed plan is a Union of the exact small-block branch and
    # the LSH branch, whose checkpointed candidate set surfaces as an
    # ExistingRDD scan (the xxhash64 banding subtree runs behind that
    # checkpoint); the pure-exact plan has neither
    routed_plan = executed_plan(routed)
    exact_plan = executed_plan(exact)
    assert "Union" in routed_plan and "ExistingRDD" in routed_plan
    assert "Union" not in exact_plan and "ExistingRDD" not in exact_plan


def test_x3b_assignment_is_map_only_zero_exchange(spark):
    """Round-7 rewrite pin: IVF cell assignment must be a pure map —
    the centroid codebook is collected (n_cells rows by construction)
    into a mapInArrow argmax kernel, so the assignment stage carries
    ZERO Exchange and no Window. The round-6 form broadcast-joined
    every row against the centroid table and ran a row_number window
    partitioned on the id: an N x n_cells full-table shuffle per
    assignment pass, which is exactly the plan shape that must never
    come back at 100 TB."""
    from data_warehouse_spark.io import load_table
    from data_warehouse_spark.operators.similarity import (
        assign_cells, build_ivf_centroids,
    )

    emb = load_table(spark, SF, "embeddings")
    cent = build_ivf_centroids(emb, "embedding", "vec_id",
                               n_cells=8, iters=1, dim=64)
    assigned = assign_cells(emb, cent, "embedding", "vec_id", dim=64)
    plan = executed_plan(assigned)
    assert "MapInArrow" in plan
    assert count_exchanges(assigned) == 0
    assert "Window" not in plan


def test_e3_executes_the_trips_chain_once(spark):
    """Round-7 fix pin: e3's plan references the trips fact from three
    join branches and Spark does no cross-branch common-subtree reuse,
    so the fact MUST be materialized (localCheckpoint). The fixed plan
    reads the checkpointed RDD, and the only remaining events parquet
    scan is the weather branch's — before the fix the
    events->window->agg chain appeared (and executed) once per branch:
    5.84 -> 2.60 s at sf0.1. (The one Window left in the plan is the
    as-of join's last(ignorenulls) — not the trips sessionization.)"""
    from data_warehouse_spark.queries.registry import load_all

    e3 = load_all()["e3_enriched_trips"].fn(spark, SF)
    plan = executed_plan(e3)
    assert "Scan ExistingRDD" in plan, (
        "e3's trips fact is no longer checkpoint-materialized")
    events_scans = [ln for ln in plan.splitlines()
                    if "Scan parquet" in ln and "events" in ln]
    assert len(events_scans) == 1, (
        f"expected exactly the weather branch's events scan, got "
        f"{len(events_scans)} — the trips chain is re-deriving inline")


def test_e4_day_batch_is_one_pruned_scan_and_state_reads_checkpoints(spark):
    """E4's per-day discipline (r12, VERDICT r11 ask #6): the cleaned
    batch is exactly ONE scan of the dt-partitioned events copy with
    the day window pushed into PartitionFilters (the reference's 24h
    re-scan costs O(1 day) at any table size), and the composed final
    state reads only checkpoints + snapshot parquet — no events scan
    may reappear in the end-to-end plan (each day's batch feeds both
    the trip chain and the weather branch through its checkpoint)."""
    from data_warehouse_spark.queries.sessions import _E4_W1, e4_daily_batch

    raw = e4_daily_batch(spark, SF, _E4_W1, materialize=False)
    plan = executed_plan(raw)
    scans = [ln for ln in plan.splitlines()
             if "Scan parquet" in ln and "events" in ln]
    assert len(scans) == 1, f"expected 1 events_dt scan, got {len(scans)}"
    assert "PartitionFilters: [dt" in scans[0], (
        "day window not pushed to partition pruning")

    e4 = load_all()["e4_daily_run"].fn(spark, SF)
    final = executed_plan(e4)
    ev_scans = [ln for ln in final.splitlines()
                if "Scan parquet" in ln and "events" in ln]
    assert not ev_scans, (
        "composed e4 plan re-derives the events chain inline instead "
        "of reading the committed snapshot")


def test_x14b_window_is_chunked_not_single_reducer(spark):
    """SCALE.md's x14b claim, machine-checked (r12, VERDICT r11 ask
    #8): the per-ROW running-sum window must be partitioned by
    (stratum, chunk) — parallelism strata x chunks — never by the
    stratum alone, which would serialize each stratum's full data on
    one reducer. The only stratum-alone window allowed is the offsets
    pass over the chunk-count-sized subtotal table, which then reaches
    the data through a broadcast join."""
    df = q(spark, "x14b_token_budget_scalable")
    plan = executed_plan(df)
    row_windows = [ln for ln in plan.splitlines()
                   if "windowspecdefinition(" in ln and " k#" in ln]
    assert row_windows, "per-row window (ordered by key k) not found"
    for ln in row_windows:
        assert "__chunk" in ln, (
            "per-row window lost its chunk partition — single reducer "
            f"per stratum is back: {ln.strip()[:200]}")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" not in plan and "broadcast" in plan.lower(), (
        "chunk offsets no longer broadcast back to the data")


def test_x19_rank_window_is_chunked_not_single_reducer(spark):
    """x19's exact per-language rank must ride the same two-phase
    decomposition as x14b: the per-ROW window partitioned by
    (stratum, chunk), never by the stratum alone — a lang-only window
    would serialize each language's whole corpus on one reducer. The
    key column here is the (negated-quality, doc_id) struct k."""
    df = q(spark, "x19_quality_gate")
    plan = executed_plan(df)
    row_windows = [ln for ln in plan.splitlines()
                   if "windowspecdefinition(" in ln and " k#" in ln]
    assert row_windows, "per-row rank window (ordered by key k) not found"
    for ln in row_windows:
        assert "__chunk" in ln, (
            "rank window lost its chunk partition — single reducer "
            f"per language is back: {ln.strip()[:200]}")
    assert "CartesianProduct" not in plan


def test_x16c_kpass_routing_thresholds():
    """The K-pass bounded-spill routing rule (SCALE.md): 1 pass
    through 256x amplification (recorded single-pass cells stay
    valid), first threshold at ~1.45M docs, 4 passes at the 1024x
    corpus that ENOSPC'd single-pass in round 10."""
    from data_warehouse_spark.queries.llm_text import x16c_n_passes

    assert x16c_n_passes(5_000) == 1            # sf0.1
    assert x16c_n_passes(1_280_000) == 1        # 256x: 7.04e8 windows
    assert x16c_n_passes(1_454_545) == 1        # last single-pass size
    assert x16c_n_passes(1_454_546) == 2        # first 2-pass size
    assert x16c_n_passes(5_120_000) == 4        # 1024x: ~2.9e9 windows


def test_x20_chunking_is_map_only_zero_exchange(spark):
    # scan -> Generate (explode of the per-row start sequence) ->
    # Project; the chunker must not shuffle at any scale, and the
    # whole pipeline stays JVM-side (no Python eval of any flavor)
    df = q(spark, "x20_chunk_overlap")
    assert count_exchanges(df) == 0
    plan = executed_plan(df)
    assert "Exchange" not in plan
    assert "Generate" in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                   "PythonMapInArrow", "MapInArrow"):
        assert marker not in plan, marker


def test_x3d_pq_encode_is_map_only_zero_exchange(spark):
    # the codebook rides the plan as ~8 KB of literals; encode + ADC
    # scoring must be scan -> project with zero exchanges and zero
    # Python evaluation — the property that makes the 32x-compressed
    # index buildable by a pure map pass at any scale
    df = q(spark, "x3d_pq_adc")
    assert count_exchanges(df) == 0
    plan = executed_plan(df)
    assert "Exchange" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                   "PythonMapInArrow", "MapInArrow"):
        assert marker not in plan, marker
    assert "WholeStageCodegen" in codegen_text(df)


def test_x3e_ivfpq_probe_joins_are_broadcast_no_cartesian(spark):
    # the probe's two semi-join shapes (best-cells onto the
    # assignment, shortlist onto the corpus) must broadcast — the
    # candidate and shortlist sides are nprobe-cells / k*rerank rows
    # by construction — and nothing may fall back to a cartesian
    df = q(spark, "x3e_ivfpq_topk")
    assert_no_cartesian(df)
    plan = executed_plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_mm4_default_path_is_pure_codegen(spark):
    # r13 verdict ask #2: mm4's stub features are pure column math and
    # must stay JVM-side (octet_length % k in whole-stage codegen);
    # the Arrow encoder seam lives in mm4b, measured separately
    df = q(spark, "mm4_feature_ann")
    plan = executed_plan(df)
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                   "PythonMapInArrow", "MapInArrow"):
        assert marker not in plan, marker
    assert uses_take_ordered(df)

