"""Registry-order invariants: the external correctness gate checks the
FIRST 50 registered queries, so window composition is a deliverable,
not an accident of import order. These tests pin it."""

from __future__ import annotations

from data_warehouse_spark.queries.registry import DRIVER_WINDOW, load_all

# Round-17 window (standing stale-first + changed-query-first rules):
# the full 22-row r13 cohort first (oldest last-green per
# tools/rotation.py), then the 11 round-17 code-changed queries (the
# fingerprint diff vs the r16 round boundary) and the 12 queries the
# compact merge writes and read_events_stream's glob changed since,
# then r14-cohort backfill to 50. Composition rationale lives next to
# DRIVER_WINDOW in queries/registry.py; the "every changed query is
# windowed" half is machine-checked by tests/test_window_integrity.py
# and the staleness half is generated by tools/rotation.py from the
# CORRECTNESS_r*.json archive.
MUST_BE_WINDOWED = {
    # (a) the 22 r13-dated rows (the oldest cohort, whole)
    "e3_enriched_trips", "e2_carbon_savings", "e2b_carbon_bucketed",
    "p3_between_computed", "p5_or_inequality", "p6_having",
    "a1_q1_pricing_summary", "a3_global_agg", "a11_cube",
    "o1_global_sort", "set2_union_distinct", "set3_intersect",
    "set4_except", "a8_approx_agg", "a9_pivot", "o2_topk_per_group",
    "f2_epoch_diff", "f3_haversine", "f8_strings", "f9_json",
    "f10_null_handling", "f11_arrays",
    # (b) round-17 code changes (st4 lag-chain session aggregate +
    # the with_session_id gap_closed mode -> w5; mm2 hdr pruning;
    # LSH broadcast size-gates + threshold validation -> x2 family;
    # u4 windowed because scd2_apply was rewritten, measured and
    # REVERTED mid-round — churned operator, OPTIMIZATION_r17.md #3)
    "u4_scd2_dimension", "st4_session_window", "w5_sessionize",
    "mm2_image_resize", "x2_minhash_lsh", "x2c_ngram_jaccard",
    "x2d_cosine_lsh", "x2f_minhash_sparse", "x2g_incremental_minhash",
    "x8_dup_components", "x12_dedup_corpus",
    # (b) compact merge writes (upsert, overwrite_partitions behind the
    # merge and delete) + read_events_stream's glob
    "e4_daily_run", "u1_upsert", "u9_time_travel", "u9b_snapshot_diff",
    "st7_foreach_upsert", "u5_delete_keys", "st1_stream_source",
    "st6_stream_dedup", "st8_custom_stateful", "st9_stream_stream_join",
    "st10_stream_static_join", "st11_dedup_retries",
    # (c) r14-cohort backfill (stale-first, first 5)
    "dq1_validation_report", "dq1b_validation_sketch", "u6_compaction",
    "u3_microbatch_write", "udf3_grouped_pandas",
}


def test_driver_window_is_exactly_the_round17_set():
    # DRIVER_WINDOW is the explicit first-50 contract; it must hold
    # every query that needs (re-)verification this round and fit the
    # driver's 50-entry budget.
    assert len(DRIVER_WINDOW) <= 50
    assert set(DRIVER_WINDOW) == MUST_BE_WINDOWED


def test_window_names_resolve_and_lead_the_registry():
    names = list(load_all())
    unknown = set(DRIVER_WINDOW) - set(names)
    assert not unknown, f"DRIVER_WINDOW names not registered: {unknown}"
    window = set(names[:50])
    missing = MUST_BE_WINDOWED - window
    assert not missing, (
        f"queries pushed out of the driver's 50-entry window: {missing}; "
        "check DRIVER_WINDOW in queries/registry.py")


def test_every_query_has_fn_and_all_have_oracles():
    specs = load_all()
    assert len(specs) >= 88
    no_oracle = {n for n, s in specs.items() if s.oracle is None}
    # Round 9: the former rows-only trio (f7/a8/a12) is contract-
    # certified — nondeterministic outputs replaced by deterministic
    # verdict booleans + exact branches the DuckDB oracle replays — so
    # EVERY registered query now carries a value oracle. Equality (not
    # <=) so a query silently losing its oracle fails loudly.
    assert no_oracle == set()


def test_arrow_batch_tiers_are_pinned_per_query(spark):
    """Round-8 advice closure: the Arrow exchange batch size is a
    per-query tier, not a session-wide bump. Building a vector query
    must pin the VECTOR tier (262144) for its execution; building a
    multimodal blob query must pin the BLOB tier (1024 — KB-scale
    payloads at the vector tier would be multi-GB Arrow batches); the
    harness reset (__spark_entry__._ensure_confs) must restore the
    narrow-row default so tiers never leak across queries."""
    import __spark_entry__ as entry_mod
    from data_warehouse_spark.session import (
        ARROW_BATCH_BLOB, ARROW_BATCH_DEFAULT, ARROW_BATCH_VECTOR,
    )

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    specs = load_all()
    sf = "/root/testdata/sf0.001"

    specs["x3_cosine_topk"].fn(spark, sf)
    assert spark.conf.get(key) == str(ARROW_BATCH_VECTOR)

    specs["mm1_multimodal_stub"].fn(spark, sf)
    assert spark.conf.get(key) == str(ARROW_BATCH_BLOB)

    entry_mod._ensure_confs(spark)
    assert spark.conf.get(key) == str(ARROW_BATCH_DEFAULT)
