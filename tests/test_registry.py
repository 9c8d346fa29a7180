"""Registry invariants: every registered query carries a DuckDB oracle
(checked value-for-value by tests/test_parity.py)."""

from __future__ import annotations

from data_warehouse_spark.queries.registry import load_all


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



def test_load_all_follows_module_order_not_import_order(monkeypatch):
    """COVERAGE.md lists load_all()'s order: a test that imports one
    query module before load_all runs (say queries.llm_vector) must not
    reorder it."""
    from data_warehouse_spark.queries import registry

    expected = list(load_all())
    first = [n for n, s in registry.QUERIES.items()
             if s.fn.__module__.endswith(".llm_vector")]
    reordered = {n: registry.QUERIES[n] for n in first}
    reordered |= {n: s for n, s in registry.QUERIES.items() if n not in reordered}
    assert list(reordered) != expected
    monkeypatch.setattr(registry, "QUERIES", reordered)
    assert list(load_all()) == expected


# The bi_queries benchmark mix (warehouse_bench/workloads.py BI_QUERIES).
BI_QUERIES = [
    "a1_q1_pricing_summary", "j2_broadcast_join", "j10_star_join",
    "j6_asof_join", "o2_topk_per_group", "w5_sessionize", "e1_trips",
    "st4_session_window", "e2_carbon_savings", "e3_enriched_trips",
    "j9_spatial_join", "a11_cube",
]
# Queries whose construction may run Spark jobs, with the reason.
BUILD_JOBS_ALLOWED = {
    # trips_fact ends in a lazy localCheckpoint (the e1 sort fix):
    # building the checkpoint RDD plans the query, and AQE runs the
    # window's shuffle-map stage to do so
    "e1_trips": 1,
    # the same lazy localCheckpoint of trips_fact, shared by three
    # join branches
    "e3_enriched_trips": 1,
}


def test_bi_queries_build_without_spark_jobs(spark, jobs_submitted):
    """Building a query (not running it) runs no Spark job: the
    fixture tables are read with their declared schemas, so no read
    runs a footer-reading schema-inference job."""
    specs = load_all()
    ran = {}
    for q in BI_QUERIES:
        before = jobs_submitted()
        specs[q].fn(spark, "/root/testdata/sf0.01")
        ran[q] = jobs_submitted() - before
    assert ran == {q: BUILD_JOBS_ALLOWED.get(q, 0) for q in BI_QUERIES}
