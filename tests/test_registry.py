"""Registry invariants: every registered query carries a DuckDB oracle
(checked value-for-value by tests/test_parity.py), and Arrow-kernel
queries pin their own Arrow batch tier."""

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


def test_arrow_batch_tiers_are_pinned_per_query(spark):
    """Round-8 advice closure: the Arrow exchange batch size is a
    per-query tier, not a session-wide bump. Building a vector query
    must pin the VECTOR tier (262144) for its execution; building a
    multimodal blob query must pin the BLOB tier (1024 — KB-scale
    payloads at the vector tier would be multi-GB Arrow batches)."""
    from data_warehouse_spark.session import (
        ARROW_BATCH_BLOB, ARROW_BATCH_DEFAULT, ARROW_BATCH_VECTOR,
        set_arrow_batch,
    )

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    specs = load_all()
    sf = "/root/testdata/sf0.001"

    specs["x3_cosine_topk"].fn(spark, sf)
    assert spark.conf.get(key) == str(ARROW_BATCH_VECTOR)

    specs["mm1_multimodal_stub"].fn(spark, sf)
    assert spark.conf.get(key) == str(ARROW_BATCH_BLOB)

    # The session is shared: leave it on the default tier.
    set_arrow_batch(spark, ARROW_BATCH_DEFAULT)
