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

