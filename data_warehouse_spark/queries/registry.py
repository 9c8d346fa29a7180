"""Query registry: SURVEY.md §2 operator IDs -> (spark_fn, oracle_sql).

Every implemented operator registers here; ``__spark_entry__.py``
exposes the registry to the driver. Invariants enforced by design:

  - spark_fn(spark, sf_dir) -> DataFrame, built only from fixture
    parquet under sf_dir.
  - oracle is DuckDB-runnable ANSI SQL over the same tables (views are
    pre-registered by the driver), or None for rows-only checks.
  - Column names and float rounding match exactly between the two
    (drivers compare order-insensitive value hashes per column name).
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

SparkFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str                      # SURVEY §2 ID, lowercase (e.g. "w5_sessionize")
    fn: SparkFn
    oracle: str | None = None      # DuckDB SQL; None -> rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


QUERIES: dict[str, QuerySpec] = {}

# Modules that register queries on import (appended to as coverage grows).
# Load order no longer matters for verification — DRIVER_WINDOW below
# pins the first-50 composition explicitly.
_QUERY_MODULES = [
    "data_warehouse_spark.queries.warehouse",
    "data_warehouse_spark.queries.streaming_batch",
    "data_warehouse_spark.queries.udfs",
    "data_warehouse_spark.queries.llm_text",
    "data_warehouse_spark.queries.llm_vector",
    "data_warehouse_spark.queries.sessions",
    "data_warehouse_spark.queries.bucketed",
    "data_warehouse_spark.queries.dedup_pipeline",
    "data_warehouse_spark.queries.joins",
    "data_warehouse_spark.queries.relational",
    "data_warehouse_spark.queries.windows",
    "data_warehouse_spark.queries.scalars",
]

# The driver's correctness gate checks the FIRST 50 registry entries per
# round, so window composition is a per-round verification deliverable.
# This list IS the round's window, in order; load_all() puts these names
# first and everything else after, in registration order.
#
# Round-17 rotation (standing stale-first + changed-query-first
# rules). Cohorts GENERATED, not hand-written: `python
# tools/rotation.py` derives each query's last-green round from the
# CORRECTNESS_r*.json archive (post-r16 histogram: r13=22, r14=39,
# r15=47, r16=50) and prints the stale-first order; the changed set
# below is the fingerprint diff vs the r16 round boundary
# (tools/query_fingerprints.py, machine-checked by
# tests/test_window_integrity.py).
#   (a) the 22 r13-dated rows — the ENTIRE oldest cohort re-enters
#       first: after this round no archive row is older than r14.
#   (b) the 10 round-17 code-changed queries, plus u4: st4 (session
#       aggregate through the lag-chain — identical rows, the native
#       batch session_window operator measured slower at 64x/256x),
#       w5 (with_session_id gained the gap_closed mode st4 uses; w5's
#       own rows/plan unchanged), mm2 (hdr-column blob pruning), and
#       the LSH family x2/x2c/x2d/x2f/x2g/x8/x12 (candidate-tail
#       broadcast size-gates + jaccard_threshold validation). u4 is
#       windowed although its final fingerprint matches the boundary:
#       scd2_apply was rewritten, measured, and REVERTED mid-round
#       (the split lost its A/Bs — OPTIMIZATION_r17.md #3), and the
#       churned operator earns driver re-verification.
#       Then the 12 queries changed since by the compact merge writes
#       (upsert's build side, the shared overwrite_partitions writer
#       behind merge_into_partitioned / delete_by_keys) and
#       read_events_stream's glob parameter: e4/u1/u9/u9b and st7
#       (upsert, merge), u5 (delete), st1/st6/st8/st9/st10/st11 (the
#       events stream source). u6 (compaction) and mm2 (png cache key)
#       changed too and were already windowed.
#   (c) r14-cohort backfill, stale-first per tools/rotation.py:
#       the first 5 of the 39 r14-dated rows in rotation order.
# 22 + 23 + 5 = 50. The 34 r14 rows displaced by the budget (lead
# the next window per the standing rule) start at udf4_udtf_words
# in the rotation.py stale-first order.
DRIVER_WINDOW = [
    # (a) the 22 r13-dated rows — oldest cohort re-enters first
    "e3_enriched_trips", "e2_carbon_savings", "e2b_carbon_bucketed",
    "p3_between_computed", "p5_or_inequality", "p6_having",
    "a1_q1_pricing_summary", "a3_global_agg", "a11_cube",
    "o1_global_sort", "set2_union_distinct", "set3_intersect",
    "set4_except", "a8_approx_agg", "a9_pivot", "o2_topk_per_group",
    "f2_epoch_diff", "f3_haversine", "f8_strings", "f9_json",
    "f10_null_handling", "f11_arrays",
    # (b) round-17 code changes, per the fingerprint machine-check
    "u4_scd2_dimension", "st4_session_window", "w5_sessionize",
    "mm2_image_resize", "x2_minhash_lsh", "x2c_ngram_jaccard",
    "x2d_cosine_lsh", "x2f_minhash_sparse", "x2g_incremental_minhash",
    "x8_dup_components", "x12_dedup_corpus",
    # (b) compact merge writes + read_events_stream glob
    "e4_daily_run", "u1_upsert", "u9_time_travel", "u9b_snapshot_diff",
    "st7_foreach_upsert", "u5_delete_keys", "st1_stream_source",
    "st6_stream_dedup", "st8_custom_stateful", "st9_stream_stream_join",
    "st10_stream_static_join", "st11_dedup_retries",
    # (c) r14-cohort backfill (stale-first; 5 of 39)
    "dq1_validation_report", "dq1b_validation_sketch", "u6_compaction",
    "u3_microbatch_write", "udf3_grouped_pandas",
]
# As of round 9 EVERY registry query carries a DuckDB value oracle.
# Queries added or code-changed DURING round 17 must be appended to
# (b) — displacing (c) backfill only past 50 — so the "every changed
# query is windowed" claim stays true against the CORRECTNESS_r17 keys
# (machine-checked by tests/test_window_integrity.py).


def register(name: str, oracle: str | None = None, doc: str = "",
             tags: tuple[str, ...] = ()) -> Callable[[SparkFn], SparkFn]:
    def deco(fn: SparkFn) -> SparkFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query id: {name}")
        QUERIES[name] = QuerySpec(name=name, fn=fn, oracle=oracle,
                                  doc=doc or (fn.__doc__ or ""), tags=tags)
        return fn
    return deco


def load_all() -> dict[str, QuerySpec]:
    """Import every query module (idempotent) and return the registry,
    ordered DRIVER_WINDOW-first (the driver checks the first 50)."""
    for mod in _QUERY_MODULES:
        try:
            importlib.import_module(mod)
        except ModuleNotFoundError as e:
            # Allow partial builds while modules are still being written,
            # but only swallow the module-itself-missing case.
            if mod not in str(e):
                raise
    windowed = [n for n in DRIVER_WINDOW if n in QUERIES]
    rest = [n for n in QUERIES if n not in set(windowed)]
    return {n: QUERIES[n] for n in (*windowed, *rest)}
