"""Query registry: SURVEY.md §2 operator IDs -> (spark_fn, oracle_sql).

Every implemented operator registers here; ``tests/test_parity.py``
checks each query against its oracle at sf0.01. Invariants enforced
by design:

  - spark_fn(spark, sf_dir) -> DataFrame, built only from fixture
    parquet under sf_dir.
  - oracle is DuckDB-runnable ANSI SQL over the same tables (one view
    per fixture table, ``tools.parity.duck_connection``).
  - Column names and float rounding match exactly between the two
    (``tools.parity.compare`` checks order-insensitive values per
    column name).
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

# Modules that register queries on import.
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
    """Import every query module (idempotent) and return the registry
    in _QUERY_MODULES order, each module's queries in the order it
    registers them. Registration order alone would depend on which
    module a caller happened to import first."""
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
    rank = {mod: i for i, mod in enumerate(_QUERY_MODULES)}
    return dict(sorted(QUERIES.items(),
                       key=lambda kv: rank[kv[1].fn.__module__]))
