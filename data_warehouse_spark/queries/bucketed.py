"""Bucketed-layout queries: the write-once/join-free answer to the
fact-to-fact shuffle (SURVEY §2.3 J11 at 100 TB).

j12's rows are checked against its DuckDB oracle by
tests/test_parity.py; the zero-exchange plan shape is additionally
asserted by tests/test_bucketing.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_warehouse_spark.io import load_table
from data_warehouse_spark.operators.bucketing import bucketed_view
from data_warehouse_spark.queries.registry import register
from data_warehouse_spark.queries.util import (
    cents, money_sum, money_sum_sql, scratch_dir,
)

# One scan task per bucket on the read side: match the local harness's
# core count (on a cluster this would be thousands — buckets should be
# sized so one bucket ~ one task's worth of data).
N_BUCKETS = 32


@register(
    "j12_bucketed_fact_join",
    oracle=f"""
SELECT o.o_orderpriority AS priority,
       COUNT(*) AS n_items,
       {money_sum_sql('l.l_extendedprice')} AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate > o.o_orderdate
GROUP BY 1
""",
    doc="J12: J11's fact-to-fact join executed over bucketed layouts — "
        "lineitem and orders both hash-clustered into the same bucket "
        "count on the order key (operators/bucketing.py), so the join "
        "runs with NO Exchange and NO per-partition Sort on either "
        "side; the only shuffle left in the plan is the final "
        "5-group aggregate. Same answer as j11 (the oracle is "
        "identical); the plan is what a 100 TB warehouse should run "
        "when the join key is known at ingest time. The bucketed "
        "materialization is the one-off write a real warehouse does "
        "on load; here it is session-cached per sf_dir. "
        "The smaller fact carries a shuffle_hash hint: on co-bucketed "
        "scans a ShuffledHashJoin is just as Exchange-free as the SMJ "
        "but skips the per-row merge machinery — measured 20.3 s -> "
        "8.5 s at 1024x (614M lineitem rows), landing at 1.02x DuckDB "
        "(round-6 diag). The build side per task is ONE bucket of the "
        "FILTERED smaller fact, so bucket count is the memory knob: "
        "size n_buckets at ingest so smaller-fact-bucket fits an "
        "executor's build budget (sub-GB); SMJ (drop the hint) is the "
        "fallback when it can't.",
    tags=("join", "agg", "bucketed"),
)
def j12_bucketed_fact_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Same derived predicate as j11 (l_shipdate > o_orderdate >= D
    # implies l_shipdate > D — Catalyst only propagates equality
    # constraints): prunes the 614M-row probe side before the hash
    # probe, on the scan. Result-identical, oracle unchanged.
    cutoff = F.lit("1996-01-01").cast("timestamp")
    li = bucketed_view(spark, sf_dir, "lineitem", load_table,
                       ["l_orderkey"], N_BUCKETS).filter(
        F.col("l_shipdate") > cutoff)
    orders = bucketed_view(spark, sf_dir, "orders", load_table,
                           ["o_orderkey"], N_BUCKETS).filter(
        F.col("o_orderdate") >= cutoff) \
        .hint("shuffle_hash")
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .filter(F.col("l_shipdate") > F.col("o_orderdate"))
            .groupBy(F.col("o_orderpriority").alias("priority"))
            .agg(F.count(F.lit(1)).alias("n_items"),
                 money_sum("l_extendedprice").alias("revenue")))


@register(
    "u8_zorder_scan",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       MIN(event_id) AS min_id, MAX(event_id) AS max_id
FROM (
    SELECT event_id, value,
           value % 90 AS lat,
           (event_id % 36000) / 100.0 - 180.0 AS lon
    FROM events
)
WHERE lat >= 10 AND lat < 20 AND lon >= -50 AND lon < -30
""",
    doc="U8 [cap]: Z-ORDER clustered layout + 2-D range scan — the "
        "multi-dimensional complement of the bucketed layouts (j12 "
        "optimizes equi-joins, e1b windows; z-order optimizes box "
        "predicates). The events log (with its derived coordinates "
        "materialized) is rewritten sorted by an interleaved-bit "
        "Morton key (operators/bucketing.py:zorder_key — pure "
        "shift/and/or codegen expressions), then a lat/lon box query "
        "runs against the rewritten files: range-partitioned, "
        "z-sorted files give parquet row-group min-max stats real "
        "selectivity on BOTH columns at once (tests/test_bucketing.py "
        "quantifies the per-file span shrink vs a round-robin write). "
        "Content identity under the rewrite + filter correctness is "
        "what the oracle certifies.",
    tags=("layout", "scan"),
)
def u8_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_warehouse_spark.operators.bucketing import (
        write_zordered, zorder_cell, zorder_key,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "value",
        F.expr("value % 90").alias("lat"),
        F.expr("(event_id % 36000) / 100.0 - 180.0").alias("lon"))
    # 16-bit cells over the DATA's observed bounds (one tiny agg):
    # normalizing to the theoretical domain would let a narrow
    # dimension degenerate the curve to single-column order
    b = ev.agg(F.min("lat"), F.max("lat"), F.min("lon"), F.max("lon")).first()
    xi = zorder_cell(F.col("lat"), b[0], b[1])
    yi = zorder_cell(F.col("lon"), b[2], b[3])
    out = scratch_dir("zorder")
    write_zordered(ev, out, zorder_key(xi, yi), n_files=32)
    back = spark.read.parquet(out)
    return (back.filter((F.col("lat") >= 10) & (F.col("lat") < 20)
                        & (F.col("lon") >= -50) & (F.col("lon") < -30))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(cents("value")).alias("sum_cents"),
                 F.min("event_id").alias("min_id"),
                 F.max("event_id").alias("max_id")))
