"""Join operators (SURVEY §2.3): the star-schema capability the
reference declares (fact enrichment columns trips_lambda.py:65-72, dim
tables README.md:74-78) expressed over the TPC-H-shaped fixtures.

Join-strategy notes (what Catalyst/AQE picks and why it scales):
  - dims (region, nation, supplier) are broadcast — no shuffle of the
    fact side, regardless of fact size.
  - fact-fact joins (orders x lineitem) shuffle both sides hashed on
    the key; AQE splits skewed partitions at runtime.
  - as-of/range joins use the operators in operators/joins.py to stay
    in hash-join land instead of broadcast-nested-loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_warehouse_spark.io import load_table
from data_warehouse_spark.operators.joins import asof_join, range_join_bucketed
from data_warehouse_spark.queries.registry import register
from data_warehouse_spark.queries.util import money_sum, money_sum_sql

@register(
    "j6_asof_join",
    oracle="""
SELECT p.event_id, p.user_id, p.ts, c.click_ts, c.click_value
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN
     (SELECT user_id, ts AS click_ts, value AS click_value
      FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.click_ts
""",
    doc="J6: as-of join — nearest preceding observation per key ([cap]; "
        "the reference's nearest-weather-reading enrichment). Union+"
        "last(ignorenulls) window implementation: one shuffle, streams "
        "at any key cardinality (operators/joins.py).",
    tags=("join",),
)
def j6_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts"), F.col("value").alias("click_value"))
    return asof_join(purchases, clicks, on="user_id", left_ts="ts",
                     right_ts="click_ts", value_cols=["click_ts", "click_value"])


@register(
    "j1_inner_join",
    oracle="""
SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE o.o_totalprice > 100000
""",
    doc="J1: fact-dim equi inner join ([cap]; star schema README.md:74-78).",
    tags=("join",),
)
def j1_inner_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    cust = load_table(spark, sf_dir, "customer")
    return orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        "o_orderkey", "o_totalprice", "c_name", "c_mktsegment")


@register(
    "j2_broadcast_join",
    oracle=f"""
SELECT n.n_name, COUNT(*) AS n_customers, {money_sum_sql('c.c_acctbal')} AS sum_bal
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
""",
    doc="J2: broadcast hash join on a small dim ([cap]). Explicit "
        "broadcast() hint: nation is O(nations) rows at any scale "
        "factor, so the customer side never shuffles for the join; the "
        "only exchange is the aggregation's.",
    tags=("join",),
)
def j2_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"),
             money_sum("c_acctbal").alias("sum_bal"))
    )


@register(
    "j3_left_join",
    oracle="""
SELECT c.c_custkey, c.c_name, COUNT(o.o_orderkey) AS n_orders
FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY c.c_custkey, c.c_name
""",
    doc="J3: left outer join keeping unmatched rows ([cap]; the "
        "reference's fact rows keep NULL enrichment columns, "
        "trips_lambda.py:65-72).",
    tags=("join",),
)
def j3_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@register(
    "j4_semi_join",
    oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
""",
    doc="J4a: left-semi join (existence check, [cap]).",
    tags=("join",),
)
def j4_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return cust.join(big, cust.c_custkey == big.o_custkey, "left_semi").select(
        "c_custkey", "c_name")


@register(
    "j4_anti_join",
    oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
""",
    doc="J4b: left-anti join (exclusion, [cap]; also the building block "
        "of the U1 merge pattern).",
    tags=("join",),
)
def j4_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return cust.join(big, cust.c_custkey == big.o_custkey, "left_anti").select(
        "c_custkey", "c_name")


@register(
    "j5_range_join",
    oracle="""
SELECT l.l_orderkey, l.l_linenumber, p.p_partkey
FROM lineitem l JOIN part p
  ON p.p_partkey < 20
 AND l.l_extendedprice BETWEEN p.p_retailprice * 2 AND p.p_retailprice * 2 + 500
""",
    doc="J5: pure range (theta) join ([cap]; implied by the temporal "
        "weather index, weather_lambda.py:47-49). Executed via the "
        "bucketed rewrite (operators/joins.py): intervals explode into "
        "coarse buckets, equi-join on bucket, exact filter after — a "
        "hash join instead of Spark's default nested loop.",
    tags=("join",),
)
def j5_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") < 20)
    out = range_join_bucketed(
        left=li.select("l_orderkey", "l_linenumber", "l_extendedprice"),
        right=part.select("p_partkey", "p_retailprice"),
        left_val="l_extendedprice",
        range_lo=F.col("p_retailprice") * 2,
        range_hi=F.col("p_retailprice") * 2 + 500,
        bucket_width=500,
    )
    return out.select("l_orderkey", "l_linenumber", "p_partkey")


@register(
    "j7_cross_join",
    oracle="""
SELECT r.r_name, n.n_name FROM region r CROSS JOIN nation n
""",
    doc="J7: cross join of small dims (notebook cell 1's cities x "
        "intervals loop).",
    tags=("join",),
)
def j7_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region").select("r_name")
    nation = load_table(spark, sf_dir, "nation").select("n_name")
    return region.crossJoin(nation)


@register(
    "j8_two_source_merge",
    oracle="""
WITH views AS (
    SELECT user_id, COUNT(*) AS n_views
    FROM events WHERE event_type = 'view' GROUP BY user_id
), clicks AS (
    SELECT user_id, COUNT(*) AS n_clicks
    FROM events WHERE event_type = 'click' GROUP BY user_id
)
SELECT v.user_id, v.n_views, c.n_clicks
FROM views v JOIN clicks c ON v.user_id = c.user_id
""",
    doc="J8: per-key merge of two derived sources — the engine-side "
        "equivalent of the reference's python dict merge of weather + "
        "air-pollution payloads per city (weather_lambda.py:129-144).",
    tags=("join",),
)
def j8_two_source_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_views"))
    clicks = ev.filter(F.col("event_type") == "click").groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_clicks"))
    return views.join(clicks, "user_id")


@register(
    "j10_star_join",
    oracle=f"""
SELECT r.r_name AS region, n.n_name AS nation,
       COUNT(*) AS n_orders, {money_sum_sql('o.o_totalprice')} AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
GROUP BY 1, 2
""",
    doc="J10: full star-schema query — fact joined through a dimension "
        "chain (orders -> customer -> nation -> region) + aggregate, the "
        "workload the reference's star schema (README.md:74-78) exists "
        "for. Plan shape at any scale: the date filter pushes into the "
        "fact scan; nation/region broadcast (bytes at any SF); customer "
        "broadcasts at small SF and AQE keeps/demotes the strategy as "
        "runtime stats dictate; one shuffle for the final aggregate.",
    tags=("join", "agg"),
)
def j10_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (orders
            .join(cust, orders.o_custkey == cust.c_custkey)
            .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
            .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
            .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 money_sum("o_totalprice").alias("revenue")))


@register(
    "j11_fact_fact_join",
    oracle=f"""
SELECT o.o_orderpriority AS priority,
       COUNT(*) AS n_items,
       {money_sum_sql('l.l_extendedprice')} AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate > o.o_orderdate
GROUP BY 1
""",
    doc="J11 [cap]: fact-to-fact join (lineitem x orders) — the join "
        "shape broadcasting can't save. Both sides shuffle hashed on "
        "the order key (sort-merge or shuffled-hash per AQE's runtime "
        "stats, skew-split enabled); the date filter pushes into the "
        "orders scan and the join-key filter prunes lineitem via "
        "runtime DPP-style reuse where available. The post-join "
        "predicate (shipdate > orderdate) evaluates inside the join's "
        "codegen stage. NOT the default at scale: this ad-hoc form is "
        "the floor-free weak spot (7.2x DuckDB at 64x, the "
        "shuffle-both-sides tax) and exists as the baseline for J12, "
        "which runs the SAME query over bucketed layouts with zero "
        "Exchange/Sort on the join key (1.5x). A 100 TB warehouse "
        "buckets both facts on the order key at ingest "
        "(operators/bucketing.py) and gets the J12 plan for every "
        "recurring join on that key; tests/test_bucketing.py pins the "
        "zero-Exchange plan. Structurally closed in round 7: SHJ "
        "hints (r6), DPP (inapplicable — no partition column on the "
        "key), and a force-injected runtime bloom filter (r7: 51.5 s "
        "vs 49.5 s bloom-off at 1024x, injection plan-verified — the "
        "derived l_shipdate predicate already subsumes the bloom's "
        "selectivity) are all measured unhelpful; the residual IS the "
        "ad-hoc two-sided shuffle (SCALE.md round-7 closures).",
    tags=("join", "agg"),
)
def j11_fact_fact_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Derived predicate Catalyst does not infer (constraint propagation
    # covers equalities, not inequality chains): l_shipdate >
    # o_orderdate AND o_orderdate >= D implies l_shipdate > D, so the
    # big probe side prunes BEFORE the shuffle (~57% of lineitem rows
    # dropped at the scan). Result-identical; the oracle is unchanged.
    cutoff = F.lit("1996-01-01").cast("timestamp")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > cutoff)
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= cutoff)
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .filter(F.col("l_shipdate") > F.col("o_orderdate"))
            .groupBy(F.col("o_orderpriority").alias("priority"))
            .agg(F.count(F.lit(1)).alias("n_items"),
                 money_sum("l_extendedprice").alias("revenue")))
