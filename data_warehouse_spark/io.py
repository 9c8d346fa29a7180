"""Table IO: fixture loading, view registration, partitioned writes.

The reference keeps append-only observation logs and a fact table in
PostgreSQL with B-tree indexes (bike_lambda.py:37-48,
trips_lambda.py:52-84). Here every table is columnar parquet; selective
access comes from partition pruning + parquet min-max stats instead of
indexes, which is the scan strategy that survives 100 TB.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table; normalizes the events timestamp to TIMESTAMP
    (with local timezone — the session pins UTC).

    The fixture generator has shipped events.ts as both parquet
    TIMESTAMP(NANOS) (scanned as long under
    spark.sql.legacy.parquet.nanosAsLong) and TIMESTAMP(MICROS,
    isAdjustedToUTC=false) (scanned as TIMESTAMP_NTZ). Both carry UTC
    wall-clock values, so both normalize to the same microsecond
    instants DuckDB produces; downstream operators always see plain
    TIMESTAMP and can use unix_micros() arithmetic.
    """
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # Integer division: ns values ~1.7e18 exceed double's 2^53
            # exact range, so a float divide would be off by ±1 us.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # Wall clock is UTC. The NTZ->TIMESTAMP cast below goes
            # through the SESSION timezone (to_utc_timestamp('UTC') is
            # then an identity on the instant), so this is only correct
            # because the engine pins spark.sql.session.timeZone=UTC
            # (session.get_spark). A truly
            # tz-independent rewrite would still hit DST-gap ambiguity
            # in the cast, so enforce the precondition loudly instead.
            tz = spark.conf.get("spark.sql.session.timeZone")
            if tz not in ("UTC", "Etc/UTC", "GMT", "+00:00", "Z"):
                raise RuntimeError(
                    f"events NTZ normalization requires session timeZone "
                    f"UTC, got {tz!r} — use session.get_spark() or pin "
                    "spark.sql.session.timeZone=UTC")
            df = df.withColumn("ts", F.to_utc_timestamp("ts", "UTC"))
        else:
            return df
        # keep original column order
        df = df.select("event_id", "ts", "user_id", "event_type", "value", "props")
    return df


def scan_events_range(spark: SparkSession, sf_dir: str,
                      start_utc: str, end_utc: str) -> DataFrame:
    """Time-range scan of the events log with working predicate pushdown.

    The ns->us conversion wraps ts in an expression, which parquet
    filter pushdown can't see through — a naive filter-after-convert
    scans every row group. Since the conversion is monotonic, the range
    predicate is applied in the *raw nanosecond long domain* first
    (PushedFilters reaches the scan, row groups prune), then converted.
    On a production layout this composes with dt-partition pruning.
    """
    import datetime as dt

    def ns(ts: str) -> int:
        # integer arithmetic end to end: datetime.timestamp() is a
        # double with ~0.25 us resolution at current epochs, so
        # int(ts*1e6) can truncate a fractional-second boundary by 1 us
        # (the same ±1 us class load_table's ns->us comment guards).
        # Inputs carrying an explicit offset are honored; naive inputs
        # mean UTC by this function's contract.
        d = dt.datetime.fromisoformat(ts)
        if d.tzinfo is None:
            d = d.replace(tzinfo=dt.timezone.utc)
        delta = d - dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
        micros = (delta.days * 86_400 + delta.seconds) * 1_000_000 \
            + delta.microseconds
        return micros * 1000

    def _require_utc_session() -> None:
        # same invariant load_table enforces loudly: the NTZ cast and
        # plain-timestamp literals below go through the SESSION
        # timezone — a non-UTC session would silently shift the range
        tz = spark.conf.get("spark.sql.session.timeZone")
        if tz not in ("UTC", "Etc/UTC", "GMT", "+00:00", "Z"):
            raise RuntimeError(
                f"scan_events_range requires session timeZone UTC, got "
                f"{tz!r} — use session.get_spark() or pin "
                "spark.sql.session.timeZone=UTC")

    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = dict(raw.dtypes).get("ts")
    if ts_type == "bigint":
        raw = raw.filter((F.col("ts") >= F.lit(ns(start_utc)))
                         & (F.col("ts") < F.lit(ns(end_utc))))
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return raw.select("event_id", "ts", "user_id", "event_type", "value", "props")
    if ts_type == "timestamp_ntz":
        # Filter in the native NTZ domain so PushedFilters reaches the
        # scan (an NTZ literal compares file-native, no cast above it),
        # then normalize to TIMESTAMP exactly like load_table.
        _require_utc_session()
        raw = raw.filter(
            (F.col("ts") >= F.lit(start_utc).cast("timestamp_ntz"))
            & (F.col("ts") < F.lit(end_utc).cast("timestamp_ntz")))
        raw = raw.withColumn("ts", F.to_utc_timestamp("ts", "UTC"))
        return raw.select("event_id", "ts", "user_id", "event_type", "value", "props")
    _require_utc_session()
    return raw.filter((F.col("ts") >= F.lit(start_utc).cast("timestamp"))
                      & (F.col("ts") < F.lit(end_utc).cast("timestamp")))


def spread_for_compute(df: DataFrame) -> DataFrame:
    """Repartition a DataFrame up to the session's default parallelism
    if — and only if — the scan delivers fewer partitions than cores.

    CPU-heavy per-row operators (MinHash signatures, SimHash, n-gram
    explosion, per-row scoring) otherwise serialize on however many
    file splits the input happens to have: a small dimension-sized
    input arrives as ONE partition and runs on one core while the rest
    idle. At 100 TB inputs already have >> cores partitions and this is
    a no-op — no shuffle is added on the scale path.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# Candidate-id rows above which the LSH verify prefilters drop their
# broadcast hint (see bcast_id_cap).
BCAST_ID_CAP = 10_000_000


def bcast_id_cap() -> int:
    """Max candidate-id rows the LSH verify prefilters may BROADCAST
    (r17, VERDICT r16 ask #3). The tail-smallness argument behind the
    r16 broadcast hints is sound for real corpora, but at adversarial
    duplication rates the candidate tail is O(corpus) and an
    unconditional hint converts a slow-but-finishing shuffle semi-join
    into a hard failure (the 8 GB / 512M-row broadcast-relation cap,
    or an executor OOM holding the built hash relation). Sites gate
    the hint on a cheap count of the already-checkpointed candidate
    set and fall back to the unhinted semi-join above the cap.

    Default 10M id rows ~ a few hundred MB of built hash relation
    (long keys) — guide §3.1's comfortable broadcast territory, two
    orders of magnitude under the hard cap. Read per call, not at
    import, so a test that patches BCAST_ID_CAP reaches the fallback
    path on a live session."""
    return BCAST_ID_CAP


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register all fixture tables as temp views for spark.sql queries."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs


def write_partitioned(df: DataFrame, path: str, ts_col: str | None = None,
                      mode: str = "overwrite") -> None:
    """Write a log/fact table partitioned by date.

    Mirrors the reference's incremental access pattern (24h sliding
    window scans, trips_lambda.py:106,218-221): a `WHERE ts >= X`
    predicate prunes to the matching date partitions, so daily
    reprocessing touches O(1 day) of data regardless of total size.
    """
    writer = df
    if ts_col is not None:
        writer = df.withColumn("dt", F.to_date(F.col(ts_col)))
        writer.write.mode(mode).partitionBy("dt").parquet(path)
    else:
        writer.write.mode(mode).parquet(path)


def write_bucketed(df: DataFrame, table: str, path: str, key: str,
                   n_buckets: int = 32, sort_cols: list[str] | None = None) -> None:
    """Write a table bucketed (and sorted) on a hot key.

    Buckets pre-shuffle the data at write time: every later window /
    groupBy / join keyed on `key` reads co-located, pre-sorted buckets
    and skips its exchange entirely (verified in tests/test_plans.py).
    For the sessionization workload this removes the one shuffle the
    W5/E1 plans contain — the repeated-daily-run optimization the
    reference approximates with its B-tree index on (bike_id, ts)
    (trips_lambda.py:81-84).

    Thin single-key wrapper over operators.bucketing.write_bucketed —
    one implementation owns the load-bearing mechanics (the
    pre-repartition that gives one file per bucket, without which the
    scan cannot report sort order, plus the DROP TABLE guard)."""
    from data_warehouse_spark.operators.bucketing import (
        write_bucketed as _write_bucketed,
    )
    _write_bucketed(df, table, path, keys=[key], n_buckets=n_buckets,
                    sort=True, sort_keys=sort_cols or [key])
