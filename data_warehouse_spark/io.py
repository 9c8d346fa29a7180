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
from pyspark.sql.types import StructType, _parse_datatype_json_string

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# The fixture tables' declared schemas, one place for the whole engine
# (the reference fixes its tables by DDL, SURVEY.md §1.1). A read with
# a declared schema lists files but opens no footer: an inferring
# spark.read.parquet(path) runs a footer-reading Spark job first.
EVENTS_SCHEMA = ("event_id bigint, ts timestamp, user_id bigint, "
                 "event_type string, value double, props string")
TABLE_SCHEMAS = {
    "region": "r_regionkey int, r_name string",
    "nation": "n_nationkey int, n_name string, n_regionkey int",
    "customer": ("c_custkey bigint, c_name string, c_nationkey int, "
                 "c_acctbal double, c_mktsegment string"),
    "supplier": ("s_suppkey bigint, s_name string, s_nationkey int, "
                 "s_acctbal double"),
    "part": ("p_partkey bigint, p_name string, p_brand string, "
             "p_type string, p_size int, p_retailprice double"),
    "orders": ("o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
               "o_totalprice double, o_orderdate timestamp_ntz, "
               "o_orderpriority string"),
    "lineitem": ("l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
                 "l_linenumber int, l_quantity double, "
                 "l_extendedprice double, l_discount double, l_tax double, "
                 "l_returnflag string, l_linestatus string, "
                 "l_shipdate timestamp_ntz"),
    "events": EVENTS_SCHEMA,
    "documents": ("doc_id bigint, text string, lang string, source string, "
                  "n_chars bigint"),
    "embeddings": "vec_id bigint, embedding array<float>, label int",
}
# How events.ts may be stored, as Spark scans it: parquet
# TIMESTAMP(NANOS) as bigint (spark.sql.legacy.parquet.nanosAsLong),
# TIMESTAMP(MICROS, isAdjustedToUTC=false) as timestamp_ntz, and
# UTC-adjusted micros as timestamp.
EVENTS_TS_ENCODINGS = ("bigint", "timestamp_ntz", "timestamp")

# (file, size, mtime) -> {column: Spark type}, filled by parquet_columns.
# Every merge writes new files, so a long stream would grow it without
# end: it is emptied when full.
_FILE_COLUMNS: dict[tuple[str, int, int], dict[str, str]] = {}
_FILE_COLUMNS_MAX = 10_000


def parquet_columns(spark: SparkSession, path: str) -> dict[str, dict[str, str]]:
    """{file: {column: Spark type}} for every data file under `path` (a
    parquet file, or a directory read recursively, skipping the hidden
    `_`/`.` names Spark's reader skips); {} if `path` does not exist.

    The types are what a Spark scan of each file infers (Spark's own
    footer converter under the session conf), read from the footers on
    the driver through the Hadoop FS: no Spark job. Each footer is read
    once per (file, size, mtime)."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(conf)
    if not fs.exists(root):
        return {}
    prefix = len(fs.makeQualified(root).toString())
    converter = None
    out = {}
    files = fs.listFiles(root, True)
    while files.hasNext():
        st = files.next()
        hpath = st.getPath()
        name = hpath.toString()
        if any(part[:1] == "." or (part[:1] == "_" and "=" not in part)
               for part in name[prefix:].split("/")):
            continue
        key = (name, st.getLen(), st.getModificationTime())
        cols = _FILE_COLUMNS.get(key)
        if cols is None:
            if converter is None:
                converter = (jvm.org.apache.spark.sql.execution.datasources
                             .parquet.ParquetToSparkSchemaConverter(
                                 spark._jsparkSession.sessionState().conf()))
            footer = jvm.org.apache.parquet.hadoop.ParquetFileReader \
                .readFooter(conf, hpath)
            struct = converter.convert(footer.getFileMetaData().getSchema())
            cols = {f.name: f.dataType.simpleString() for f in
                    _parse_datatype_json_string(struct.json()).fields}
            if len(_FILE_COLUMNS) >= _FILE_COLUMNS_MAX:
                _FILE_COLUMNS.clear()
            _FILE_COLUMNS[key] = cols
        out[name] = cols
    return out


def require_schema(spark: SparkSession, paths, schema: StructType,
                   exact: bool = False) -> None:
    """Fail loudly unless every parquet file under `paths` stores each
    field of `schema` with its declared type (with `exact`, and no
    other column). Missing paths are skipped.

    A read with a declared schema does not look at the files: a column
    a file lacks reads as NULL, silently, and a column of another type
    fails only inside a task, or reads widened. This check runs on the
    driver from footers (parquet_columns), before the read."""
    want = {f.name: f.dataType.simpleString() for f in schema.fields}
    for path in paths:
        for file, have in parquet_columns(spark, path).items():
            bad = [f"{c} is {have.get(c, 'missing')}, declared {t}"
                   for c, t in want.items() if have.get(c) != t]
            if exact:
                bad += [f"{c} is not declared" for c in have if c not in want]
            if bad:
                raise ValueError(f"{file} disagrees with its declared "
                                 f"schema: {'; '.join(bad)}")


def _read_events(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, str]:
    """events as stored, read with its declared schema, plus the Spark
    type its ts column is stored as (one of EVENTS_TS_ENCODINGS)."""
    path = f"{sf_dir}/events.parquet"
    files = parquet_columns(spark, path)
    if not files:
        raise FileNotFoundError(f"no parquet data at {path}")
    ts_type = next(iter(files.values())).get("ts")
    ddl = EVENTS_SCHEMA
    if ts_type in EVENTS_TS_ENCODINGS:
        ddl = ddl.replace("ts timestamp", f"ts {ts_type}")
    raw = spark.read.schema(ddl).parquet(path)
    require_schema(spark, [path], raw.schema)
    return raw, ts_type


def _require_utc_session(spark: SparkSession) -> None:
    # The NTZ->TIMESTAMP cast and plain-timestamp literals go through
    # the SESSION timezone (to_utc_timestamp('UTC') is then an identity
    # on the instant), so they are only correct because the engine pins
    # spark.sql.session.timeZone=UTC (session.get_spark). A truly
    # tz-independent rewrite would still hit DST-gap ambiguity in the
    # cast, so enforce the precondition loudly instead.
    tz = spark.conf.get("spark.sql.session.timeZone")
    if tz not in ("UTC", "Etc/UTC", "GMT", "+00:00", "Z"):
        raise RuntimeError(
            f"events timestamp handling requires session timeZone "
            f"UTC, got {tz!r} — use session.get_spark() or pin "
            "spark.sql.session.timeZone=UTC")


def normalize_events_ts(spark: SparkSession, raw: DataFrame,
                        ts_type: str) -> DataFrame:
    """events.ts, stored as `ts_type`, as plain TIMESTAMP (batch or
    stream)."""
    if ts_type == "bigint":
        # Integer division: ns values ~1.7e18 exceed double's 2^53
        # exact range, so a float divide would be off by ±1 us.
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type == "timestamp_ntz":
        # Wall clock is UTC; see _require_utc_session.
        _require_utc_session(spark)
        return raw.withColumn("ts", F.to_utc_timestamp("ts", "UTC"))
    return raw


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table with its declared schema (TABLE_SCHEMAS),
    so the read runs no Spark job; a file that disagrees with the
    declared schema fails here (require_schema). Normalizes the events
    timestamp to TIMESTAMP (with local timezone — the session pins
    UTC).

    The fixture generator has shipped events.ts as both parquet
    TIMESTAMP(NANOS) (scanned as long under
    spark.sql.legacy.parquet.nanosAsLong) and TIMESTAMP(MICROS,
    isAdjustedToUTC=false) (scanned as TIMESTAMP_NTZ); the encoding is
    picked from the file's footer, read on the driver. Both carry UTC
    wall-clock values, so both normalize to the same microsecond
    instants DuckDB produces; downstream operators always see plain
    TIMESTAMP and can use unix_micros() arithmetic.
    """
    if name == "events":
        return normalize_events_ts(spark, *_read_events(spark, sf_dir))
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.schema(TABLE_SCHEMAS[name]).parquet(path)
    require_schema(spark, [path], df.schema)
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

    raw, ts_type = _read_events(spark, sf_dir)
    if ts_type == "bigint":
        raw = raw.filter((F.col("ts") >= F.lit(ns(start_utc)))
                         & (F.col("ts") < F.lit(ns(end_utc))))
    elif ts_type == "timestamp_ntz":
        # Filter in the native NTZ domain so PushedFilters reaches the
        # scan (an NTZ literal compares file-native, no cast above it),
        # then normalize to TIMESTAMP exactly like load_table.
        _require_utc_session(spark)
        raw = raw.filter(
            (F.col("ts") >= F.lit(start_utc).cast("timestamp_ntz"))
            & (F.col("ts") < F.lit(end_utc).cast("timestamp_ntz")))
    else:
        # same invariant: plain-timestamp literals go through the
        # SESSION timezone — a non-UTC session would silently shift
        # the range
        _require_utc_session(spark)
        raw = raw.filter((F.col("ts") >= F.lit(start_utc).cast("timestamp"))
                         & (F.col("ts") < F.lit(end_utc).cast("timestamp")))
    return normalize_events_ts(spark, raw, ts_type)


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
