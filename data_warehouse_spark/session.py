"""SparkSession factory tuned for both local testing and cluster scale.

Local mode runs ``local[$SPARK_GRAFT_CPUS]`` (single JVM); on a real
cluster the same settings hold except parallelism-related ones, which
scale with the cluster (see ``cluster_notes`` below).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_shuffle_partitions() -> int:
    """One shuffle partition per local task slot: SPARK_GRAFT_CPUS, or
    else the core count. AQE coalesces batch shuffles below this, but a
    stateful stream's state store cannot coalesce: it runs exactly
    spark.sql.shuffle.partitions tasks per micro-batch. A stream's
    checkpoint records the count it started with, and a restart from
    that checkpoint keeps it whatever the session says. On a cluster,
    size it to ~2-3x total cores (e.g. 8000 on 1000 executors), AQE on.
    """
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


LOCAL_SHUFFLE_PARTITIONS = default_shuffle_partitions()

# Arrow batch size: Spark's default maxBytesPerBatch (64 MiB) bounds
# wide rows, this record cap bounds narrow ones.
ARROW_BATCH_DEFAULT = 65_536


def default_master() -> str:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return f"local[{cpus}]" if cpus else "local[*]"


def default_driver_mem() -> str:
    """Driver heap default: ~40% of MemTotal, capped at 48g, floor 2g.

    local[N] runs every task in the one driver JVM, so the heap is the
    whole executor budget. The share follows the host: 40% leaves the
    rest for the OS page cache, the Python workers and a DuckDB peer
    (on a 16 GiB, 4-core host that is 6g, ~1.5g per task slot — a real
    cluster expresses the same budget per executor). The 48g cap is
    what a 32-slot local run needs: at 8g a 614M-row bucketed write
    (32 parallel sorters) OOMs before spill kicks in. Override with
    SPARK_GRAFT_DRIVER_MEM."""
    try:
        with open("/proc/meminfo") as fh:
            kb = int(next(l for l in fh if l.startswith("MemTotal")).split()[1])
        frac_g = int(kb * 0.4 / 1024 / 1024)
    except (OSError, StopIteration, ValueError):
        frac_g = 48  # no /proc (non-Linux): keep the documented default
    return f"{max(2, min(48, frac_g))}g"


def get_spark(app_name: str = "data_warehouse_spark", master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    Design choices (all hold at 100 TB):
      - AQE on: runtime coalescing of shuffle partitions, skew-join
        splitting, and dynamic join-strategy demotion replace manual
        partition-count tuning per query.
      - Session timezone pinned UTC: the reference stores UTC and
        converts at the edge (trips_lambda.py:99,102); pinning avoids
        engine-dependent local-time drift and matches the DuckDB oracle.
      - Arrow enabled: every pandas_udf / toPandas crosses the
        JVM<->Python boundary in columnar batches.
      - nanosAsLong: the events fixture carries parquet TIMESTAMP(NANOS)
        which Spark has no native type for; we scan it as long and
        convert to microsecond timestamps in the loader (lossless here,
        and the conversion is a cheap codegen'd projection).
      - zstd parquet: the merge rewrites whole date partitions on every
        run, so bytes written per run follow the codec; zstd writes
        fewer than the default snappy.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or default_master())
        .config("spark.sql.shuffle.partitions", str(LOCAL_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                str(ARROW_BATCH_DEFAULT))
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Bucketed-sorted tables (operators/bucketing.py) are written
        # with exactly one file per bucket, the regime where trusting
        # the write-time sort is safe — lets the planner drop the
        # per-partition Sort under sort-merge joins on the bucket key
        # (off by default since SPARK-28595 because multi-file buckets
        # would need a merge-sort read).
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM",
                               default_driver_mem()))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# Cluster-scale notes (100 TB design):
#  - fact/log tables are written partitioned by date (see io.write_table):
#    incremental 24h re-scans (reference trips_lambda.py:106,221) become
#    partition pruning instead of index scans.
#  - spark.sql.shuffle.partitions scales with cores
#    (default_shuffle_partitions); AQE coalesces.
#  - broadcast threshold left at default 10 MB; dimension tables (region,
#    nation, supplier at TPC-H shape) stay broadcastable at any SF since
#    dims grow ~log of fact size; explicit broadcast() hints are used in
#    the query layer where dimension-ness is known statically.
#  - no collect()-based logic anywhere in the engine: every operator is a
#    DataFrame -> DataFrame transform.
