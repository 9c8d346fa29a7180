"""Table-maintenance operators: key-scoped delete and small-file
compaction for dt-partitioned parquet tables.

The reference never deletes (append-only logs + upserted fact), but a
production warehouse — and any training-data pipeline under GDPR-style
erasure duties — needs DELETE WHERE key IN (...) without rewriting the
table, and its daily micro-batch loads (air_lambda.py:90-98 commits
batches of 2) accrete small files that degrade every later scan.

Both operators follow merge_into_partitioned's discipline
(operators/merge.py): touched-partition discovery first, then a
dynamic-partition-overwrite rewrite of ONLY those partitions —
O(affected days), never O(table) — through the same writer,
merge.overwrite_partitions, so a rewritten partition has one layout
whichever operator rewrote it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_warehouse_spark.operators.merge import (
    overwrite_partitions, target_exists,
)


def _fs(spark: SparkSession, path: str):
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def delete_by_keys(spark: SparkSession, target_path: str,
                   delete_keys: DataFrame, keys: list[str],
                   dt_col: str = "dt") -> None:
    """DELETE FROM target WHERE (keys) IN delete_keys, rewriting only
    the partitions that actually contain a doomed row.

    1. affected partitions = semi-join of the target's (dt, keys)
       projection against the key list — column-pruned scan, the only
       full-table read, carrying just the partition column + keys;
    2. kept = those partitions' rows anti-joined against the keys;
    3. dynamic-partition-overwrite write of `kept`, one key-sorted
       file per rewritten partition at small sizes
       (merge.overwrite_partitions).

    A partition whose every row is deleted VANISHES from `kept`, and
    dynamic overwrite only replaces partitions present in the output —
    so fully-emptied partition directories are removed explicitly via
    the filesystem (otherwise the old files would silently survive).

    The key list is a DataFrame, not a Python list: erasure batches can
    be arbitrarily large (a join, never an isin literal). At 100 TB
    this is one column-pruned scan + a hash join per affected
    partition's rewrite.

    Key matching is NULL-SAFE (a NULL key value is one erasable key,
    same as upsert's PK contract — plain SQL IN semantics would
    silently skip it), and the default (NULL-dt) partition is handled:
    isin() never matches NULL, so both the slice filter and the
    emptied-directory cleanup carry an explicit NULL branch — without
    it, doomed NULL-date rows would survive a "successful" erasure.
    """
    if not target_exists(spark, target_path):
        raise FileNotFoundError(f"delete target does not exist: {target_path}")
    dk = delete_keys.select(*keys).distinct()
    target = spark.read.parquet(target_path)

    semi_cond = [target[k].eqNullSafe(dk[k]) for k in keys]
    affected = [r[dt_col] for r in
                (target.select(dt_col, *keys)
                 .join(dk, on=semi_cond, how="left_semi")
                 .select(dt_col).distinct().limit(10_001).collect())]
    if len(affected) > 10_000:
        raise ValueError("delete touches >10000 partitions; that is a "
                         "full-table rewrite, not a partition delete")
    if not affected:
        return

    dt_filter = F.col(dt_col).isin([d for d in affected if d is not None])
    if any(d is None for d in affected):
        dt_filter = dt_filter | F.col(dt_col).isNull()
    slice_df = target.filter(dt_filter)
    anti_cond = [slice_df[k].eqNullSafe(dk[k]) for k in keys]
    # persist: the kept plan (affected-partition scan + anti join) has
    # two consumers — the surviving-partition collect and the write —
    # and would otherwise execute twice back-to-back
    kept = slice_df.join(dk, on=anti_cond, how="left_anti").persist()
    # partitions emptied entirely will be absent from `kept`, and
    # dynamic overwrite would leave their old files in place — find
    # them BEFORE the write (afterwards the kept plan's source files
    # are gone and re-executing it would chase deleted parquet parts)
    surviving = {r[dt_col] for r in
                 kept.select(dt_col).distinct().collect()}
    overwrite_partitions(kept, target_path, keys=keys, dt_col=dt_col)
    kept.unpersist()

    fs, _ = _fs(spark, target_path)
    for dt in set(affected) - surviving:
        part_dir = "__HIVE_DEFAULT_PARTITION__" if dt is None else str(dt)
        dir_path = spark._jvm.org.apache.hadoop.fs.Path(
            f"{target_path}/{dt_col}={part_dir}")
        fs.delete(dir_path, True)
    # the session's FileStatusCache still lists the replaced files; a
    # later read of the same path would chase deleted parquet parts
    spark.catalog.refreshByPath(target_path)


def compact_partitions(spark: SparkSession, target_path: str,
                       dt_col: str = "dt",
                       dates: list | None = None) -> None:
    """Rewrite the given partitions (default: all) so each lands in as
    few files as its size needs — one read + one dynamic-partition-
    overwrite write; row content is untouched.

    The write goes through merge.overwrite_partitions: one file per
    date, split into bounded files only when a date outgrows AQE's
    advisory partition size. This is the periodic OPTIMIZE a
    micro-batched sink needs: the reference commits batches of 2 rows
    (air_lambda.py:90-98); at warehouse scale every such commit is a
    file, and scan cost grows with file count until a compaction folds
    them.
    """
    target = spark.read.parquet(target_path)
    if dates is not None:
        target = target.filter(F.col(dt_col).isin(dates))
    overwrite_partitions(target, target_path, dt_col=dt_col)
    spark.catalog.refreshByPath(target_path)
