"""Upsert / MERGE semantics without a transactional table format.

The reference's load side is `INSERT ... ON CONFLICT (bike_id,
trip_start) DO UPDATE SET ...` (trips_lambda.py:180-206) — idempotent
daily re-runs over a sliding window. Spark has no ON CONFLICT; the
engine provides the standard two rewrites:

  upsert(old, new, keys) — "new wins": keep every new row, plus old
  rows whose key doesn't appear in new. One left-anti hash join + a
  union; both sides stream, no driver state.

  dedup_latest(df, keys, order_col) — collapse to the newest row per
  key via row_number()=1 (used when multiple new versions arrive in
  one batch).

At 100 TB the upsert writes via dynamic partition overwrite: only the
date partitions containing changed keys rewrite (the reference's
24h-window re-run maps to exactly one or two partitions), not the
whole table. Every such rewrite — the merge here and the maintenance
operators' delete and compaction — goes through overwrite_partitions,
so the on-disk layout of a rewritten partition is decided once.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from data_warehouse_spark.io import require_schema

# Caller-supplied key/order/attr names resolve through qcol: dots (or
# backticks) in a name must reference a PLAIN column, not struct access
# — and in Spark 4 even DataFrame indexing (df["a.b"]) parses the dot,
# so explicit quoting is the one resolution path that keeps working.
from data_warehouse_spark.functions.colref import qcol as _qcol


def upsert(old: DataFrame, new: DataFrame, keys: list[str],
           order_col: str | None = None,
           new_unique: bool = False) -> DataFrame:
    """INSERT ... ON CONFLICT(keys) DO UPDATE equivalent: one row per
    key of `new`, plus rows of `old` whose key is absent from `new`.

    The PK contract (trips_lambda.py:180-206 collapses to one row per
    key) must hold even when one batch carries the same key twice, so
    `new` is key-deduplicated here — when `order_col` is given the
    highest value wins (deterministic); otherwise an arbitrary single
    row survives (dropDuplicates), matching dedup_by_key semantics.

    ``new_unique=True`` asserts the batch is ALREADY key-unique (e.g.
    it derives from a PK-constrained source) and skips the dedup. The
    dedup is not free: dropDuplicates over rows carrying any string
    column plans as partial+final SortAggregate (First(string) has an
    immutable agg buffer, so HashAggregate is ineligible) — a full
    sort of the batch on both sides of its exchange (guide §2.4:
    remove the shuffle outright when the data already satisfies the
    invariant). The caller owns the uniqueness claim; a duplicated key
    under new_unique=True produces two surviving rows, exactly like
    violating the same precondition on a SQL MERGE.

    Columns must match. Idempotent: upsert(upsert(o, n), n) ==
    upsert(o, n).
    """
    if order_col is not None:
        new = dedup_latest(new, keys, order_col)
    elif not new_unique:
        new = new.dropDuplicates(keys)
    # `new` is key-unique from here on (deduplicated above, or by the
    # caller's new_unique claim), so its key projection is already the
    # anti-join's one-row-per-key build side: a distinct on it would
    # only cost an exchange and two aggregates (the optimizer drops it
    # after dropDuplicates but cannot see through dedup_latest's window).
    # null-safe anti join: a NULL key is one key value under the PK
    # contract (dropDuplicates above already treats it so); a plain
    # equi anti-join would never match NULL=NULL and keep the old
    # NULL-key row alongside the new one. Both sides are alias-
    # qualified: old and new often share lineage (u1 derives both from
    # one scan), and unqualified old[k]/nk[k] would lean on the
    # analyzer's self-join plan-id disambiguation (correct, but it
    # logs "trivially true equals predicate" on every run).
    nk = new.select(*[_qcol(k) for k in keys]).alias("__upsert_new")
    old_a = old.alias("__upsert_old")
    cond = [_qcol(k, "__upsert_old").eqNullSafe(_qcol(k, "__upsert_new"))
            for k in keys]
    survivors = old_a.join(nk, on=cond, how="left_anti")
    return survivors.unionByName(new)


def dedup_latest(df: DataFrame, keys: list[str], order_col: str,
                 tiebreak: str | None = None) -> DataFrame:
    """Newest row per key (PK semantics for batches with duplicates)."""
    order = [_qcol(order_col).desc()] + ([_qcol(tiebreak).desc()] if tiebreak else [])
    w = Window.partitionBy(*[_qcol(k) for k in keys]).orderBy(*order)
    return (df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1).drop("__rn"))


def dedup_by_key(df: DataFrame, keys: list[str]) -> DataFrame:
    """PK-rejection dedup (bike_lambda.py:46): arbitrary-but-single row
    per key, as dropDuplicates."""
    return df.dropDuplicates(keys)


def scd2_apply(dim: DataFrame, updates: DataFrame, keys: list[str],
               attrs: list[str], eff_ts_col: str = "eff_ts",
               valid_from: str = "valid_from", valid_to: str = "valid_to",
               current_col: str = "is_current") -> DataFrame:
    """Slowly-changing-dimension type 2 merge — the versioned form of
    the reference's declared dimension tables (README.md:76-78
    dim_location/dim_vehicle/dim_weather, which a daily warehouse load
    must evolve without losing history).

    `dim` carries (keys, attrs, valid_from, valid_to, is_current);
    `updates` carries (keys, attrs, eff_ts_col). Per update key:
      - attrs differ from the current row (null-safe)  -> the current
        row CLOSES (valid_to = eff_ts, is_current = false) and a new
        current version inserts from eff_ts;
      - attrs identical                                -> no-op (the
        update is dropped, no spurious version);
      - key absent from the dimension                  -> plain insert.
    Historical (non-current) rows pass through untouched. An update
    OLDER than the current row's valid_from (out-of-order/late data)
    is a no-op for that key — applying it would close the current row
    with valid_to < valid_from; late backfills need a history rebuild,
    not an incremental merge. `attrs` must be non-empty: with no
    compared attributes every update would be a no-op and the call is
    almost certainly a bug.

    Plan shape: ONE full-outer join of current rows vs key-deduped
    updates (hash on the dimension key); every output class projects
    off that single join, so the exchange is computed once (AQE reuse)
    and no driver-side state exists. Dimensions are small relative to
    facts at any scale — the join broadcasts when stats allow.

    r17 measured-and-rejected: a stats-gated decomposition of the
    full-outer into inner + two anti BROADCAST joins (a full outer can
    never broadcast) was built, verified row-identical, and REJECTED
    on interleaved A/Bs (ddece72:.r17/u4_ab.py and
    ddece72:.r17/scd2_smallbatch_ab.py): 32% SLOWER at 64x on u4's
    shape (updates ~31% of the dim — each of the five split branches
    recomputes the update subtree, costing
    more than the one dim exchange it saves) and a wash (1.445 vs
    1.455 s) even on the target big-dim/small-batch shape, where
    Catalyst already broadcasts the tiny update side of every derived
    branch and only the kept branch pays one dim exchange. Catalyst's
    filter pushdown means only ONE branch actually executes the full
    outer; the other three already simplify to broadcast inner /
    right-outer joins. Details: ddece72:OPTIMIZATION_r17.md.
    """
    if not attrs:
        raise ValueError("scd2_apply needs at least one compared "
                         "attribute in `attrs`")
    if not keys:
        raise ValueError("scd2_apply needs at least one key column")
    # An update without an effective timestamp cannot be versioned
    # (its valid_from would be NULL) — drop it rather than emit a
    # malformed row; upstream loads should gate on dq1's
    # validation_report to catch these before the merge.
    updates = updates.filter(_qcol(eff_ts_col).isNotNull())
    updates = dedup_latest(updates, keys, eff_ts_col)
    # NULL is_current rows are malformed dim state (e.g. an outer-join-
    # built dim): route them through the untouched-history branch so
    # they are preserved verbatim, never silently dropped by both
    # boolean filters
    history = dim.filter(~F.coalesce(_qcol(current_col), F.lit(False)))
    cur = dim.filter(_qcol(current_col))

    # the __u_ aliases inherit any dots from the caller's names, so
    # every later reference to them must also go through _qcol
    u = updates.select(
        *[_qcol(k).alias(f"__u_{k}") for k in keys],
        *[_qcol(a).alias(f"__u_{a}") for a in attrs],
        _qcol(eff_ts_col).alias("__u_eff"))
    join_cond = None
    for k in keys:
        # unqualified but unambiguous: every u column is __u_-renamed
        c = _qcol(k) == _qcol(f"__u_{k}")
        join_cond = c if join_cond is None else (join_cond & c)
    j = cur.join(u, join_cond, "full_outer")

    matched = F.col("__u_eff").isNotNull() & _qcol(current_col).isNotNull()
    late = matched & (F.col("__u_eff") < _qcol(valid_from))
    changed = None
    for a in attrs:
        d = ~_qcol(a).eqNullSafe(_qcol(f"__u_{a}"))
        changed = d if changed is None else (changed | d)
    applies = matched & changed & ~late
    dim_cols = [_qcol(c) for c in dim.columns]

    kept = j.filter((matched & (~changed | late))
                    | F.col("__u_eff").isNull()) \
        .select(*dim_cols)
    closed = (j.filter(applies)
              .withColumn(valid_to, F.col("__u_eff"))
              .withColumn(current_col, F.lit(False))
              .select(*dim_cols))
    new_version = (j.filter(applies)
                   .select(*[_qcol(f"__u_{k}").alias(k) for k in keys],
                           *[_qcol(f"__u_{a}").alias(a) for a in attrs],
                           F.col("__u_eff").alias(valid_from),
                           F.lit(None).cast(dim.schema[valid_to].dataType)
                           .alias(valid_to),
                           F.lit(True).alias(current_col))
                   .select(*dim_cols))
    inserted = (j.filter(F.col("__u_eff").isNotNull()
                         & _qcol(current_col).isNull())
                .select(*[_qcol(f"__u_{k}").alias(k) for k in keys],
                        *[_qcol(f"__u_{a}").alias(a) for a in attrs],
                        F.col("__u_eff").alias(valid_from),
                        F.lit(None).cast(dim.schema[valid_to].dataType)
                        .alias(valid_to),
                        F.lit(True).alias(current_col))
                .select(*dim_cols))
    return history.unionByName(kept).unionByName(closed) \
        .unionByName(new_version).unionByName(inserted)


_ROLLUP_MERGES = {
    # sum/count merge: null on a side means "key absent there", which
    # contributes zero — but two absent sides stay null (can't happen
    # off a full-outer join; kept for algebraic closure).
    "sum": lambda a, b: F.when(a.isNull() & b.isNull(), F.lit(None))
                         .otherwise(F.coalesce(a, F.lit(0)) + F.coalesce(b, F.lit(0))),
    # least/greatest skip nulls (return the other side) by definition
    "min": lambda a, b: F.least(a, b),
    "max": lambda a, b: F.greatest(a, b),
}


def incremental_rollup(existing: DataFrame | None, delta: DataFrame,
                       keys: list[str],
                       merges: dict[str, str]) -> DataFrame:
    """Incremental materialized-aggregate maintenance: merge a new
    batch's PRE-AGGREGATED delta into an existing rollup so the nightly
    report never re-scans history — the reference's dashboards
    (README.md:81-83) recompute from scratch every run; at 100 TB the
    rollup is maintained, not rebuilt.

    `merges` maps each measure column to its merge op: only MERGEABLE
    (commutative-monoid) aggregates qualify — sum, count-as-sum, min,
    max. avg/stddev must be carried as (sum, count) / (sum, sum2,
    count) and finalized at read time; medians/distincts need sketches
    (A8) — the same decomposition every incremental-view engine uses.

    Plan shape: one full-outer hash join on the grouping keys between
    two already-aggregated (group-cardinality-sized) tables — the raw
    batch is aggregated upstream with map-side combine, history is
    never touched. Equivalence to the full recompute is the oracle
    contract of u7 and holds exactly when the measures are integer-
    domain (parity_notes rule on float sums).
    """
    bad = set(merges.values()) - set(_ROLLUP_MERGES)
    if bad:
        raise ValueError(f"non-mergeable rollup ops: {bad}; decompose "
                         "into sum/min/max (+count) first")
    if existing is None:
        return delta
    # __ek_/__dk_/__e_/__d_ aliases inherit any dots from the caller's
    # names — reference them through _qcol like the originals
    e = existing.select(
        *[_qcol(k).alias(f"__ek_{k}") for k in keys],
        *[_qcol(c).alias(f"__e_{c}") for c in merges])
    d = delta.select(
        *[_qcol(k).alias(f"__dk_{k}") for k in keys],
        *[_qcol(c).alias(f"__d_{c}") for c in merges])
    cond = None
    for k in keys:
        eq = _qcol(f"__ek_{k}").eqNullSafe(_qcol(f"__dk_{k}"))
        cond = eq if cond is None else cond & eq
    joined = e.join(d, on=cond, how="full_outer")
    out_keys = [F.coalesce(_qcol(f"__ek_{k}"), _qcol(f"__dk_{k}")).alias(k)
                for k in keys]
    out_vals = [_ROLLUP_MERGES[op](_qcol(f"__e_{c}"), _qcol(f"__d_{c}")).alias(c)
                for c, op in merges.items()]
    return joined.select(*out_keys, *out_vals)


def merge_into_partitioned(spark, target_path: str, new: DataFrame,
                           keys: list[str], ts_col: str) -> None:
    """The 100 TB upsert: MERGE `new` into a dt-partitioned parquet
    table rewriting ONLY the date partitions `new` touches.

    1. the batch is evaluated ONCE, by an eager localCheckpoint; an
       Observation on that same job returns the dates it touches
       (collect_set of dt, plus a NULL-dt flag), so no job runs only to
       learn them, and the stream's foreachBatch batch (a stateful
       dedup upstream) is not recomputed for the write;
    2. only those partitions of the target are read back (partition
       pruning — O(days touched), not O(table)), with the batch's own
       schema: the merge is the target's only writer, so the read needs
       no schema-inference job. Their files are first checked against
       that schema on the driver (io.require_schema): a file with a
       missing, mistyped or undeclared column fails the merge instead
       of reading as NULLs and being rewritten without it;
    3. upsert(old_slice, batch) writes back through overwrite_partitions
       (dynamic partition overwrite), so untouched partitions' files
       are never rewritten, and each rewritten date lands as one file
       sorted by `keys` (split only when a date outgrows AQE's advisory
       partition size).

    This is the reference's idempotent 24h-window re-run
    (trips_lambda.py:186-206,218-221) at warehouse scale: a daily batch
    rewrites one or two partitions of an arbitrarily large fact table.
    Requires spark.sql.sources.partitionOverwriteMode=dynamic (set
    per-write by overwrite_partitions via the DataFrameWriter option).

    PRECONDITION — keys must determine the date: a key's corrected
    version must land on the SAME dt as its stored version, because
    only the batch's own partitions are read back (that is the whole
    point); a correction that moves a key across dates leaves the old
    date's row in place (two rows for the key). The reference satisfies
    this by construction — its PK is (bike_id, trip_start) and dt =
    date(trip_start), so the date is part of the key. Keys whose ts can
    be revised need a full MERGE (upsert over the whole table), not the
    partition-scoped one.

    Within a batch, the newest row per key wins (order_col=ts_col fed
    to upsert) — the deterministic form of the reference's
    last-writer-wins ON CONFLICT DO UPDATE.
    """
    touched = Observation()
    batch = (new.withColumn("dt", F.to_date(_qcol(ts_col)))
             .observe(touched, F.collect_set("dt").alias("dates"),
                      F.bool_or(F.col("dt").isNull()).alias("null_dt"))
             .localCheckpoint(eager=True))
    # one entry per calendar day touched (the reference's window is 1-2
    # days); a batch spanning more is a full-table rewrite, refused
    seen = touched.get
    dates, null_dt = seen["dates"], bool(seen["null_dt"])
    if len(dates) > 10_000:
        raise ValueError(
            f"merge batch touches >10000 distinct {ts_col} dates; "
            "that is a full-table rewrite, not a partition merge")

    # Existence is checked explicitly (Hadoop FS), never inferred from a
    # read failure: a bare try/except here once treated ANY transient
    # read/listing error as "first load", degraded the merge to
    # new-rows-only, and the dynamic partition overwrite then silently
    # dropped the old rows of every touched partition.
    if target_exists(spark, target_path):
        parts = [str(d) for d in dates] + \
            ["__HIVE_DEFAULT_PARTITION__"] * null_dt
        require_schema(spark, [f"{target_path}/dt={p}" for p in parts],
                       batch.drop("dt").schema, exact=True)
        # NULL-dt (null ts) rows land in the default partition; isin()
        # never matches NULL, so without the explicit isNull branch the
        # dynamic overwrite would rewrite that partition from the new
        # rows alone and silently drop every stored NULL-ts row
        dt_filter = F.col("dt").isin(dates)
        if null_dt:
            dt_filter = dt_filter | F.col("dt").isNull()
        old = spark.read.schema(batch.schema).parquet(target_path) \
            .filter(dt_filter)
        merged = upsert(old, batch, keys=keys, order_col=ts_col)
    else:
        # First load obeys the same last-writer-wins contract as the
        # merge path: an initial batch carrying a key twice must land
        # one row, not persist both until the key is re-delivered.
        merged = dedup_latest(batch, keys, ts_col)

    overwrite_partitions(merged, target_path, keys=keys)


def overwrite_partitions(df: DataFrame, path: str, keys: Sequence[str] = (),
                         dt_col: str = "dt") -> None:
    """Dynamic-partition overwrite of every `dt_col` partition present
    in `df`, each written compactly and sorted by `keys`; partitions
    absent from `df` keep their files.

    The rebalance hint adds one exchange on `dt_col` whose partitions
    AQE sizes at runtime: small ones coalesce, so a rewritten date
    lands in ONE file instead of one per upstream shuffle partition
    (each parquet file carries a ~2 KB footer, which outweighs a small
    merge batch's rows), while a date above the advisory partition
    size splits into bounded files — no single task ever holds a whole
    huge day, as repartition(dt_col) would force. Sorting each task's
    rows by (dt_col, *keys) also satisfies the partitioned writer's
    own dt ordering, so the writer adds no sort of its own; the key
    order gives readers of a partition tight parquet min/max stats on
    the keys."""
    (df.hint("rebalance", dt_col)
     .sortWithinPartitions(dt_col, *[_qcol(k) for k in keys])
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy(dt_col).parquet(path))


def target_exists(spark, path: str) -> bool:
    """True iff `path` exists on its filesystem (local, HDFS, or object
    store — resolved through the Hadoop FS API, so the check matches
    whatever the read would see). Errors here propagate: an unreachable
    filesystem must fail the merge loudly, not masquerade as a first
    load."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))
