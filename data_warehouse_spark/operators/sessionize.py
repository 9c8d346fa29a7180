"""Gap-based sessionization — the reference's flagship computation.

The reference reconstructs bike trips from GPS snapshots with a CTE
chain (trips_lambda.py:95-163): LAG over (PARTITION BY bike_id ORDER BY
timestamp) -> gap/movement filters -> group-aggregate -> validity
filters -> sort. This module generalizes that into a reusable
transform: assign a session id that increments whenever the gap to the
previous observation of the same key exceeds a threshold, then
aggregate per (key, session).

Scale: the only shuffle is the hash partition on the session key for
the window + the (map-side-combined) aggregation, which reuses the same
partitioning — Catalyst plans a single exchange. Skewed keys (one bike
with millions of pings) are handled by AQE skew handling at the window
stage; there is no driver-side state (contrast the reference, which
materializes the full result in the Lambda's memory via fetchall(),
trips_lambda.py:168-171).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def with_session_id(df: DataFrame, key: str, ts: str, gap_seconds: float,
                    order_tiebreak: str | None = None,
                    out_col: str = "session_id",
                    gap_closed: bool = False) -> DataFrame:
    """Add a per-key session id (1-based) via lag + running sum of breaks.

    A new session starts at the first observation of a key and whenever
    ts - lag(ts) > gap_seconds. Mirrors the reference's trip-boundary
    semantics (trips_lambda.py:102-104,128) without its one-trip-per-
    window simplification.

    ``gap_closed=True`` breaks on gap >= gap_seconds instead of > —
    st4's convention and its DuckDB oracle's (r17: st4 computes its
    session aggregate through this form, ~10-20% faster at 64x/256x
    than the native batch operator on this data shape; see
    ddece72:OPTIMIZATION_r17.md). It is NOT Spark's session_window convention
    at an exact-gap tie: session_window merges touching windows, so an
    event exactly gap_seconds after the previous one stays in its
    session, as under the default strict >. Without such ties (the
    events fixture has none) both modes assign session_window's groups;
    tests/test_sessionize.py pins both facts.
    """
    order_cols = [ts] + ([order_tiebreak] if order_tiebreak else [])
    w = Window.partitionBy(key).orderBy(*order_cols)
    prev_ts = F.lag(ts).over(w)
    gap_us = F.unix_micros(F.col(ts)) - F.unix_micros(prev_ts)
    gap_lim = F.lit(int(gap_seconds * 1_000_000))
    is_break: Column = (
        prev_ts.isNull()
        | ((gap_us >= gap_lim) if gap_closed else (gap_us > gap_lim))
    ).cast("int")
    # Running sum of break flags over the same window partitioning ->
    # no extra shuffle beyond the one the lag already required (derived
    # from the same spec so the two can never order differently).
    running = w.rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumn(out_col, F.sum(is_break).over(running))


def sessionize(df: DataFrame, key: str, ts: str, gap_seconds: float,
               value: str | None = None, order_tiebreak: str | None = None,
               min_events: int = 2) -> DataFrame:
    """Full sessionization: break detection + per-session aggregation.

    Output: one row per (key, session_id) with session_start/end,
    n_events, duration_sec, and (optionally) sum of `value`. Sessions
    with fewer than `min_events` observations are dropped, mirroring the
    reference's segment_count >= 2 validity filter (trips_lambda.py:162).
    """
    with_ids = with_session_id(df, key, ts, gap_seconds, order_tiebreak)
    aggs = [
        F.min(ts).alias("session_start"),
        F.max(ts).alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    ]
    if value is not None:
        aggs.append(F.round(F.sum(value), 6).alias("sum_value"))
    out = (
        with_ids.groupBy(key, "session_id")
        .agg(*aggs)
        .withColumn(
            "duration_sec",
            ((F.unix_micros("session_end") - F.unix_micros("session_start"))
             / F.lit(1_000_000.0)),
        )
        .filter(F.col("n_events") >= min_events)
    )
    return out
