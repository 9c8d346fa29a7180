"""Output checks, run untimed after the measured phase. DuckDB is the
independent oracle: it replays each workload from the generator's ground
truth, never from the engine's intermediate state. Every check returns
the set of op indices whose output was wrong (`failed_ops`).
"""

from __future__ import annotations

import hashlib
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

import gen


def _con() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    return con


def compact_bytes(table: pa.Table, keys: list[str], path: str) -> int:
    """Size of `table` written compactly: one parquet file, sorted by
    its key, dictionary-encoded, zstd-compressed."""
    pq.write_table(table.sort_by([(k, "ascending") for k in keys]), path,
                   compression="zstd")
    return os.path.getsize(path)


def _compact(con, sql: str, keys: list[str], path: str) -> int:
    return compact_bytes(con.execute(sql).arrow(), keys, path)


# --- trips_etl ----------------------------------------------------------

# The reference's trip extraction (trips_lambda.py:94-164) in the shape of
# the repository's e1c oracle: local time via AT TIME ZONE, gaps on the
# local wall clock, lag ordered by the UTC instant, one trip per bike per
# window. The haversine is written out here, not imported from the engine.
TRIP_SQL = """
WITH src AS (
    SELECT bike_id, provider_id, lat, lon, "timestamp" AS utc_ts,
           CAST(("timestamp" AT TIME ZONE 'UTC') AT TIME ZONE 'Europe/Zurich'
                AS TIMESTAMP) AS local_time
    FROM gen_status WHERE "timestamp" >= $ws AND "timestamp" < $we
), trip_data AS (
    SELECT bike_id, provider_id, local_time, lat, lon,
           lag(local_time) OVER w AS prev_time,
           lag(lat) OVER w AS prev_lat, lag(lon) OVER w AS prev_lon
    FROM src WINDOW w AS (PARTITION BY bike_id ORDER BY utc_ts)
), seg AS (
    SELECT bike_id, provider_id, local_time AS end_time, prev_time AS start_time,
           prev_lat AS start_lat, prev_lon AS start_lon, lat AS end_lat, lon AS end_lon,
           (epoch_us(local_time) - epoch_us(prev_time)) / 1e6 / 60.0 AS duration_minutes,
           2 * 6371.0 * asin(least(sqrt(
               pow(sin(radians(lat - prev_lat) / 2), 2)
               + cos(radians(prev_lat)) * cos(radians(lat))
                 * pow(sin(radians(lon - prev_lon) / 2), 2)), 1.0)) AS distance_km
    FROM trip_data
    WHERE prev_time IS NOT NULL
      AND (epoch_us(local_time) - epoch_us(prev_time)) / 1e6 BETWEEN 60 AND 3600
      AND (prev_lat <> lat OR prev_lon <> lon)
)
SELECT bike_id, provider_id, MIN(start_time) AS trip_start, MAX(end_time) AS trip_end,
       MIN(start_lat) AS start_lat, MIN(start_lon) AS start_lon,
       MAX(end_lat) AS end_lat, MAX(end_lon) AS end_lon,
       SUM(duration_minutes) AS total_duration, SUM(distance_km) AS total_distance,
       COUNT(*) AS segment_count
FROM seg GROUP BY bike_id, provider_id
HAVING SUM(duration_minutes) BETWEEN 1 AND 60 AND SUM(distance_km) > 0
   AND COUNT(*) >= 2
"""

FACT_COLS = ["provider_id", "trip_end", "start_lat", "start_lon", "end_lat",
             "end_lon", "total_duration", "total_distance", "segment_count"]
_FLOAT_COLS = {"start_lat", "start_lon", "end_lat", "end_lon",
               "total_duration", "total_distance"}


def check_trips(fleet, snap_lo: int, upto: int, op_of_snapshot, log: str,
                fact: str, windows, oracle_dir: str) -> dict:
    """Log: the engine's bike_status must equal the generator's rows.
    Fact: replay every executed window through TRIP_SQL and the
    reference's INSERT ... ON CONFLICT DO UPDATE, then compare with the
    engine's all_trips (floats to 6 dp). A wrong row fails the op that
    last wrote its key (setup windows count against the first op)."""
    os.makedirs(oracle_dir, exist_ok=True)
    con = _con()
    con.register("gen_arrow", fleet.status_table(0, upto))
    con.execute("""CREATE TABLE gen_status AS SELECT * EXCLUDE ("timestamp"),
                   "timestamp"::TIMESTAMP AS "timestamp" FROM gen_arrow""")
    failed = set()
    log_diff = con.execute(f"""
        WITH s AS (SELECT bike_id, provider_id, lat, lon, "timestamp"::TIMESTAMP AS ts
                   FROM read_parquet('{log}/**/*.parquet', hive_partitioning=true)),
             g AS (SELECT bike_id, provider_id, lat, lon, "timestamp" AS ts FROM gen_status)
        SELECT DISTINCT epoch(ts)::BIGINT FROM (
            (SELECT * FROM s EXCEPT ALL SELECT * FROM g)
            UNION ALL (SELECT * FROM g EXCEPT ALL SELECT * FROM s))""").fetchall()
    t0 = int(gen.GBFS_T0.timestamp())
    for (e,) in log_diff:
        failed.add(max(0, op_of_snapshot((e - t0) // gen.SNAPSHOT_S)))

    con.execute("""CREATE TABLE all_trips (bike_id VARCHAR, provider_id VARCHAR,
        trip_start TIMESTAMP, trip_end TIMESTAMP, start_lat DOUBLE, start_lon DOUBLE,
        end_lat DOUBLE, end_lon DOUBLE, total_duration DOUBLE, total_distance DOUBLE,
        segment_count BIGINT, PRIMARY KEY (bike_id, trip_start))""")
    con.execute("""CREATE TABLE writer (bike_id VARCHAR, trip_start TIMESTAMP,
        op INTEGER, PRIMARY KEY (bike_id, trip_start))""")
    con.execute("CREATE TABLE changed AS SELECT * FROM all_trips WHERE false")
    sets = ", ".join(f"{c} = excluded.{c}" for c in FACT_COLS)
    for ws, we, op in windows:
        con.execute(f"CREATE OR REPLACE TEMP TABLE w AS {TRIP_SQL}",
                    {"ws": ws.replace(tzinfo=None), "we": we.replace(tzinfo=None)})
        con.execute(f"INSERT INTO all_trips SELECT * FROM w "
                    f"ON CONFLICT (bike_id, trip_start) DO UPDATE SET {sets}")
        con.execute(f"INSERT INTO writer SELECT bike_id, trip_start, {op} FROM w "
                    f"ON CONFLICT (bike_id, trip_start) DO UPDATE SET op = excluded.op")
        if op >= 0:
            con.execute("INSERT INTO changed SELECT * FROM w")

    neq = " OR ".join(
        f"abs(s.{c} - o.{c}) > 1e-6" if c in _FLOAT_COLS
        else f"s.{c} IS DISTINCT FROM o.{c}" for c in FACT_COLS)
    bad = con.execute(f"""
        WITH s AS (SELECT * EXCLUDE (dt) FROM read_parquet('{fact}/**/*.parquet',
                                                         hive_partitioning=true)),
             mism AS (
                SELECT coalesce(s.bike_id, o.bike_id) AS bike_id,
                       coalesce(s.trip_start, o.trip_start) AS trip_start
                FROM s FULL OUTER JOIN all_trips o
                  ON s.bike_id = o.bike_id AND s.trip_start = o.trip_start
                WHERE s.bike_id IS NULL OR o.bike_id IS NULL OR {neq}
                UNION
                SELECT bike_id, trip_start FROM s GROUP BY ALL HAVING count(*) > 1)
        SELECT m.bike_id, w.op FROM mism m LEFT JOIN writer w
          ON m.bike_id = w.bike_id AND m.trip_start = w.trip_start""").fetchall()
    last_op = op_of_snapshot(upto - 1)
    for _, op in bad:
        failed.add(last_op if op is None else max(0, op))
    n_fact = con.execute("SELECT count(*) FROM all_trips").fetchone()[0]
    trip_key, log_key = ["bike_id", "trip_start"], ["bike_id", "timestamp"]
    changed = _compact(con, "SELECT * FROM changed", trip_key, f"{oracle_dir}/changed.parquet")
    appended = _compact(
        con, f"""SELECT * FROM gen_status WHERE "timestamp" >=
                 TIMESTAMP '{fleet.ts(snap_lo).replace(tzinfo=None)}'""",
        log_key, f"{oracle_dir}/appended.parquet")
    live = (_compact(con, "SELECT * FROM all_trips", trip_key, f"{oracle_dir}/fact.parquet")
            + _compact(con, "SELECT * FROM gen_status", log_key, f"{oracle_dir}/log.parquet"))
    return {"failed_ops": failed, "log_mismatch_snapshots": len(log_diff),
            "fact_mismatch_rows": len(bad), "oracle_fact_rows": n_fact,
            "compact_changed_bytes": changed + appended, "compact_live_bytes": live}


# --- bi_queries ---------------------------------------------------------

def check_bi(spark, specs, sf: str, names) -> set[str]:
    """Each query's engine-side digest against its registry oracle SQL,
    with the repository's own parity tools (read-only reuse)."""
    from tools.floorfree import digest_compare
    from tools.parity import duck_connection

    con = duck_connection(sf, skip_missing=True)
    bad = set()
    for q in names:
        try:
            ok, _, _, _ = digest_compare(specs[q].fn(spark, sf), con, specs[q].oracle)
        except Exception:                   # noqa: BLE001 - a crash is a failure
            ok = False
        if not ok:
            bad.add(q)
    return bad


# --- corpus_dedup -------------------------------------------------------

_PII_SQL = [  # same patterns and order as the engine's functions.text
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"\+\d{7,15}\b", "<PHONE>"),
]


def expected_curated(con, src: str, quality_min: float) -> dict[int, str]:
    """doc_id -> redacted text of every document passing the quality
    filter: the heuristics of functions.text restated in DuckDB SQL."""
    red = "text"
    for pat, tok in _PII_SQL:
        red = f"regexp_replace({red}, '{pat}', '{tok}', 'g')"
    rows = con.execute(f"""
        WITH d AS (SELECT doc_id, text,
                          string_split_regex(lower(trim(text)), '\\s+') AS toks
                   FROM read_parquet('{src}')),
             q AS (SELECT doc_id, text,
                (CASE WHEN length(text) BETWEEN 100 AND 5000 THEN 1.0 ELSE 0.5 END)
              * (CASE WHEN length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g'))
                           / greatest(length(text), 1) <= 0.1 THEN 1.0 ELSE 0.5 END)
              * (CASE WHEN len(list_filter(toks, x -> x IN ('the', 'and', 'of')))
                           / greatest(len(toks), 1) >= 0.01 THEN 1.0 ELSE 0.5 END) AS quality
                   FROM d)
        SELECT doc_id, {red} FROM q WHERE quality >= {quality_min}""").fetchall()
    return dict(rows)


def _components(pairs) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def check_corpus(src: str, truth: dict, op_dirs, quality_min: float) -> dict:
    """Per op: every emitted pair's exact Jaccard (recomputed here) is at
    least the threshold and matches the reported value; the kept corpus
    is exactly the filtered, redacted corpus minus every non-minimal
    member of a component of the emitted pairs. Recall counts planted
    pairs that were emitted."""
    con = _con()
    texts = expected_curated(con, src, quality_min)
    thr = truth["threshold"]
    planted = {(a, b) for a, b, _ in truth["planted_pairs"] if a in texts and b in texts}
    failed, recalls, checked = set(), [], []
    for op, d in op_dirs:
        pairs = con.execute(
            f"SELECT id_a, id_b, jaccard FROM read_parquet('{d}/pairs/*.parquet')").fetchall()
        ok = True
        for a, b, j in pairs:
            if a not in texts or b not in texts or not a < b:
                ok = False
                break
            jj = gen.jaccard(texts[a], texts[b])
            if jj < thr or abs(jj - j) > 1e-6:
                ok = False
                break
        comp = _components((a, b) for a, b, _ in pairs)
        drop = {x for x, c in comp.items() if x != c}
        exp = {i: hashlib.md5(t.encode()).hexdigest() for i, t in texts.items() if i not in drop}
        got = dict(con.execute(f"SELECT doc_id, md5(text) FROM "
                               f"read_parquet('{d}/kept/*.parquet')").fetchall())
        n_got = con.execute(f"SELECT count(*) FROM read_parquet('{d}/kept/*.parquet')").fetchone()[0]
        if got != exp or n_got != len(exp):
            ok = False
        if not ok:
            failed.add(op)
        emitted = {(a, b) for a, b, _ in pairs}
        recalls.append(len(planted & emitted) / max(1, len(planted)))
        checked.append(op)
    return {"failed_ops": failed, "checked_ops": checked,
            "recall": min(recalls) if recalls else 0.0,
            "planted_pairs": len(planted), "curated_docs": len(texts)}


# --- event_stream -------------------------------------------------------

def check_events(inputs: str, truth: dict, staged, measured, target: str,
                 oracle_dir: str) -> dict:
    """Exactly one row per generated distinct event_id of every staged
    file, with the generated payload and either the original or a
    redelivered timestamp. Failures map to files (event_id // 1e6)."""
    os.makedirs(oracle_dir, exist_ok=True)
    con = _con()
    n_staged = len(staged)
    con.execute(f"""CREATE TABLE exp AS SELECT * REPLACE ("ts"::TIMESTAMP AS ts)
        FROM read_parquet('{inputs}/truth_events.parquet')
        WHERE event_id // 1000000 < {n_staged}""")
    con.execute(f"""CREATE TABLE redo AS SELECT event_id, ts::TIMESTAMP AS ts
        FROM read_parquet('{inputs}/truth_redeliveries.parquet')""")
    con.execute(f"""CREATE TABLE got AS SELECT * EXCLUDE (dt) REPLACE (ts::TIMESTAMP AS ts)
        FROM read_parquet('{target}/**/*.parquet', hive_partitioning=true)""")
    bad = con.execute("""
        SELECT DISTINCT coalesce(g.event_id, e.event_id) // 1000000 FROM got g
        FULL OUTER JOIN exp e ON g.event_id = e.event_id
        WHERE g.event_id IS NULL OR e.event_id IS NULL
           OR g.user_id <> e.user_id OR g.event_type <> e.event_type
           OR g.value <> e.value OR g.props <> e.props
           OR (g.ts <> e.ts AND NOT EXISTS (
                 SELECT 1 FROM redo r WHERE r.event_id = g.event_id AND r.ts = g.ts))
        UNION
        SELECT event_id // 1000000 FROM got GROUP BY event_id HAVING count(*) > 1
    """).fetchall()
    redelivered, absorbed = con.execute("""
        SELECT count(*), count(*) FILTER (WHERE n = 1) FROM (
            SELECT r.event_id, (SELECT count(*) FROM got g WHERE g.event_id = r.event_id) AS n
            FROM (SELECT DISTINCT event_id FROM redo
                  WHERE event_id IN (SELECT event_id FROM exp)) r)""").fetchone()
    idx = {f: i for i, f in enumerate(truth["files"])}
    measured_idx = ",".join(str(idx[f]) for f in measured) or "-1"
    compact_measured = _compact(
        con, f"SELECT * FROM exp WHERE event_id // 1000000 IN ({measured_idx})",
        ["event_id"], f"{oracle_dir}/measured.parquet")
    compact_live = _compact(con, "SELECT * FROM exp", ["event_id"], f"{oracle_dir}/live.parquet")
    return {"bad_files": {int(f) for (f,) in bad},
            "expected_events": con.execute("SELECT count(*) FROM exp").fetchone()[0],
            "redelivery_recall": absorbed / max(1, redelivered),
            "compact_measured_bytes": compact_measured, "compact_live_bytes": compact_live}
