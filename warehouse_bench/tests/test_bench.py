"""Tests of the benchmark itself: generator determinism, checks that
count a corrupted output as failed, and metric names that match
BENCHMARK.json. No Spark session is needed.

    python3 -m pytest warehouse_bench/tests -q
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import sys
from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def _digest(d: Path) -> dict[str, str]:
    return {p.name: hashlib.sha256(p.read_bytes()).hexdigest()
            for p in sorted(d.iterdir())}


# --- determinism -----------------------------------------------------------

@pytest.mark.parametrize("make", [
    lambda d, s: gen.corpus(str(d), s, 400),
    lambda d, s: gen.event_files(str(d), s, 3, 200),
    lambda d, s: gen.bi_tables(str(d), s, 0.001),
])
def test_same_seed_same_bytes(tmp_path, make):
    make(tmp_path / "a", 7)
    make(tmp_path / "b", 7)
    make(tmp_path / "c", 8)
    a, b, c = (_digest(tmp_path / x) for x in "abc")
    assert a == b
    assert a != c
    assert "truth.json" in a


def test_gbfs_fleet_is_deterministic(tmp_path):
    f1, f2, f3 = (gen.GbfsFleet(s, 40, 200) for s in (3, 3, 4))
    f1.write_cycle(str(tmp_path / "a.json"), 10, 12)
    f2.write_cycle(str(tmp_path / "b.json"), 10, 12)
    f3.write_cycle(str(tmp_path / "c.json"), 10, 12)
    a, b, c = ((tmp_path / f"{x}.json").read_bytes() for x in "abc")
    assert a == b != c
    assert f1.rides == f2.rides
    assert {r["kind"] for r in f1.rides} == {"valid", "short", "long"}


def test_planted_truth_is_consistent(tmp_path):
    truth = gen.corpus(str(tmp_path), 5, 2000)
    assert truth["planted_pairs"] and truth["low_quality"] and truth["pii"]
    assert all(j >= gen.JACCARD_THRESHOLD for _, _, j in truth["planted_pairs"])
    # every seed plants the same amount of work; only the words differ
    other = gen.corpus(str(tmp_path / "other"), 6, 2000)
    assert [len(other[k]) for k in ("planted_pairs", "low_quality", "pii")] == \
        [len(truth[k]) for k in ("planted_pairs", "low_quality", "pii")]
    ev = gen.event_files(str(tmp_path / "ev"), 5, 4, 500)
    redo = pq.read_table(tmp_path / "ev" / "truth_redeliveries.parquet")
    orig = pq.read_table(tmp_path / "ev" / "truth_events.parquet")
    assert redo.num_rows == ev["redelivered"] > 0
    # every redelivery stays within the watermark and on the same UTC date
    ts = dict(zip(orig["event_id"].to_pylist(), orig["ts"].to_pylist()))
    for eid, rts in zip(redo["event_id"].to_pylist(), redo["ts"].to_pylist()):
        assert rts.date() == ts[eid].date()
        assert dt.timedelta(0) <= rts - ts[eid] < dt.timedelta(minutes=10)


# --- corrupted outputs are failures ---------------------------------------

def _write_fact(con, sql: str, root: Path, ts_col: str) -> None:
    """Write a query result dt-partitioned, the way the engine lays out
    its tables."""
    tbl = con.execute(sql).arrow()
    dts = pc.strftime(tbl[ts_col], format="%Y-%m-%d")
    for d in sorted(set(dts.to_pylist())):
        part = root / f"dt={d}"
        part.mkdir(parents=True)
        pq.write_table(tbl.filter(pc.equal(dts, d)), part / "part-0.parquet")


def test_event_stream_check_counts_corruption(tmp_path):
    truth = gen.event_files(str(tmp_path / "in"), 9, 3, 300)
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    good = tmp_path / "good"
    _write_fact(con, f"SELECT * FROM read_parquet('{tmp_path}/in/truth_events.parquet')",
                good, "ts")
    res = checks.check_events(str(tmp_path / "in"), truth, truth["files"],
                              truth["files"][1:], str(good), str(tmp_path / "o1"))
    assert res["bad_files"] == set() and res["redelivery_recall"] == 1.0
    # a duplicated event in file 2 and a changed value in file 0
    bad = tmp_path / "bad"
    _write_fact(con, f"""
        SELECT * REPLACE (CASE WHEN event_id = 5 THEN value + 1 ELSE value END AS value)
        FROM read_parquet('{tmp_path}/in/truth_events.parquet')
        UNION ALL SELECT * FROM read_parquet('{tmp_path}/in/truth_events.parquet')
        WHERE event_id = 2000007""", bad, "ts")
    res = checks.check_events(str(tmp_path / "in"), truth, truth["files"],
                              truth["files"][1:], str(bad), str(tmp_path / "o2"))
    assert res["bad_files"] == {0, 2}


def test_corpus_check_counts_corruption(tmp_path):
    truth = gen.corpus(str(tmp_path / "in"), 4, 1500)
    src = str(tmp_path / "in" / "corpus.parquet")
    texts = checks.expected_curated(duckdb.connect(), src, 0.5)
    assert set(truth["low_quality"]).isdisjoint(texts)
    assert not any("@example.com" in texts[i] for i in truth["pii"])
    pairs = [(a, b, j) for a, b, j in truth["planted_pairs"] if a in texts and b in texts]
    comp = checks._components((a, b) for a, b, _ in pairs)
    kept = sorted(i for i in texts if comp.get(i, i) == i)

    def write_op(d: Path, kept_ids, pair_rows):
        (d / "pairs").mkdir(parents=True)
        (d / "kept").mkdir()
        pq.write_table(pa.table({"id_a": [p[0] for p in pair_rows],
                                 "id_b": [p[1] for p in pair_rows],
                                 "jaccard": [p[2] for p in pair_rows]},
                                schema=pa.schema([("id_a", pa.int64()), ("id_b", pa.int64()),
                                                  ("jaccard", pa.float64())])),
                       d / "pairs" / "p.parquet")
        pq.write_table(pa.table({"doc_id": pa.array(kept_ids, pa.int64()),
                                 "text": [texts[i] for i in kept_ids]}),
                       d / "kept" / "k.parquet")

    write_op(tmp_path / "op0", kept, pairs)
    write_op(tmp_path / "op1", kept[1:], pairs)                    # a doc lost
    write_op(tmp_path / "op2", kept, pairs + [(kept[0], kept[1], 0.9)])  # a bogus pair
    res = checks.check_corpus(src, truth, [(i, str(tmp_path / f"op{i}")) for i in range(3)],
                              0.5)
    assert res["failed_ops"] == {1, 2}
    assert res["recall"] == 1.0


def test_trips_check_counts_corruption(tmp_path):
    fleet = gen.GbfsFleet(2, 60, 24 * 12 + 36)
    windows = []
    for op, end_snap in enumerate(range(24 * 12, 24 * 12 + 36 + 1, 12)):
        end = fleet.ts(end_snap)
        windows.append((end - dt.timedelta(hours=24), end, op))
    upto = 24 * 12 + 36
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.register("g", fleet.status_table(0, upto))
    log = tmp_path / "log"
    _write_fact(con, 'SELECT * REPLACE ("timestamp"::TIMESTAMP AS "timestamp") FROM g',
                log, "timestamp")
    # the engine's answer, taken from the oracle itself
    oracle = checks._con()
    oracle.register("gen_arrow", fleet.status_table(0, upto))
    oracle.execute("""CREATE TABLE gen_status AS SELECT * REPLACE
                      ("timestamp"::TIMESTAMP AS "timestamp") FROM gen_arrow""")
    oracle.execute("CREATE TABLE f AS SELECT * FROM (" + checks.TRIP_SQL + ") LIMIT 0",
                   {"ws": dt.datetime(2000, 1, 1), "we": dt.datetime(2000, 1, 1)})
    for ws, we, _ in windows:
        oracle.execute("CREATE OR REPLACE TEMP TABLE w AS " + checks.TRIP_SQL,
                       {"ws": ws.replace(tzinfo=None), "we": we.replace(tzinfo=None)})
        oracle.execute("DELETE FROM f WHERE (bike_id, trip_start) IN "
                       "(SELECT (bike_id, trip_start) FROM w)")
        oracle.execute("INSERT INTO f SELECT * FROM w")
    assert oracle.execute("SELECT count(*) FROM f").fetchone()[0] > 0
    good, bad = tmp_path / "good", tmp_path / "bad"
    _write_fact(oracle, "SELECT * FROM f", good, "trip_start")
    _write_fact(oracle, """SELECT * REPLACE (CASE WHEN row_number() OVER () = 1
                           THEN total_distance + 0.5 ELSE total_distance END AS total_distance)
                           FROM f""", bad, "trip_start")
    op_of = lambda s: (s - 24 * 12) // 12  # noqa: E731
    ok = checks.check_trips(fleet, 24 * 12, upto, op_of, str(log), str(good), windows,
                            str(tmp_path / "o1"))
    assert ok["failed_ops"] == set() and ok["fact_mismatch_rows"] == 0
    ko = checks.check_trips(fleet, 24 * 12, upto, op_of, str(log), str(bad), windows,
                            str(tmp_path / "o2"))
    assert ko["fact_mismatch_rows"] == 1 and len(ko["failed_ops"]) == 1


# --- metric names ----------------------------------------------------------

def test_metric_names_match_benchmark_json():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]} == run.E2E
    assert run.WORKLOAD_METRICS <= set(run.E2E)
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == ["trips_etl", "bi_queries"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values())


def test_tail_percentile_needs_ten_samples_beyond():
    assert run.tail([1.0] * 5 + [2.0]) == (2.0, 100.0, 0)
    xs = [float(i) for i in range(1, 101)]
    assert run.tail(xs) == (90.0, 90.0, 10)
    assert run.tail(xs[:40]) == (30.0, 75.0, 10)
