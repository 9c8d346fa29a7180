"""Seeded input generators for the warehouse benchmark.

Every generator is a pure function of its seed and sizes: the same seed
writes the same bytes. Each one records its ground truth next to its
inputs (``truth.json``) so the checks never have to trust the engine.

  gbfs_*      trips_etl: a random walk of a bike fleet, one GBFS
              free_bike_status payload per 5-minute snapshot, with
              planted valid and invalid rides
  bi_tables   bi_queries: a TPC-H-shaped star schema plus an events
              log, in the same schema as the repository's fixtures
  corpus      corpus_dedup: pseudo-word documents with planted
              near-duplicate clusters, low-quality docs and PII
  event_files event_stream: time-ordered event files with planted
              redeliveries
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

UTC = dt.timezone.utc


def _write_json(path: str, obj) -> None:
    with open(path, "w") as fh:
        json.dump(obj, fh, sort_keys=True, separators=(",", ":"))


def _rng(seed: int, stream: int) -> np.random.Generator:
    # one independent stream per generator, so sizes of one never shift
    # the draws of another
    return np.random.default_rng([seed, stream])


# --- trips_etl: GBFS snapshots ---------------------------------------

SNAPSHOT_S = 300                      # bike_lambda's 5-minute cadence
GBFS_T0 = dt.datetime(2024, 6, 3, tzinfo=UTC)   # far from any DST switch
PROVIDERS = ["p0", "p1", "p2", "p3"]


class GbfsFleet:
    """A seeded fleet whose positions exist for `n_snapshots` snapshots.

    Rides are planted per bike: a parked bike reports the same position
    in every snapshot, a riding bike moves once per snapshot. Ride kinds:
    'valid' (2-8 moving segments, 10-40 min), 'short' (one segment, fails
    the segment-count gate alone) and 'long' (13-16 segments, 65-80 min,
    fails the duration gate alone). The reference aggregates one trip per
    bike per window, so whether a window's trip is valid is decided by
    the DuckDB replay, not by the ride kind."""

    def __init__(self, seed: int, n_bikes: int, n_snapshots: int):
        rng = _rng(seed, 1)
        self.n_bikes, self.n_snapshots = n_bikes, n_snapshots
        self.bike_ids = [f"bike-{i:05d}" for i in range(n_bikes)]
        self.provider = rng.integers(0, len(PROVIDERS), n_bikes)
        # positions in integer units of 1e-5 degree: exact decimals in
        # JSON and in both engines
        lat0 = rng.integers(4_730_000, 4_745_000, n_bikes)
        lon0 = rng.integers(845_000, 860_000, n_bikes)
        step = np.zeros((n_snapshots, n_bikes), np.int64)
        step_lon = np.zeros((n_snapshots, n_bikes), np.int64)
        rides = []
        kinds = np.array(["valid", "short", "long"])
        max_rides = n_snapshots // 40 + 8
        for b in range(n_bikes):
            # candidate rides: parked gap, kind, segment count, moves
            gap = rng.exponential(90, max_rides).astype(np.int64) + 2
            kind = np.searchsorted([0.7, 0.85], rng.random(max_rides), side="right")
            segs = np.where(kind == 0, rng.integers(2, 9, max_rides),
                            np.where(kind == 1, 1, rng.integers(13, 17, max_rides)))
            start = int(rng.integers(0, 120)) + np.cumsum(gap + np.concatenate([[0], segs[:-1]]))
            moves = rng.integers(100, 500, (2, int(segs.sum()))) \
                * rng.choice(np.array([-1, 1]), (2, int(segs.sum())))
            m = 0
            for t, k, n in zip(start.tolist(), kind.tolist(), segs.tolist()):
                if t + n >= n_snapshots:
                    break
                step[t + 1:t + 1 + n, b] = moves[0, m:m + n]
                step_lon[t + 1:t + 1 + n, b] = moves[1, m:m + n]
                m += n
                rides.append({"bike_id": self.bike_ids[b], "kind": str(kinds[k]),
                              "segments": n, "start": self.ts(t).isoformat(),
                              "end": self.ts(t + n).isoformat()})
        self.lat = lat0[None, :] + np.cumsum(step, axis=0)
        self.lon = lon0[None, :] + np.cumsum(step_lon, axis=0)
        self.reserved = rng.random((n_snapshots, n_bikes)) < 0.05
        self.rides = rides

    @staticmethod
    def ts(snapshot: int) -> dt.datetime:
        return GBFS_T0 + dt.timedelta(seconds=SNAPSHOT_S * snapshot)

    def payload(self, s: int) -> str:
        """The GBFS free_bike_status JSON body of snapshot `s`."""
        lat, lon, res = self.lat[s], self.lon[s], self.reserved[s]
        bikes = [{"bike_id": self.bike_ids[b],
                  "lat": int(lat[b]) / 1e5, "lon": int(lon[b]) / 1e5,
                  "is_reserved": bool(res[b]), "is_disabled": False,
                  "provider_id": PROVIDERS[self.provider[b]]}
                 for b in range(self.n_bikes)]
        return json.dumps({"data": {"bikes": bikes},
                           "last_updated": int(self.ts(s).timestamp())},
                          separators=(",", ":"))

    def write_cycle(self, path: str, first: int, count: int) -> int:
        """Land snapshots [first, first+count) as JSON lines (one payload
        per line, the raw-fetch landing zone). Returns rows (bike
        observations) written."""
        with open(path, "w") as fh:
            for s in range(first, first + count):
                fh.write(self.payload(s) + "\n")
        return count * self.n_bikes

    def status_table(self, lo: int, hi: int) -> pa.Table:
        """bike_status rows of snapshots [lo, hi), as parse_gbfs emits
        them — the oracle's copy of the log, built from the generator,
        never from the engine."""
        n = self.n_bikes
        ts = np.repeat(np.array([self.ts(s).replace(tzinfo=None)
                                 for s in range(lo, hi)], "datetime64[us]"), n)
        return pa.table({
            "bike_id": pa.array(self.bike_ids * (hi - lo)),
            "provider_id": pa.array([PROVIDERS[p] for p in self.provider] * (hi - lo)),
            "lat": pa.array((self.lat[lo:hi] / 1e5).ravel()),
            "lon": pa.array((self.lon[lo:hi] / 1e5).ravel()),
            "is_reserved": pa.array(self.reserved[lo:hi].ravel()),
            "is_disabled": pa.array(np.zeros((hi - lo) * n, bool)),
            "timestamp": pa.array(ts).cast(pa.timestamp("us", tz="UTC")),
        })

    def write_truth(self, path: str) -> None:
        _write_json(path, {"n_bikes": self.n_bikes,
                           "n_snapshots": self.n_snapshots,
                           "snapshot_s": SNAPSHOT_S, "t0": GBFS_T0.isoformat(),
                           "rides": self.rides})


# --- bi_queries: TPC-H-shaped tables + events ------------------------

def bi_tables(out_dir: str, seed: int, scale: float = 0.1) -> dict[str, int]:
    """The fixture schema (region, nation, customer, orders, lineitem,
    events) at `scale` (0.1 = 600k lineitem rows). Returns row counts."""
    rng = _rng(seed, 2)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_ord = int(150_000 * scale), int(1_500_000 * scale)
    n_li, n_ev = int(6_000_000 * scale), int(1_000_000 * scale)

    def money(lo, hi, n):
        return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0

    def dates(lo: str, hi: str, n):
        a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
        d = a + rng.integers(0, (b - a).astype(int), n).astype("timedelta64[D]")
        return d.astype("datetime64[us]")

    def pick(options, n):
        return pa.array(np.array(options, dtype=object)[rng.integers(0, len(options), n)])

    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"], n_cust)}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": pick(["O", "F", "P"], n_ord),
            "o_totalprice": money(1000, 500000, n_ord),
            "o_orderdate": pa.array(dates("1992-01-01", "2002-12-31", n_ord)),
            "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"], n_ord)}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
            "l_partkey": pa.array(rng.integers(0, 20_000, n_li)),
            "l_suppkey": pa.array(rng.integers(0, 1_000, n_li)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": money(900, 100000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": pick(["A", "N", "R"], n_li),
            "l_linestatus": pick(["O", "F"], n_li),
            "l_shipdate": pa.array(dates("1992-01-01", "2002-12-31", n_li))}),
    }
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = np.sort(t0 + rng.integers(0, 30 * 86_400 * 1_000_000, n_ev)
                 .astype("timedelta64[us]"))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, 1500, n_ev)),
        "event_type": pick(["view", "click", "purchase", "signup", "error"], n_ev),
        "value": money(0, 500, n_ev),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    for name, t in tables.items():
        pq.write_table(t, f"{out_dir}/{name}.parquet")
    counts = {name: t.num_rows for name, t in tables.items()}
    _write_json(f"{out_dir}/truth.json", {"rows": counts, "scale": scale})
    return counts


# --- corpus_dedup: documents with planted near-duplicates ------------

STOPWORDS = ["the", "and", "of"]
SHINGLE_N = 3
JACCARD_THRESHOLD = 0.5


def shingle_set(text: str) -> set[str]:
    """Distinct lowercase whitespace-token 3-shingles — the definition
    the engine's MinHash and its exact verify both use."""
    toks = text.strip().lower().split()
    return {" ".join(toks[i:i + SHINGLE_N])
            for i in range(len(toks) - SHINGLE_N + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingle_set(a), shingle_set(b)
    return len(sa & sb) / len(sa | sb) if sa or sb else 0.0


def corpus(out_dir: str, seed: int, n_docs: int) -> dict:
    """`n_docs` documents: 12% sit in near-duplicate clusters of 2, 3 or
    4 docs (a base and copies with ~3% of words substituted), 3% are
    short punctuation-heavy low-quality docs, 5% carry an email, IPv4 or
    phone number, the rest are plain. The counts are fixed, so every
    seed asks the same work of the dedup; only the words differ. doc_ids
    are shuffled so clusters are not contiguous."""
    rng = _rng(seed, 3)
    os.makedirs(out_dir, exist_ok=True)
    syl = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa",
           "do", "gu", "he", "ji", "ba", "fe"]
    vocab = np.array(sorted({"".join(rng.choice(syl, int(rng.integers(2, 5))))
                             for _ in range(6000)}), dtype=object)

    def words(n):
        w = vocab[rng.integers(0, len(vocab), n)]
        stop = rng.random(n) < 0.08
        w[stop] = np.array(STOPWORDS, dtype=object)[rng.integers(0, 3, int(stop.sum()))]
        return list(w)

    texts, kinds = [], []
    clusters = []
    while len(texts) < n_docs * 12 // 100:
        base = words(int(rng.integers(60, 120)))
        members = []
        for k in range(2 + len(clusters) % 3):
            c = list(base)
            if k:
                for p in rng.choice(len(c), max(1, len(c) * 3 // 100), replace=False):
                    c[p] = vocab[rng.integers(0, len(vocab))]
            members.append(len(texts))
            texts.append(" ".join(c) + ".")
            kinds.append("dup")
        clusters.append(members)
    for _ in range(n_docs * 3 // 100):
        texts.append(" ".join(words(int(rng.integers(3, 7)))) + " !!! ??? ...")
        kinds.append("lowq")
    for _ in range(n_docs * 5 // 100):
        w = words(int(rng.integers(40, 120)))
        pos = int(rng.integers(0, len(w)))
        w.insert(pos, rng.choice([
            f"user{int(rng.integers(0, 10**6))}@example.com",
            ".".join(str(int(x)) for x in rng.integers(1, 255, 4)),
            f"+41{int(rng.integers(10**8, 10**9))}"]))
        texts.append(" ".join(w) + ".")
        kinds.append("pii")
    while len(texts) < n_docs:
        texts.append(" ".join(words(int(rng.integers(40, 120)))) + ".")
        kinds.append("plain")
    texts, kinds = texts[:n_docs], kinds[:n_docs]
    ids = rng.permutation(len(texts)).astype(np.int64)
    planted = []
    for members in clusters:
        members = [m for m in members if m < len(texts)]
        for i, a in enumerate(members):
            for b in members[i + 1:]:
                j = jaccard(texts[a], texts[b])
                if j >= JACCARD_THRESHOLD:
                    planted.append(sorted((int(ids[a]), int(ids[b]))) + [round(j, 6)])
    order = np.argsort(ids)
    table = pa.table({"doc_id": pa.array(ids[order]),
                      "text": pa.array([texts[i] for i in order])})
    pq.write_table(table, f"{out_dir}/corpus.parquet")
    truth = {"n_docs": len(texts), "threshold": JACCARD_THRESHOLD,
             "planted_pairs": sorted(planted),
             "low_quality": sorted(int(ids[i]) for i, k in enumerate(kinds) if k == "lowq"),
             "pii": sorted(int(ids[i]) for i, k in enumerate(kinds) if k == "pii")}
    _write_json(f"{out_dir}/truth.json", truth)
    return truth


# --- event_stream: event files with planted redeliveries -------------

EVENT_T0 = dt.datetime(2024, 3, 4, tzinfo=UTC)
EVENT_FILE_S = 2 * 3600


def event_files(out_dir: str, seed: int, n_files: int,
                per_file: int) -> dict:
    """`n_files` parquet files, file i covering event time
    [T0 + i*2h, T0 + (i+1)*2h). ~10% of events are redelivered 1-240 s
    later (inside the 10-minute dedup watermark, and clamped to the same
    UTC date, which keeps merge_into_partitioned's key-determines-date
    precondition); a redelivery lands in the next file when the original
    sits in the last 5 minutes of its file."""
    rng = _rng(seed, 4)
    os.makedirs(out_dir, exist_ok=True)
    t0_us = int(EVENT_T0.timestamp()) * 1_000_000
    span_us = EVENT_FILE_S * 1_000_000
    day_us = 86_400 * 1_000_000
    carry = None
    files, n_redelivered = [], 0
    all_events, retries = [], []
    for i in range(n_files):
        lo = t0_us + i * span_us
        ts = np.sort(lo + rng.integers(0, span_us, per_file))
        ev = {"event_id": np.arange(per_file, dtype=np.int64) + i * 1_000_000,
              "ts": ts,
              "user_id": rng.integers(0, 1000, per_file),
              "event_type": np.array(["view", "click", "purchase", "signup",
                                      "error"], dtype=object)[rng.integers(0, 5, per_file)],
              "value": rng.integers(0, 50_000, per_file) / 100.0,
              "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, per_file)],
                                dtype=object)}
        all_events.append(ev)
        retry = rng.random(per_file) < 0.10
        rts = ts + rng.integers(1_000_000, 240_000_000, per_file)
        same_day = (rts // day_us) == (ts // day_us)
        rts = np.where(same_day, rts, ts)
        late = retry & (ts >= lo + span_us - 300_000_000)
        now = retry & ~late
        parts = [ev, {k: (v[now] if k != "ts" else rts[now]) for k, v in ev.items()}]
        if carry is not None:
            parts.append(carry)
        carry = {k: (v[late] if k != "ts" else rts[late]) for k, v in ev.items()}
        n_redelivered += int(retry.sum())
        retries.append((ev["event_id"][retry], rts[retry]))
        merged = {k: np.concatenate([p[k] for p in parts]) for k in ev}
        o = np.argsort(merged["ts"], kind="stable")
        files.append(f"events_{i:04d}.parquet")
        pq.write_table(_events_table({k: v[o] for k, v in merged.items()}),
                       f"{out_dir}/{files[-1]}")
    truth_ev = {k: np.concatenate([e[k] for e in all_events]) for k in all_events[0]}
    pq.write_table(_events_table(truth_ev), f"{out_dir}/truth_events.parquet")
    pq.write_table(pa.table({
        "event_id": pa.array(np.concatenate([r[0] for r in retries]), pa.int64()),
        "ts": pa.array(np.concatenate([r[1] for r in retries]), pa.timestamp("us", tz="UTC")),
    }), f"{out_dir}/truth_redeliveries.parquet")
    truth = {"files": files, "per_file": per_file, "redelivered": n_redelivered,
             "distinct_events": int(len(truth_ev["event_id"]))}
    _write_json(f"{out_dir}/truth.json", truth)
    return truth


def _events_table(cols: dict) -> pa.Table:
    return pa.table({
        "event_id": pa.array(cols["event_id"], pa.int64()),
        "ts": pa.array(cols["ts"], pa.timestamp("us", tz="UTC")),
        "user_id": pa.array(cols["user_id"], pa.int64()),
        "event_type": pa.array(cols["event_type"], pa.string()),
        "value": pa.array(cols["value"], pa.float64()),
        "props": pa.array(cols["props"], pa.string()),
    })
