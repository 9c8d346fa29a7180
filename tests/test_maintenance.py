"""Table-maintenance operators (operators/maintenance.py): key-scoped
delete and small-file compaction over dt-partitioned parquet."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from data_warehouse_spark.io import load_table, write_partitioned
from data_warehouse_spark.operators.maintenance import (
    compact_partitions, delete_by_keys,
)


def _part_files(path: str) -> dict[str, set]:
    out: dict[str, set] = {}
    for d in os.listdir(path):
        if d.startswith("dt="):
            out[d] = {f for f in os.listdir(os.path.join(path, d))
                      if f.endswith(".parquet")}
    return out


def test_delete_by_keys_scoped_rewrite(spark, sf_dir, tmp_path):
    """Deletes exactly the doomed keys; partitions without doomed rows
    keep their original files byte-for-byte (no rewrite); partitions
    whose every row is deleted disappear from disk."""
    target = str(tmp_path / "fact")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value")
    # several files per date, so the rewrite reads through several tasks
    write_partitioned(ev.repartition(4), target, ts_col="ts")

    # doom EVERY event of one day (that partition must vanish) plus a
    # few events of a second day (that partition rewrites; the rest
    # must keep their files untouched) — event_id keys are day-local,
    # unlike user_id, whose owners are active in every partition
    days = [r.dt for r in ev.select(F.to_date("ts").alias("dt"))
            .distinct().orderBy("dt").limit(2).collect()]
    a_day, b_day = days
    doomed = (ev.filter(F.to_date("ts") == F.lit(a_day)).select("event_id")
              .union(ev.filter(F.to_date("ts") == F.lit(b_day))
                     .select("event_id").limit(3)))

    before = _part_files(target)
    n_before = spark.read.parquet(target).count()
    n_doomed = doomed.distinct().count()

    delete_by_keys(spark, target, doomed, keys=["event_id"])

    after = _part_files(target)
    back = spark.read.parquet(target)
    assert back.count() == n_before - n_doomed
    assert back.join(doomed, on="event_id", how="left_semi").count() == 0
    # the fully-doomed day's directory is gone
    assert f"dt={a_day}" not in after
    # at least one untouched partition kept its exact original files
    untouched = [d for d in before
                 if d in after and before[d] == after[d]]
    assert untouched, "every partition was rewritten — not a scoped delete"
    # the partially-doomed day was rewritten, as one compact file
    rewritten = [d for d in after if after[d] != before.get(d)]
    assert rewritten == [f"dt={b_day}"], rewritten
    assert len(after[f"dt={b_day}"]) == 1, after[f"dt={b_day}"]


def test_delete_by_keys_noop_on_absent_keys(spark, sf_dir, tmp_path):
    target = str(tmp_path / "fact")
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    write_partitioned(ev, target, ts_col="ts")
    before = _part_files(target)
    ghosts = spark.createDataFrame([(-1,), (-2,)], "event_id long")
    delete_by_keys(spark, target, ghosts, keys=["event_id"])
    assert _part_files(target) == before  # zero partitions rewritten


def test_compact_partitions_collapses_files(spark, sf_dir, tmp_path):
    target = str(tmp_path / "frag")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value")
    write_partitioned(ev.repartition(8), target, ts_col="ts")

    frag = _part_files(target)
    assert max(len(v) for v in frag.values()) > 1  # genuinely fragmented
    rows_before = {tuple(r) for r in spark.read.parquet(target)
                   .drop("dt").collect()}

    compact_partitions(spark, target)

    compacted = _part_files(target)
    assert set(compacted) == set(frag)            # same partitions
    assert all(len(v) == 1 for v in compacted.values())  # one file each
    rows_after = {tuple(r) for r in spark.read.parquet(target)
                  .drop("dt").collect()}
    assert rows_after == rows_before              # content untouched


def test_delete_by_keys_erases_null_dt_and_null_key_rows(spark, tmp_path):
    """GDPR erasure must reach the default (NULL-dt) partition and
    NULL-valued keys: isin() never matches NULL and plain equi joins
    skip NULL keys, so both carry explicit handling (round-5 review
    findings)."""
    import datetime as dt

    from pyspark.sql import Row

    from data_warehouse_spark.operators.maintenance import delete_by_keys

    target = str(tmp_path / "t")
    t0 = dt.datetime(2024, 1, 10, 12)
    rows = [Row(user_id=1, ts=t0, v="keep"),
            Row(user_id=2, ts=None, v="doom-null-dt"),
            Row(user_id=None, ts=t0, v="doom-null-key"),
            Row(user_id=3, ts=None, v="keep-null-dt")]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp, v string")
    (df.withColumn("dt", F.to_date("ts"))
     .write.mode("overwrite").partitionBy("dt").parquet(target))

    dk = spark.createDataFrame([Row(user_id=2), Row(user_id=None)],
                               "user_id int")
    delete_by_keys(spark, target, dk, keys=["user_id"])
    got = {(r.user_id, r.v) for r in spark.read.parquet(target).collect()}
    assert got == {(1, "keep"), (3, "keep-null-dt")}


def test_snapshot_versions_are_immutable_and_atomic(spark, tmp_path):
    """U9's contract: committing v2 leaves v1 bit-intact; reads of an
    uncommitted/unknown version fail loudly; 'latest' follows commits."""
    import pytest
    from pyspark.sql import Row

    from data_warehouse_spark.operators.snapshots import (
        read_snapshot, versions, write_snapshot,
    )

    t = str(tmp_path / "snap")
    v1_rows = [Row(k=1, v="a"), Row(k=2, v="b")]
    assert write_snapshot(spark.createDataFrame(v1_rows), t) == 1
    assert versions(t) == [1]
    assert write_snapshot(
        spark.createDataFrame([Row(k=2, v="B"), Row(k=3, v="C")]), t) == 2

    # time travel: v1 unchanged after v2's commit
    got_v1 = {(r.k, r.v) for r in read_snapshot(spark, t, 1).collect()}
    assert got_v1 == {(1, "a"), (2, "b")}
    # latest = v2
    got = {(r.k, r.v) for r in read_snapshot(spark, t).collect()}
    assert got == {(2, "B"), (3, "C")}

    with pytest.raises(ValueError):
        read_snapshot(spark, t, 7)
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, str(tmp_path / "nope"))


def test_snapshot_version_lock_blocks_live_writer_steals_stale(spark, tmp_path):
    """Round-6 concurrency fix: a FRESH lock for the next version means
    a live concurrent writer — the commit must fail loudly instead of
    rmtree'ing its in-progress data. A STALE lock (crashed writer,
    older than LOCK_GRACE_S) is reclaimed and the write proceeds."""
    import os
    import time

    import pytest
    from pyspark.sql import Row

    from data_warehouse_spark.operators import snapshots as snap

    t = str(tmp_path / "snap")
    df = spark.createDataFrame([Row(k=1)])
    assert snap.write_snapshot(df, t) == 1
    # no lock left behind after a successful commit
    assert not [f for f in os.listdir(snap._versions_dir(t))
                if f.endswith(".lock")]

    # plant a lock held by a LIVE pid (ours) -> loud failure, even if
    # the lock is old (a big parquet write can outlive any grace)
    lock = os.path.join(snap._versions_dir(t), ".v000002.lock")
    with open(lock, "w") as fh:
        fh.write(str(os.getpid()))
    old = time.time() - snap.LOCK_GRACE_S - 1
    os.utime(lock, (old, old))
    with pytest.raises(RuntimeError, match="live process"):
        snap.write_snapshot(df, t)

    # dead holder pid -> stolen immediately, no grace wait. Fork and
    # reap a child for a GUARANTEED-dead pid (a hardcoded number can
    # belong to a live process under pid_max=4M on systemd hosts)
    dead_pid = os.fork()
    if dead_pid == 0:
        os._exit(0)
    os.waitpid(dead_pid, 0)
    with open(lock, "w") as fh:
        fh.write(str(dead_pid))
    assert snap.write_snapshot(df, t) == 2

    # unreadable pid + fresh mtime -> grace fallback says live -> fail
    lock3 = os.path.join(snap._versions_dir(t), ".v000003.lock")
    with open(lock3, "w") as fh:
        fh.write("")
    with pytest.raises(RuntimeError, match="live process"):
        snap.write_snapshot(df, t)
    # unreadable pid + stale mtime -> grace fallback steals
    os.utime(lock3, (old, old))
    assert snap.write_snapshot(df, t) == 3
    assert snap.versions(t) == [1, 2, 3]


def test_snapshot_lock_revalidates_committed_version(spark, tmp_path):
    """The compute-v/commit/release race: if another writer committed v
    and RELEASED its lock between our versions() read and the lock
    acquisition, write_snapshot must take the NEXT number — never
    treat the committed data dir as a reclaimable orphan."""
    from pyspark.sql import Row

    from data_warehouse_spark.operators import snapshots as snap

    t = str(tmp_path / "snap")
    df = spark.createDataFrame([Row(k=1)])
    assert snap.write_snapshot(df, t) == 1

    # simulate the race: another writer commits v2 AFTER our versions()
    # read. Patch versions() to return the pre-commit view once.
    real_versions = snap.versions
    calls = {"n": 0}

    def stale_once(table_dir):
        calls["n"] += 1
        if calls["n"] == 1:
            snap.write_snapshot(
                df.sparkSession.createDataFrame([Row(k=99)]), t)
            return [1]  # the stale, pre-commit view
        return real_versions(table_dir)

    snap.versions = stale_once
    try:
        got = snap.write_snapshot(df, t)
    finally:
        snap.versions = real_versions
    assert got == 3  # v2 was the other writer's; ours re-validated
    got_v2 = {r.k for r in snap.read_snapshot(spark, t, 2).collect()}
    assert got_v2 == {99}  # the winner's committed data survived


def test_snapshot_changes_classifies_all_three_kinds(spark, tmp_path):
    from pyspark.sql import Row

    from data_warehouse_spark.operators.snapshots import (
        snapshot_changes, write_snapshot,
    )

    t = str(tmp_path / "cdc")
    write_snapshot(spark.createDataFrame(
        [Row(k=1, v="a"), Row(k=2, v="b"), Row(k=None, v="n")],
        "k int, v string"), t)
    write_snapshot(spark.createDataFrame(
        [Row(k=2, v="B"),          # update
         Row(k=None, v="N"),       # NULL key updates like any key
         Row(k=3, v="c")],         # insert; k=1 vanishes -> delete
        "k int, v string"), t)
    got = {(r.k, r.change_type, r.new_v, r.old_v) for r in
           snapshot_changes(spark, t, 1, 2, keys=["k"]).collect()}
    assert got == {(2, "update", "B", "b"),
                   (None, "update", "N", "n"),
                   (3, "insert", "c", None),
                   (1, "delete", None, "a")}


def test_snapshot_diff_roundtrip_reconstructs_v2(spark, sf_dir, tmp_path):
    """Applying diff(v1 -> v2) to v1 must reconstruct v2 exactly —
    the invariant an incremental consumer relies on. Run over real
    fixture data with all three change classes."""
    from pyspark.sql import Row

    from data_warehouse_spark.operators.snapshots import (
        read_snapshot, snapshot_changes, write_snapshot,
    )

    orders = load_table(spark, sf_dir, "orders") \
        .select("o_orderkey", "o_totalprice")
    t = str(tmp_path / "rt")
    v1 = orders.filter(F.col("o_orderkey") % 3 != 0)
    write_snapshot(v1, t)
    v2 = (orders.filter(F.col("o_orderkey") % 5 != 0)
          .withColumn("o_totalprice",
                      F.when(F.col("o_orderkey") % 2 == 0,
                             F.col("o_totalprice") * 2)
                      .otherwise(F.col("o_totalprice"))))
    write_snapshot(v2, t)

    diff = {r.o_orderkey: r for r in
            snapshot_changes(spark, t, 1, 2, keys=["o_orderkey"]).collect()}
    state = {r.o_orderkey: r.o_totalprice
             for r in read_snapshot(spark, t, 1).collect()}
    for k, r in diff.items():
        if r.change_type == "delete":
            del state[k]
        else:  # insert or update
            state[k] = r.new_o_totalprice
    want = {r.o_orderkey: r.o_totalprice
            for r in read_snapshot(spark, t, 2).collect()}
    assert state == want and any(
        r.change_type == "delete" for r in diff.values()) and any(
        r.change_type == "insert" for r in diff.values()) and any(
        r.change_type == "update" for r in diff.values())


def test_snapshot_recovers_from_crashed_writer_orphan(spark, tmp_path):
    """A data dir without a manifest (writer died pre-commit) must be
    reclaimed by the next write, not wedge the table forever."""
    import os

    from pyspark.sql import Row

    from data_warehouse_spark.operators.snapshots import (
        read_snapshot, versions, write_snapshot,
    )

    t = str(tmp_path / "snap")
    write_snapshot(spark.createDataFrame([Row(k=1)]), t)
    # simulate a crash: v2 data written, manifest never renamed
    orphan = os.path.join(t, "data", "v000002")
    spark.createDataFrame([Row(k=99)]).write.parquet(orphan)
    assert versions(t) == [1]  # reader never sees the orphan
    v = write_snapshot(spark.createDataFrame([Row(k=2)]), t)
    assert v == 2
    assert {r.k for r in read_snapshot(spark, t, 2).collect()} == {2}


def test_snapshot_changes_key_only_table_and_schema_guard(spark, tmp_path):
    import pytest
    from pyspark.sql import Row

    from data_warehouse_spark.operators.snapshots import (
        snapshot_changes, write_snapshot,
    )

    t = str(tmp_path / "ko")
    write_snapshot(spark.createDataFrame([Row(k=1), Row(k=2)], "k int"), t)
    write_snapshot(spark.createDataFrame([Row(k=2), Row(k=3)], "k int"), t)
    got = {(r.k, r.change_type) for r in
           snapshot_changes(spark, t, 1, 2, keys=["k"]).collect()}
    assert got == {(1, "delete"), (3, "insert")}

    t2 = str(tmp_path / "evolved")
    write_snapshot(spark.createDataFrame([Row(k=1)], "k int"), t2)
    write_snapshot(spark.createDataFrame([Row(k=1, v="x")],
                                         "k int, v string"), t2)
    with pytest.raises(ValueError, match="congruent schemas"):
        snapshot_changes(spark, t2, 1, 2, keys=["k"])


def test_snapshot_steal_identity_check_closes_toctou(tmp_path):
    """Round-7 advice fix: two stealers race on the same stale lock.
    The fast one (simulated in the hook) renames it away and O_EXCL-
    creates its own FRESH lock; the slow one's rename then grabs the
    FAST STEALER'S live lock — rename re-resolves the path and does
    not verify identity. The post-rename st_ino/st_mtime_ns compare
    must detect the swap, restore the winner's lock, and raise the
    live-holder error instead of handing both writers the version."""
    import os

    import pytest

    from data_warehouse_spark.operators import snapshots as snap

    t = str(tmp_path / "snap")
    os.makedirs(snap._versions_dir(t))
    lock = os.path.join(snap._versions_dir(t), ".v000001.lock")

    # a guaranteed-dead pid for the stale lock
    dead_pid = os.fork()
    if dead_pid == 0:
        os._exit(0)
    os.waitpid(dead_pid, 0)
    with open(lock, "w") as fh:
        fh.write(str(dead_pid))

    winner_pid = os.getpid()  # the fast stealer is alive (it's us)

    def fast_stealer_wins(path):
        # interleave between the slow stealer's stat and its rename:
        # the fast stealer claims the stale lock and plants its own
        os.rename(path, path + ".winner-claimed")
        os.unlink(path + ".winner-claimed")
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        os.write(fd, str(winner_pid).encode())
        os.close(fd)

    snap._pre_steal_hook = fast_stealer_wins
    try:
        with pytest.raises(RuntimeError, match="live process"):
            snap._acquire_version_lock(t, 1)
    finally:
        snap._pre_steal_hook = None

    # the winner's fresh lock survived the loser's steal attempt
    with open(lock) as fh:
        assert int(fh.read()) == winner_pid


def test_snapshot_restore_link_never_clobbers_third_writer(tmp_path):
    """Round-8 advice fix: the identity-mismatch restore used rename,
    which would CLOBBER a third writer's freshly O_EXCL-created lock
    if the race winner released in the restore window. link fails
    EEXIST instead: the third writer's lock must survive byte-for-byte.
    Round-9 advice fix layered on top: on EEXIST the loser KEEPS the
    claimed file — it is the race winner's only surviving lock copy
    (deleting it would erase the record that the winner holds v)."""
    import os

    import pytest

    from data_warehouse_spark.operators import snapshots as snap

    t = str(tmp_path / "snap")
    os.makedirs(snap._versions_dir(t))
    lock = os.path.join(snap._versions_dir(t), ".v000001.lock")

    dead_pid = os.fork()
    if dead_pid == 0:
        os._exit(0)
    os.waitpid(dead_pid, 0)
    with open(lock, "w") as fh:
        fh.write(str(dead_pid))

    live_pid = os.getpid()

    def fast_stealer_wins(path):
        os.rename(path, path + ".winner-claimed")
        os.unlink(path + ".winner-claimed")
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        os.write(fd, str(live_pid).encode())
        os.close(fd)

    def third_writer_relocks(path):
        # the loser's rename already moved the winner's fresh lock to
        # its claimed name, so the path is FREE here — exactly the
        # window where a third writer O_EXCL-creates its own lock
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        os.write(fd, f"{live_pid} third".encode())
        os.close(fd)

    snap._pre_steal_hook = fast_stealer_wins
    snap._pre_restore_hook = third_writer_relocks
    try:
        with pytest.raises(RuntimeError, match="live process"):
            snap._acquire_version_lock(t, 1)
    finally:
        snap._pre_steal_hook = None
        snap._pre_restore_hook = None

    # third writer's lock untouched
    with open(lock) as fh:
        assert fh.read() == f"{live_pid} third"
    # the winner's only lock copy SURVIVES as the claimed file (round-9
    # advice: deleting it would leave the winner's hold on v
    # unrecorded); it never blocks future O_EXCL acquisitions
    residue = [f for f in os.listdir(snap._versions_dir(t))
               if ".stale." in f]
    assert len(residue) == 1
    with open(os.path.join(snap._versions_dir(t), residue[0])) as fh:
        assert fh.read() == str(live_pid)  # the winner's fresh lock body


def test_snapshot_release_is_identity_checked(tmp_path):
    """Round-9 advice fix: release must not blindly unlink the lock
    path — if our lock was stolen (pid-recycle adjudication) and a new
    writer's lock now sits there, a blind unlink removes a LIVE lock.
    _release_version_lock reads the recorded pid first."""
    import os

    from data_warehouse_spark.operators import snapshots as snap

    vdir = str(tmp_path)
    foreign = os.path.join(vdir, ".v000001.lock")
    with open(foreign, "w") as fh:
        fh.write(str(os.getpid() + 1))  # someone else's lock
    snap._release_version_lock(foreign)
    assert os.path.exists(foreign)  # left alone

    ours = os.path.join(vdir, ".v000002.lock")
    with open(ours, "w") as fh:
        fh.write(str(os.getpid()))
    snap._release_version_lock(ours)
    assert not os.path.exists(ours)  # ours: released

    # absent path: no-op, no raise
    snap._release_version_lock(os.path.join(vdir, ".v000003.lock"))


def test_snapshot_release_token_distinguishes_same_pid(tmp_path):
    """Round-10 advice fix: pid-only release identity lets two writer
    THREADS in one process unlink each other's live lock. The token is
    (pid, inode, mtime_ns) of the created lock — the BODY stays a
    plain pid so a pre-round-10 reader's int(body) liveness check
    keeps working in a mixed-version window. Release with a token must
    leave a SAME-PID lock from a different acquisition alone, and the
    full acquire->release cycle must round-trip its own."""
    import os

    from data_warehouse_spark.operators import snapshots as snap

    t = str(tmp_path / "snap")

    # full cycle: body is a PLAIN pid (mixed-version contract), the
    # token carries the acquisition identity; release-with-token works
    lock, token = snap._acquire_version_lock(t, 1)
    assert token.startswith(f"{os.getpid()}:")
    st = os.stat(lock)
    assert token == f"{os.getpid()}:{st.st_ino}:{st.st_mtime_ns}"
    with open(lock) as fh:
        assert fh.read() == str(os.getpid())  # old readers still parse
    snap._release_version_lock(lock, token)
    assert not os.path.exists(lock)

    # a sibling thread's lock: same pid, different acquisition —
    # release with a stale token must not unlink it (the old
    # pid-compare would)
    sibling, sibling_token = snap._acquire_version_lock(t, 2)
    stale_token = f"{os.getpid()}:0:0"
    assert stale_token != sibling_token
    snap._release_version_lock(sibling, stale_token)
    assert os.path.exists(sibling)  # left alone
    snap._release_version_lock(sibling, sibling_token)
    assert not os.path.exists(sibling)

    # liveness parsing reads the plain-pid body
    relock, _tok = snap._acquire_version_lock(t, 3)
    assert snap._lock_holder_alive(relock) is True
    os.unlink(relock)
