"""Optimistic concurrent writers — snapshot-isolation copy-on-write.

Reference semantics: the version buffer admits concurrent writers with
snapshot readers and rejects a second writer touching a VB-resident
block (`versioning/BRM/vss.h:180-210`).  The rebuild's analog: writers
on DISJOINT rows of one table all commit (the later one rebases, i.e.
serializes after the winner); TRUE row overlap aborts the later
committer (first committer wins).
"""

from __future__ import annotations

import os
import threading

import pytest
from pyspark.sql import functions as F

from infinidb_spark.operators.dml import (
    ConcurrentWriteConflict,
    _pins_dir,
    create_table,
    delete_from,
    read_table,
    update_table,
)


def _mk_table(spark, tmp_path, n=1000):
    t = str(tmp_path / "t")
    df = spark.range(n).select(
        F.col("id").cast("bigint").alias("k"),
        (F.col("id") % 10).cast("int").alias("grp"),
        F.lit(0).cast("int").alias("v"),
    )
    create_table(df, t)
    return t


def _no_debris(t):
    """No leftover pins, locks, or orphan version dirs besides the live one."""
    parent, base = os.path.dirname(t), os.path.basename(t)
    live = os.path.basename(os.path.realpath(t))
    debris = [
        f for f in os.listdir(parent)
        if f.startswith(base + ".__") and f != live
        and not f.endswith((".__pins__", ".__retain__"))
    ]
    pins = os.listdir(_pins_dir(t)) if os.path.isdir(_pins_dir(t)) else []
    return debris == [] and pins == []


def test_disjoint_writers_both_commit_interleaved(spark, tmp_path):
    """Deterministic interleave via the _before_commit hook: writer B
    builds its rewrite from the pre-A snapshot, A commits, B detects the
    stale snapshot, proves disjointness, rebases, commits."""
    t = _mk_table(spark, tmp_path)

    def a_commits():
        assert update_table(spark, t, F.col("k") < 100, {"v": F.lit(1)}) == 100

    n = update_table(
        spark, t, F.col("k") >= 900, {"v": F.lit(2)}, _before_commit=a_commits
    )
    assert n == 100
    out = read_table(spark, t)
    assert out.filter((F.col("k") < 100) & (F.col("v") == 1)).count() == 100
    assert out.filter((F.col("k") >= 900) & (F.col("v") == 2)).count() == 100
    assert out.filter(F.col("v") == 0).count() == 800
    assert out.count() == 1000
    assert _no_debris(t)


def test_overlap_aborts_later_committer(spark, tmp_path):
    t = _mk_table(spark, tmp_path)

    def a_commits():
        update_table(spark, t, F.col("k") < 100, {"v": F.lit(1)})

    with pytest.raises(ConcurrentWriteConflict, match="first committer wins"):
        update_table(
            spark, t, F.col("k") < 50, {"v": F.lit(2)}, _before_commit=a_commits
        )
    out = read_table(spark, t)
    # A's effect intact, B fully rolled back
    assert out.filter(F.col("v") == 1).count() == 100
    assert out.filter(F.col("v") == 2).count() == 0
    assert out.count() == 1000
    assert _no_debris(t)


def test_overlap_via_moved_row_detected(spark, tmp_path):
    """A moves rows INTO B's predicate range — the post-image diff must
    catch it even though B's predicate matched nothing A touched at
    B's snapshot."""
    t = _mk_table(spark, tmp_path)

    def a_commits():
        # moves k 0..99 into grp 99
        update_table(spark, t, F.col("k") < 100, {"grp": F.lit(99)})

    with pytest.raises(ConcurrentWriteConflict):
        update_table(
            spark, t, F.col("grp") == 99, {"v": F.lit(5)}, _before_commit=a_commits
        )
    assert _no_debris(t)


def test_delete_disjoint_rebases(spark, tmp_path):
    t = _mk_table(spark, tmp_path)

    def a_commits():
        update_table(spark, t, F.col("k") < 10, {"v": F.lit(7)})

    n = delete_from(
        spark, t, F.col("k") >= 990, _before_commit=a_commits
    )
    assert n == 10
    out = read_table(spark, t)
    assert out.count() == 990
    assert out.filter(F.col("v") == 7).count() == 10
    assert _no_debris(t)


def test_concurrent_insert_is_a_snapshot_change(spark, tmp_path):
    """An INSERT committed between a writer's snapshot and its commit
    must invalidate the snapshot token, or the stale rewrite would
    silently DROP the inserted rows.  With no pre-images to conflict
    with, the statement rebases: it serializes after the INSERT, so the
    inserted rows are visible to (and updated by) the re-execution."""
    from infinidb_spark.operators.dml import insert_into

    t = _mk_table(spark, tmp_path)

    def a_inserts():
        extra = spark.range(1000, 1010).select(
            F.col("id").cast("bigint").alias("k"),
            F.lit(0).cast("int").alias("grp"),
            F.lit(0).cast("int").alias("v"),
        )
        insert_into(extra, t)

    n = update_table(
        spark, t, F.col("k") >= 1000, {"v": F.lit(3)}, _before_commit=a_inserts
    )
    out = read_table(spark, t)
    assert out.count() == 1010          # nothing dropped by the stale rewrite
    assert n == 10
    assert out.filter(F.col("v") == 3).count() == 10
    assert _no_debris(t)


def test_concurrent_insert_disjoint_rebase_keeps_rows(spark, tmp_path):
    from infinidb_spark.operators.dml import insert_into

    t = _mk_table(spark, tmp_path)

    def a_inserts():
        extra = spark.range(2000, 2005).select(
            F.col("id").cast("bigint").alias("k"),
            F.lit(0).cast("int").alias("grp"),
            F.lit(0).cast("int").alias("v"),
        )
        insert_into(extra, t)

    n = update_table(
        spark, t, F.col("k") < 100, {"v": F.lit(4)}, _before_commit=a_inserts
    )
    assert n == 100
    out = read_table(spark, t)
    # the rebase re-read includes the concurrently-inserted rows
    assert out.count() == 1005
    assert out.filter(F.col("v") == 4).count() == 100
    assert _no_debris(t)


def test_two_threads_disjoint_ranges_both_commit(spark, tmp_path):
    """Default settings, concurrent writers lose no rows: two real
    concurrent UPDATEs on disjoint key ranges of ONE table both commit
    whatever the interleaving."""
    t = _mk_table(spark, tmp_path)
    errs: list[Exception] = []

    def run(lo, hi, tag):
        try:
            update_table(
                spark, t, (F.col("k") >= lo) & (F.col("k") < hi),
                {"v": F.lit(tag)}, lock_timeout=120.0,
            )
        except Exception as e:  # pragma: no cover - failure surface
            errs.append(e)

    th1 = threading.Thread(target=run, args=(0, 100, 11))
    th2 = threading.Thread(target=run, args=(900, 1000, 22))
    th1.start(); th2.start(); th1.join(); th2.join()
    assert errs == []
    out = read_table(spark, t)
    assert out.filter(F.col("v") == 11).count() == 100
    assert out.filter(F.col("v") == 22).count() == 100
    assert out.count() == 1000
    assert _no_debris(t)


def test_retry_exhaustion_gives_up_cleanly(spark, tmp_path):
    t = _mk_table(spark, tmp_path)

    def a_commits():
        update_table(spark, t, F.col("k") < 10, {"v": F.lit(1)})

    with pytest.raises(ConcurrentWriteConflict, match="giving up"):
        update_table(
            spark, t, F.col("k") >= 500, {"v": F.lit(9)},
            max_retries=0, _before_commit=a_commits,
        )
    assert _no_debris(t)


def test_update_where_on_assigned_column_sets_all_columns(spark, tmp_path):
    """WHERE is evaluated against the ORIGINAL row: an UPDATE that sets
    the very column its WHERE references must still apply EVERY later
    assignment to the matched rows (a chained re-evaluation of the
    predicate against already-assigned columns silently skipped them)."""
    t = _mk_table(spark, tmp_path, n=100)
    n = update_table(spark, t, F.col("v") == 0, {"v": F.lit(1), "grp": F.lit(77)})
    assert n == 100
    out = read_table(spark, t)
    assert out.filter((F.col("v") == 1) & (F.col("grp") == 77)).count() == 100


def test_optimistic_update_where_on_assigned_column(spark, tmp_path):
    t = _mk_table(spark, tmp_path, n=100)
    n = update_table(
        spark, t, F.col("v") == 0, {"v": F.lit(1), "grp": F.lit(77)}
    )
    assert n == 100
    out = read_table(spark, t)
    assert out.filter((F.col("v") == 1) & (F.col("grp") == 77)).count() == 100
    assert _no_debris(t)


def test_set_exprs_see_updated_values_left_to_right(spark, tmp_path):
    """MySQL: UPDATE t SET v = v+1, grp = v assigns the NEW v to grp —
    pinning the WHERE must not freeze the assignment expressions."""
    t = _mk_table(spark, tmp_path, n=10)
    update_table(spark, t, F.col("k") >= 0, {"v": F.col("v") + 1, "grp": F.col("v")})
    out = read_table(spark, t)
    assert out.filter((F.col("v") == 1) & (F.col("grp") == 1)).count() == 10


def test_concurrent_insert_survives_optimistic_commit(spark, tmp_path):
    """Default settings, concurrent writers lose no rows: an INSERT
    landing between an UPDATE's rewrite and its commit is never
    dropped — the snapshot token changes, the UPDATE proves
    disjointness against the inserted rows and rebases over them."""
    from infinidb_spark.operators.dml import insert_into

    t = _mk_table(spark, tmp_path, n=100)

    def b_inserts():
        rows = spark.range(100, 110).select(
            F.col("id").cast("bigint").alias("k"),
            F.lit(99).cast("int").alias("grp"),
            F.lit(1).cast("int").alias("v"),  # does NOT match the UPDATE's WHERE
        )
        insert_into(rows, t)

    n = update_table(
        spark, t, F.col("v") == 0, {"v": F.lit(5)}, _before_commit=b_inserts
    )
    assert n == 100
    out = read_table(spark, t)
    assert out.count() == 110                      # inserted rows survived the swap+GC
    assert out.filter(F.col("v") == 5).count() == 100
    assert out.filter((F.col("grp") == 99) & (F.col("v") == 1)).count() == 10
    assert _no_debris(t)


def test_insert_waits_for_table_lock(spark, tmp_path):
    """insert_into commits under the table lock: while a writer holds
    it, an insert's link-in and swap wait (bounded), then fail with the
    lock error and leave nothing behind."""
    from infinidb_spark.operators.dml import _table_lock, insert_into

    t = _mk_table(spark, tmp_path, n=10)
    rows = spark.range(10, 12).select(
        F.col("id").cast("bigint").alias("k"),
        F.lit(0).cast("int").alias("grp"),
        F.lit(0).cast("int").alias("v"),
    )
    cm = _table_lock(t, "UPDATE")
    cm.__enter__()
    try:
        with pytest.raises(RuntimeError, match="locked"):
            insert_into(rows, t, lock_timeout=0.3)
    finally:
        cm.__exit__(None, None, None)
    insert_into(rows, t)
    assert read_table(spark, t).count() == 12
    assert _no_debris(t)


def test_finished_holder_does_not_release_anothers_lock(tmp_path):
    """A holder's release must be ownership-checked: after an operator
    clears H1's lock as stale and H2 acquires, H1 finishing must NOT
    free H2's lock (that would let a third writer race H2)."""
    from infinidb_spark.operators.dml import (
        _table_lock,
        clear_table_lock,
        view_table_locks,
    )

    t = str(tmp_path / "t")
    root = str(tmp_path)
    cm1 = _table_lock(t, "UPDATE")
    cm1.__enter__()
    (rec1,) = view_table_locks(root, "t")
    assert "cleared" in clear_table_lock(root, rec1["lock_id"])
    cm2 = _table_lock(t, "DELETE")
    cm2.__enter__()
    cm1.__exit__(None, None, None)  # H1 finishes — must not free H2's lock
    (rec2,) = view_table_locks(root, "t")
    assert rec2["op"] == "DELETE"
    cm2.__exit__(None, None, None)
    assert view_table_locks(root, "t") == []


def test_corrupt_lock_visible_and_clearable_by_table_name(tmp_path):
    """A writer crashing between the O_EXCL create and the JSON flush
    leaves an empty lock file: it must show up in the lock listing
    (lock_id None) and be clearable by TABLE NAME — the advertised
    recovery path, not a manual rm."""
    from infinidb_spark.operators.dml import (
        _table_lock,
        clear_table_lock,
        view_table_locks,
    )

    t = str(tmp_path / "t")
    open(t + ".__lock__", "w").close()
    (rec,) = view_table_locks(str(tmp_path), "t")
    assert rec["lock_id"] is None
    with pytest.raises(RuntimeError, match="locked"):
        _table_lock(t, "UPDATE").__enter__()
    assert clear_table_lock(str(tmp_path), "t") == "Lock t is cleared"
    assert view_table_locks(str(tmp_path), "t") == []


def test_conflict_diff_reads_only_changed_files(spark, tmp_path, monkeypatch):
    """The disjoint-rebase overlap probe on an N-file table reads
    O(changed) files, not O(N) — the VB tracks changed blocks, never
    the whole table (versioning/BRM/vss.h:180).  Winner here is
    caldroppartitions (hard-links N-1 survivors into the new version),
    so exactly ONE file differs between the pinned snapshots."""
    import infinidb_spark.operators.dml as dml
    from infinidb_spark.operators.partitions import drop_partitions

    t = str(tmp_path / "t")
    df = spark.range(1000).select(
        F.col("id").cast("bigint").alias("k"),
        F.lit(0).cast("int").alias("v"),
    ).repartition(8)  # N = 8 part files
    dml.create_table(df, t)
    real = os.path.realpath(t)
    parts = sorted(
        f for f in os.listdir(real)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )
    assert len(parts) == 8
    victim = parts[0]
    dropped_rows = spark.read.parquet(os.path.join(real, victim)).count()
    assert dropped_rows > 0  # the victim really holds rows

    read_calls: list[list[str]] = []
    orig = dml._read_files

    def spy(sp, vdir, rels):
        read_calls.append(list(rels))
        return orig(sp, vdir, rels)

    monkeypatch.setattr(dml, "_read_files", spy)

    def winner_drops_one_file():
        drop_partitions(t, [victim])  # hard-links the 7 survivors

    pred = F.col("k") == -1  # matches nothing: guaranteed disjoint
    n = dml.update_table(
        spark, t, pred, {"v": F.lit(2)}, _before_commit=winner_drops_one_file
    )
    assert n == 0
    assert read_table(spark, t).count() == 1000 - dropped_rows
    # the overlap probe read exactly the ONE dropped file, never all 8
    assert read_calls, "file-level diff path was not taken"
    assert all(len(c) <= 1 for c in read_calls), read_calls
    assert sum(len(c) for c in read_calls) == 1


_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: writer scripts for the fault-injection test, one per kill point.  Each
#: touches ``marker`` at the kill point and then stalls until killed.
_VICTIMS = {
    # inside the rewrite's Parquet write: a UDF in the SET stalls a task
    "mid_write": """
        def stall(v):
            open(MARKER, "w").close()
            time.sleep(600)
            return v

        update_table(spark, T, F.col("k") < 50,
                     {"v": F.udf(stall, "int")(F.lit(9))})
    """,
    # rewrite built, before the commit lock and swap
    "before_swap": """
        def stall():
            open(MARKER, "w").close()
            time.sleep(600)

        update_table(spark, T, F.col("k") < 50, {"v": F.lit(9)},
                     _before_commit=stall)
    """,
    # INSERT rows staged, before the link-in and swap
    "insert_before_link": """
        def stall():
            open(MARKER, "w").close()
            time.sleep(600)

        rows = spark.range(500, 510).select(
            F.col("id").cast("bigint").alias("k"),
            F.lit(0).cast("int").alias("grp"), F.lit(9).cast("int").alias("v"))
        insert_into(rows, T, _before_commit=stall)
    """,
}


def test_writer_killed_before_commit_is_garbage_collected(spark, tmp_path):
    """Chaos: SIGKILL an UPDATE after its rewrite is built, before the
    swap; the table reads back as its exact pre-image, and the next
    default writer GCs the orphan version dir and the dead pin and
    proceeds (the stale-lock recovery analog for snapshots —
    _pinned_versions' dead-pid GC)."""
    _kill_writer_and_check_recovery(spark, tmp_path, "before_swap")


@pytest.mark.parametrize(
    "kill_point", sorted(k for k in _VICTIMS if k != "before_swap")
)
def test_writer_killed_mid_statement_is_garbage_collected(spark, tmp_path, kill_point):
    """The same recovery for the other kill points: inside the UPDATE's
    Parquet write, and with an INSERT's rows staged before the link-in."""
    _kill_writer_and_check_recovery(spark, tmp_path, kill_point)


def _kill_writer_and_check_recovery(spark, tmp_path, kill_point):
    import signal
    import subprocess
    import sys
    import textwrap
    import time as _time

    t = _mk_table(spark, tmp_path, n=200)
    pre_image = sorted(read_table(spark, t).collect())
    marker = str(tmp_path / "at_kill_point")

    child_src = textwrap.dedent(f"""
        import time
        from pyspark.sql import functions as F
        from infinidb_spark.session import get_spark
        from infinidb_spark.operators.dml import insert_into, update_table
        spark = get_spark("victim", cpus=2)
        spark.sparkContext.setLogLevel("ERROR")
        T, MARKER = {t!r}, {marker!r}
    """) + textwrap.dedent(_VICTIMS[kill_point])
    proc = subprocess.Popen(
        [sys.executable, "-c", child_src],
        cwd=_REPO,
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
    )
    try:
        deadline = _time.monotonic() + 180
        while not os.path.exists(marker):
            assert proc.poll() is None, "victim writer died before its kill point"
            assert _time.monotonic() < deadline, "victim never reached its kill point"
            _time.sleep(0.5)
        proc.send_signal(signal.SIGKILL)
        proc.wait(timeout=30)
    finally:
        if proc.poll() is None:
            proc.kill()

    parent, base = os.path.dirname(t), os.path.basename(t)
    live = os.path.basename(os.path.realpath(t))

    def orphans():
        return [
            f for f in os.listdir(parent)
            if f.startswith(base + ".__v") and f != live
        ]

    assert os.listdir(_pins_dir(t)), "victim should have left a pin behind"
    assert orphans(), "victim should have left its pending version behind"
    assert sorted(read_table(spark, t).collect()) == pre_image

    # the next default writer proceeds despite the orphan state...
    n = update_table(spark, t, F.col("k") >= 150, {"v": F.lit(3)})
    assert n == 50
    out = read_table(spark, t)
    assert out.filter(F.col("v") == 9).count() == 0  # victim never committed
    assert out.filter(F.col("v") == 3).count() == 50
    assert out.count() == 200
    # ...and collects the dead pid's pin and the victim's version dir
    live = os.path.basename(os.path.realpath(t))
    assert os.listdir(_pins_dir(t)) == []
    assert orphans() == []


def test_conflict_diff_on_partitioned_table(spark, tmp_path):
    """The file-level overlap probe must keep Hive-partition columns
    (basePath read): a partitioned table's conflict rebase used to work
    through read_table, and the O(changed) path must too."""
    import infinidb_spark.operators.dml as dml

    t = str(tmp_path / "tp")
    df = spark.range(400).select(
        F.col("id").cast("bigint").alias("k"),
        (F.col("id") % 4).cast("int").alias("p"),
        F.lit(0).cast("int").alias("v"),
    )
    dml.create_table(df, t, partition_by=["p"])

    def winner():
        # plain full rewrite on disjoint rows (flattens partitioning)
        dml.update_table(spark, t, F.col("k") < 50, {"v": F.lit(1)})

    n = dml.update_table(
        spark, t, F.col("k") >= 350, {"v": F.lit(2)}, _before_commit=winner
    )
    assert n == 50
    out = dml.read_table(spark, t)
    assert out.filter((F.col("k") < 50) & (F.col("v") == 1)).count() == 50
    assert out.filter((F.col("k") >= 350) & (F.col("v") == 2)).count() == 50
    assert out.count() == 400


def test_insert_then_swap_winner_rebases_not_aborts(spark, tmp_path):
    """Rows INSERTed after a writer pinned its snapshot, then carried
    into a winner's rewrite, are phantoms — the insert chains its
    version onto the writer's pin, and the overlap probe diffs the
    winner against that version (diffing against the bare snapshot
    would see those rows only on the winner's side and abort)."""
    import infinidb_spark.operators.dml as dml

    t = _mk_table(spark, tmp_path, n=100)

    def winner():
        extra = spark.range(1000, 1005).select(
            F.col("id").cast("bigint").alias("k"),
            F.lit(0).cast("int").alias("grp"),
            F.lit(0).cast("int").alias("v"),
        )
        dml.insert_into(extra, t)  # chained onto OUR snapshot pin
        # swap winner whose rewrite carries the inserted rows
        update_table(spark, t, F.col("k") < 10, {"v": F.lit(1)})

    # predicate matches ONLY the concurrently-inserted rows
    n = update_table(
        spark, t, F.col("k") >= 1000, {"v": F.lit(2)}, _before_commit=winner
    )
    assert n == 5
    out = read_table(spark, t)
    assert out.count() == 105
    assert out.filter(F.col("v") == 2).count() == 5
    assert out.filter(F.col("v") == 1).count() == 10
    assert _no_debris(t)


def test_snapshot_token_tracks_every_file(tmp_path):
    """_snapshot walks every directory on every call: the token changes
    as soon as a file appears anywhere in the version, also within the
    same timestamp tick, and is content-addressed (removing the file
    restores it)."""
    from infinidb_spark.operators import dml

    root = tmp_path / "t"
    for d in range(3):
        sub = root / f"part={d}"
        sub.mkdir(parents=True)
        for f in range(4):
            (sub / f"f{f}.parquet").write_bytes(b"x" * (d + f + 1))
    (root / ".stage").mkdir()
    (root / ".stage" / "hidden.parquet").write_bytes(b"h")

    _, tok1, entries1 = dml._snapshot(str(root))
    assert len(entries1) == 12  # hidden dirs are not data
    (root / "part=1" / "f_new.parquet").write_bytes(b"y" * 9)
    _, tok2, entries2 = dml._snapshot(str(root))
    assert tok2 != tok1 and len(entries2) == 13
    (root / "part=1" / "f_new.parquet").unlink()
    assert dml._snapshot(str(root))[1] == tok1


def test_join_update_uses_the_commit_protocol(spark, tmp_path):
    """Multi-table UPDATE/DELETE take the same snapshot path: a winner
    on disjoint rows makes them rebase, a winner on their rows aborts
    them first-committer-wins."""
    from infinidb_spark.operators.dml import delete_from_join, update_table_join

    t = _mk_table(spark, tmp_path, n=100)
    other = spark.createDataFrame([(k,) for k in range(90, 100)], "ok bigint")

    def disjoint_winner():
        update_table(spark, t, F.col("k") < 10, {"v": F.lit(1)})

    n = update_table_join(
        spark, t, other, "k", "ok", {"v": F.lit(2)},
        _before_commit=disjoint_winner,
    )
    assert n == 10
    out = read_table(spark, t)
    assert out.filter(F.col("v") == 1).count() == 10
    assert out.filter(F.col("v") == 2).count() == 10

    def overlapping_winner():
        update_table(spark, t, F.col("k") >= 95, {"v": F.lit(3)})

    with pytest.raises(ConcurrentWriteConflict):
        delete_from_join(spark, t, other, "k", "ok",
                         _before_commit=overlapping_winner)
    assert read_table(spark, t).count() == 100
    assert _no_debris(t)


def test_lock_file_is_per_holder_and_release_is_own_unlink(tmp_path):
    """The lock file name carries the holder id
    (<table>.__lock__.<lock_id>), so release/clear unlink one specific
    holder's file and can never free a later holder's lock; an
    unflushed holder is clearable BY ID from the name alone."""
    from infinidb_spark.operators.dml import (
        _table_lock,
        clear_table_lock,
        view_table_locks,
    )

    t = str(tmp_path / "t")
    cm = _table_lock(t, "UPDATE")
    cm.__enter__()
    (lockfile,) = [f for f in os.listdir(tmp_path) if ".__lock__" in f]
    (rec,) = view_table_locks(str(tmp_path), "t")
    assert lockfile == f"t.__lock__.{rec['lock_id']}"
    with pytest.raises(RuntimeError, match="locked"):
        _table_lock(t, "DELETE").__enter__()
    cm.__exit__(None, None, None)
    assert view_table_locks(str(tmp_path), "t") == []

    # crashed-before-flush holder: empty named file → id from the NAME
    open(t + ".__lock__.424242", "w").close()
    (rec,) = view_table_locks(str(tmp_path), "t")
    assert rec["lock_id"] == 424242
    assert "cleared" in clear_table_lock(str(tmp_path), 424242)
    assert view_table_locks(str(tmp_path), "t") == []
