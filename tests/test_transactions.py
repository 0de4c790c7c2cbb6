"""BEGIN/COMMIT/ROLLBACK over the copy-on-write DML layer.

The reference resolves transactions through the version buffer
(pre-image blocks pinned until commit/rollback — versioning/BRM/vss.h);
the analog here retains pre-image version DIRECTORIES: every row write
builds a new version, BEGIN records the live version name, and ROLLBACK
moves the table's pointer back to it.  DDL implicitly commits (MySQL
rule).
"""

import os

import pytest

from infinidb_spark.session import InfiniSession


def _rows(sess, table):
    return sorted(map(tuple, sess.sql(f"SELECT * FROM {table}").collect()))


def _version_dirs(sess, table):
    path = sess._managed[table]
    root = os.path.dirname(path.rstrip("/"))
    base = os.path.basename(path.rstrip("/"))
    return [d for d in os.listdir(root) if d.startswith(base + ".__v")]


@pytest.fixture()
def sess(spark):
    s = InfiniSession(spark)
    s.execute("CREATE TABLE txn_t (id BIGINT, v DOUBLE)")
    s.execute("INSERT INTO txn_t VALUES (1, 1.0), (2, 2.0), (3, 3.0)")
    return s


def test_rollback_restores_update_delete_insert(sess):
    before = _rows(sess, "txn_t")
    sess.execute("BEGIN")
    sess.execute("UPDATE txn_t SET v = v * 10 WHERE id <= 2")
    sess.execute("DELETE FROM txn_t WHERE id = 3")
    sess.execute("INSERT INTO txn_t VALUES (4, 4.0)")
    assert _rows(sess, "txn_t") == [(1, 10.0), (2, 20.0), (4, 4.0)]
    sess.execute("ROLLBACK")
    assert _rows(sess, "txn_t") == before
    # pre-image pin released, uncommitted versions GC'd: one live dir
    assert len(_version_dirs(sess, "txn_t")) == 1
    from infinidb_spark.operators.dml import retained_versions

    assert retained_versions(sess._managed["txn_t"]) == set()


def test_rollback_insert_only_drops_appended_files(sess):
    before = _rows(sess, "txn_t")
    sess.execute("BEGIN")
    sess.execute("INSERT INTO txn_t VALUES (9, 9.0)")
    assert (9, 9.0) in _rows(sess, "txn_t")
    sess.execute("ROLLBACK")
    assert _rows(sess, "txn_t") == before


def _file_set(version_dir):
    """{relative path: content digest} of every file in a version."""
    import hashlib

    out = {}
    for dirpath, _dirs, files in os.walk(version_dir):
        for f in files:
            fp = os.path.join(dirpath, f)
            with open(fp, "rb") as fh:
                out[os.path.relpath(fp, version_dir)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_rollback_insert_leaves_preimage_byte_identical(sess):
    """BEGIN; INSERT; ROLLBACK is a pointer move: nothing is added to
    or deleted from the pre-image version."""
    path = sess._managed["txn_t"]
    pre = os.path.realpath(path)
    files = _file_set(pre)
    sess.execute("BEGIN")
    sess.execute("INSERT INTO txn_t VALUES (9, 9.0)")
    sess.execute("ROLLBACK")
    assert os.path.realpath(path) == pre
    assert _file_set(pre) == files


def test_insert_and_load_advance_version_and_keep_preimage(sess, tmp_path):
    """INSERT and LOAD DATA build a new version: the table's realpath
    advances and the pre-image version directory is left untouched."""
    from infinidb_spark.operators.dml import release_retained, retain_version

    path = sess._managed["txn_t"]
    src = tmp_path / "in.csv"
    src.write_text("7,7.5\n8,8.5\n")
    for stmt in (
        "INSERT INTO txn_t VALUES (4, 4.0), (5, 5.0)",
        f"LOAD DATA INFILE '{src}' INTO TABLE txn_t FIELDS TERMINATED BY ','",
    ):
        pre = os.path.realpath(path)
        retain_version(path, os.path.basename(pre))  # keep it to inspect
        files = _file_set(pre)
        assert sess.execute(stmt) == 2
        assert os.path.realpath(path) != pre
        assert _file_set(pre) == files
    release_retained(path)
    assert [r[0] for r in _rows(sess, "txn_t")] == [1, 2, 3, 4, 5, 7, 8]


def test_commit_gc_keeps_pinned_preimage(sess):
    """COMMIT's GC goes through the engine's one GC rule: a pre-image a
    concurrent writer has pinned as its snapshot survives COMMIT, and is
    collected once the pin is removed."""
    from infinidb_spark.operators.dml import _pin_version, _unpin

    path = sess._managed["txn_t"]
    pre = os.path.realpath(path)
    sess.execute("BEGIN")
    sess.execute("UPDATE txn_t SET v = 0 WHERE id = 1")
    pin = _pin_version(path, os.path.basename(pre))
    sess.execute("COMMIT")
    assert os.path.isdir(pre)
    _unpin(pin)
    sess.execute("UPDATE txn_t SET v = 5 WHERE id = 2")  # next writer's sweep
    assert not os.path.exists(pre)
    assert len(_version_dirs(sess, "txn_t")) == 1


def test_torn_retain_write_keeps_previous_set(sess, monkeypatch):
    """A crash while writing the retain file leaves the previous
    retained set readable, and the next UPDATE still commits."""
    import json

    from infinidb_spark.operators import dml

    path = sess._managed["txn_t"]
    live = os.path.basename(os.path.realpath(path))
    dml.retain_version(path, live)

    def torn(obj, fh):
        fh.write('["tor')
        raise OSError("disk full")

    monkeypatch.setattr(json, "dump", torn)
    with pytest.raises(OSError, match="disk full"):
        dml.retain_version(path, "other")
    monkeypatch.undo()
    assert dml.retained_versions(path) == {live}
    assert not os.path.exists(path + ".__retain__.tmp")
    assert sess.execute("UPDATE txn_t SET v = 7 WHERE id = 3") == 1
    assert (3, 7.0) in _rows(sess, "txn_t")
    dml.release_retained(path)


def test_commit_persists_and_gcs_preimage(sess):
    sess.execute("START TRANSACTION")
    sess.execute("UPDATE txn_t SET v = 0 WHERE id = 1")
    sess.execute("COMMIT")
    assert (1, 0.0) in _rows(sess, "txn_t")
    assert len(_version_dirs(sess, "txn_t")) == 1  # pre-image GC'd
    # a rollback with no open transaction is a no-op
    sess.execute("ROLLBACK")
    assert (1, 0.0) in _rows(sess, "txn_t")


def test_ddl_implicitly_commits(sess):
    sess.execute("BEGIN")
    sess.execute("UPDATE txn_t SET v = -1 WHERE id = 2")
    # MySQL rule: DDL commits the open transaction
    sess.execute("CREATE TABLE txn_other (a INT)")
    sess.execute("ROLLBACK")  # nothing left to roll back
    assert (2, -1.0) in _rows(sess, "txn_t")


def test_second_begin_implicitly_commits(sess):
    sess.execute("BEGIN")
    sess.execute("UPDATE txn_t SET v = 5 WHERE id = 1")
    sess.execute("BEGIN")  # commits the first transaction
    sess.execute("UPDATE txn_t SET v = 6 WHERE id = 1")
    sess.execute("ROLLBACK")  # only the second rolls back
    assert (1, 5.0) in _rows(sess, "txn_t")


def test_multi_table_rollback(sess):
    sess.execute("CREATE TABLE txn_u (k BIGINT)")
    sess.execute("INSERT INTO txn_u VALUES (100)")
    u_before, t_before = _rows(sess, "txn_u"), _rows(sess, "txn_t")
    sess.execute("BEGIN")
    sess.execute("DELETE FROM txn_t WHERE id = 1")
    sess.execute("INSERT INTO txn_u VALUES (200)")
    sess.execute("ROLLBACK")
    assert _rows(sess, "txn_t") == t_before
    assert _rows(sess, "txn_u") == u_before


def test_savepoint_partial_rollback(sess):
    sess.execute("BEGIN")
    sess.execute("UPDATE txn_t SET v = 100 WHERE id = 1")
    sess.execute("SAVEPOINT sp1")
    sess.execute("UPDATE txn_t SET v = 200 WHERE id = 2")
    sess.execute("DELETE FROM txn_t WHERE id = 3")
    assert _rows(sess, "txn_t") == [(1, 100.0), (2, 200.0)]
    sess.execute("ROLLBACK TO SAVEPOINT sp1")
    # post-savepoint work undone, pre-savepoint work kept, txn open
    assert _rows(sess, "txn_t") == [(1, 100.0), (2, 2.0), (3, 3.0)]
    sess.execute("UPDATE txn_t SET v = 300 WHERE id = 3")
    sess.execute("COMMIT")
    assert _rows(sess, "txn_t") == [(1, 100.0), (2, 2.0), (3, 300.0)]
    assert len(_version_dirs(sess, "txn_t")) == 1  # all pins GC'd


def test_savepoint_table_touched_after(sess):
    """A savepoint set before a table's first DML restores that table
    to its touch-time state."""
    sess.execute("BEGIN")
    sess.execute("UPDATE txn_t SET v = 9 WHERE id = 1")
    sess.execute("SAVEPOINT sp")
    sess.execute("CREATE TABLE txn_late (k BIGINT)")  # DDL → implicit commit!
    # implicit commit ended the txn; start fresh to test the real case
    sess.execute("INSERT INTO txn_late VALUES (1)")
    sess.execute("BEGIN")
    sess.execute("UPDATE txn_t SET v = 10 WHERE id = 1")
    sess.execute("SAVEPOINT sp2")
    sess.execute("INSERT INTO txn_late VALUES (2)")  # first touch AFTER sp2
    sess.execute("ROLLBACK TO sp2")
    assert _rows(sess, "txn_late") == [(1,)]
    assert (1, 10.0) in _rows(sess, "txn_t")  # pre-sp2 change kept
    sess.execute("ROLLBACK")
    assert (1, 9.0) in _rows(sess, "txn_t")  # base restored


def test_savepoint_release_and_errors(sess):
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="outside a transaction"):
        sess.execute("SAVEPOINT nope")
    sess.execute("BEGIN")
    sess.execute("UPDATE txn_t SET v = 1 WHERE id = 1")
    sess.execute("SAVEPOINT a")
    sess.execute("RELEASE SAVEPOINT a")
    with _pytest.raises(KeyError):
        sess.execute("ROLLBACK TO a")
    sess.execute("ROLLBACK")


def test_autocommit_off_implicit_transaction(sess):
    before = _rows(sess, "txn_t")
    sess.execute("SET autocommit = 0")
    sess.execute("UPDATE txn_t SET v = 99 WHERE id = 1")  # implicitly opens
    assert sess._txn is not None
    sess.execute("ROLLBACK")
    assert _rows(sess, "txn_t") == before
    # next DML opens another implicit transaction
    sess.execute("DELETE FROM txn_t WHERE id = 2")
    assert sess._txn is not None
    # re-enabling autocommit commits
    sess.execute("SET autocommit = 1")
    assert sess._txn is None
    assert (2, 2.0) not in _rows(sess, "txn_t")


def test_show_processlist(sess):
    rows = sess.execute("SHOW PROCESSLIST").collect()
    # the issuing connection's row carries its CONNECTION_ID() (the id
    # space KILL shares); Spark jobs list as 1000+jobId
    assert rows[0].Id == sess._conn_id and rows[0].Command == "Query"
    cols = sess.execute("SHOW FULL PROCESSLIST").columns
    assert cols == ["Id", "User", "Host", "db", "Command", "Time", "State", "Info"]


def test_kill_cancels_running_scan_at_sf01(spark):
    """KILL <1000+jobId> during a real scan at sf0.1: the processlist id
    plumbing must locate the live Spark job and cancelJob must abort the
    in-flight collect (the reference's KILL QUERY through ExeMgr).  This
    exercises the cancel path OUTSIDE the happy path — the query is
    mid-shuffle when the kill lands."""
    import threading
    import time

    sf_dir = "/root/testdata/sf0.1"
    if not os.path.isdir(sf_dir):
        pytest.skip("sf0.1 testdata not present")
    s = InfiniSession(spark, sf_dir)
    result: dict = {}

    def run_big():
        try:
            # ~360M join pairs at sf0.1 — runs for tens of seconds,
            # cannot finish before the kill lands
            result["rows"] = s.sql(
                "SELECT a.l_suppkey, count(*) AS c "
                "FROM lineitem a JOIN lineitem b ON a.l_suppkey = b.l_suppkey "
                "JOIN lineitem c ON b.l_suppkey = c.l_suppkey "
                "GROUP BY a.l_suppkey"
            ).collect()
        except Exception as e:
            result["err"] = e

    t = threading.Thread(target=run_big, daemon=True)
    t.start()
    # AQE runs the query as a SEQUENCE of stage-jobs, so any single
    # observed job id can finish between SHOW PROCESSLIST and KILL —
    # retry across fresh ids until one kill lands (ER_NO_SUCH_THREAD
    # races are expected, not failures)
    killed = False
    deadline = time.monotonic() + 120
    while not killed and t.is_alive() and time.monotonic() < deadline:
        rows = s.execute("SHOW PROCESSLIST").collect()
        for r in rows:
            if r.Id < s._JOB_ID_OFFSET:
                continue
            try:
                assert s.execute(f"KILL {r.Id}") == 0
                killed = True
                break
            except KeyError:
                continue  # that stage-job finished first; try the next
        if not killed:
            time.sleep(0.1)
    assert killed, "no kill landed while the scan was running"
    t.join(timeout=120)
    assert not t.is_alive(), "collect did not abort after KILL"
    assert "err" in result, "query completed despite KILL"
    # unknown ids still raise (ER_NO_SUCH_THREAD analog)
    with pytest.raises(KeyError):
        s.execute("KILL 999999999")
