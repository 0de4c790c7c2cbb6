"""Regression pins for the session/manifest review findings: ROLLBACK
over hive-partitioned managed tables, SET assignment lists, CHECK /
ANALYZE on the partitioned layout, harvest-time manifest identity,
error diagnostics, and cache hygiene."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F  # noqa: F401

from infinidb_spark.session import InfiniSession


def _rows(sess, table):
    return sorted(map(tuple, sess.sql(f"SELECT * FROM {table}").collect()))


@pytest.fixture()
def psess(spark):
    s = InfiniSession(spark)
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, k string")
    s.create_table_as("pt_txn", df, partition_by=["k"])
    return s


def test_rollback_partitioned_insert(psess):
    """INSERT inside a transaction appends files INSIDE k=... subdirs
    and may create new partitions; ROLLBACK must drop both (the old
    top-level listdir snapshot silently kept the rows)."""
    before = _rows(psess, "pt_txn")
    psess.execute("BEGIN")
    psess.execute("INSERT INTO pt_txn VALUES (3, 'a'), (4, 'c')")
    assert psess.sql("SELECT count(*) AS n FROM pt_txn").collect()[0].n == 4
    psess.execute("ROLLBACK")
    assert _rows(psess, "pt_txn") == before
    # the k=c partition created inside the transaction is pruned
    real = os.path.realpath(psess._managed["pt_txn"])
    assert not os.path.isdir(os.path.join(real, "k=c"))


def test_savepoint_partitioned_insert(psess):
    before = _rows(psess, "pt_txn")
    psess.execute("BEGIN")
    psess.execute("SAVEPOINT sp1")
    psess.execute("INSERT INTO pt_txn VALUES (5, 'b'), (6, 'z')")
    psess.execute("ROLLBACK TO SAVEPOINT sp1")
    assert _rows(psess, "pt_txn") == before
    psess.execute("COMMIT")
    assert _rows(psess, "pt_txn") == before


def test_set_assignment_list_sysvars(spark):
    """The connector connect-string form: a comma list of @@ sysvars.
    The old single-assignment path swallowed the tail as the first
    value — losing the autocommit toggle entirely."""
    s = InfiniSession(spark)
    s.execute("SET @@session.autocommit = 0, @@session.sql_mode = 'ANSI'")
    assert s._autocommit is False
    assert s._sysvars["sql_mode"] == "ANSI"
    s.execute("SET autocommit = 1, sql_mode = ''")
    assert s._autocommit is True
    assert s._sysvars["sql_mode"] == ""


def test_set_assignment_list_mixed_user_var(spark):
    s = InfiniSession(spark)
    s.execute("SET @a = 1 + 1, @@collation_connection = 'utf8mb4_general_ci'")
    assert s._user_vars["a"] == 2
    assert s._sysvars["collation_connection"] == "utf8mb4_general_ci"


def test_set_assignment_list_preserves_value_whitespace(spark):
    """r10 advice fix: _set_multi used to receive whitespace-stripped
    tokens, so a multi-assignment value with adjacent word tokens fused
    — SET @a = (SELECT max(x) ...), @b = 1 rendered the value as
    '(SELECTmax(x)...)' which re-tokenizes into broken SQL.  Values now
    render from the ws-preserving stream."""
    s = InfiniSession(spark)
    s.execute(
        "SET @a = (SELECT max(v) FROM (SELECT 41 AS v UNION ALL"
        " SELECT 7 AS v)), @b = 1 + 1"
    )
    assert s._user_vars["a"] == 41
    assert s._user_vars["b"] == 2
    s.execute(
        "SET @c = CASE WHEN 1 = 1 THEN 'yes' ELSE 'no' END, @@sql_mode = ''"
    )
    assert s._user_vars["c"] == "yes"


def test_set_assignment_list_names_form(spark):
    s = InfiniSession(spark)
    s.execute("SET NAMES utf8, @@sql_mode = 'TRADITIONAL'")
    assert s._sysvars["character_set_client"] == "utf8"
    assert s._sysvars["sql_mode"] == "TRADITIONAL"


def test_set_assignment_list_malformed_applies_nothing(spark):
    s = InfiniSession(spark)
    old = s._sysvars.get("sql_mode")
    with pytest.raises(Exception):
        s.execute("SET @@sql_mode = 'X', GARBAGE")
    assert s._sysvars.get("sql_mode") == old


def test_check_analyze_partitioned_table(psess):
    rows = psess.execute("CHECK TABLE pt_txn").collect()
    assert rows[0].Msg_type == "status"
    # the flat manifest saw 0 files; the nested walk must count them
    assert "OK (" in rows[0].Msg_text and "(0 file(s))" not in rows[0].Msg_text
    rows = psess.execute("ANALYZE TABLE pt_txn").collect()
    assert rows[0].Msg_type == "note"
    # no empty flat sidecar claiming "0 files" for future readers
    path = psess._managed["pt_txn"]
    assert not os.path.exists(os.path.join(path, "_infinidb_manifest.json"))


def test_check_partitioned_detects_corruption(psess):
    real = os.path.realpath(psess._managed["pt_txn"])
    victim = None
    for dirpath, _d, files in os.walk(real):
        for f in files:
            if f.endswith(".parquet"):
                victim = os.path.join(dirpath, f)
                break
        if victim:
            break
    assert victim is not None
    with open(victim, "wb") as fh:
        fh.write(b"not a parquet file")
    rows = psess.execute("CHECK TABLE pt_txn").collect()
    assert rows[0].Msg_type == "error"


def test_write_manifest_persists_harvest_stat(spark, tmp_path):
    from infinidb_spark.sources.manifest import build_manifest, write_manifest

    d = str(tmp_path / "t")
    spark.range(10).toDF("x").coalesce(1).write.parquet(d)
    m = build_manifest(d)
    orig_size = m[0]["stat"][1]
    # external same-name replacement between harvest and persist
    f = m[0]["file"]
    with open(f, "ab") as fh:
        fh.write(b"0" * 64)
    side = str(tmp_path / "side.json")
    write_manifest(m, side)
    entry = json.load(open(side))["entries"][0]
    # the persisted identity is the HARVEST-time stat: a future seed
    # check sees the size mismatch and re-harvests instead of serving
    # the old min/max under the new file's identity
    assert entry["size"] == orig_size
    assert entry["size"] != os.stat(f).st_size


def test_error_diagnostics_recorded(spark):
    s = InfiniSession(spark)
    with pytest.raises(Exception):
        s.execute("SELECTT 1")
    rows = s.execute("SHOW ERRORS").collect()
    assert len(rows) == 1 and rows[0][0] == "Error"
    n = s.execute("SELECT @@error_count AS c").collect()[0].c
    assert int(n) == 1
    # a successful statement clears the diagnostics area again
    s.execute("SELECT 1")
    assert s.execute("SHOW ERRORS").collect() == []


def test_version_comment_single_source(spark):
    s = InfiniSession(spark)
    via_at = s.execute("SELECT @@version_comment AS v").collect()[0].v
    via_show = {
        r[0]: r[1]
        for r in s.execute("SHOW VARIABLES LIKE 'version_comment'").collect()
    }
    assert via_at == via_show["version_comment"]


def test_manifest_cache_bounded(spark, tmp_path):
    from infinidb_spark.sources import manifest as M

    df = spark.range(2).toDF("x").coalesce(1)
    for i in range(70):
        d = str(tmp_path / f"t{i}")
        df.write.parquet(d)
        M.cached_manifest(d)
    assert len(M._MANIFEST_CACHE) <= M._MANIFEST_CACHE_MAX


def test_information_schema_reports_views(spark, tmp_path):
    """Spark registers dialect views as TEMPORARY temp views, so the
    tableType=='VIEW' branch was dead — every CREATE VIEW reported as
    'BASE TABLE' on the exact surface migration tools query."""
    s = InfiniSession(spark)
    df = spark.createDataFrame([(1,)], "x long")
    s.create_table_as("ist_t", df)
    s.execute("CREATE VIEW ist_v AS SELECT x FROM ist_t")
    rows = {
        r.table_name: r.table_type
        for r in s.execute(
            "SELECT table_name, table_type FROM information_schema.tables"
        ).collect()
    }
    assert rows["ist_v"] == "VIEW"
    assert rows["ist_t"] == "BASE TABLE"
    s.execute("DROP VIEW ist_v")
    rows = {
        r.table_name: r.table_type
        for r in s.execute(
            "SELECT table_name, table_type FROM information_schema.tables"
        ).collect()
    }
    assert "ist_v" not in rows
    spark.catalog.dropTempView("ist_t")


def test_information_schema_view_case_insensitive(spark):
    s = InfiniSession(spark)
    s.execute("CREATE VIEW MyCasedView AS SELECT 1 AS one")
    rows = {
        r.table_name: r.table_type
        for r in s.execute(
            "SELECT table_name, table_type FROM information_schema.tables"
        ).collect()
    }
    # the catalog lowercases registered names; the match must too
    assert rows.get("mycasedview") == "VIEW"
    s.execute("DROP VIEW MyCasedView")


def test_information_schema_decimal_base_type(spark, sf_dir):
    s = InfiniSession(spark, sf_dir)
    rows = s.execute(
        "SELECT data_type FROM information_schema.columns "
        "WHERE table_name = 'orders' AND column_name = 'o_totalprice'"
    ).collect()
    # MySQL's data_type is the bare keyword, never 'decimal(15,2)'
    assert rows and rows[0].data_type in ("decimal", "double")


def test_system_catalog_refreshes_per_query(spark):
    s = InfiniSession(spark)
    s.create_table_as("sysc_t", spark.createDataFrame([(1,)], "x long"))
    # no manual register_system_catalog: session.sql must self-register
    names = {r.tablename for r in s.execute(
        "SELECT tablename FROM systable"
    ).collect()}
    assert "sysc_t" in names
    spark.catalog.dropTempView("sysc_t")


def test_compound_interval_overflow_is_null(spark):
    s = InfiniSession(spark)
    v = s.execute(
        "SELECT DATE_ADD(TIMESTAMP '2020-01-01 00:00:00',"
        " INTERVAL '99999999999:00' HOUR_MINUTE) AS v"
    ).collect()[0].v
    # beyond Spark's long-microsecond literal cap: NULL (the reference
    # overflows to datetime 0), never an AnalysisException
    assert v is None


def test_local_dir_tmpfs_guard(monkeypatch):
    """r12 advice fix: /dev/shm is only picked as spark.local.dir when it
    reports comfortable free space — a container's 64 MB tmpfs must fall
    back to the Spark default (which spills to disk) instead of dying
    mid-shuffle with ENOSPC; the env override skips the guard."""
    import os

    from infinidb_spark.session import _local_dir

    class _SmallFS:
        f_bavail = 16 * 1024  # 64 MB at 4 KiB blocks
        f_frsize = 4096

    monkeypatch.delenv("SPARK_GRAFT_LOCAL_DIR", raising=False)
    monkeypatch.setattr(os, "statvfs", lambda p: _SmallFS())
    assert _local_dir() is None

    class _BigFS:
        f_bavail = 16 * 1024**2  # 64 GiB
        f_frsize = 4096

    monkeypatch.setattr(os, "statvfs", lambda p: _BigFS())
    got = _local_dir()
    assert got is None or got.startswith("/dev/shm")

    monkeypatch.setenv("SPARK_GRAFT_LOCAL_DIR", "/tiny/fast/device")
    assert _local_dir() == "/tiny/fast/device"
