"""Batch DML (copy-on-write Parquet): insert/update/delete semantics."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from infinidb_spark.operators.dml import (
    create_table,
    delete_from,
    insert_into,
    update_table,
)
from infinidb_spark.session import load_tables


@pytest.fixture()
def nation_table(spark, sf_dir):
    workdir = tempfile.mkdtemp(prefix="infinidb_dml_")
    table = os.path.join(workdir, "nation")
    create_table(load_tables(spark, sf_dir, names=("nation",))["nation"], table)
    yield table
    shutil.rmtree(workdir, ignore_errors=True)


def test_insert_appends_without_rewrite(spark, nation_table):
    before_files = set(os.listdir(nation_table))
    n0 = spark.read.parquet(nation_table).count()
    new_rows = spark.createDataFrame(
        [(99, "NEWLAND", 0)], "n_nationkey int, n_name string, n_regionkey int"
    )
    insert_into(new_rows, nation_table)
    after = spark.read.parquet(nation_table)
    assert after.count() == n0 + 1
    assert after.filter(F.col("n_name") == "NEWLAND").count() == 1
    # append-only: every pre-existing data file is still there
    assert before_files - {"_SUCCESS"} <= set(os.listdir(nation_table))


def test_update_applies_set_under_where(spark, nation_table):
    n = update_table(
        spark,
        nation_table,
        F.col("n_regionkey") == 0,
        {"n_name": F.concat(F.col("n_name"), F.lit("_EU"))},
    )
    df = spark.read.parquet(nation_table)
    assert n == df.filter(F.col("n_regionkey") == 0).count()
    assert df.filter(F.col("n_regionkey") == 0).filter(
        ~F.col("n_name").endswith("_EU")
    ).count() == 0
    # untouched rows keep their values
    assert df.filter(F.col("n_regionkey") != 0).filter(
        F.col("n_name").endswith("_EU")
    ).count() == 0


def test_delete_removes_only_matching(spark, nation_table):
    total = spark.read.parquet(nation_table).count()
    n = delete_from(spark, nation_table, F.col("n_regionkey") == 1)
    df = spark.read.parquet(nation_table)
    assert df.count() == total - n
    assert df.filter(F.col("n_regionkey") == 1).count() == 0


def test_delete_keeps_null_condition_rows(spark, nation_table):
    """MySQL DELETE removes rows where WHERE is TRUE; NULL-condition
    rows must be KEPT (regression: ~cond dropped them)."""
    workdir = os.path.dirname(nation_table)
    table = os.path.join(workdir, "nullable")
    create_table(
        spark.createDataFrame(
            [(1, 10), (2, None), (3, 5)], "id int, v int"
        ),
        table,
    )
    n = delete_from(spark, table, F.col("v") > 7)
    df = spark.read.parquet(table)
    assert n == 1
    assert sorted(r.id for r in df.collect()) == [2, 3]  # NULL row kept


def test_rewrite_swap_is_pointer_based(spark, nation_table):
    """After any rewrite the live path is a symlink to a version dir —
    the atomic-commit layout (a crash never leaves the table missing)."""
    delete_from(spark, nation_table, F.col("n_regionkey") == 0)
    assert os.path.islink(nation_table)
    target = os.path.join(
        os.path.dirname(nation_table), os.readlink(nation_table)
    )
    assert os.path.isdir(target)
    # readable through the pointer, and old version dirs are GC'd
    assert spark.read.parquet(nation_table).count() > 0
    versions = [
        d
        for d in os.listdir(os.path.dirname(nation_table))
        if d.startswith(os.path.basename(nation_table) + ".__v")
    ]
    assert versions == [os.readlink(nation_table)]


def test_update_then_delete_roundtrip_consistency(spark, nation_table):
    update_table(spark, nation_table, F.lit(True), {"n_regionkey": F.col("n_regionkey") + 10})
    assert spark.read.parquet(nation_table).filter(F.col("n_regionkey") < 10).count() == 0
    deleted = delete_from(spark, nation_table, F.lit(True))
    assert spark.read.parquet(nation_table).count() == 0
    assert deleted > 0


@pytest.fixture()
def clustered_lineitem_table(spark, sf_dir):
    """A managed lineitem clustered on l_orderkey: 8 disjoint-range files."""
    from infinidb_spark.operators.dml import create_table as _ct

    workdir = tempfile.mkdtemp(prefix="infinidb_dml_clustered_")
    table = os.path.join(workdir, "lineitem")
    li = (
        load_tables(spark, sf_dir, names=("lineitem",))["lineitem"]
        .select("l_orderkey", "l_quantity", "l_extendedprice")
        .repartitionByRange(8, "l_orderkey")
        .sortWithinPartitions("l_orderkey")
    )
    _ct(li, table)
    yield table
    shutil.rmtree(workdir, ignore_errors=True)


def test_update_type_changing_set_keeps_schema(spark, clustered_lineitem_table):
    """A type-changing SET must not change the table schema (MySQL: SET
    casts to the column type): SET keeps the declared type."""
    table = clustered_lineitem_table
    schema_before = spark.read.parquet(table).schema
    update_table(
        spark,
        table,
        F.col("l_orderkey").between(0, 20),
        {"l_quantity": F.col("l_quantity").cast("string")},  # coerced back
    )
    after = spark.read.parquet(table)
    assert after.schema == schema_before
    after.count()  # whole table still readable


def test_alter_add_null_column_is_metadata_only(spark, nation_table):
    """ADD COLUMN with NULL default must hard-link every existing file
    (inode-identical — zero data rewritten) and surface NULLs for old
    rows via schema merge."""
    from infinidb_spark.operators.dml import alter_table, read_table

    real0 = os.path.realpath(nation_table)
    inodes0 = {
        f: os.stat(os.path.join(real0, f)).st_ino
        for f in os.listdir(real0)
        if f.endswith(".parquet")
    }
    alter_table(spark, nation_table, {"op": "add", "column": "note", "type": "string"})
    real1 = os.path.realpath(nation_table)
    assert real1 != real0  # new version dir, atomically swapped
    inodes1 = {
        f: os.stat(os.path.join(real1, f)).st_ino
        for f in os.listdir(real1)
        if f.endswith(".parquet")
    }
    for f, ino in inodes0.items():
        assert inodes1.get(f) == ino, "existing file was rewritten, not hard-linked"
    df = read_table(spark, nation_table)
    assert dict(df.dtypes)["note"] == "string"
    assert df.filter(F.col("note").isNull()).count() == df.count()


def test_alter_modify_change_drop(spark, nation_table):
    from infinidb_spark.operators.dml import alter_table, read_table

    alter_table(
        spark, nation_table,
        {"op": "add", "column": "flag", "type": "int", "default": "5"},
    )
    alter_table(spark, nation_table, {"op": "modify", "column": "flag", "type": "bigint"})
    alter_table(
        spark, nation_table,
        {"op": "change", "old": "flag", "new": "marker", "type": "bigint"},
    )
    alter_table(spark, nation_table, {"op": "drop", "column": "n_name"})
    df = read_table(spark, nation_table)
    assert dict(df.dtypes) == {
        "n_nationkey": "int", "n_regionkey": "int", "marker": "bigint"
    }
    assert df.filter(F.col("marker") == 5).count() == df.count()
    with pytest.raises(ValueError, match="already exists"):
        alter_table(spark, nation_table, {"op": "add", "column": "marker", "type": "int"})
    with pytest.raises(ValueError, match="no such column"):
        alter_table(spark, nation_table, {"op": "drop", "column": "ghost"})


def test_parse_alter_statements():
    from infinidb_spark.dialect import DialectError, parse_statement

    st = parse_statement(
        "ALTER TABLE t ADD COLUMN note VARCHAR(20), DROP COLUMN old, "
        "MODIFY n BIGINT UNSIGNED, CHANGE a b DECIMAL(10,2), RENAME TO t2"
    )
    assert st["kind"] == "alter" and st["table"] == "t"
    assert st["actions"] == [
        {"op": "add", "column": "note", "type": "string", "default": None},
        {"op": "drop", "column": "old"},
        {"op": "modify", "column": "n", "type": "decimal(20,0)"},
        {"op": "change", "old": "a", "new": "b", "type": "decimal(10,2)"},
        {"op": "rename_table", "new": "t2"},
    ]
    st = parse_statement("ALTER TABLE t ADD flag INT DEFAULT 7")
    assert st["actions"] == [
        {"op": "add", "column": "flag", "type": "int", "default": "7"}
    ]
    # DEFAULT NULL normalizes to the metadata-only path
    st = parse_statement("ALTER TABLE t ADD c DATETIME DEFAULT NULL")
    assert st["actions"][0]["default"] is None
    # timestamp_ntz: MySQL DATETIME is zoneless (dataconvert.h:142-160)
    assert st["actions"][0]["type"] == "timestamp_ntz"
    import pytest as _pytest

    with _pytest.raises(DialectError):
        parse_statement("ALTER TABLE t ADD c FANCYTYPE")
    with _pytest.raises(DialectError):
        parse_statement("ALTER VIEW v ADD c INT")


def test_dml_where_subqueries(spark, sf_dir):
    """MySQL DML with IN/EXISTS subqueries in WHERE — Spark resolves
    the subquery against registered views inside the rewrite plan (no
    special-casing needed; pinned here because it is load-bearing
    mysqld surface)."""
    from infinidb_spark.session import InfiniSession

    sess = InfiniSession(spark, sf_dir)
    sess.execute(
        "CREATE TABLE dmlsub_t AS SELECT c_custkey, c_nationkey, c_acctbal FROM customer"
    )
    total = sess.execute("SELECT count(*) AS n FROM dmlsub_t").collect()[0].n
    in_r1 = sess.execute(
        "SELECT count(*) AS n FROM dmlsub_t WHERE c_nationkey IN "
        "(SELECT n_nationkey FROM nation WHERE n_regionkey = 1)"
    ).collect()[0].n
    n_del = sess.execute(
        "DELETE FROM dmlsub_t WHERE c_nationkey IN "
        "(SELECT n_nationkey FROM nation WHERE n_regionkey = 1)"
    )
    assert n_del == in_r1
    assert sess.execute("SELECT count(*) AS n FROM dmlsub_t").collect()[0].n == total - n_del
    # UPDATE with a scalar subquery in SET and a subquery in WHERE
    n_upd = sess.execute(
        "UPDATE dmlsub_t SET c_acctbal = (SELECT max(s_acctbal) FROM supplier) "
        "WHERE c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 2)"
    )
    mx = sess.execute("SELECT max(s_acctbal) AS m FROM supplier").collect()[0].m
    hit = sess.execute(
        f"SELECT count(*) AS n FROM dmlsub_t WHERE c_acctbal = {mx}"
    ).collect()[0].n
    assert n_upd > 0 and hit >= n_upd
