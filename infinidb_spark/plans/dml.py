"""DML corpus query: the full INSERT/UPDATE/DELETE lifecycle, verified.

The Spark side materializes a scratch copy of `nation`, runs real DML
(append, copy-on-write update, delete), and aggregates the final table;
the DuckDB oracle computes the same end-state relationally from the
original view — a hash match proves the DML engine's semantics.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from infinidb_spark.operators.dml import (
    create_table,
    delete_from,
    insert_into,
    read_table,
    update_table,
)
from infinidb_spark.plans.registry import query
from infinidb_spark.session import InfiniSession, load_tables


@query(
    "dml_lifecycle",
    oracle="""
    WITH final AS (
      -- UPDATE nation SET n_name = n_name || '_X' WHERE n_regionkey = 2
      -- DELETE FROM nation WHERE n_regionkey = 4
      -- INSERT (99, 'NEWLAND', 0), (100, 'OLDLAND', 1)
      SELECT n_nationkey,
             CASE WHEN n_regionkey = 2 THEN n_name || '_X' ELSE n_name END AS n_name,
             n_regionkey
      FROM nation WHERE n_regionkey <> 4
      UNION ALL SELECT 99, 'NEWLAND', 0
      UNION ALL SELECT 100, 'OLDLAND', 1
    )
    SELECT n_regionkey,
           count(*)                       AS n,
           CAST(sum(n_nationkey) AS BIGINT) AS key_sum,
           CAST(sum(CASE WHEN right(n_name, 2) = '_X' THEN 1 ELSE 0 END) AS BIGINT) AS n_updated
    FROM final
    GROUP BY n_regionkey
    """,
)
def dml_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INSERT + UPDATE + DELETE on a scratch Parquet table
    (`operators/dml.py` ≅ DMLProc, `ha_calpont_dml.cpp:605`), end state
    hash-checked against the oracle's relational equivalent."""
    nation = load_tables(spark, sf_dir, names=("nation",))["nation"]
    workdir = tempfile.mkdtemp(prefix="infinidb_dml_q_")
    table = os.path.join(workdir, "nation")
    try:
        create_table(nation, table)
        insert_into(
            spark.createDataFrame(
                [(99, "NEWLAND", 0), (100, "OLDLAND", 1)],
                schema=nation.schema,
            ),
            table,
        )
        update_table(
            spark,
            table,
            F.col("n_regionkey") == 2,
            {"n_name": F.concat(F.col("n_name"), F.lit("_X"))},
        )
        delete_from(spark, table, F.col("n_regionkey") == 4)
        out = (
            # managed read path (mergeSchema + disabled-partition
            # exclusion) — the raw parquet read bypassed the engine's
            # own read contract
            read_table(spark, table)
            .groupBy("n_regionkey")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("n_nationkey").alias("key_sum"),
                F.sum(F.when(F.col("n_name").endswith("_X"), 1).otherwise(0)).alias(
                    "n_updated"
                ),
            )
        )
        # materialize before the scratch dir disappears
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@query(
    "mysql_ddl_alter",
    oracle="""
    -- relational equivalent of the ALTER sequence:
    --   ADD note VARCHAR (NULL), UPDATE fills r<region> for region<3,
    --   ADD flag INT DEFAULT 7, CHANGE note remark, MODIFY flag BIGINT,
    --   DROP n_name, SET DEFAULT 9 + insert 99, RENAME COLUMN remark
    --   TO remark2, DROP DEFAULT + insert 98, RENAME TO target name
    WITH final AS (
      SELECT n_nationkey,
             CASE WHEN n_regionkey < 3 THEN 'r' || CAST(n_regionkey AS VARCHAR) END AS remark2,
             CAST(7 AS BIGINT) AS flag
      FROM nation
      UNION ALL SELECT 99, NULL, CAST(9 AS BIGINT)
      UNION ALL SELECT 98, NULL, NULL
    )
    SELECT coalesce(remark2, '~none~') AS remark2,
           count(*) AS n,
           CAST(sum(flag) AS BIGINT) AS flag_sum,
           CAST(sum(n_nationkey) AS BIGINT) AS key_sum
    FROM final GROUP BY 1
    """,
)
def mysql_ddl_alter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's FULL ALTER TABLE surface (`dbcon/ddlpackage/
    ddl.y:477-560`: AtaAddColumn / AtaRenameColumn / AtaModifyColumnType
    / AtaDropColumn / AtaSetColumnDefault / AtaDropColumnDefault /
    RENAME TO) executed as MySQL text through InfiniSession.execute on a
    managed table; the end state is hash-checked against the oracle's
    relational equivalent.  ADD COLUMN with NULL default is metadata-only
    (hard-linked files + a schema-carrying empty file; operators/dml.py
    alter_table), as are SET/DROP DEFAULT (catalog metadata feeding
    later INSERT fills — no file touched)."""
    sess = InfiniSession(spark)
    load_tables(spark, sf_dir, names=("nation",))
    try:
        sess.execute("CREATE TABLE alter_t AS SELECT n_nationkey, n_name, n_regionkey FROM nation")
        sess.execute("ALTER TABLE alter_t ADD COLUMN note VARCHAR(20)")
        sess.execute("UPDATE alter_t SET note = concat('r', n_regionkey) WHERE n_regionkey < 3")
        sess.execute("ALTER TABLE alter_t ADD flag INT DEFAULT 7, CHANGE note remark VARCHAR(40)")
        sess.execute("ALTER TABLE alter_t MODIFY flag BIGINT")
        sess.execute("ALTER TABLE alter_t DROP COLUMN n_name")
        sess.execute("ALTER TABLE alter_t ALTER COLUMN flag SET DEFAULT 9")
        sess.execute("INSERT INTO alter_t (n_nationkey, n_regionkey) VALUES (99, 1)")
        sess.execute("ALTER TABLE alter_t RENAME COLUMN remark TO remark2")
        sess.execute("ALTER TABLE alter_t ALTER flag DROP DEFAULT")
        sess.execute("INSERT INTO alter_t (n_nationkey, n_regionkey) VALUES (98, 2)")
        sess.execute("ALTER TABLE alter_t RENAME TO alter_done")
        out = sess.sql(
            """SELECT coalesce(remark2, '~none~') AS remark2, count(*) AS n,
                      sum(flag) AS flag_sum, sum(n_nationkey) AS key_sum
               FROM alter_done GROUP BY 1"""
        )
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        if sess._managed_root:
            shutil.rmtree(sess._managed_root, ignore_errors=True)
        # drop the ghost temp views too: they outlive the scratch dirs
        # in the SHARED SparkSession, so SHOW TABLES / infoschema would
        # list tables whose files are gone (and reads would crash)
        for v in ("alter_t", "alter_done"):
            spark.catalog.dropTempView(v)


@query(
    "auto_increment_roundtrip",
    oracle="""
    -- deterministic id ranges: b1 gets 1-3, explicit 100 bumps the
    -- counter, b3 gets 101-102, LOAD DATA batch b4 gets 103-106
    SELECT * FROM (VALUES
      ('b1', CAST(3 AS BIGINT), CAST(1   AS BIGINT), CAST(3   AS BIGINT), CAST(6   AS BIGINT)),
      ('b2', CAST(1 AS BIGINT), CAST(100 AS BIGINT), CAST(100 AS BIGINT), CAST(100 AS BIGINT)),
      ('b3', CAST(2 AS BIGINT), CAST(101 AS BIGINT), CAST(102 AS BIGINT), CAST(203 AS BIGINT)),
      ('b4', CAST(4 AS BIGINT), CAST(103 AS BIGINT), CAST(106 AS BIGINT), CAST(418 AS BIGINT))
    ) t(tag, n, id_min, id_max, id_sum)
    """,
)
def auto_increment_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUTO_INCREMENT columns end-to-end (ref: the BRM auto-increment
    counter cpimport/DML reserve ranges from,
    writeengine/bulk/cpimport.cpp:102-168): typed CREATE with an
    AUTO_INCREMENT id, INSERT without the id column, an explicit-id
    INSERT that bumps the counter (MySQL semantics), a post-bump
    INSERT, and a LOAD DATA INFILE batch with no id column.  Ids are
    assigned distributed (max-offset + per-partition row_number,
    operators/dml.py assign_auto_increment — no driver loop, no global
    sort); the oracle pins each batch's exact id range via per-tag
    min/max/sum, which is assignment-order independent."""
    sess = InfiniSession(spark)
    workdir = tempfile.mkdtemp(prefix="infinidb_ai_q_")
    csv_path = os.path.join(workdir, "batch4.csv")
    with open(csv_path, "w") as fh:
        fh.write("b4,1.5\nb4,2.5\nb4,3.5\nb4,4.5\n")
    try:
        sess.execute(
            "CREATE TABLE ai_t (id BIGINT AUTO_INCREMENT, tag VARCHAR(10), "
            "v DOUBLE DEFAULT 1) ENGINE=InfiniDB"
        )
        sess.execute("INSERT INTO ai_t (tag) VALUES ('b1'), ('b1'), ('b1')")
        sess.execute("INSERT INTO ai_t (id, tag) VALUES (100, 'b2')")
        sess.execute("INSERT INTO ai_t (tag) VALUES ('b3'), ('b3')")
        sess.execute(
            f"LOAD DATA INFILE '{csv_path}' INTO TABLE ai_t "
            "FIELDS TERMINATED BY ',' (tag, v)"
        )
        out = sess.sql(
            """SELECT tag, count(*) AS n, min(id) AS id_min,
                      max(id) AS id_max, sum(id) AS id_sum
               FROM ai_t GROUP BY tag"""
        )
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        if sess._managed_root:
            shutil.rmtree(sess._managed_root, ignore_errors=True)
        spark.catalog.dropTempView("ai_t")  # no ghost view in the shared session


@query(
    "char_null_semantics",
    oracle="""
    -- the reference's nulltests.pl char matrix: inserting
    -- (NULL, '', 'A') into a char column stores TWO nulls ('' hits the
    -- char null magic value), numerics keep (NULL, 1) as-is
    SELECT * FROM (VALUES
      ('char_total',    CAST(3 AS BIGINT)),
      ('char_null',     CAST(2 AS BIGINT)),
      ('char_notnull',  CAST(1 AS BIGINT)),
      ('char_eq_a',     CAST(1 AS BIGINT)),
      ('int_total',     CAST(2 AS BIGINT)),
      ('int_null',      CAST(1 AS BIGINT))
    ) t(probe, n)
    """,
)
def char_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's distinctive char-null storage semantic, driver-
    checked (`dbcon/joblist/nulltests.pl` check_char_counts:45-120): an
    empty string written to a char/varchar column is stored as NULL
    (the char null magic value; operators/dml.py charnull reproduces it
    at every managed-table write path), while numeric columns keep
    plain NULL semantics.  The probe counts mirror the script's exact
    expectations."""
    sess = InfiniSession(spark)
    try:
        sess.execute("CREATE TABLE cns_c (col1 VARCHAR(40))")
        # one multi-row statement: the same charnull write-path
        # semantics, without five sequential copy-on-write rewrites
        sess.execute("INSERT INTO cns_c VALUES (null), (''), ('A')")
        sess.execute("CREATE TABLE cns_i (col1 INT)")
        sess.execute("INSERT INTO cns_i VALUES (null), (1)")
        out = sess.sql(
            """SELECT 'char_total' AS probe, count(*) AS n FROM cns_c
               UNION ALL SELECT 'char_null', count(*) FROM cns_c WHERE col1 IS NULL
               UNION ALL SELECT 'char_notnull', count(*) FROM cns_c WHERE col1 IS NOT NULL
               UNION ALL SELECT 'char_eq_a', count(*) FROM cns_c WHERE col1 = 'A'
               UNION ALL SELECT 'int_total', count(*) FROM cns_i
               UNION ALL SELECT 'int_null', count(*) FROM cns_i WHERE col1 IS NULL"""
        )
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        if sess._managed_root:
            shutil.rmtree(sess._managed_root, ignore_errors=True)
        for v in ("cns_c", "cns_i"):  # no ghost views in the shared session
            spark.catalog.dropTempView(v)


@query(
    "concurrent_dml_disjoint",
    oracle="""
    -- two CONCURRENT optimistic writers on disjoint key ranges of one
    -- table, both committed: +100 on custkey%4=0, -50 on custkey%4=1;
    -- conflict_aborted = 1 proves the overlap probe cleanly aborted
    WITH final AS (
      SELECT c_mktsegment,
             CASE WHEN c_custkey % 4 = 0 THEN c_acctbal + 100
                  WHEN c_custkey % 4 = 1 THEN c_acctbal - 50
                  ELSE c_acctbal END AS bal,
             CASE WHEN c_custkey % 4 IN (0, 1) THEN 1 ELSE 0 END AS touched
      FROM customer
    )
    SELECT c_mktsegment,
           count(*)                          AS n,
           CAST(sum(bal) AS DECIMAL(18,2))   AS bal_sum,
           CAST(sum(touched) AS BIGINT)      AS n_touched,
           CAST(1 AS BIGINT)                 AS conflict_aborted
    FROM final GROUP BY c_mktsegment
    """,
)
def concurrent_dml_disjoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent same-table writers under snapshot isolation
    (operators/dml.py update_table ≅ the version buffer
    admitting concurrent writers, `versioning/BRM/vss.h:180-210`).

    Two real threads UPDATE disjoint key ranges of ONE managed table;
    both must commit regardless of interleaving (the later committer
    rebases).  A third, deliberately-overlapping writer must abort
    first-committer-wins, leaving state intact — its outcome is hashed
    in as ``conflict_aborted`` so the abort path can't silently rot."""
    import threading

    from infinidb_spark.operators.dml import ConcurrentWriteConflict

    customer = load_tables(spark, sf_dir, names=("customer",))["customer"]
    workdir = tempfile.mkdtemp(prefix="infinidb_ccdml_q_")
    table = os.path.join(workdir, "customer")
    probe_t = os.path.join(workdir, "probe")
    try:
        create_table(customer, table)
        errs: list[Exception] = []

        def run(cond, assign):
            try:
                update_table(spark, table, cond, assign, lock_timeout=300.0)
            except Exception as e:  # pragma: no cover - failure surface
                errs.append(e)

        th1 = threading.Thread(target=run, args=(
            F.col("c_custkey") % 4 == 0,
            {"c_acctbal": F.col("c_acctbal") + 100},
        ))
        th2 = threading.Thread(target=run, args=(
            F.col("c_custkey") % 4 == 1,
            {"c_acctbal": F.col("c_acctbal") - 50},
        ))
        th1.start(); th2.start(); th1.join(); th2.join()
        if errs:
            raise errs[0]

        # overlap probe on a scratch nation copy: a committed write to
        # the same rows must abort this writer and leave state intact
        nation = load_tables(spark, sf_dir, names=("nation",))["nation"]
        create_table(nation, probe_t)
        aborted = 0
        try:
            update_table(
                spark, probe_t,
                F.col("n_regionkey") < 2, {"n_nationkey": F.lit(0)},
                _before_commit=lambda: update_table(
                    spark, probe_t, F.col("n_regionkey") < 1,
                    {"n_name": F.lit("WON")},
                ),
            )
        except ConcurrentWriteConflict:
            # ONE aggregation pass over state (this probe runs on every
            # execution — it used to issue four separate Spark jobs)
            st = read_table(spark, probe_t).agg(
                F.count(F.when(F.col("n_name") == "WON", 1)).alias("won"),
                F.count(F.when(F.col("n_regionkey") < 1, 1)).alias("low"),
                F.sum("n_nationkey").alias("key_sum"),
            ).collect()[0]
            src_sum = nation.agg(F.sum("n_nationkey")).collect()[0][0]
            # the aborted zeroing must leave no trace
            aborted = 1 if (st.won == st.low and st.key_sum == src_sum) else 0

        out = (
            read_table(spark, table)
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("c_acctbal").cast("decimal(18,2)").alias("bal_sum"),
                F.sum(
                    F.when(F.col("c_custkey") % 4 <= 1, 1).otherwise(0)
                ).cast("bigint").alias("n_touched"),
            )
            .withColumn("conflict_aborted", F.lit(aborted).cast("bigint"))
        )
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
