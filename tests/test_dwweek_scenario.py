"""dwweek-style mixed workload — the reference's endurance scenario
(`utils/scenarios/dwweek/testcase/dwDMrun.sh`: daytime query groups,
nightly cpimport + DML) compressed into one integration test: bulk load
→ queries → incremental load → streamed ingest → update → delete, with
invariants checked after every phase."""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from infinidb_spark.operators.dml import delete_from, update_table
from infinidb_spark.session import load_tables
from infinidb_spark.sources.bulk_load import bulk_load_csv
from infinidb_spark.streaming.events import EVENT_SCHEMA
from infinidb_spark.streaming.sink import stream_to_table


def test_week_cycle(spark, sf_dir):
    src = load_tables(spark, sf_dir, names=("orders",))["orders"]
    workdir = tempfile.mkdtemp(prefix="infinidb_dwweek_")
    table = os.path.join(workdir, "orders")
    try:
        # ---- night 0: initial bulk load (cpimport) via CSV
        csv_dir = os.path.join(workdir, "csv0")
        day0 = src.filter(F.col("o_orderkey") % 7 != 0)
        day0.write.option("sep", "|").csv(csv_dir)
        res = bulk_load_csv(spark, csv_dir, src.schema, delimiter="|", dest=table)
        assert res.rows_rejected == 0
        n0 = res.rows_loaded

        # ---- day 1: query group (scan/agg/join shapes on the live table)
        live = spark.read.parquet(table)
        agg = live.groupBy("o_orderstatus").count()
        assert sum(r["count"] for r in agg.collect()) == n0

        # ---- night 1: incremental cpimport of the held-back slice
        csv_dir2 = os.path.join(workdir, "csv1")
        day1 = src.filter(F.col("o_orderkey") % 7 == 0)
        day1.write.option("sep", "|").csv(csv_dir2)
        res2 = bulk_load_csv(spark, csv_dir2, src.schema, delimiter="|")
        res2.loaded.write.mode("append").parquet(table)
        assert spark.read.parquet(table).count() == src.count()

        # ---- day 2: streamed event ingest next to the batch table
        ev_in, ev_tbl, ckpt = (os.path.join(workdir, d) for d in ("ev_in", "events", "ckpt"))
        ev = spark.createDataFrame(
            [(1, "2024-01-01 10:00:00", 1, "click", 1.0, "{}"),
             (2, "2024-01-01 11:00:00", 2, "view", 2.0, "{}")],
            "event_id long, ts string, user_id long, event_type string, value double, props string",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        ev.write.parquet(ev_in)
        q = stream_to_table(
            spark.readStream.schema(EVENT_SCHEMA).parquet(ev_in), ev_tbl, ckpt
        )
        q.awaitTermination(60)
        assert spark.read.parquet(ev_tbl).count() == 2

        # ---- night 2: DML maintenance (the nightly update/delete pass)
        n_upd = update_table(
            spark, table, F.col("o_orderstatus") == "P",
            {"o_orderpriority": F.lit("1-URGENT")},
        )
        after = spark.read.parquet(table)
        assert after.filter(
            (F.col("o_orderstatus") == "P") & (F.col("o_orderpriority") != "1-URGENT")
        ).count() == 0
        n_del = delete_from(spark, table, F.col("o_orderkey") % 100 == 0)
        final = spark.read.parquet(table)
        assert final.count() == src.count() - n_del
        # cross-check: the update survived the delete rewrite
        if n_upd:
            assert final.filter(
                (F.col("o_orderstatus") == "P") & (F.col("o_orderpriority") == "1-URGENT")
            ).count() > 0
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def test_concurrent_nightly_writers_two_tables(spark, sf_dir):
    """dwDMrun.sh's nightly pattern from TWO sessions at once: each
    session runs its cpimport-style load + UPDATE/DELETE on its OWN
    table concurrently, while daytime readers poll both tables.  The
    per-table commit lock must let disjoint-table writers
    proceed in parallel, and every successful read must be atomically
    consistent (a pre- or post-statement state, never a torn mix)."""
    import threading

    from infinidb_spark.session import InfiniSession

    s1 = InfiniSession(spark, sf_dir)
    s2 = InfiniSession(spark, sf_dir)
    nation = load_tables(spark, sf_dir, names=("nation",))["nation"]
    region = load_tables(spark, sf_dir, names=("region",))["region"]
    s1.create_table_as("dw_a", nation.select("n_nationkey", "n_regionkey"))
    s2.create_table_as("dw_b", region.select("r_regionkey"))
    path_a = s1._managed["dw_a"]
    path_b = s2._managed["dw_b"]
    errors: list = []
    stop = threading.Event()

    def night(sess, table, key):
        try:
            sess.execute(f"INSERT INTO {table} ({key}) VALUES (900), (901)")
            sess.execute(f"UPDATE {table} SET {key} = {key} + 1000 WHERE {key} >= 900")
            sess.execute(f"DELETE FROM {table} WHERE {key} = 1901")
        except Exception as e:  # surfaced after join
            errors.append((table, e))

    def reader(path, valid_counts):
        # failures surface through `errors` — an assert raised inside a
        # thread would kill the thread without failing the test; the
        # deadline bounds the loop so persistent read failures cannot
        # leave a live non-daemon thread hanging pytest at exit
        import time as _t

        ok_reads = 0
        deadline = _t.monotonic() + 240
        while (not stop.is_set() or ok_reads == 0) and _t.monotonic() < deadline:
            try:
                c = spark.read.parquet(path).count()
            except Exception:
                continue  # lost the swap race mid-plan: re-plan, like a retry
            if c not in valid_counts:
                errors.append((path, f"torn read: {c} not in {valid_counts}"))
                return
            ok_reads += 1
        if ok_reads == 0:
            errors.append((path, "reader never completed a read"))

    n_a, n_b = nation.count(), region.count()
    # states: initial, +2 inserted, updated (same count), one deleted
    readers = [
        threading.Thread(
            target=reader, args=(path_a, {n_a, n_a + 2, n_a + 1}), daemon=True
        ),
        threading.Thread(
            target=reader, args=(path_b, {n_b, n_b + 2, n_b + 1}), daemon=True
        ),
    ]
    writers = [
        threading.Thread(target=night, args=(s1, "dw_a", "n_nationkey")),
        threading.Thread(target=night, args=(s2, "dw_b", "r_regionkey")),
    ]
    for t in readers + writers:
        t.start()
    for t in writers:
        t.join(timeout=300)
    stop.set()
    for t in readers:
        t.join(timeout=60)
    assert not errors, errors
    # end states: both nightly passes fully applied
    a = spark.read.parquet(path_a)
    assert a.count() == n_a + 1
    assert a.filter(F.col("n_nationkey") == 1900).count() == 1
    b = spark.read.parquet(path_b)
    assert b.count() == n_b + 1
    assert b.filter(F.col("r_regionkey") == 1900).count() == 1


def test_same_table_writer_contention_and_recovery(spark, sf_dir):
    """Two writers on the SAME table: while the O_EXCL lock file is
    held, the second waits at most its ``lock_timeout`` for the commit
    lock and then fails with the reference's calcleartablelock guidance
    (`ha_calpont_impl.cpp:1966-2061` lock semantics), and
    clear_table_lock is the manual recovery that lets DML proceed."""
    import pytest

    from infinidb_spark.operators.dml import (
        _table_lock,
        clear_table_lock,
        create_table,
        update_table,
        view_table_locks,
    )

    nation = load_tables(spark, sf_dir, names=("nation",))["nation"]
    workdir = tempfile.mkdtemp(prefix="infinidb_lockc_")
    table = os.path.join(workdir, "nation")
    try:
        create_table(nation, table)
        with _table_lock(table, "UPDATE"):
            # a second writer must NOT queue silently — bounded wait
            with pytest.raises(RuntimeError, match="calcleartablelock"):
                update_table(
                    spark, table, F.col("n_regionkey") == 1,
                    {"n_name": F.lit("X")}, lock_timeout=0.5,
                )
            locks = view_table_locks(workdir, "nation")
            assert len(locks) == 1 and locks[0]["op"] == "UPDATE"
        # lock released on exit: DML proceeds
        n = update_table(
            spark, table, F.col("n_regionkey") == 1, {"n_name": F.lit("X")}
        )
        assert n > 0
        # stale-lock recovery: simulate a dead writer's leftover lock
        with _table_lock(table, "DML"):
            (stale,) = view_table_locks(workdir, "nation")
            assert clear_table_lock(workdir, stale["lock_id"])
            n2 = update_table(
                spark, table, F.col("n_regionkey") == 2, {"n_name": F.lit("Y")}
            )
            assert n2 > 0
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
