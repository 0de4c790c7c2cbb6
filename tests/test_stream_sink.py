"""Streaming ingestion sink: file stream → Parquet table, resumable via
checkpoint (no reprocessing), and empty-input robustness across the
operator corpus."""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from infinidb_spark.operators import dedup as D
from infinidb_spark.operators import text as T
from infinidb_spark.session import load_tables
from infinidb_spark.streaming.events import events_stream_from_directory
from infinidb_spark.streaming.sink import stream_to_table


def test_stream_to_table_ingests_and_resumes_without_dupes(spark, sf_dir):
    events = load_tables(spark, sf_dir, names=("events",))["events"]
    workdir = tempfile.mkdtemp(prefix="infinidb_sink_")
    in_dir, out_dir, ckpt = (os.path.join(workdir, d) for d in ("in", "out", "ckpt"))
    try:
        events.limit(500).repartition(2).write.parquet(in_dir)
        total = spark.read.parquet(in_dir).count()

        stream = events_stream_from_directory(spark, in_dir, max_files_per_trigger=1)
        q = stream_to_table(stream, out_dir, ckpt)
        q.awaitTermination(120)
        assert spark.read.parquet(out_dir).count() == total

        # restart against the same checkpoint: nothing new -> no dupes
        q2 = stream_to_table(
            events_stream_from_directory(spark, in_dir, max_files_per_trigger=1),
            out_dir,
            ckpt,
        )
        q2.awaitTermination(120)
        assert spark.read.parquet(out_dir).count() == total

        # land one more file; only IT is processed on resume
        extra = events.limit(50)
        extra.coalesce(1).write.mode("append").parquet(in_dir)
        n_extra = 50
        q3 = stream_to_table(
            events_stream_from_directory(spark, in_dir, max_files_per_trigger=1),
            out_dir,
            ckpt,
        )
        q3.awaitTermination(120)
        assert spark.read.parquet(out_dir).count() == total + n_extra
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def test_operators_tolerate_empty_input(spark):
    empty = spark.createDataFrame([], "doc_id long, text string, source string")
    assert D.dedup_exact(empty).count() == 0
    assert D.minhash_lsh_pairs(empty, n_hashes=16, bands=4).count() == 0
    assert D.dedup_simhash(empty).count() == 0
    assert T.analyze(empty).count() == 0


def test_operators_tolerate_null_and_empty_text(spark):
    docs = spark.createDataFrame(
        [(1, None, "a"), (2, "", "a"), (3, "   ", "a"), (4, "real text here", "a")],
        "doc_id long, text string, source string",
    )
    # must not throw; null/empty normalize to empty shingle sets
    D.dedup_exact(docs).collect()
    D.minhash_lsh_pairs(docs, n_hashes=16, bands=4).collect()
    T.analyze(docs).collect()


def _versions(table):
    """Version directories of ``table`` other than the live one."""
    parent, base = os.path.dirname(table), os.path.basename(table)
    live = os.path.basename(os.path.realpath(table))
    return [
        f for f in os.listdir(parent)
        if f.startswith(base + ".__v") and f != live
    ]


def test_epoch_replay_is_idempotent(spark, tmp_path, crash_before_swap):
    """A replayed foreachBatch epoch (restart after crash) must not
    double-write: a replay after the swap is skipped by the live marker;
    an attempt killed before its swap leaves the table at its pre-epoch
    rows, and the replay lands the epoch exactly once and collects the
    orphan version."""
    import os

    from infinidb_spark.operators.dml import _pins_dir
    from infinidb_spark.streaming.sink import write_epoch_idempotent

    table = str(tmp_path / "ep_table")
    os.makedirs(table)
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    assert write_epoch_idempotent(df, 0, table, sink_id="q1") is True
    assert write_epoch_idempotent(df, 0, table, sink_id="q1") is False  # replay skipped
    assert spark.read.parquet(table).count() == 2
    crash_before_swap(
        table, lambda: write_epoch_idempotent(df, 1, table, sink_id="q1")
    )
    assert len(_versions(table)) == 1  # the orphan, with its marker inside
    assert spark.read.parquet(table).count() == 2  # pre-epoch rows only
    assert write_epoch_idempotent(df, 1, table, sink_id="q1") is True  # lands
    assert write_epoch_idempotent(df, 1, table, sink_id="q1") is False
    assert spark.read.parquet(table).count() == 4  # no duplicates
    assert _versions(table) == [] and os.listdir(_pins_dir(table)) == []


def test_epoch_markers_namespaced_per_sink(spark, tmp_path):
    """Epoch ids are checkpoint-scoped: a second query (fresh
    checkpoint) re-emitting epoch 0 must LAND, not be skipped as a
    replay of the first query's epoch 0 (round-3 ADVICE)."""
    import os

    from infinidb_spark.streaming.sink import write_epoch_idempotent

    table = str(tmp_path / "ns_table")
    os.makedirs(table)
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    assert write_epoch_idempotent(df, 0, table, sink_id="q1") is True
    assert write_epoch_idempotent(df, 0, table, sink_id="q2") is True  # new sink
    assert write_epoch_idempotent(df, 0, table, sink_id="q2") is False  # true replay
    assert spark.read.parquet(table).count() == 4


def test_epoch_idempotent_partitioned(spark, tmp_path):
    import os

    from infinidb_spark.streaming.sink import write_epoch_idempotent

    table = str(tmp_path / "ep_part")
    os.makedirs(table)
    df = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, "x")], "id long, part string"
    )
    write_epoch_idempotent(df, 7, table, partition_by=["part"])
    write_epoch_idempotent(df, 7, table, partition_by=["part"])  # replay
    got = spark.read.parquet(table)
    assert got.count() == 3
    assert {r.part for r in got.collect()} == {"x", "y"}


def test_quality_gate_replay_converges_both_relations(spark, tmp_path):
    """The gate lands TWO relations per epoch under one sink id; a
    replayed epoch (crash between the two writes) must re-land only the
    missing side — both tables converge to exactly-once."""
    import os

    from pyspark.sql import functions as F

    from infinidb_spark.streaming.quality_gate import (
        ACCEPTED_DIR,
        REJECTS_DIR,
        score_and_route,
    )
    from infinidb_spark.streaming.sink import write_epoch_idempotent

    out = str(tmp_path / "gate")
    os.makedirs(os.path.join(out, ACCEPTED_DIR))
    os.makedirs(os.path.join(out, REJECTS_DIR))
    batch = spark.createDataFrame(
        [(1, "the and is of to in good long text " * 20), (2, "zz")],
        "doc_id bigint, text string",
    )
    scored = score_and_route(batch, 0.6, ("en",))
    acc = scored.filter(F.col("status") == "accepted").drop("status")
    rej = scored.filter(F.col("status") != "accepted").drop("text")

    # epoch 0 lands accepted but CRASHES before rejects
    assert write_epoch_idempotent(acc, 0, os.path.join(out, ACCEPTED_DIR), sink_id="s1")
    # replay of epoch 0: accepted skips (marker), rejects re-land
    assert not write_epoch_idempotent(acc, 0, os.path.join(out, ACCEPTED_DIR), sink_id="s1")
    assert write_epoch_idempotent(rej, 0, os.path.join(out, REJECTS_DIR), sink_id="s1")
    # second replay is a full no-op
    assert not write_epoch_idempotent(acc, 0, os.path.join(out, ACCEPTED_DIR), sink_id="s1")
    assert not write_epoch_idempotent(rej, 0, os.path.join(out, REJECTS_DIR), sink_id="s1")

    a = spark.read.parquet(os.path.join(out, ACCEPTED_DIR))
    r = spark.read.parquet(os.path.join(out, REJECTS_DIR))
    assert a.count() == 1 and a.collect()[0].doc_id == 1
    assert r.count() == 1 and r.collect()[0].doc_id == 2
    assert r.collect()[0].status == "low_quality"


def test_quality_gate_sigkill_between_writes_converges(spark, tmp_path):
    """Chaos: SIGKILL the stream driver BETWEEN the accepted-write and
    the reject-write of one epoch (the documented torn state,
    quality_gate.py:14-19), then restart the stream on the same
    checkpoint.  Structured streaming replays the uncommitted epoch
    with the SAME epoch id; the marker skips the committed accepted
    side and only the missing reject side lands — both tables converge
    to exactly-once."""
    import os
    import subprocess
    import sys
    import textwrap

    from pyspark.sql import functions as F

    from infinidb_spark.streaming.quality_gate import (
        ACCEPTED_DIR,
        REJECTS_DIR,
        read_gate_results,
        stream_quality_gate,
    )
    work = str(tmp_path)
    in_dir = os.path.join(work, "in")
    out_dir = os.path.join(work, "out")
    ckpt = os.path.join(work, "ckpt")
    good = "the and is of to in good long text " * 20
    spark.createDataFrame(
        [(1, good), (2, "zz"), (3, good + "more"), (4, "qq xx"), (5, good + "yet")],
        "doc_id bigint, text string",
    ).coalesce(1).write.parquet(in_dir)

    child_src = textwrap.dedent(f"""
        import os, signal
        from infinidb_spark.session import get_spark
        import infinidb_spark.streaming.quality_gate as qg

        spark = get_spark("gate-victim", cpus=2)
        spark.sparkContext.setLogLevel("ERROR")
        real = qg.write_epoch_idempotent

        def sabotaged(df, epoch_id, table_dir, **kw):
            if table_dir.endswith(qg.REJECTS_DIR):
                # accepted already committed for this epoch; die hard
                os.kill(os.getpid(), signal.SIGKILL)
            return real(df, epoch_id, table_dir, **kw)

        qg.write_epoch_idempotent = sabotaged
        stream = (spark.readStream.schema("doc_id bigint, text string")
                  .parquet({in_dir!r}))
        q = qg.stream_quality_gate(stream, {out_dir!r}, {ckpt!r}, min_quality=0.6)
        q.awaitTermination(300)
    """)
    proc = subprocess.Popen(
        [sys.executable, "-c", child_src],
        cwd="/root/repo",
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
    )
    try:
        proc.wait(timeout=180)
    finally:
        if proc.poll() is None:
            proc.kill()
    assert proc.returncode == -9  # died by its own SIGKILL, mid-epoch

    # torn state: accepted committed, rejects missing entirely
    assert spark.read.parquet(os.path.join(out_dir, ACCEPTED_DIR)).count() == 3
    assert not os.path.exists(os.path.join(out_dir, REJECTS_DIR))

    # restart on the SAME checkpoint — epoch replays, markers dedupe
    stream = spark.readStream.schema("doc_id bigint, text string").parquet(in_dir)
    q = stream_quality_gate(stream, out_dir, ckpt, min_quality=0.6)
    assert q.awaitTermination(300)

    res = read_gate_results(spark, out_dir)
    got = {(r.doc_id, r.status) for r in res.collect()}
    assert got == {
        (1, "accepted"), (3, "accepted"), (5, "accepted"),
        (2, "low_quality"), (4, "low_quality"),
    }
    assert res.count() == 5  # exactly-once: no replay dupes anywhere
    assert res.groupBy("doc_id").count().filter(F.col("count") > 1).count() == 0


def test_replay_sweep_never_touches_prefix_sibling_sink(
    spark, tmp_path, crash_before_swap
):
    """Sink 'a' epoch 1 killed before its swap, then replayed: the
    replay and the orphan sweep it runs must leave sink 'a_1' epoch 2's
    committed rows alone (the old epoch-file sweep once globbed
    'ep_a_1_*' and deleted them)."""
    import os

    from infinidb_spark.streaming.sink import write_epoch_idempotent

    table = str(tmp_path / "t")
    os.makedirs(table)
    df = spark.createDataFrame([(1, "x")], "id long, s string")
    assert write_epoch_idempotent(df, 2, table, sink_id="a_1") is True
    crash_before_swap(
        table, lambda: write_epoch_idempotent(df, 1, table, sink_id="a")
    )
    assert write_epoch_idempotent(df, 1, table, sink_id="a") is True
    assert spark.read.parquet(table).count() == 2  # a_1's row SURVIVES
    assert _versions(table) == []


def test_epoch_sink_id_with_glob_metachars(spark, tmp_path, crash_before_swap):
    """A sink id containing glob metacharacters names its own marker
    literally: an attempt killed before its swap is replayed once, and
    the replay after that is skipped."""
    import os

    from infinidb_spark.streaming.sink import write_epoch_idempotent

    table = str(tmp_path / "t2")
    os.makedirs(table)
    df = spark.createDataFrame([(1, "x")], "id long, s string")
    crash_before_swap(
        table, lambda: write_epoch_idempotent(df, 3, table, sink_id="q[1]")
    )
    assert write_epoch_idempotent(df, 3, table, sink_id="q[1]") is True
    assert write_epoch_idempotent(df, 3, table, sink_id="q[1]") is False
    assert os.path.exists(os.path.join(table, "_epochs", "q[1]", "3"))
    assert spark.read.parquet(table).count() == 1  # landed once


def test_underscore_partition_column_rejected(spark, tmp_path):
    """Committing a layout the module's own reader prunes must fail
    fast at write time."""
    import os

    import pytest as _pytest

    from infinidb_spark.streaming.sink import write_epoch_idempotent

    table = str(tmp_path / "t3")
    os.makedirs(table)
    df = spark.createDataFrame([(1, "x")], "_b long, s string")
    with _pytest.raises(ValueError, match="must not start"):
        write_epoch_idempotent(df, 0, table, partition_by=["_b"], sink_id="q")


def test_underscore_sink_ids_keep_separate_markers(
    spark, tmp_path, crash_before_swap
):
    """Sink ids 'a' and 'a_1' write markers under their own directories:
    neither one's epochs skip or hide the other's, and an 'a_1' epoch
    killed before its swap is invisible until its replay lands it."""
    import os

    from infinidb_spark.streaming.sink import write_epoch_idempotent

    table = str(tmp_path / "snap_table")
    os.makedirs(table)
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    assert write_epoch_idempotent(df, 2, table, sink_id="a_1") is True
    assert write_epoch_idempotent(df, 3, table, sink_id="a_1") is True
    assert write_epoch_idempotent(df, 2, table, sink_id="a") is True
    crash_before_swap(
        table, lambda: write_epoch_idempotent(df, 4, table, sink_id="a_1")
    )
    assert spark.read.parquet(table).count() == 6  # epoch 4 not visible
    assert write_epoch_idempotent(df, 3, table, sink_id="a_1") is False
    assert write_epoch_idempotent(df, 2, table, sink_id="a") is False
    assert write_epoch_idempotent(df, 4, table, sink_id="a_1") is True
    assert spark.read.parquet(table).count() == 8


def test_crashed_epoch_is_collected_by_next_writer(
    spark, tmp_path, crash_before_swap
):
    """A stream killed mid-epoch and restarted with a FRESH checkpoint
    never replays the dead sink's epoch: its orphan version and dead pin
    are collected by the next writer of the table, while a pending
    version a live writer pins survives that sweep."""
    import os

    from infinidb_spark.operators.dml import _pin_version, _pins_dir
    from infinidb_spark.streaming.sink import write_epoch_idempotent

    table = str(tmp_path / "vac_table")
    os.makedirs(table)
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    assert write_epoch_idempotent(df, 0, table, sink_id="live") is True
    crash_before_swap(
        table, lambda: write_epoch_idempotent(df, 7, table, sink_id="dead")
    )
    (dead,) = _versions(table)
    in_flight = table + ".__vfeedfeedfeed__"
    os.makedirs(in_flight)
    pin = _pin_version(table, os.path.basename(in_flight))
    assert write_epoch_idempotent(df, 1, table, sink_id="live") is True
    assert _versions(table) == [os.path.basename(in_flight)]
    assert os.listdir(_pins_dir(table)) == [os.path.basename(pin)]
    assert spark.read.parquet(table).count() == 4
    assert not os.path.exists(os.path.join(table, "_epochs", "dead"))


def test_every_rewrite_carries_the_sink_markers(spark, tmp_path):
    """Row and DDL rewrites of a sink table build a new version from its
    rows; each must carry the ``_epochs`` markers too, or the next
    replay of a committed epoch lands its rows a second time."""
    import os

    from pyspark.sql import functions as F

    from infinidb_spark.operators.dml import alter_table, delete_from, update_table
    from infinidb_spark.operators.partitions import drop_partitions
    from infinidb_spark.sources.layout import compact_table
    from infinidb_spark.streaming.sink import write_epoch_idempotent

    table = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id long, s string")
    assert write_epoch_idempotent(df, 0, table, sink_id="q")
    assert write_epoch_idempotent(df, 1, table, sink_id="q")
    rewrites = [
        lambda: update_table(spark, table, F.col("id") == 1, {"s": F.lit("z")}),
        lambda: delete_from(spark, table, F.col("id") == 2),
        lambda: alter_table(spark, table, {"op": "add", "column": "n", "type": "int"}),
        lambda: alter_table(spark, table, {"op": "modify", "column": "id", "type": "bigint"}),
        lambda: compact_table(spark, table),
        lambda: drop_partitions(table, [0]),
    ]
    for rewrite in rewrites:
        n = spark.read.parquet(table).count()
        rewrite()
        assert os.path.exists(os.path.join(table, "_epochs", "q", "1"))
        assert write_epoch_idempotent(df, 1, table, sink_id="q") is False
        assert spark.read.parquet(table).count() <= n
