"""Regression pins for the streaming/text/datasets review findings:
glob-metacharacter table paths, NULL split keys, duplicated-id spines,
and partition-scoped epoch replay cleanup."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from infinidb_spark.streaming.sink import (
    hadoop_glob_escape,
    write_epoch_idempotent,
)


@pytest.fixture()
def meta_dir(tmp_path):
    """A table dir whose path contains glob metacharacters."""
    d = tmp_path / "run[1]" / "corpus"
    d.mkdir(parents=True)
    return str(d)


def test_epoch_sink_on_metacharacter_path(spark, meta_dir, crash_before_swap):
    """The epoch sink on a table path containing glob metacharacters:
    a replay after a crash before the swap lands the epoch once, and a
    replay after the swap is skipped — '[1]' read as a character class
    once made replays duplicate rows and the hash store read empty."""
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    crash_before_swap(
        meta_dir, lambda: write_epoch_idempotent(df, 0, meta_dir, sink_id="s1")
    )
    assert write_epoch_idempotent(df, 0, meta_dir, sink_id="s1") is True
    assert write_epoch_idempotent(df, 0, meta_dir, sink_id="s1") is False
    got = spark.read.parquet(hadoop_glob_escape(meta_dir))
    assert got.count() == 2  # rows are NOT duplicated


def test_hash_store_on_metacharacter_path(spark, meta_dir):
    from infinidb_spark.streaming.dedup_ingest import (
        _STORE_DIR,
        read_hash_store,
    )

    store = os.path.join(meta_dir, _STORE_DIR)
    spark.createDataFrame([("h1",), ("h2",)], "content_hash string").write.parquet(
        store, mode="overwrite"
    )
    # files under run[1]/ must be found despite the character class
    assert read_hash_store(spark, meta_dir).count() == 2


def test_split_bucket_null_key_parity(spark):
    from infinidb_spark.operators.datasets import mixture_sample, split_bucket

    df = spark.createDataFrame([("a",), (None,)], "k string")
    out = df.select(
        split_bucket(F.col("k"), portable=True).alias("p"),
        split_bucket(F.col("k"), portable=False).alias("d"),
    ).collect()
    # NULL keys bucket to a REAL bucket on both paths (portable used to
    # yield NULL and silently drop the row downstream)
    for r in out:
        assert r.p is not None and r.d is not None
    mixed = mixture_sample(
        df.withColumn("src", F.lit("s")), "src", {"s": 2.0}, "k", portable=True
    )
    # the NULL-key row upsamples like any other: 2 copies each
    assert mixed.count() == 4


def test_window_dup_fraction_duplicate_ids(spark):
    from infinidb_spark.operators.text import window_dup_fraction

    df = spark.createDataFrame(
        [(1, "some shared text here"), (1, "some shared text here"), (2, "other")],
        "doc_id long, text string",
    )
    out = window_dup_fraction(df, text_col="text", id_col="doc_id", window=8)
    # one row per DISTINCT id — a duplicated input id must not multiply
    # the joined output rows
    assert out.count() == 2
