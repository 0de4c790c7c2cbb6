"""Streaming corpus ingestion with exact incremental dedup.

The pipeline integration: documents stream in continuously; each
micro-batch is classified against the CONTENT-HASH STORE accumulated
from every prior epoch (operators/dedup.py dedup_exact_incremental) and
only ``status='new'`` docs land in the corpus table.  The reference's
closest pattern is nightly cpimport + a dedup pass; here it is one
continuously-running query with bounded per-epoch work.

Store layout: ``<table_dir>/_hash_store/`` — a Parquet relation of
``(content_hash)`` inside the table's version directory.  Each epoch is
one ``insert_into`` (operators/dml.py) that stages the corpus rows, the
epoch's hashes under ``_hash_store/`` and the epoch's commit marker in
the same pending version, so one pointer swap publishes all three.

Replay safety around the store: the store a classification reads is
always the live one, and the live version holds either all of an epoch
(rows, hashes and marker) or none of it.  A crash before the swap
leaves nothing visible, so a replayed batch classifies against exactly
the prior epochs; a replay after the swap finds the marker and is
skipped.

At 100 TB: per-epoch work is O(batch) — the batch is hashed and
shuffle-joined against the store on the hash column; the store carries
32-byte hashes, never text.  When the store outgrows a comfortable
join, the same protocol works with the store bucketed by hash prefix
(sources/bucketed.py) for a co-partitioned join.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from infinidb_spark.operators.dedup import dedup_exact_incremental
from infinidb_spark.operators.dml import commit_relinked
from infinidb_spark.streaming.sink import (
    hadoop_glob_escape,
    sink_id_for,
    start_epoch_stream,
    write_epoch_idempotent,
)

_STORE_DIR = "_hash_store"


def _store_files(table_dir: str) -> list[str]:
    # glob.escape: a table path containing glob metacharacters ([, *, ?)
    # would otherwise match nothing — an always-empty hash store means
    # every batch classifies as "new" and duplicates land silently
    store = os.path.join(table_dir, _STORE_DIR)
    return sorted(glob.glob(os.path.join(glob.escape(store), "*.parquet")))


def read_hash_store(spark: SparkSession, table_dir: str) -> DataFrame:
    """The accumulated (content_hash) relation; empty-schema relation
    before the first epoch."""
    files = _store_files(table_dir)
    if not files:
        return spark.createDataFrame([], "content_hash string")
    # Spark's reader globs each path again JVM-side — escape those too
    return spark.read.parquet(*(hadoop_glob_escape(f) for f in files))


def compact_hash_store(spark: SparkSession, table_dir: str) -> int:
    """Rewrite the accumulated hash store as ONE deduplicated file.

    The store gains at least one parquet file per epoch forever, so a
    long-running stream's every micro-batch pays O(epochs) listing/open
    cost to classify — this maintenance hook restores O(1).  The
    compacted store is committed as a new version of the table
    (commit_relinked): corpus files and epoch markers are carried, so a
    checkpoint replay of an already-compacted epoch still skips.  Run
    while the ingest is PAUSED: a classification listed before the swap
    would look for store files the new version no longer has.  Returns
    the number of files replaced."""
    files = _store_files(table_dir)
    if len(files) <= 1:
        return 0

    def compact(new_dir: str) -> None:
        store = os.path.join(new_dir, _STORE_DIR)
        shutil.rmtree(store)
        tmp = os.path.join(store, ".compact_tmp")
        spark.read.parquet(
            *(hadoop_glob_escape(f) for f in files)
        ).dropDuplicates(["content_hash"]).coalesce(1).write.parquet(tmp)
        parts = glob.glob(os.path.join(glob.escape(tmp), "part-*.parquet"))
        if len(parts) != 1:
            raise RuntimeError(f"expected one compacted part, found {len(parts)}")
        gen = 1 + max(
            (int(os.path.basename(f)[10:-8])
             for f in files
             if os.path.basename(f).startswith("compacted_")
             and os.path.basename(f)[10:-8].isdigit()),
            default=0,
        )
        os.replace(parts[0], os.path.join(store, f"compacted_{gen:06d}.parquet"))
        shutil.rmtree(tmp)

    commit_relinked(table_dir, "COMPACT", compact)
    return len(files)


def stream_dedup_ingest(
    stream: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    available_now: bool = True,
) -> StreamingQuery:
    """Continuously ingest a document stream, landing only docs whose
    normalized content was never seen in ANY prior epoch (or earlier in
    the same batch — lowest id wins)."""
    sink_id = sink_id_for(checkpoint_dir)
    # 'content_hash' would be silently CLOBBERED by the ingest's own
    # hash projection (then dropped — user data lost); the join aliases
    # would fail later with an opaque ambiguity.  Reject up front, the
    # same contract as skew.py's salt-collision guard.  Compared
    # case-insensitively: Spark resolves columns case-insensitively by
    # default, so a 'Content_Hash' column collides all the same.
    reserved = {
        c for c in stream.columns
        if c.lower() in ("content_hash", "_cid", "_chash")
    }
    if reserved:
        raise ValueError(
            f"input columns {sorted(reserved)} collide with "
            "stream_dedup_ingest's reserved working names — rename them "
            "before ingesting"
        )

    def _ingest_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        from infinidb_spark.operators.dedup import normalize_text

        store = read_hash_store(spark, table_dir)
        # persist the HASHED batch and derive both the classification
        # and the join-back from it: normalize+sha2 runs once per epoch
        # (hash_col tells dedup_exact_incremental to reuse it), and the
        # classification is persisted too — it feeds two writes
        hashed = batch_df.withColumn(
            "content_hash",
            F.sha2(normalize_text(F.col(text_col)), 256),
        ).persist()
        classified = dedup_exact_incremental(
            hashed, store, text_col=text_col, id_col=id_col,
            hash_col="content_hash",
        ).filter(F.col("status") == "new").persist()
        try:
            # exact join-back on (id NULL-SAFE, content_hash), then one
            # row per hash: the old id-only leftsemi dropped NULL-id
            # docs entirely (while still poisoning their hash into the
            # store) and let a corpus-dup row sharing a 'new' row's id
            # slip into the corpus
            cls = classified.select(
                F.col(id_col).alias("_cid"),
                F.col("content_hash").alias("_chash"),
            )
            fresh = (
                hashed.join(
                    cls,
                    hashed[id_col].eqNullSafe(F.col("_cid"))
                    & (hashed["content_hash"] == F.col("_chash")),
                    "leftsemi",
                )
                # classified is unique per hash; exact duplicate
                # (id, hash) batch rows collapse to one landing
                .dropDuplicates(["content_hash"])
                .drop("content_hash")
            )
            write_epoch_idempotent(
                fresh, epoch_id, table_dir, sink_id=sink_id,
                side={_STORE_DIR: classified.select("content_hash").distinct()},
            )
        finally:
            classified.unpersist()
            hashed.unpersist()

    return start_epoch_stream(stream, _ingest_epoch, checkpoint_dir, available_now)
