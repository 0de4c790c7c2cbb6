"""Streaming sinks — continuous ingestion into managed Parquet tables.

The reference's closest pattern is the dwweek scenario: nightly cpimport
batches interleaved with queries (`utils/scenarios/dwweek/testcase/
dwDMrun.sh`), each load published through the one BRM commit.
Structured Streaming collapses that operational pattern into one
continuously-running query: file source → transform → `foreachBatch`
append into the same Parquet layout batch queries scan.

Exactly-once: the checkpoint pins which source files each epoch
consumed; the writer below makes the table-side append idempotent BY
EPOCH.  Each epoch is an ``insert_into`` through the one commit protocol
of operators/dml.py: its rows and its commit marker
``_epochs/<sink_id>/<epoch_id>`` are staged in one pinned pending
version, and one pointer swap publishes both.  A replayed epoch (restart
after a crash) finds its marker in the live version and is skipped; a
crash before the swap leaves only an orphan version that the next
writer's sweep collects, so readers never see part of an epoch and need
no filter.  At cluster scale the sink directory is the same
partitioned/clustered layout `sources/table_write.py` produces, so the
streamed table serves the SAME query corpus as a batch-loaded one —
stream/batch storage parity.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from infinidb_spark.operators.dml import insert_into

#: commit-marker directory inside the table (underscore prefix →
#: invisible to Spark's Parquet reader, like _SUCCESS)
_EPOCH_DIR = "_epochs"


def write_epoch_idempotent(
    batch_df: DataFrame,
    epoch_id: int,
    table_dir: str,
    partition_by: list[str] | None = None,
    sink_id: str | None = None,
    side: dict[str, DataFrame] | None = None,
) -> bool:
    """Append one epoch's rows with replay safety; returns False when
    the epoch was already committed (skipped).

    Epoch ids are scoped to ONE checkpoint, so commit markers are
    namespaced per query: ``_epochs/<sink_id>/<epoch_id>``.  Without
    namespacing, a stream restarted with a fresh checkpoint (or a
    second query appending to the same table) re-emits epochs 0..N and
    a flat marker dir would silently skip them as replays — data loss,
    not exactly-once.  ``sink_id`` defaults to the Spark streaming
    query id (stable across restarts FROM THE SAME CHECKPOINT, new for
    a new checkpoint — exactly the replay-vs-new boundary).

    The epoch is one ``insert_into`` (operators/dml.py) with the marker
    staged inside the new version; ``side`` maps table-relative
    directories to relations published by the same swap (the dedup
    ingest's hash store).  Every crash window replays to the same final
    state: before the swap nothing is visible and the replay lands the
    epoch; after it the marker is live and the replay skips."""
    if sink_id is None:
        # foreachBatch batch_df is a normal DataFrame; the enclosing
        # streaming query's id is reachable via the active session
        active = batch_df.sparkSession.streams.active
        if len(active) == 1:
            sink_id = active[0].id
        elif not active:
            sink_id = "default"  # batch caller: single-writer namespace
        else:
            # sharing 'default' across concurrent queries would let one
            # query's marker silently skip another's epoch — the exact
            # data-loss hazard the per-sink namespace exists to prevent
            raise ValueError(
                "write_epoch_idempotent: cannot infer the sink id with "
                f"{len(active)} active streaming queries — pass sink_id "
                "explicitly (sink_id_for(checkpoint_dir))"
            )
    if partition_by and any(c.startswith(("_", ".")) for c in partition_by):
        # Spark's partition discovery prunes '_'/'.'-prefixed
        # directories — a commit under such a layout would be invisible
        # to every reader of the table
        raise ValueError(
            "write_epoch_idempotent: partition column names must not "
            f"start with '_' or '.': {partition_by}"
        )
    safe = str(sink_id).replace(os.sep, "_")
    marker = os.path.join(_EPOCH_DIR, safe, str(epoch_id))
    return insert_into(
        batch_df, table_dir, stmt="EPOCH", partition_by=partition_by,
        marker=marker, side=side,
    ) is not None


def hadoop_glob_escape(path: str) -> str:
    """Backslash-escape Hadoop glob metacharacters in a LITERAL path.

    Spark's file reader runs every input path through the Hadoop
    globber, so a table dir like ``run[1]/corpus`` reads ``[1]`` as a
    character class and fails PATH_NOT_FOUND (or worse, silently
    matches a sibling) even when the Python-side listing found the
    files.  The Python glob.escape counterpart covers os-level globs;
    this covers the JVM-side ones."""
    import re

    return re.sub(r"([\[\]{}*?\\])", r"\\\1", path)


def sink_id_for(checkpoint_dir: str) -> str:
    """Epoch-namespace id derived from CHECKPOINT IDENTITY: same
    checkpoint → same id (genuine replays skip), fresh checkpoint →
    fresh id (epochs 0..N land again instead of being mistaken for
    replays).  LOAD-BEARING for exactly-once — every foreachBatch sink
    must derive its id here so the rule can never fork per sink."""
    import hashlib

    return hashlib.md5(os.path.abspath(checkpoint_dir).encode()).hexdigest()[:12]


def start_epoch_stream(
    stream: DataFrame,
    foreach_fn,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """ONE writer-setup chokepoint for every foreachBatch sink in this
    package (stream_to_table, dedup ingest, quality gate): checkpoint,
    append mode, optional availableNow drain.  Three hand-rolled copies
    of this block had already drifted risk-wise — a future option change
    must land exactly once."""
    writer = (
        stream.writeStream.foreachBatch(foreach_fn)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_to_table(
    stream: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    partition_by: list[str] | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Append a (transformed) stream into a Parquet table directory.

    `available_now=True` drains everything currently in the source then
    stops — the cpimport-batch replacement; `False` runs continuously.
    """
    sink_id = sink_id_for(checkpoint_dir)

    def _write_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        write_epoch_idempotent(
            batch_df, epoch_id, table_dir, partition_by, sink_id=sink_id
        )

    return start_epoch_stream(stream, _write_epoch, checkpoint_dir, available_now)
