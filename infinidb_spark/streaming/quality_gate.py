"""Streaming quality gate — continuous filtering of a document stream
with reject-reason accounting.

The pipeline integration: documents stream in; each micro-batch is
scored (operators/text.py quality_score + lang_id, the cheap pre-model
filters) and ROUTED — passing docs land in the corpus table, failing
docs land in a reject ledger with the failing rule, so corpus yield is
auditable per source/epoch (every production ingest keeps this ledger;
dropping rejects silently makes quality regressions invisible).  The
reference's closest pattern is cpimport's reject-file accounting
(``writeengine/bulk``'s .bad/.err outputs) lifted from load-time
syntax errors to content-quality rules.

Exactly-once: both relations land through the idempotent-epoch
protocol (streaming/sink.py write_epoch_idempotent) under ONE sink id.
Each relation is its own table with its own marker: a crash between the
two commits leaves the epoch committed in one table only, and the
replay re-lands just the missing side (its marker skips the committed
one) — both tables converge to exactly-once.

At 100 TB: the gate is MAP-ONLY (scoring expressions are codegen'd
per row, the split is two filters over one scored projection) — no
shuffle, no state store; per-epoch work is O(batch).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from infinidb_spark.operators.text import lang_id, quality_score
from infinidb_spark.streaming.sink import (
    _EPOCH_DIR,
    hadoop_glob_escape,
    sink_id_for,
    start_epoch_stream,
    write_epoch_idempotent,
)

ACCEPTED_DIR = "accepted"
REJECTS_DIR = "rejects"


def score_and_route(
    df: DataFrame,
    min_quality: float,
    langs: tuple[str, ...],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """One scored projection with a deterministic verdict column:
    'accepted', or the FIRST failing rule ('low_quality' before
    'lang'), mirroring cpimport's first-error reject records."""
    q = quality_score(F.col(text_col))
    lg = lang_id(F.col(text_col))
    status = (
        F.when(q < min_quality, F.lit("low_quality"))
        .when(~lg.isin(*langs), F.lit("lang"))
        .otherwise(F.lit("accepted"))
    )
    # id + text LEAD, then every OTHER input column passes through: the
    # old projection dropped document metadata (url, source, timestamps)
    # from the accepted corpus irrecoverably — per-source auditing was
    # impossible because the source column never reached either table.
    # The three score/verdict names are reserved: an input column named
    # 'quality'/'lang_guess'/'status' would duplicate and break the
    # downstream status filter with AMBIGUOUS_REFERENCE
    clash = {"quality", "lang_guess", "status"} & set(df.columns)
    if clash:
        raise ValueError(
            "score_and_route: input column(s) "
            f"{sorted(clash)} collide with reserved output names "
            "('quality', 'lang_guess', 'status') — rename them upstream"
        )
    rest = [c for c in df.columns if c not in (id_col, text_col)]
    return df.select(
        F.col(id_col),
        F.col(text_col),
        *[F.col(c) for c in rest],
        q.alias("quality"),
        lg.alias("lang_guess"),
        status.alias("status"),
    )


def stream_quality_gate(
    stream: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    min_quality: float = 0.6,
    langs: tuple[str, ...] = ("en",),
    text_col: str = "text",
    id_col: str = "doc_id",
    available_now: bool = True,
) -> StreamingQuery:
    """Continuously gate a document stream into ``<table_dir>/accepted``
    (docs + scores) and ``<table_dir>/rejects`` (ids + failing rule +
    scores)."""
    sink_id = sink_id_for(checkpoint_dir)

    def _gate_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        scored = score_and_route(batch_df, min_quality, langs, text_col, id_col)
        # persist: the routed split consumes the scored projection twice
        # (accepted + rejects); without it the source batch is re-read
        # and RE-SCORED per sink
        scored = scored.persist()
        try:
            write_epoch_idempotent(
                scored.filter(F.col("status") == "accepted").drop("status"),
                epoch_id,
                os.path.join(table_dir, ACCEPTED_DIR),
                sink_id=sink_id,
            )
            write_epoch_idempotent(
                scored.filter(F.col("status") != "accepted").drop(text_col),
                epoch_id,
                os.path.join(table_dir, REJECTS_DIR),
                sink_id=sink_id,
            )
        finally:
            scored.unpersist()

    return start_epoch_stream(stream, _gate_epoch, checkpoint_dir, available_now)


def read_gate_results(
    spark: SparkSession, table_dir: str, id_col: str = "doc_id"
) -> DataFrame | None:
    """Audit view over both relations: (id, status, quality,
    lang_guess) — 'accepted' rows from the corpus table, reject rows
    with their failing rule.  ``id_col`` must match the one the gate
    was started with (stream_quality_gate parameterizes it).  Each
    table is read through its live path: an epoch commit swaps one
    pointer, so a read racing the ingest sees whole epochs only.
    Returns None before any epoch commits."""

    def committed(name: str) -> DataFrame | None:
        d = os.path.join(table_dir, name)
        if not os.path.isdir(os.path.join(d, _EPOCH_DIR)):
            return None
        return spark.read.parquet(hadoop_glob_escape(d))

    acc, rej = committed(ACCEPTED_DIR), committed(REJECTS_DIR)
    if acc is not None:
        acc = acc.select(
            id_col, F.lit("accepted").alias("status"), "quality", "lang_guess"
        )
    if rej is not None:
        rej = rej.select(id_col, F.col("status"), "quality", "lang_guess")
    if acc is None:
        return rej
    return acc if rej is None else acc.unionByName(rej)
