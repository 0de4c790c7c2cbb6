"""Streaming IVF index maintenance: continuous vector ingestion into a
partitioned ANN index.

The pipeline integration: embeddings stream in continuously; each
micro-batch is assigned to its nearest centroid by a PURE PROJECTION
over the fixed broadcast-literal model (operators/similarity.py
ivf_assign_expr) and appended to the index table PARTITIONED BY list
id — each IVF posting list is a hive partition, so serving reads ONLY
the probed partitions (partition-pruned scan; the IVF cell ≅ the
reference's extent with casual-partition min/max,
`dbcon/joblist/lbidlist.h:80`).  Epochs land through the same
idempotent protocol as every other stream sink (streaming/sink.py): one
pointer swap per micro-batch, and a replayed micro-batch is skipped
once its marker is live.

The incremental contract: INGEST NEVER RETRAINS.  The centroid model
is fixed at ingest time (the offline-training artifact); assignment is
O(batch) with zero shuffles, and the index never re-reads earlier
epochs.  Reclustering is an offline rebuild — exactly how production
IVF deployments (and the reference's nightly cpimport pattern) operate.

At 100 TB: per-epoch work is one projection + one partitioned append;
the serving scan is bounded by ``n_probe / k`` of the index regardless
of corpus size, and freshness lag is one micro-batch.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from infinidb_spark.operators.similarity import (
    cosine_similarity,
    ivf_assign_expr,
    ivf_probe_ids,
)
from infinidb_spark.operators.dml import commit_relinked
from infinidb_spark.streaming.sink import hadoop_glob_escape, stream_to_table

_MODEL_FP = "_model_fp"


def _centroid_fingerprint(centroids) -> str:
    """Stable digest of the centroid model — pins the index to the
    model its cid assignments came from.  Canonicalized by sorting on
    cid: assignment and probing (ivf_assign_expr / ivf_probe_ids) are
    order-independent, so the same model reloaded in a different
    centroid ORDER must fingerprint identically — not reject a valid
    serve as a retrained model."""
    import hashlib

    canon = repr(sorted((int(c), [float(x) for x in v]) for c, v in centroids))
    return hashlib.md5(canon.encode()).hexdigest()


def _check_model_fp(index_dir: str, centroids, *, record: bool) -> None:
    """Serving (or resuming ingest) with centroids DIFFERENT from those
    used at assignment silently returns wrong neighbors: probes are
    chosen against model B while stored cids came from model A.  The
    index therefore carries its model fingerprint; ingest records it
    once, and every serve/ingest validates (same class as the CMS
    sketch carrying its parameters)."""
    fp = _centroid_fingerprint(centroids)
    path = os.path.join(index_dir, _MODEL_FP)
    if os.path.exists(path):
        stored = open(path).read().strip()
        if stored != fp:
            raise ValueError(
                "centroid model does not match the one this index was "
                f"built with (stored {stored[:12]}…, got {fp[:12]}…) — "
                "retraining requires an offline index rebuild"
            )
        return
    if record:
        # committed as a new version of the index (durable with the
        # swap): a power loss that keeps the epochs but drops this pin
        # would let a later serve with retrained centroids pass the
        # absent-fp check and silently return wrong neighbors
        def write_fp(new_dir: str) -> None:
            with open(os.path.join(new_dir, _MODEL_FP), "w") as fh:
                fh.write(fp)

        commit_relinked(index_dir, "MODEL", write_fp)


def stream_ann_ingest(
    stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    available_now: bool = True,
) -> StreamingQuery:
    """Continuously ingest a vector stream into the partitioned IVF
    index at ``index_dir`` (rows: id, embedding, cid; hive-partitioned
    by cid).  ``ivf_assign_expr`` is a deterministic projection, legal
    on a streaming DataFrame — the whole ingest is the generic epoch
    sink (stream_to_table) over the assigned stream."""
    os.makedirs(index_dir, exist_ok=True)
    _check_model_fp(index_dir, centroids, record=True)
    vec = F.col(vec_col).cast("array<double>")
    assigned = stream.select(
        F.col(id_col),
        vec.alias("embedding"),
        ivf_assign_expr(
            f"CAST(`{vec_col}` AS ARRAY<DOUBLE>)", centroids
        ).alias("cid"),
    )
    return stream_to_table(
        assigned,
        index_dir,
        checkpoint_dir,
        partition_by=["cid"],
        available_now=available_now,
    )


def ann_index_serve(
    spark: SparkSession,
    index_dir: str,
    query_vec: list[float],
    centroids: list[tuple[int, list[float]]],
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    id_type: str = "long",
) -> DataFrame:
    """Serve a top-k query from the streamed index: probe selection
    driver-side over the K-row model (ivf_probe_ids — same rounding and
    tie rules as assignment), then an exact-cosine rerank over ONLY the
    probed partitions.  The ``cid IN probes`` filter hits the hive
    partition column, so the scan never touches unprobed posting lists.

    Serve-while-ingest safe: the probed ``cid=`` partition directories
    are read through the live path, and an epoch commit swaps one
    pointer, so a query racing the ingest sees pre- or post-epoch
    state, never part of an epoch.  Carried files keep their relative
    names, so a listed query still reads after a later epoch's swap.
    An index with no committed epoch yet serves an empty result, not a
    crash.

    Returns (id, cosine) — identical, row for row, to batch
    ``ann_ivf_topk`` over the same corpus and model: the streamed index
    introduces no drift."""
    q = [float(x) for x in query_vec]
    _check_model_fp(index_dir, centroids, record=False)
    probes = ivf_probe_ids(q, centroids, n_probe)
    qcol = F.array(*[F.lit(x) for x in q])
    # list ONLY the probed posting-list partitions: a full-index
    # listing made per-query driver cost O(total files), not O(probed)
    dirs = [
        d for d in (os.path.join(index_dir, f"cid={p}") for p in probes)
        if os.path.isdir(d)
    ]
    if not dirs:
        # id_type keeps the pre-first-commit schema identical to the
        # committed-data path for non-long id columns (string ids are
        # legal elsewhere in the ANN family)
        return spark.createDataFrame([], f"{id_col} {id_type}, cosine double")
    # basePath keeps the cid partition column (and its pruning) on an
    # explicit directory list; it is compared literally, never globbed
    idx = spark.read.option("basePath", index_dir).parquet(
        *(hadoop_glob_escape(d) for d in dirs)
    )
    return (
        idx.filter(F.col("cid").isin(probes))
        .select(
            F.col(id_col),
            F.round(cosine_similarity(F.col("embedding"), qcol), 6).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )
