"""Streaming IVF index maintenance (streaming/ann_ingest.py): epoch
idempotence, partition-pruned serving, and zero drift vs batch IVF."""

from __future__ import annotations

import os
import re
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from infinidb_spark.operators.similarity import (
    ann_ivf_topk,
    train_ivf_centroids,
)
from infinidb_spark.plans.pipeline import _QUERY_VEC
from infinidb_spark.session import load_tables
from infinidb_spark.streaming.ann_ingest import (
    ann_index_serve,
    stream_ann_ingest,
)


@pytest.fixture(scope="module")
def built(spark, sf_dir):
    emb = load_tables(spark, sf_dir, names=("embeddings",))["embeddings"]
    centroids = train_ivf_centroids(emb, stride=50)
    from infinidb_spark.plans.pipeline import stage_epoch_inputs

    work = tempfile.mkdtemp(prefix="ann_ingest_t_")
    in_dir = stage_epoch_inputs(
        emb.select("vec_id", "embedding"), "vec_id", work
    )

    def run(tag: str) -> str:
        index_dir = os.path.join(work, f"index_{tag}")
        stream = (
            spark.readStream.schema("vec_id long, embedding array<float>")
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        q = stream_ann_ingest(
            stream, index_dir, os.path.join(work, f"ckpt_{tag}"), centroids
        )
        assert q.awaitTermination(300), "stream did not finish"
        return index_dir

    index_dir = run("a")
    yield {"emb": emb, "centroids": centroids, "work": work,
           "index_dir": index_dir, "run": run}
    shutil.rmtree(work, ignore_errors=True)


def test_streamed_index_matches_batch_ivf(spark, built):
    """Zero drift: serving from the streamed index equals batch
    ann_ivf_topk row for row (same model, probes, rerank)."""
    got = ann_index_serve(
        spark, built["index_dir"], _QUERY_VEC, built["centroids"], k=10, n_probe=2
    ).collect()
    want = ann_ivf_topk(
        built["emb"], _QUERY_VEC, k=10, n_probe=2, centroids=built["centroids"]
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_serving_scan_is_partition_pruned(spark, built):
    """The cid IN probes filter must hit the hive partition column —
    unprobed posting lists are never read."""
    df = ann_index_serve(
        spark, built["index_dir"], _QUERY_VEC, built["centroids"], k=10, n_probe=2
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cid" in m.group(1) and " IN " in m.group(1), plan[:800]


def test_index_rows_complete_and_replay_idempotent(spark, built):
    """Every streamed vector lands exactly once, and a second full run
    (fresh checkpoint, fresh index) builds an identical index."""
    idx = spark.read.parquet(built["index_dir"])
    n = built["emb"].count()
    assert idx.count() == n
    assert idx.select("vec_id").distinct().count() == n
    idx2 = spark.read.parquet(built["run"]("b"))
    a = sorted((r.vec_id, r.cid) for r in idx.select("vec_id", "cid").collect())
    b = sorted((r.vec_id, r.cid) for r in idx2.select("vec_id", "cid").collect())
    assert a == b


def test_serving_empty_index_returns_empty(spark, built):
    """An index dir with no committed epoch serves an empty top-k, not
    a schema-inference crash."""
    empty = tempfile.mkdtemp(prefix="ann_empty_")
    try:
        out = ann_index_serve(
            spark, empty, _QUERY_VEC, built["centroids"], k=10, n_probe=2
        )
        assert out.collect() == []
        assert out.columns == ["vec_id", "cosine"]
    finally:
        shutil.rmtree(empty, ignore_errors=True)


def _clone_index(built):
    """A private copy of the streamed index, its next epoch id and sink
    id, and a 5-row batch of fresh vectors for that epoch."""
    from infinidb_spark.operators.dml import _new_version_dir

    clone = os.path.join(tempfile.mkdtemp(prefix="ann_clone_"), "index")
    version = _new_version_dir(clone)
    shutil.copytree(built["index_dir"], version)
    os.symlink(os.path.basename(version), clone)
    (sink,) = os.listdir(os.path.join(clone, "_epochs"))
    epoch = 1 + max(int(e) for e in os.listdir(os.path.join(clone, "_epochs", sink)))
    return clone, sink, epoch


def _extra_batch(spark, clone):
    index = spark.read.parquet(clone)
    rows = (
        index.orderBy("vec_id").limit(5)
        .withColumn("vec_id", F.col("vec_id") + 10**9).collect()
    )
    return spark.createDataFrame(rows, index.schema)


def test_serving_excludes_uncommitted_epoch(spark, built, crash_before_swap):
    """An epoch killed before its swap must be invisible to serving —
    the reader sees pre-epoch state — and its replay lands it once."""
    from infinidb_spark.streaming.sink import write_epoch_idempotent

    clone, sink, epoch = _clone_index(built)
    try:
        n_all = built["emb"].count()
        extra = _extra_batch(spark, clone)
        want = ann_index_serve(
            spark, clone, _QUERY_VEC, built["centroids"], k=10, n_probe=2
        ).collect()

        def land():
            return write_epoch_idempotent(
                extra, epoch, clone, partition_by=["cid"], sink_id=sink
            )

        crash_before_swap(clone, land)
        assert spark.read.parquet(clone).count() == n_all  # epoch excluded
        got = ann_index_serve(
            spark, clone, _QUERY_VEC, built["centroids"], k=10, n_probe=2
        ).collect()
        assert got == want
        assert land() is True and land() is False
        assert spark.read.parquet(clone).count() == n_all + 5
    finally:
        shutil.rmtree(os.path.dirname(clone), ignore_errors=True)


def test_serve_listed_before_epoch_commit_still_collects(spark, built):
    """A serve DataFrame listed before an epoch commits still collects
    after the swap has GC'd the version it listed: carried files keep
    their relative names, and the listed paths resolve through the live
    pointer."""
    from infinidb_spark.streaming.sink import write_epoch_idempotent

    clone, sink, epoch = _clone_index(built)
    try:
        extra = _extra_batch(spark, clone)
        listed = ann_index_serve(
            spark, clone, _QUERY_VEC, built["centroids"], k=10, n_probe=2
        )
        before = os.path.realpath(clone)
        assert write_epoch_idempotent(
            extra, epoch, clone, partition_by=["cid"], sink_id=sink
        )
        assert os.path.realpath(clone) != before and not os.path.exists(before)
        want = ann_ivf_topk(
            built["emb"], _QUERY_VEC, k=10, n_probe=2, centroids=built["centroids"]
        ).collect()
        assert [tuple(r) for r in listed.collect()] == [tuple(r) for r in want]
    finally:
        shutil.rmtree(os.path.dirname(clone), ignore_errors=True)


def test_model_fingerprint_rejects_different_centroids(spark, built):
    """r11 review: serving (or re-ingesting) with centroids different
    from those the stored cids came from silently returned wrong
    neighbors — the index now pins its model fingerprint."""
    import pytest as _pytest

    from infinidb_spark.streaming.ann_ingest import ann_index_serve

    index_dir, centroids = built["index_dir"], built["centroids"]
    qv = [float(x) for x in built["emb"].limit(1).collect()[0].embedding]
    other = [(c, [v + 0.25 for v in vec]) for c, vec in centroids]
    with _pytest.raises(ValueError, match="model"):
        ann_index_serve(spark, index_dir, qv, other, k=3)
    # the matching model still serves
    got = ann_index_serve(spark, index_dir, qv, centroids, k=3)
    assert got.count() > 0


def test_model_fingerprint_is_centroid_order_insensitive():
    """The same model presented in a different centroid ORDER must
    fingerprint identically — assignment and probing are
    order-independent, so rejecting a reordered reload as 'retrained'
    would block valid serves (models loaded from dicts/parquet carry
    no order guarantee)."""
    from infinidb_spark.streaming.ann_ingest import _centroid_fingerprint

    cs = [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.5, 0.5])]
    assert _centroid_fingerprint(cs) == _centroid_fingerprint(cs[::-1])
    assert _centroid_fingerprint(cs) != _centroid_fingerprint(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.5, 0.6])]
    )
