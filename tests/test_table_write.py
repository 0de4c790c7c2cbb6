"""Storage layout → scan pruning: partition-directory elimination and
result delivery (collect / Arrow toPandas parity)."""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from infinidb_spark.session import load_tables
from infinidb_spark.sources.table_write import read_table, write_table


def test_partition_pruning_reads_only_matching_directory(spark, sf_dir):
    orders = load_tables(spark, sf_dir, names=("orders",))["orders"]
    workdir = tempfile.mkdtemp(prefix="infinidb_tw_")
    path = os.path.join(workdir, "orders")
    try:
        write_table(orders, path, partition_by=["o_orderstatus"], cluster_by=["o_orderkey"])
        pruned = read_table(spark, path).filter(F.col("o_orderstatus") == "F")
        files = {
            r.f for r in pruned.select(F.input_file_name().alias("f")).distinct().collect()
        }
        # extent-elimination analog: only the o_orderstatus=F directory is read
        assert files and all("o_orderstatus=F" in f for f in files)
        # the optimizer sees it too: partition filters, not data filters
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [" in plan and "o_orderstatus" in plan.split("PartitionFilters:")[1][:200]
        # and values survive the layout roundtrip
        want = orders.filter(F.col("o_orderstatus") == "F").count()
        assert pruned.count() == want
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def test_result_delivery_collect_and_arrow_topandas_agree(spark, sf_dir):
    """Result delivery (≅ RowGroups → mysqld, `exemgr/main.cpp:664`):
    collect() and Arrow-accelerated toPandas() must deliver identical
    values — both paths are supported engine outputs."""
    nation = load_tables(spark, sf_dir, names=("nation",))["nation"]
    df = nation.orderBy("n_nationkey").select("n_nationkey", "n_name")
    via_collect = [(r.n_nationkey, r.n_name) for r in df.collect()]
    assert spark.conf.get("spark.sql.execution.arrow.pyspark.enabled") == "true"
    pdf = df.toPandas()
    via_pandas = list(pdf.itertuples(index=False, name=None))
    assert via_collect == via_pandas


def test_write_table_cluster_by_range_shuffles(spark, tmp_path):
    """cluster_by without partition_by must range-shuffle first: each
    output file's min/max covers a narrow slice, so stats eliminate —
    a local sort of hash-distributed input left every file spanning
    the full domain (zero elimination)."""
    import pyarrow.parquet as pq

    from infinidb_spark.sources.table_write import write_table

    df = spark.range(10_000).withColumnRenamed("id", "k").repartition(8)
    path = str(tmp_path / "clus_t")
    # max_records_per_file splits each (sorted) partition sequentially:
    # with the range shuffle the resulting files are disjoint slices;
    # under the old local-sort-only shape every file spanned the full
    # domain regardless of the split
    write_table(df, path, cluster_by=["k"], max_records_per_file=2000)
    import glob as _g

    spans = []
    for f in _g.glob(path + "/part-*.parquet"):
        md = pq.read_metadata(f)
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(0)
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        spans.append((min(mins), max(maxs)))
    assert len(spans) > 1
    spans.sort()
    for (lo1, hi1), (lo2, _) in zip(spans, spans[1:]):
        assert hi1 <= lo2  # disjoint ranges: range partitioning happened
