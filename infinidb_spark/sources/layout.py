"""Physical-layout operators: sort-clustered writes + file compaction.

Casual-partitioning elimination (sources/manifest.py) only pays off
when each file covers a NARROW key range — the reference makes the same
point about extent min/max: stats are near-useless on randomly-loaded
data and sharpest on ordered loads (`dbcon/joblist/lbidlist.h:80-114`;
extent map `versioning/BRM/extentmap.h:103`).

* ``cluster_write`` — range-repartition on the cluster keys, sort
  within partitions, write: every output file covers a disjoint key
  range, so a manifest predicate prunes to O(1) files instead of all
  of them.  This is the Delta/Iceberg "OPTIMIZE ... ZORDER/ORDER BY"
  shape, built from two Spark primitives (one range shuffle).
* ``compact_table`` — rewrite a managed table's accumulated small
  files (INSERT appends, operators/dml.py) into size-targeted files,
  committed through the DML rewrite loop.  File count comes from
  footer metadata, not a data scan; at 100 TB compaction is the
  difference between a scan scheduling millions of tiny splits and
  thousands of full ones.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_TARGET_BYTES = 128 * 1024 * 1024


def cluster_write(
    df: DataFrame,
    path: str,
    cluster_by: list[str],
    n_files: int | None = None,
) -> None:
    """Write ``df`` range-clustered on ``cluster_by``: one range shuffle,
    each file a disjoint sorted key range (sharpest possible per-file
    min/max for manifest elimination and row-group skip)."""
    part = (
        df.repartitionByRange(n_files, *cluster_by)
        if n_files
        else df.repartitionByRange(*cluster_by)
    )
    part.sortWithinPartitions(*cluster_by).write.mode("overwrite").parquet(path)


def zorder_value(quantized: list, bits: int):
    """Interleave the bits of pre-quantized [0, 2^bits) columns into one
    Z-value.  Range-partitioning on the Z-value gives every file a
    tight hyper-rectangle in ALL clustered dimensions — single-column
    range clustering makes one predicate prunable, Z-order keeps each
    of them prunable."""
    if bits * len(quantized) > 63:
        # the interleave must fit a signed long: one more bit lands the
        # leading column's high bit in the SIGN bit, silently inverting
        # the sort for half the rows (and >64 drops bits entirely)
        raise ValueError(
            f"zorder_value: {len(quantized)} columns x {bits} bits "
            "exceeds the 63-bit long capacity — reduce bits"
        )
    one = F.lit(1).cast("long")
    z = F.lit(0).cast("long")
    for b in range(bits - 1, -1, -1):
        for q in quantized:
            # Column & / | are LOGICAL in PySpark — bitwise needs methods
            z = F.shiftleft(z, 1).bitwiseOR(F.shiftright(q, b).bitwiseAND(one))
    return z


def _quantile_bucket(col, bounds: list[float], max_v: int):
    """Rank-quantize via a BROADCAST-LITERAL boundary table: bucket =
    #{boundaries <= x}, clamped to [0, max_v].  One interpreted
    aggregate over a small literal array per row — no shuffle, no
    global sort (the percent_rank formulation funneled the whole table
    through ONE window partition per clustered column)."""
    barr = F.lit([float(b) for b in bounds])
    cnt = F.aggregate(
        barr,
        F.lit(0).cast("long"),
        lambda acc, b: acc + F.when(col.cast("double") >= b, 1).otherwise(0),
    )
    return F.least(F.lit(max_v).cast("long"), cnt)


def zorder_write(
    df: DataFrame,
    path: str,
    cluster_by: list[str],
    n_files: int,
    bits: int = 8,
) -> None:
    """Write ``df`` Z-order-clustered on ``cluster_by`` columns.

    Rank-normalization uses per-column approx-quantile boundary tables
    (ONE bounded driver collect of 2^bits-1 doubles per column, then a
    broadcast-literal lookup projection) — robust to skew and arbitrary
    ranges with zero extra shuffles; the old ``percent_rank`` form
    serialized the entire table through a single window partition per
    column.  ``bits`` defaults to 8: 256 rank buckets per dimension is
    ample for FILE-level pruning (files ≪ 256² hyper-rectangles) and
    keeps the lookup array small.  With many cluster columns ``bits``
    auto-reduces so the interleave fits the signed long (63 bits):
    8 columns get 7 bits each, 9-12 columns 5, and so on — coarser
    buckets, still one tight hyper-rectangle per file."""
    bits = max(1, min(bits, 63 // max(1, len(cluster_by))))
    probes = [i / (1 << bits) for i in range(1, 1 << bits)]
    # approxQuantile only accepts NUMERIC columns, so every cluster key
    # is first coerced to an order-preserving double proxy: temporals ->
    # epoch, booleans -> 0/1, strings -> base-256 value of the first 6
    # bytes (48 bits, exact in a double; lexicographic order preserved
    # for the prefix, which is all FILE-level rank bucketing needs).
    dtypes = dict(df.dtypes)
    proxies = {}
    for c in cluster_by:
        dt = dtypes[c]
        col = F.col(c)
        if dt == "date":
            proxies[c] = F.datediff(col, F.lit("1970-01-01").cast("date")).cast("double")
        elif dt.startswith("timestamp"):
            proxies[c] = F.unix_micros(col.cast("timestamp")).cast("double")
        elif dt in ("string", "binary") or dt.startswith(("varchar", "char")):
            # base-256 value of the first 6 bytes, zero-right-padded so
            # short keys stay left-aligned: 48 bits, exact in a double
            b = F.rpad(F.substring(col.cast("binary"), 1, 6), 6, F.lit(b"\x00"))
            proxies[c] = F.conv(F.hex(b), 16, 10).cast("double")
        else:  # numeric / boolean
            proxies[c] = col.cast("double")
    proxied = df.select("*", *[proxies[c].alias(f"__zq_{c}") for c in cluster_by])
    # ONE approxQuantile pass for all cluster columns (the list form):
    # a per-column loop re-scans the whole input K times before the
    # write — K× the pre-write I/O on this module's own 100 TB target
    all_bounds = proxied.approxQuantile(
        [f"__zq_{c}" for c in cluster_by], probes, 1.0 / (4 << bits)
    )
    quantized = [
        _quantile_bucket(F.col(f"__zq_{c}"), bounds, (1 << bits) - 1)
        for c, bounds in zip(cluster_by, all_bounds)
    ]
    z = zorder_value(quantized, bits)
    (
        proxied.withColumn("__z", z)
        .drop(*[f"__zq_{c}" for c in cluster_by])
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def table_file_stats(table_dir: str) -> tuple[int, int]:
    """(n_files, total_bytes) from directory metadata — no data scan.
    Recurses into hive-partition subdirectories (``col=value``)."""
    real = os.path.realpath(table_dir)
    n, total = 0, 0
    for dirpath, dirnames, files in os.walk(real):
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "_"))]
        for f in files:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                p = os.path.join(dirpath, f)
                n += 1
                total += os.path.getsize(p)
    return n, total


def compact_table(
    spark: SparkSession,
    table_dir: str,
    target_file_bytes: int = DEFAULT_TARGET_BYTES,
    cluster_by: list[str] | None = None,
    codec: str | None = None,
) -> int:
    """Rewrite a managed table into ``ceil(total/target)`` files
    (optionally re-clustering) with the table's compression ``codec``.
    Returns the new file count.

    Commits through the DML rewrite loop (operators/dml.py
    ``_optimistic_rewrite``): the compaction reads a pinned snapshot
    and builds outside the commit lock, and any change committed
    meanwhile aborts it with ``ConcurrentWriteConflict`` — compaction
    never rebases.  The read is schema-merged (``read_table``) so the
    wide schema of a metadata-only ADD COLUMN survives, disabled
    partitions are carried untouched, and a hive-partitioned layout is
    rewritten WITH its partition columns, never flattened."""
    from infinidb_spark.operators.dml import (
        _hive_partition_cols, _observe_rows, _optimistic_rewrite, managed_writer,
    )
    from infinidb_spark.operators.partitions import disabled_partitions

    def shaped(df: DataFrame, codec: str | None, snap_dir: str):
        _, total = table_file_stats(snap_dir)
        # size from the ENABLED bytes only: read_table excludes
        # disabled partitions from the rewrite input, so counting
        # their bytes over-targeted the file count (under-compacting
        # a half-disabled table by up to 2×)
        for f in disabled_partitions(snap_dir):
            total -= os.path.getsize(os.path.join(snap_dir, f))
        total = max(total, 0)
        part_cols = [c for c in _hive_partition_cols(snap_dir) if c in df.columns]
        if part_cols:
            # one task per partition VALUE (write_table's shape): a
            # round-robin repartition(n_target) put every value in
            # every task and wrote n_target × n_values files —
            # MULTIPLYING the file count compaction promised to cut.
            # maxRecordsPerFile splits oversized values into
            # target-sized chunks; with the in-task sort those chunks
            # are cluster-ordered ranges.
            rpf = max(1, int(df.count() * target_file_bytes / max(total, 1)))
            sort_cols = part_cols + [c for c in (cluster_by or []) if c not in part_cols]
            df = df.repartition(*part_cols).sortWithinPartitions(*sort_cols)
            return managed_writer(df, "overwrite", codec, part_cols).option(
                "maxRecordsPerFile", str(rpf)
            )
        n_target = max(1, -(-total // target_file_bytes))
        if cluster_by:
            df = df.repartitionByRange(n_target, *cluster_by).sortWithinPartitions(*cluster_by)
        else:
            df = df.repartition(n_target)
        return managed_writer(df, "overwrite", codec)

    _optimistic_rewrite(
        spark, table_dir, "OPTIMIZE", _observe_rows, None, codec,
        max_retries=0, writer=shaped,
    )
    return table_file_stats(table_dir)[0]
