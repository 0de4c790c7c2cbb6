"""Extent map / casual-partitioning elimination (sources/manifest.py).

Mirrors the reference's extent-elimination tests: min/max stats are
harvested per file, files provably outside a predicate's range are
dropped at plan time, and pruning never changes results
(`dbcon/joblist/lbidlist.h:80-114`).
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from infinidb_spark.sources.manifest import (
    build_manifest,
    manifest_df,
    prune,
    read_manifest,
    scan_with_manifest,
    write_manifest,
)

from conftest import SF_DIR

LINEITEM = os.path.join(SF_DIR, "lineitem.parquet")


@pytest.fixture(scope="module")
def multi_file_dir(spark, tmp_path_factory):
    """A range-partitioned multi-file copy of lineitem: each file holds a
    disjoint l_orderkey range, so its footer min/max form true extents."""
    out = str(tmp_path_factory.mktemp("extents") / "lineitem_ranged")
    (
        spark.read.parquet(LINEITEM)
        .repartitionByRange(4, "l_orderkey")
        .write.mode("overwrite")
        .parquet(out)
    )
    return out


def test_manifest_matches_actual_stats(spark):
    m = build_manifest(LINEITEM)
    assert len(m) == 1 and m[0]["rows"] > 0
    st = m[0]["columns"]["l_orderkey"]
    actual = (
        spark.read.parquet(LINEITEM)
        .agg(F.min("l_orderkey"), F.max("l_orderkey"), F.count(F.lit(1)))
        .collect()[0]
    )
    assert (st["min"], st["max"], m[0]["rows"]) == tuple(actual)


def test_prune_drops_out_of_range_files(spark, multi_file_dir):
    m = build_manifest(multi_file_dir)
    assert len(m) == 4
    full_key_max = max(e["columns"]["l_orderkey"]["max"] for e in m)
    # a range covering only the lowest extent: at least 2 files must go
    survivors = prune(m, [("l_orderkey", "between", 0, 10)])
    assert 1 <= len(survivors) < 4
    # point lookup beyond the max: every extent eliminated
    assert prune(m, [("l_orderkey", "=", full_key_max + 1)]) == []
    # predicate on a column with no stats entry: conservative keep-all
    assert len(prune(m, [("no_such_col", "=", 1)])) == 4


def test_pruned_scan_is_result_transparent(spark, multi_file_dir):
    preds = [("l_orderkey", "between", 0, 10), ("l_quantity", ">=", 5)]
    pruned = scan_with_manifest(spark, multi_file_dir, preds)
    plain = (
        spark.read.parquet(multi_file_dir)
        .filter(F.col("l_orderkey").between(0, 10) & (F.col("l_quantity") >= 5))
    )
    assert sorted(map(tuple, pruned.collect())) == sorted(map(tuple, plain.collect()))
    # the pruned plan really reads fewer files
    assert len(pruned.inputFiles()) < len(plain.inputFiles())


def test_all_extents_eliminated_yields_empty(spark, multi_file_dir):
    m = build_manifest(multi_file_dir)
    hi = max(e["columns"]["l_orderkey"]["max"] for e in m)
    df = scan_with_manifest(spark, multi_file_dir, [("l_orderkey", ">", hi)], m)
    assert df.count() == 0
    assert df.schema == spark.read.parquet(multi_file_dir).schema


def test_manifest_roundtrip_and_df(spark, multi_file_dir, tmp_path):
    m = build_manifest(multi_file_dir)
    path = str(tmp_path / "extent_map.json")
    write_manifest(m, path)
    m2 = read_manifest(path)
    assert prune(m2, [("l_orderkey", "between", 0, 10)]) == prune(
        m, [("l_orderkey", "between", 0, 10)]
    )
    mdf = manifest_df(spark, m)
    key_rows = mdf.filter(F.col("column") == "l_orderkey")
    assert key_rows.count() == 4
    assert key_rows.agg(F.sum("rows")).collect()[0][0] == (
        spark.read.parquet(multi_file_dir).count()
    )


def test_statless_file_is_never_eliminated(tmp_path):
    """A file written without column statistics must survive every
    predicate (conservative keep — elimination needs proof)."""
    import pyarrow as pa
    import pyarrow.parquet as pq_

    f = str(tmp_path / "nostats.parquet")
    pq_.write_table(pa.table({"k": [1, 2, 3]}), f, write_statistics=False)
    m = build_manifest(f)
    assert m[0]["columns"]["k"]["min"] is None
    assert prune(m, [("k", "=", 999)]) == [f]


def _entry(name, mn, mx, col="k"):
    """A hand-built extent-map entry for one file with one stat column."""
    return {"file": name, "rows": 5,
            "columns": {col: {"min": mn, "max": mx, "null_count": 0}}}


def test_conservative_on_mixed_and_missing_stats():
    """A poisoned column (no min/max) survives every predicate on it, a
    column with no stats entry keeps every file, and a literal that
    cannot compare with the stats keeps them."""
    m = [_entry("a", 0, 10), _entry("b", None, None)]
    assert prune(m, [("k", "=", 999)]) == ["b"]
    assert prune(m, [("nosuch", "=", 1)]) == ["a", "b"]
    assert prune(m, [("k", "=", "not-a-number")]) == ["a", "b"]


def test_cross_file_type_conflict_keeps_files():
    """Schema evolution can land the same column with int stats in one
    file and string stats in another; pruning must keep every file whose
    stats cannot be compared with the literal, not raise."""
    m = [_entry("a", 1, 9, "c"), _entry("b", "x", "z", "c")]
    assert prune(m, [("c", "=", 5)]) == ["a", "b"]
    assert prune(m, [("c", "=", "y")]) == ["a", "b"]
    # a comparable literal outside both ranges still drops the int file
    assert prune(m, [("c", "=", 50)]) == ["b"]


def test_big_int_stats_beside_float_stats_keep_their_files():
    """Int stats above 2**53 beside float stats in another file: each
    file is compared on its own stats (no shared column type rounds the
    big int), so the big-int file is kept for its own key and the float
    file for a float key."""
    big = 2**53 + 1
    m = [_entry("a", big, big), _entry("b", 1.5, 2.5)]
    assert prune(m, [("k", "=", big)]) == ["a"]
    assert prune(m, [("k", "between", big, big + 2)]) == ["a"]
    assert prune(m, [("k", "=", 2.0)]) == ["b"]
    # small ints beside floats compare exactly as well
    m = [_entry("a", 7, 9), _entry("b", 1.5, 2.5)]
    assert prune(m, [("k", "=", 8)]) == ["a"]


def test_lossy_int_float_promotion_keeps_files():
    """A DOUBLE literal against int stats above 2**53 promotes the stats
    to double, as the residual filter does: 2**53 + 1 rounds to 2.0**53,
    so the file holding it is kept, not eliminated by an exact int
    comparison."""
    big = 2**53 + 1
    m = [_entry("a", big, big), _entry("b", 1.5, 2.5)]
    assert prune(m, [("k", "=", 2.0**53)]) == ["a"]


def test_double_literal_on_bigint_keeps_matching_file(spark, tmp_path):
    """Spark evaluates ``bigint_col = <double>`` in double precision, so
    the row 2**53 + 1 matches 2.0**53; the pruned scan must return it
    like the plain filter does."""
    t = str(tmp_path / "big")
    big = 2**53 + 1
    spark.createDataFrame([(big,)], "k long").coalesce(1).write.parquet(t)
    preds = [("k", "=", 2.0**53)]
    plain = spark.read.parquet(t).filter(F.col("k") == 2.0**53).count()
    assert plain == 1
    assert scan_with_manifest(spark, t, preds).count() == plain


def test_cached_manifest_memoizes_and_invalidates(spark, tmp_path):
    from infinidb_spark.sources.manifest import cached_manifest

    p = str(tmp_path / "t")
    li = spark.read.parquet(LINEITEM).limit(100)
    li.repartition(2).write.parquet(p)
    m1 = cached_manifest(p)
    assert cached_manifest(p) is m1          # memo hit, no re-harvest
    li.limit(10).write.mode("append").parquet(p)
    m2 = cached_manifest(p)                  # dir mtime bumped → refresh
    assert m2 is not m1 and len(m2) > len(m1)


def test_in_and_comparison_ops(multi_file_dir):
    m = build_manifest(multi_file_dir)
    by_min = sorted(m, key=lambda e: e["columns"]["l_orderkey"]["min"])
    lowest, highest = by_min[0], by_min[-1]
    # IN entirely inside the lowest extent eliminates the highest
    vals = [lowest["columns"]["l_orderkey"]["min"]]
    survivors = prune(m, [("l_orderkey", "in", vals)])
    assert lowest["file"] in survivors and highest["file"] not in survivors
    # strict < at the global min keeps nothing; <= keeps at least one
    gmin = lowest["columns"]["l_orderkey"]["min"]
    assert prune(m, [("l_orderkey", "<", gmin)]) == []
    assert lowest["file"] in prune(m, [("l_orderkey", "<=", gmin)])


def test_empty_predicates_full_scan(spark, multi_file_dir):
    df = scan_with_manifest(spark, multi_file_dir, [])
    assert df.count() == spark.read.parquet(multi_file_dir).count()


def test_cached_manifest_detects_in_place_rewrite(spark, tmp_path):
    """A file rewritten IN PLACE (same name) must invalidate the memo —
    stale stats could otherwise mis-prune."""
    import shutil

    from infinidb_spark.sources.manifest import cached_manifest

    p = str(tmp_path / "t")
    spark.read.parquet(LINEITEM).limit(50).coalesce(1).write.parquet(p)
    m1 = cached_manifest(p)
    part = next(f for f in os.listdir(p) if f.endswith(".parquet"))
    alt = str(tmp_path / "alt")
    spark.read.parquet(LINEITEM).limit(200).coalesce(1).write.parquet(alt)
    alt_part = next(f for f in os.listdir(alt) if f.endswith(".parquet"))
    shutil.copyfile(os.path.join(alt, alt_part), os.path.join(p, part))
    m2 = cached_manifest(p)
    assert m2 is not m1
    assert m2[0]["rows"] == 200


def test_incremental_harvest_appends_and_hardlinks(spark, sf_dir, tmp_path, monkeypatch):
    """Appending a part file harvests ONLY the new footer, and the
    hard-link-carried files of a copy-on-write rewrite hit the footer
    cache by inode — O(changed files), never O(table files)."""
    import os
    import shutil

    from infinidb_spark.sources import manifest as M

    src = f"{sf_dir}/nation.parquet"
    tdir = tmp_path / "t"
    tdir.mkdir()
    shutil.copy(src, tdir / "part-00000.parquet")
    shutil.copy(src, tdir / "part-00001.parquet")

    reads = []
    real_harvest = M._harvest_file
    monkeypatch.setattr(M, "_harvest_file", lambda f: reads.append(f) or real_harvest(f))

    M.cached_manifest(str(tdir))
    assert len(reads) == 2

    # append: only the new file's footer is read
    reads.clear()
    shutil.copy(src, tdir / "part-00002.parquet")
    m = M.cached_manifest(str(tdir))
    assert [os.path.basename(r) for r in reads] == ["part-00002.parquet"]
    assert len(m) == 3

    # copy-on-write version: hard links hit the cache by inode
    reads.clear()
    vdir = tmp_path / "t_v2"
    vdir.mkdir()
    for f in sorted(os.listdir(tdir)):
        os.link(tdir / f, vdir / f)
    m2 = M.cached_manifest(str(vdir))
    assert reads == []
    assert {os.path.dirname(e["file"]) for e in m2} == {str(vdir)}


def test_decimal_column_stats_recovered_via_duckdb(spark, tmp_path):
    """Spark-written DECIMAL footers carry min/max that pyarrow cannot
    decode; the harvest recovers them through DuckDB parquet_metadata,
    so decimal predicates still eliminate files (the reference prunes
    decimal columns too — CasualPartitionDataType covers them)."""
    import decimal

    from infinidb_spark.sources.manifest import build_manifest, prune

    path = str(tmp_path / "dec_table")
    spark.createDataFrame(
        [(1, decimal.Decimal("10.50")), (2, decimal.Decimal("20.25"))],
        "id long, amt decimal(12,2)",
    ).coalesce(1).write.parquet(path)
    spark.createDataFrame(
        [(3, decimal.Decimal("100.00")), (4, decimal.Decimal("250.75"))],
        "id long, amt decimal(12,2)",
    ).coalesce(1).write.mode("append").parquet(path)

    m = [e for e in build_manifest(path) if e["rows"]]
    assert all(e["columns"]["amt"]["min"] is not None for e in m)
    kept = prune(m, [("amt", ">", decimal.Decimal("50"))])
    assert len(kept) == 1
    # int literals compare against Decimal stats too
    assert len(prune(m, [("amt", "<=", 25)])) == 1
    # equality inside one file's range
    assert len(prune(m, [("amt", "=", decimal.Decimal("20.25"))])) == 1


def test_sidecar_roundtrip_preserves_types_and_seeds_cold_start(spark, tmp_path, monkeypatch):
    """write_manifest v2: type-tagged stats survive the JSON round trip
    (dates/decimals compare correctly after reload), and cached_manifest
    seeds a FRESH process from the sidecar without re-reading footers."""
    import datetime
    import decimal

    from infinidb_spark.sources import manifest as M

    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, decimal.Decimal("10.50"), datetime.date(2024, 1, 2))],
        "id long, amt decimal(12,2), d date",
    ).coalesce(1).write.parquet(path)

    m = [e for e in M.build_manifest(path) if e["rows"]]
    side = str(tmp_path / "t" / M.SIDECAR_NAME)
    M.write_manifest(m, side)

    loaded = [e for e in M.read_manifest(side) if e["rows"]]
    c = loaded[0]["columns"]
    assert c["amt"]["min"] == decimal.Decimal("10.50")
    assert c["d"]["min"] == datetime.date(2024, 1, 2)
    assert isinstance(c["id"]["min"], int)

    # cold start: empty caches + harvest disabled -> sidecar must carry
    M._MANIFEST_CACHE.clear()
    M._FILE_ENTRY_CACHE.clear()
    calls = []
    monkeypatch.setattr(M, "_harvest_file", lambda f: calls.append(f))
    got = [e for e in M.cached_manifest(path) if e["rows"]]
    assert calls == []  # zero footer reads
    assert got[0]["columns"]["amt"]["min"] == decimal.Decimal("10.50")
    # pruning works off the seeded stats
    assert M.prune(got, [("amt", ">", decimal.Decimal("50"))]) == []
    assert len(M.prune(got, [("amt", "<=", 25)])) == 1


def test_restored_copy_resolves_against_its_own_directory(spark, tmp_path):
    """A table directory copied/restored TOGETHER with its sidecar must
    resolve manifest entries against the COPY's directory, even while
    the original directory still exists (review finding: the persisted
    absolute 'dir' used to win whenever it was still present)."""
    import shutil

    from infinidb_spark.sources import manifest as M

    orig = str(tmp_path / "orig")
    spark.createDataFrame([(1, 10), (2, 20)], "id long, v long").coalesce(
        1
    ).write.parquet(orig)
    m = [e for e in M.build_manifest(orig) if e["rows"]]
    M.write_manifest(m, os.path.join(orig, M.SIDECAR_NAME))

    restored = str(tmp_path / "restored")
    shutil.copytree(orig, restored)

    loaded = M.read_manifest(os.path.join(restored, M.SIDECAR_NAME))
    assert loaded, "restored sidecar must load"
    for e in loaded:
        assert e["file"].startswith(restored + os.sep), e["file"]
    # the original's sidecar still resolves against the original
    loaded_orig = M.read_manifest(os.path.join(orig, M.SIDECAR_NAME))
    for e in loaded_orig:
        assert e["file"].startswith(orig + os.sep), e["file"]


def test_sidecar_inode_mismatch_triggers_reharvest(spark, tmp_path, monkeypatch):
    """A file rewritten with IDENTICAL (mtime_ns, size) but a new inode
    must NOT be served from the sidecar seed (stale min/max could
    mis-prune); the harvest-time inode in the v2 sidecar catches it."""
    from infinidb_spark.sources import manifest as M

    path = str(tmp_path / "t")
    spark.createDataFrame([(1,), (2,)], "id long").coalesce(1).write.parquet(path)
    m = [e for e in M.build_manifest(path) if e["rows"]]
    M.write_manifest(m, os.path.join(path, M.SIDECAR_NAME))

    # rewrite the data file via copy+rename (new inode), pin old mtime
    f = m[0]["file"]
    st = os.stat(f)
    tmp = f + ".new"
    shutil.copyfile(f, tmp)
    os.utime(tmp, ns=(st.st_atime_ns, st.st_mtime_ns))
    os.replace(tmp, f)
    st2 = os.stat(f)
    assert (st2.st_mtime_ns, st2.st_size) == (st.st_mtime_ns, st.st_size)
    if st2.st_ino == st.st_ino:
        pytest.skip("filesystem reused the inode — scenario not reproducible")

    M._MANIFEST_CACHE.clear()
    M._FILE_ENTRY_CACHE.clear()
    harvested = []
    real_harvest = M._harvest_file
    monkeypatch.setattr(
        M, "_harvest_file", lambda p: (harvested.append(p), real_harvest(p))[1]
    )
    M.cached_manifest(path)
    assert harvested, "inode change must force a re-harvest"


def test_temporal_literal_forms_prune(spark, sf_dir):
    """Date extent elimination must be LIVE for the common literal
    forms — ISO strings and datetime.date against datetime stats
    previously raised TypeError inside the comparison and silently
    kept every file."""
    import datetime
    import os

    from infinidb_spark.sources.manifest import _may_match, build_manifest

    m = build_manifest(os.path.join(sf_dir, "lineitem.parquet"))
    e = m[0]
    assert isinstance(e["columns"]["l_shipdate"]["min"], datetime.datetime)
    # provably out-of-range bounds must ELIMINATE (False), in-range keep
    assert _may_match(e, ("l_shipdate", "<", "1990-01-01")) is False
    assert _may_match(e, ("l_shipdate", "<", datetime.date(1990, 1, 1))) is False
    assert _may_match(e, ("l_shipdate", ">", "2030-01-01")) is False
    assert _may_match(e, ("l_shipdate", "<", "2030-01-01")) is True
    assert _may_match(e, ("l_shipdate", "between", "1990-01-01", "2030-01-01")) is True
    assert _may_match(e, ("l_shipdate", "between", "1980-01-01", "1990-01-01")) is False


def test_gate_elimination_layout_actually_prunes(spark, sf_dir):
    """The extent_elimination_scan gate query must exercise REAL
    pruning: its clustered layout eliminates most files for the 100-900
    key range (a single-file table can never eliminate, which had left
    the machinery green-but-unexercised)."""
    import __spark_entry__ as entry_mod
    from infinidb_spark.plans.sources import _workdir
    from infinidb_spark.sources.manifest import build_manifest, prune
    import os

    entry_mod.queries()["extent_elimination_scan"](spark, sf_dir).collect()
    clustered = os.path.join(_workdir(sf_dir, "extcluster"), "lineitem_by_key")
    m = build_manifest(clustered)
    kept = prune(m, [("l_orderkey", "between", 100, 900), ("l_quantity", ">=", 5)])
    assert len(m) >= 4 and len(kept) < len(m), (len(m), len(kept))


def test_scan_with_manifest_single_file(spark, tmp_path):
    """A single parquet FILE path prunes like a one-file table."""
    import os

    from infinidb_spark.sources.manifest import scan_with_manifest

    p = str(tmp_path / "one")
    spark.range(100).selectExpr("id AS a").coalesce(1).write.parquet(p)
    f = [x for x in os.listdir(p) if x.endswith(".parquet")][0]
    df = scan_with_manifest(spark, os.path.join(p, f), [("a", ">", 90)])
    assert df.count() == 9


def test_scan_with_manifest_writes_nothing(spark, tmp_path):
    """A default scan of a WRITABLE table is read-only: the same
    survivors as pruning the table's extent map by hand, and no
    <path>.__manifest__ directory or any other file appears next to
    the data or inside it."""
    import os

    from infinidb_spark.sources.manifest import cached_manifest, scan_with_manifest

    t = str(tmp_path / "t")
    spark.range(100).selectExpr("id AS k", "id % 7 AS v").repartitionByRange(
        4, "k"
    ).write.parquet(t)
    before = (sorted(os.listdir(tmp_path)), sorted(os.listdir(t)))

    preds = [("k", ">=", 50)]
    got = scan_with_manifest(spark, t, preds)
    want = prune(cached_manifest(t), preds)
    assert 1 <= len(want) < 4  # elimination really happens
    assert sorted(got.inputFiles()) == sorted("file://" + f for f in want)
    assert got.count() == 50
    assert not os.path.exists(t + ".__manifest__")
    assert (sorted(os.listdir(tmp_path)), sorted(os.listdir(t))) == before


def test_partitioned_table_scan_is_not_vacuous(spark, tmp_path):
    """A hive-partitioned table has NO top-level member files; the
    pruner previously read that as an empty manifest and returned ZERO
    rows for a table full of data (code-review r08).  It now falls back
    to a plain filtered scan (partition pruning still applies
    natively)."""
    from infinidb_spark.sources.manifest import scan_with_manifest

    t = str(tmp_path / "pt")
    spark.range(100).selectExpr("id AS k", "id % 3 AS dt").write.partitionBy(
        "dt"
    ).parquet(t)
    preds = [("k", ">", 5)]
    assert scan_with_manifest(spark, t, preds).count() == 94
