"""Source/sink corpus: bulk load roundtrip, pseudo-columns, cross-engine
JDBC — the SURVEY §2.1 operators that aren't plain Parquet scans.

The bulk-load and cross-engine queries route the DATA through the
source under test (CSV roundtrip / an embedded Derby database) and then
aggregate, so the DuckDB oracle hash-verifies the source's fidelity,
not just the aggregation.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from infinidb_spark.plans.registry import query
from infinidb_spark.session import load_tables
from infinidb_spark.sources.bulk_load import bulk_load_csv
from infinidb_spark.sources.manifest import scan_with_manifest
from infinidb_spark.sources.cross_engine import (
    DERBY_DRIVER,
    read_jdbc_table,
    write_jdbc_table,
)
from infinidb_spark.sources.pseudocol import extent_min_max, with_pseudo_columns


def _workdir(sf_dir: str, kind: str, version: str = "") -> str:
    """Per-(sf_dir, kind) scratch dir whose NAME carries the source
    data's identity (abspath + every parquet's mtime_ns/size).  The
    build-once sentinels inside are therefore self-invalidating: a
    regenerated testdata dir — or a different dir sharing a basename —
    gets a fresh workdir instead of silently serving stale exports
    while the oracle reads the new parquet (the same identity rule as
    session.load_tables' cache key)."""
    import hashlib

    h = hashlib.md5(os.path.abspath(sf_dir).encode())
    # version folds BUILDER identity into the key: an export-shaping
    # code change bumps it so the sentinel self-invalidates, instead of
    # relying on someone remembering to rename the kind string
    h.update(f"|v:{version}".encode())
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            st = os.stat(os.path.join(sf_dir, f))
            h.update(f"|{f}:{st.st_mtime_ns}:{st.st_size}".encode())
    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    return f"/tmp/infinidb_spark_{kind}_{tag}_{h.hexdigest()[:10]}"


def _build_once(work: str, done_name: str, build, clear: tuple = ()) -> None:
    """Crash-safe build-once block — ONE copy of the semantics that six
    hand copies had drifted on: sentinel check, clear stale outputs
    from a crashed previous attempt, mkdir, build(), touch sentinel."""
    done = os.path.join(work, done_name)
    if os.path.exists(done):
        return
    for p in clear:
        shutil.rmtree(p, ignore_errors=True)
    os.makedirs(work, exist_ok=True)
    build()
    open(done, "w").close()


def _clustered_lineitem(spark: SparkSession, sf_dir: str) -> str:
    """Build-once 8-file l_orderkey-clustered lineitem layout shared by
    BOTH extent-elimination queries.  ONE owner for the layout
    contract: the two queries share the same workdir + sentinel, so two
    inline copies could silently hand one query a layout built with the
    other's parameters if they drifted."""
    from infinidb_spark.sources.layout import cluster_write

    src = os.path.join(sf_dir, "lineitem.parquet")
    work = _workdir(sf_dir, "extcluster")
    clustered = os.path.join(work, "lineitem_by_key")
    _build_once(
        work, "_clustered",
        lambda: cluster_write(
            spark.read.parquet(src), clustered, ["l_orderkey"], n_files=8
        ),
        clear=(clustered,),
    )
    return clustered


@query(
    "bulk_load_csv_roundtrip",
    oracle="""
    SELECT s_nationkey,
           count(*)                  AS n_suppliers,
           round(sum(s_acctbal), 4)  AS sum_acctbal
    FROM supplier
    GROUP BY s_nationkey
    """,
)
def bulk_load_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cpimport equivalent (`writeengine/bulk/cpimport.cpp:102`): export
    supplier to delimited text, bulk-load it back with an explicit
    schema, aggregate the LOADED rows — the oracle runs on the original
    table, so a hash match proves the load is lossless."""
    supplier = load_tables(spark, sf_dir, names=("supplier",))["supplier"]
    work = _workdir(sf_dir, "bulk")
    csv_dir = os.path.join(work, "supplier_csv")
    # quote/escape EXPLICIT and mirrored by the reader below: the
    # writer's default quoting wraps any field containing '|' or a
    # quote, and a quote-disabled reader would read the quote
    # characters back as data — a silently lossy "roundtrip"
    _build_once(
        work, "_csv_done",
        lambda: supplier.write.mode("overwrite").option("sep", "|").option(
            "header", False
        ).option("quote", '"').option("escape", "\\").csv(csv_dir),
        clear=(csv_dir,),
    )
    result = bulk_load_csv(
        spark, csv_dir, supplier.schema, delimiter="|", quote='"', escape="\\"
    )
    assert result.rows_rejected == 0, "clean export must load without rejects"
    result.unpersist()  # counts done, no rejects to inspect — drop the scan cache
    return (
        result.loaded.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.round(F.sum("s_acctbal"), 4).alias("sum_acctbal"),
        )
    )


@query(
    "pseudo_columns",
    # LAYOUT-INDEPENDENT output (the old shape emitted one row per
    # segment FILE and pinned the filename — correct only for the
    # single-file sf0.01/sf0.1 layout; the sf1 directory layout has 8
    # part files and the oracle cannot see them).  The per-segment
    # grouping still runs inside the plan; the outer aggregate folds it
    # to totals plus a plumbing invariant that holds at ANY layout:
    # every segment is non-empty and carries exactly one extent id.
    oracle="""
    SELECT count(*)             AS n_rows,
           min(l_orderkey)      AS key_min,
           max(l_orderkey)      AS key_max,
           CAST(1 AS BIGINT)    AS plumbing_ok
    FROM lineitem
    """,
)
def pseudo_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PseudoColStep (`dbcon/joblist/primitivestep.h:1348`,
    `ha_pseudocolumn.cpp:29-51`): per-segment-file row counts + extent
    min/max of the key — the `idb*` storage-metadata family on a
    Parquet scan."""
    path = os.path.join(sf_dir, "lineitem.parquet")
    li = spark.read.parquet(path)
    enriched = extent_min_max(
        with_pseudo_columns(li, ["idbsegment", "idbextentid", "idbblockid"]),
        "l_orderkey",
    )
    per_seg = enriched.groupBy("idbsegment").agg(
        F.count(F.lit(1)).alias("seg_rows"),
        F.min("idbextentmin").alias("seg_min"),
        F.max("idbextentmax").alias("seg_max"),
        F.count_distinct("idbextentid").alias("seg_extents"),
    )
    return per_seg.agg(
        F.sum("seg_rows").alias("n_rows"),
        F.min("seg_min").alias("key_min"),
        F.max("seg_max").alias("key_max"),
        F.count(F.lit(1)).alias("_n_segs"),
        F.min("seg_rows").alias("_min_rows"),
        F.min("seg_extents").alias("_min_ext"),
        F.max("seg_extents").alias("_max_ext"),
    ).select(
        "n_rows",
        "key_min",
        "key_max",
        F.when(
            (F.col("_n_segs") >= 1)
            & (F.col("_min_rows") > 0)
            & (F.col("_min_ext") == 1)
            & (F.col("_max_ext") == 1),
            F.lit(1),
        ).otherwise(F.lit(0)).cast("bigint").alias("plumbing_ok"),
    )


@query(
    "extent_elimination_scan",
    oracle="""
    SELECT l_returnflag,
           count(*)                         AS n_rows,
           round(sum(l_extendedprice), 2)   AS revenue,
           min(l_orderkey)                  AS key_min,
           max(l_orderkey)                  AS key_max
    FROM lineitem
    WHERE l_orderkey BETWEEN 100 AND 900 AND l_quantity >= 5
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def extent_elimination_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Casual-partitioning extent elimination (`dbcon/joblist/
    lbidlist.h:80-114`, `tuple-bps.cpp:258-260`): the scan is planned
    against a footer-stats manifest so files whose [min, max] cannot
    satisfy the filter never become input splits; predicates are
    re-applied after pruning, so the oracle (plain WHERE over the full
    table) hash-verifies that elimination is result-transparent.

    The table is first range-clustered into 8 files on l_orderkey
    (sources/layout.cluster_write) so elimination is REAL — the
    driver's single-file tables can never drop a file, which would
    leave the pruning machinery green-but-unexercised; with the
    clustered layout the 100-900 key range provably eliminates the
    out-of-range files (pinned by tests/test_manifest.py)."""
    pruned = scan_with_manifest(
        spark,
        _clustered_lineitem(spark, sf_dir),
        [("l_orderkey", "between", 100, 900), ("l_quantity", ">=", 5)],
    )
    return (
        pruned.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
            F.min("l_orderkey").alias("key_min"),
            F.max("l_orderkey").alias("key_max"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "manifest_sharded_scan",
    oracle="""
    SELECT l_linestatus,
           count(*)                         AS n_rows,
           round(sum(l_extendedprice), 2)   AS revenue,
           min(l_orderkey)                  AS key_min,
           max(l_orderkey)                  AS key_max
    FROM lineitem
    WHERE l_orderkey BETWEEN 1200 AND 2400 AND l_discount <= 0.05
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
)
def manifest_sharded_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extent elimination on a second key range plus a DOUBLE predicate
    (``l_discount <= 0.05``), through the same extent map as
    extent_elimination_scan (`versioning/BRM/extentmap.h:103`): over
    the shared clustered layout it is served from ``cached_manifest``'s
    memo instead of re-reading footers.  Same result-transparency
    contract: the oracle is a plain WHERE over the full table.  The
    name dates from a second, sharded pruner that has been removed; it
    stays because the harness registry lists it."""
    pruned = scan_with_manifest(
        spark,
        _clustered_lineitem(spark, sf_dir),
        [("l_orderkey", "between", 1200, 2400), ("l_discount", "<=", 0.05)],
    )
    return (
        pruned.groupBy("l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
            F.min("l_orderkey").alias("key_min"),
            F.max("l_orderkey").alias("key_max"),
        )
        .orderBy("l_linestatus")
    )


@query(
    "cross_engine_join",
    oracle="""
    SELECT r_name,
           count(*)                 AS n_nations,
           min(n_name)              AS first_nation
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def cross_engine_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CrossEngineStep (`dbcon/joblist/crossenginestep.h:47`): the
    nation dim lives in a foreign row-store (embedded Derby), is read
    over JDBC inside the plan and joined with the columnar region table;
    the oracle runs on the original — a hash match proves JDBC-path
    fidelity.  Foreign dim ⋈ broadcast — the reference's canonical
    cross-engine shape."""
    jvm = spark._jvm
    jvm.java.lang.System.setProperty("derby.system.home", "/tmp")
    tables = load_tables(spark, sf_dir, names=("nation", "region"))
    work = _workdir(sf_dir, "derby")
    url = f"jdbc:derby:{work}/db;create=true"
    _build_once(
        work, "_loaded",
        lambda: write_jdbc_table(
            tables["nation"], url, "nation", driver=DERBY_DRIVER,
            mode="overwrite",
        ),
    )
    foreign_nation = read_jdbc_table(spark, url, "nation", driver=DERBY_DRIVER)
    return (
        foreign_nation.join(
            F.broadcast(tables["region"]),
            foreign_nation.n_regionkey == F.col("r_regionkey"),
        )
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.min("n_name").alias("first_nation"),
        )
    )


@query(
    "outfile_export_roundtrip",
    oracle="""
    -- probe mirrors the Spark-side injection: NULL every 7th order,
    -- else a value containing the field separator and the escape char
    -- — so the \\N marker and the escaping chain are EXERCISED (the
    -- clean orders columns alone contain neither)
    WITH x AS (
      SELECT o_orderstatus, o_orderpriority, o_totalprice,
             CASE WHEN o_orderkey % 7 = 0 THEN NULL
                  ELSE o_orderstatus || '|p\\q"' || CAST(o_orderkey AS VARCHAR)
             END AS probe
      FROM orders
    )
    SELECT o_orderstatus,
           o_orderpriority,
           count(*)                     AS n_orders,
           round(sum(o_totalprice), 4)  AS sum_price,
           CAST(count(probe) AS BIGINT) AS n_probe,
           CAST(sum(CASE WHEN probe IS NULL THEN 0
                    ELSE ('0x' || substr(md5(probe), 1, 7))::BIGINT END)
                AS BIGINT)              AS probe_sum
    FROM x
    GROUP BY o_orderstatus, o_orderpriority
    """,
)
def outfile_export_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT INTO OUTFILE → re-ingest → aggregate: orders exported
    through the MySQL-format text sink (sources/export.py — headerless,
    \\N nulls, ESCAPED BY), loaded back with the cpimport-analog reader,
    and aggregated.  The oracle runs on the ORIGINAL table, so a hash
    match proves the export byte format is lossless through a full
    out-and-back cycle (the reference pairing: SELECT INTO OUTFILE +
    cpimport, `writeengine/bulk/cpimport.cpp:102`)."""
    import shutil

    from infinidb_spark.sources.export import NULL_MARKER, export_outfile

    orders = load_tables(spark, sf_dir, names=("orders",))["orders"]
    # probe column: NULL every 7th order (exercises the \N marker),
    # else text containing the separator AND the escape char, so the
    # escaping chain is live in the gate — clean orders data contains
    # neither, which made the lossless claim vacuous before
    orders = orders.withColumn(
        "probe",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None)).otherwise(
            F.concat(
                F.col("o_orderstatus"), F.lit('|p\\q"'),
                F.col("o_orderkey").cast("string"),
            )
        ),
    )
    cols = ["o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice", "probe"]
    work = _workdir(sf_dir, "outfile2")
    out_dir = os.path.join(work, "orders_txt")
    # ENCLOSED BY mode: the probe embeds the separator, the escape
    # char AND the quote char, which the unquoted mode cannot carry
    # through Spark's CSV reader (it only unescapes inside quotes)
    _build_once(
        work, "_outfile_done",
        lambda: export_outfile(
            orders.select(*cols), out_dir, sep="|", quote='"', escape="\\"
        ),
        clear=(out_dir,),
    )
    schema = orders.select(*cols).schema
    result = bulk_load_csv(
        spark, out_dir, schema, delimiter="|", null_value=NULL_MARKER,
        quote='"', escape="\\",
    )
    assert result.rows_rejected == 0, "outfile export must reload without rejects"
    result.unpersist()
    return result.loaded.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 4).alias("sum_price"),
        F.count("probe").alias("n_probe"),
        F.sum(
            F.coalesce(
                F.conv(F.substring(F.md5("probe"), 1, 7), 16, 10).cast("long"),
                F.lit(0),
            )
        ).alias("probe_sum"),
    )


@query(
    "jsonl_load_roundtrip",
    oracle="""
    -- the appended tail carries every JSON-escape-sensitive shape
    -- (double quote, backslash, non-ascii, a raw newline) so the
    -- checksum is NON-vacuous on clean corpus text
    WITH x AS (
      SELECT lang, doc_id, n_chars,
             text || ' "\\qé' || chr(10) || CAST(doc_id AS VARCHAR) AS xt
      FROM documents
    )
    SELECT lang,
           count(*)                     AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars_total,
           CAST(min(doc_id) AS BIGINT)  AS first_doc,
           CAST(sum(('0x' || substr(md5(xt), 1, 7))::BIGINT) AS BIGINT)
             AS text_sum
    FROM x
    GROUP BY lang
    """,
)
def jsonl_load_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL ingest — the interchange format of web-crawl / LLM-corpus
    dumps: documents exported as newline-delimited JSON, re-loaded with
    the schema'd PERMISSIVE reader (sources/bulk_load.bulk_load_jsonl),
    aggregated.  Oracle runs on the original table, and the text gets
    a deterministic tail carrying every JSON-escape-sensitive shape
    (quote, backslash, non-ascii, raw newline — the clean corpus has
    none, which made the lossless claim vacuous before): the checksum
    column proves the JSON string roundtrip is lossless."""
    from infinidb_spark.sources.bulk_load import bulk_load_jsonl

    docs = load_tables(spark, sf_dir, names=("documents",))["documents"]
    docs = docs.withColumn(
        "xt",
        F.concat(
            F.col("text"), F.lit(' "\\qé\n'),
            F.col("doc_id").cast("string"),
        ),
    )
    cols = ["doc_id", "lang", "n_chars", "xt"]
    work = _workdir(sf_dir, "jsonl", version="2")
    out_dir = os.path.join(work, "docs_jsonl")
    _build_once(
        work, "_jsonl_done",
        lambda: docs.select(*cols).write.json(out_dir),
        clear=(out_dir,),
    )
    result = bulk_load_jsonl(spark, out_dir, docs.select(*cols).schema)
    assert result.rows_rejected == 0, "clean export must load without rejects"
    result.unpersist()
    return result.loaded.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("chars_total"),
        F.min("doc_id").alias("first_doc"),
        F.sum(
            F.conv(F.substring(F.md5("xt"), 1, 7), 16, 10).cast("long")
        ).alias("text_sum"),
    )


@query(
    "orc_storage_parity",
    oracle="""
    SELECT o_orderstatus,
           count(*)                     AS n,
           round(sum(o_totalprice), 4)  AS sum_price
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def orc_storage_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alternate columnar store: orders written as ORC and aggregated
    from the ORC scan — the same columnar contract (column pruning,
    stripe stats ≅ extents) through Spark's second native column
    format.  Oracle on the original Parquet proves value fidelity."""
    orders = load_tables(spark, sf_dir, names=("orders",))["orders"]
    work = _workdir(sf_dir, "orc")
    out_dir = os.path.join(work, "orders_orc")
    _build_once(
        work, "_orc_done",
        lambda: orders.write.orc(out_dir),
        clear=(out_dir,),
    )
    return (
        spark.read.orc(out_dir)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 4).alias("sum_price"),
        )
    )


@query(
    "xml_load_roundtrip",
    oracle="""
    -- the appended tail contains every XML-escape-sensitive character
    -- (< > & ' ") so the checksum is NON-vacuous on clean corpus text
    WITH x AS (
      SELECT source, doc_id, n_chars,
             text || ' <t q=''"''>&' || CAST(doc_id AS VARCHAR) || '</t>' AS xt
      FROM documents
    )
    SELECT source,
           count(*)                     AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars_total,
           CAST(min(doc_id) AS BIGINT)  AS first_doc,
           CAST(sum(('0x' || substr(md5(xt), 1, 7))::BIGINT) AS BIGINT)
             AS text_sum
    FROM x
    GROUP BY source
    """,
)
def xml_load_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML ingest/export — Spark 4's native XML source (the spark-xml
    package merged upstream): documents exported as row-tagged XML and
    re-loaded with an explicit schema, aggregated per source.  The text
    gets a deterministic tail containing every escape-sensitive
    character (the synthetic corpus itself has none — an un-exercised
    escaping path would make the checksum vacuous), so the md5-checksum
    column proves entity escaping of < > & ' \" roundtrips losslessly;
    the read is schema'd, never inference."""
    docs = load_tables(spark, sf_dir, names=("documents",))["documents"]
    docs = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" <t q='\"'>&"),
            F.col("doc_id").cast("string"),
            F.lit("</t>"),
        ),
    )
    work = _workdir(sf_dir, "xmlesc")
    out_dir = os.path.join(work, "documents_xml")
    _build_once(
        work, "_xml_done",
        lambda: docs.write.format("xml").option("rootTag", "docs").option(
            "rowTag", "doc"
        ).save(out_dir),
        clear=(out_dir,),
    )
    loaded = (
        spark.read.format("xml")
        .option("rowTag", "doc")
        # keep edge whitespace: the reader's default trims text values,
        # silently breaking the lossless-on-any-data contract for
        # documents with leading/trailing whitespace
        .option("ignoreSurroundingSpaces", False)
        .schema(docs.schema)
        .load(out_dir)
    )
    # text_sum: per-doc md5-derived checksum SUMMED per group — any
    # escaping loss in a single document's text flips the hash
    return loaded.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("chars_total"),
        F.min("doc_id").alias("first_doc"),
        F.sum(
            F.conv(F.substring(F.md5("text"), 1, 7), 16, 10).cast("long")
        ).alias("text_sum"),
    )
