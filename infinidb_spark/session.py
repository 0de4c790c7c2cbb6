"""Session + catalog management.

Replaces the reference's mysqld→ExeMgr front half (plan translation in
``dbcon/mysql/ha_calpont_execplan.cpp:4076`` ``getSelectPlan`` and JobList
compilation in ``dbcon/joblist/joblistfactory.cpp:1788``) with a configured
``SparkSession``: ``spark.sql()`` / DataFrame IS the plan IR, Catalyst the
compiler, Spark stages the JobList.

Scale notes (tuned for local[32] testing, designed for a 1000-executor
cluster reading 100 TB):

* AQE on — runtime re-plan replaces the reference's RowEstimator-based
  join ordering (ref ``dbcon/joblist/rowestimator.h:43``) and its
  CP-extent row estimates; AQE also coalesces post-shuffle partitions
  and handles skew joins (ref grace-hash ``DiskJoinStep``,
  ``dbcon/joblist/diskjoinstep.h:28``, is Spark-native spill).
* autoBroadcastJoinThreshold stays at Spark's 10 MB default.  The
  engine historically raised it to 64 MB to mirror the reference's
  PM-join small-side cap ``PmMaxMemorySmallSide``
  (ref ``dbcon/joblist/resourcemanager.h:56``), but the broadcast
  build is DRIVER-serial (collect + hash-relation construction), and
  measurement at sf1 showed multi-second builds of 1.5 M-row sides
  losing 2-4× to a 32-way shuffle (tpch_q5 4.37→1.04 s, q3 3.40→0.84,
  q21 3.29→1.03; bench at sf0.1 unchanged — no side there sits in the
  10-64 MB band).  At 100 TB oversized broadcasts are driver OOMs, not
  wins.  ``SPARK_GRAFT_BHT`` overrides (bytes) for deployments whose
  dimension tables genuinely fit.
* shuffle.partitions is a local default; on a real cluster set it to
  2-3× total cores or rely on AQE coalescing.
* session timezone pinned UTC so date/time semantics are deterministic
  and match the DuckDB oracle.
"""

from __future__ import annotations

import itertools
import os

from pyspark.sql import DataFrame, SparkSession

#: Tables the driver materializes (TESTDATA.md).
TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _local_dir() -> str | None:
    """Shuffle/spill scratch directory (``spark.local.dir``).

    Order: $SPARK_GRAFT_LOCAL_DIR override → /dev/shm (tmpfs) when
    writable AND comfortably sized → None (Spark default /tmp).
    Shuffle files on this box's ext4 VM disk pay millisecond-class
    create/write latency per block file — measured 10.4 s of
    shuffleWriteTime (71 % of the stage) on a 32-task stage writing
    0.5 MB total; tmpfs cuts it ~2.5× (guide §2.1: local disk
    bandwidth/latency can be the shuffle's tighter limit).
    On a production cluster this is the standard "point local dirs at
    the fast local disks" knob (guide §9) — set the env var to the
    NVMe/SSD array there; tmpfs is the local-sandbox analog.

    Size guard: containers commonly cap /dev/shm at 64 MB, and a tmpfs
    fills RAM rather than spilling — a shuffle larger than the mount
    would die mid-stage with a "No space left on device" the user
    cannot connect to this default.  tmpfs is therefore selected only
    when it reports ≥ 8 GiB free (far above any local-mode shuffle this
    engine runs, far below a real deployment's data); anything smaller
    falls back to the Spark default, which spills to disk gracefully.
    The env override skips the guard — an operator pointing at a
    deliberately small fast device owns that sizing.
    """
    override = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if override:
        return override
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        try:
            st = os.statvfs("/dev/shm")
            if st.f_bavail * st.f_frsize < 8 * 1024**3:
                return None
        except OSError:
            return None
        d = "/dev/shm/spark-graft-local"
        try:
            os.makedirs(d, exist_ok=True)
            return d
        except OSError:
            return None
    return None


def get_spark(app_name: str = "infinidb-spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's default tuning."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    local_dir = _local_dir()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # AQE: runtime join-strategy switch, partition coalescing, skew-join
        # splitting — replaces reference RowEstimator + DiskJoinStep logic.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalescePartitions.parallelismFirst stays at Spark's default
        # (true): the coalesce target is then min(64 MB advisory,
        # total/defaultParallelism) — a WIDTH FLOOR, so any post-shuffle
        # stage with enough bytes runs at least cluster-wide while
        # sub-MB exchanges still collapse to one task.  The previous
        # `false` (advisory-only) byte-coalesced every 1-64 MB exchange
        # to ONE task: measured on tpch_q18 at sf1, the HAVING
        # aggregate's 38.9 MB exchange ran its final agg single-task
        # for 2.86 s of a 4.9 s wall — the same pathology at any scale
        # where a high-cardinality aggregation's partial output lands
        # under the advisory.  Large shuffles still split by the 64 MB
        # advisory (the floor only ever LOWERS the target).  A 6-round
        # interleaved bench A/B shows no measurable sf0.1 cost for the
        # default (minima 4.175 vs 4.294 s, inside the box's noise
        # band), so no override.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Broadcast cap: Spark's 10 MB default (see module docstring —
        # the 64 MB reference-mirroring cap lost to measurement at sf1:
        # driver-serial builds of 1.5 M-row sides cost 2-4× a 32-way
        # shuffle).  Env-overridable (SPARK_GRAFT_BHT, bytes).
        .config(
            "spark.sql.autoBroadcastJoinThreshold",
            os.environ.get("SPARK_GRAFT_BHT", str(10 * 1024 * 1024)),
        )
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for any pandas_udf path (dedup/similarity/multimodal).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # ANSI off: reference is MySQL-5.1-permissive (silent NULL on bad
        # casts, no overflow errors) — matches oracle-facing semantics.
        .config("spark.sql.ansi.enabled", "false")
        # FAIR scheduling so per-query priority pools work (the query-
        # priority / resource-governor analog, ref
        # joblist/resourcedistributor.cpp; see InfiniSession.priority).
        .config("spark.scheduler.mode", "FAIR")
        # events.parquet carries TIMESTAMP(NANOS); read as long then
        # convert (see load_tables) — Spark has no native nanos reader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Generated-class cache (static conf; default 100 entries).  This
        # engine serves a ~200-query corpus at ~8 codegen stages each:
        # at 100 entries the cache THRASHES — every query's generated
        # classes are evicted before its next run, each rerun recompiles
        # (janino) AND restarts JIT profiling from zero on the fresh
        # class.  Measured on the 15-query bench: eviction inflated the
        # minhash verify stage 47× CPU (0.5 → 23.6 CPU-s) and the whole
        # bench 7.1 → 4.6 s once sized to hold the working set.  Same
        # reasoning holds on a long-running cluster serving a query
        # fleet; ~10k entries ≈ at most a few hundred MB of metaspace.
        .config("spark.sql.codegen.cache.maxEntries", "10000")
        # Spark UI off by default: the embedded Jetty UI + its listener
        # bus add measurable DRIVER latency per DataFrame op (measured
        # 6.7 → 5.0 ms/op on this box; ~0.3 s of a minhash query's ~45
        # ops — the bench's largest single non-execution cost).  A
        # query engine serving a fleet wants the listener path lean;
        # monitoring stays available two ways: the history-server event
        # log (cluster deployments), or SPARK_GRAFT_UI=1, which the
        # measurement harnesses (opt_measure --stages etc.) set to read
        # stage metrics over the UI's REST API.
        .config(
            "spark.ui.enabled",
            "true" if os.environ.get("SPARK_GRAFT_UI") else "false",
        )
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    return builder.getOrCreate()


def load_tables(
    spark: SparkSession,
    sf_dir: str,
    register: bool = True,
    names: tuple[str, ...] | None = None,
) -> dict[str, DataFrame]:
    """Register the driver's Parquet tables as temp views.

    The analog of InfiniDB's system catalog lookup
    (``CalpontSystemCatalog::makeCalpontSystemCatalog``,
    ref ``dbcon/execplan/calpontsystemcatalog.h:107``): a table is a
    directory of columnar data; here a Parquet file read through Spark's
    vectorized reader (which subsumes pColScanStep / pDictionaryScan,
    ref ``dbcon/joblist/primitivestep.h:357,674``).
    """
    from pyspark.sql import functions as F

    app_id = spark.sparkContext.applicationId
    # evict handles from dead applications — the cache never outgrows
    # one app's table set
    for k in [k for k in _TABLE_CACHE if k[0] != app_id]:
        _TABLE_CACHE.pop(k, None)
    for s in [s for s in _REGISTERED if s[0] != app_id]:
        _REGISTERED.pop(s, None)

    out: dict[str, DataFrame] = {}
    for name in names or TPCH_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        st = os.stat(path)
        # DataFrames and temp views are per-SparkSession, not per-
        # context; mtime+size catch a rewritten/regenerated file whose
        # first-read file listing would otherwise be served stale.
        ident = (app_id, _session_token(spark), sf_dir, name)
        key = (*ident, st.st_mtime_ns, st.st_size)
        # evict superseded versions of this table (rewritten file ⇒ new
        # mtime/size key) so pinned file listings can't accumulate
        for k in [k for k in _TABLE_CACHE if k[:4] == ident and k != key]:
            _TABLE_CACHE.pop(k, None)
        # the temp-view NAME is global to the Spark session: track which
        # key each (session, name) currently points to, so loading the
        # same table name from a DIFFERENT dir (or a rewritten file)
        # re-registers instead of silently serving the other dir's view
        view_slot = (app_id, _session_token(spark), name)
        cached = _TABLE_CACHE.get(key)
        if cached is not None:
            if register and _REGISTERED.get(view_slot) != key:
                cached.createOrReplaceTempView(name)
                _REGISTERED[view_slot] = key
            out[name] = cached
            continue
        df = spark.read.parquet(path)
        if name == "events" and dict(df.dtypes).get("ts") == "bigint":
            # TIMESTAMP(NANOS) read as long (nanosAsLong) → truncate to
            # micros, matching DuckDB's ns→µs truncation.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        _TABLE_CACHE[key] = df
        if register:
            df.createOrReplaceTempView(name)
            _REGISTERED[view_slot] = key
        out[name] = df
    return out


#: Session-identity tokens: id(spark) would alias a NEW session to a
#: dead one's cache entries after CPython address reuse (load_tables
#: would then skip createOrReplaceTempView against the live catalog).
#: A counter stamped ON the session object is collision-free; a session
#: that refuses the attribute just misses the cache (safe direction).
_TOKEN_SEQ = itertools.count(1)


def _session_token(spark: SparkSession) -> int:
    tok = getattr(spark, "_infinidb_cache_token", None)
    if tok is None:
        tok = next(_TOKEN_SEQ)
        try:
            spark._infinidb_cache_token = tok
        except Exception:
            return -id(spark)
    return tok


#: Memoized table handles — a DataFrame is an immutable logical plan, so
#: re-reading the Parquet footer per query is pure overhead.  Keyed by
#: (app id, session identity, dir, name, file mtime+size); dead-app
#: entries are evicted on every call.
_TABLE_CACHE: dict[tuple, DataFrame] = {}
#: (app id, session identity, view name) -> the cache key the session's
#: temp view currently serves — re-registration fires whenever the
#: pointer would change (different dir, rewritten file)
_REGISTERED: dict[tuple, tuple] = {}


class InfiniSession:
    """User-facing engine session — the mysqld+ExeMgr surface in one object.

    ``sql()`` is the SELECT entry point (ref lifecycle SURVEY.md §3.1);
    Catalyst replaces CSEP translation + JobList compilation entirely.
    """

    #: monotonically-assigned CONNECTION_ID() values, mysqld thread ids
    _CONN_SEQ: int = 0
    #: Spark jobs appear in PROCESSLIST/KILL as _JOB_ID_OFFSET + jobId —
    #: far above any realistic in-process connection count
    _JOB_ID_OFFSET: int = 1_000_000_000

    def __init__(self, spark: SparkSession | None = None, sf_dir: str | None = None):
        self.spark = spark or get_spark()
        self.tables: dict[str, DataFrame] = {}
        self._managed: dict[str, str] = {}  # writable tables: name -> dir
        # names created via CREATE VIEW: Spark registers views AND
        # managed tables as TEMPORARY temp views, so information_schema
        # needs this to report table_type='VIEW' correctly
        self._views: set[str] = set()
        self._managed_root: str | None = None
        # admin-UDF state (ref ha_calpont_impl.cpp cal* UDFs): trace flag
        # mirrors calsettrace/calgettrace, stats mirrors calgetstats
        self._trace: bool = False
        self._last_trace: str = ""
        self._last_stats: str = ""
        # typed-CREATE column metadata (DEFAULT exprs / NOT NULL names)
        # per managed table — applied on INSERT gap-filling
        self._table_meta: dict[str, dict] = {}
        # open transaction: table -> {"version": basename, "files": set}
        # (None = autocommit).  Snapshot taken lazily on first DML touch.
        self._txn: dict[str, dict] | None = None
        # ordered savepoints: (name, {table: snap}) — intermediate
        # states pinned the same way the base transaction snapshot is
        self._savepoints: list[tuple[str, dict]] = []
        #: SET autocommit — False means DML implicitly opens transactions
        self._autocommit: bool = True
        #: MySQL user variables (@name) and prepared statements
        self._user_vars: dict[str, object] = {}
        self._prepared: dict[str, str] = {}
        #: current schema (USE <db>) and session system variables —
        #: stored + echoed by SHOW VARIABLES; none changes engine
        #: behavior except autocommit (its own statement kind)
        self._schema: str = "infinidb"
        #: session diagnostics + identity (mysqld surface: SHOW WARNINGS,
        #: CONNECTION_ID(), LAST_INSERT_ID(), FOUND_ROWS(), ROW_COUNT())
        self._warnings: list[tuple[str, int, str]] = []
        InfiniSession._CONN_SEQ += 1
        self._conn_id: int = InfiniSession._CONN_SEQ
        self._last_insert_id: int = 0
        self._pending_sleeps: list[float] = []
        self._pending_liid: int | None = None
        self._found_rows: int = 0
        self._row_count: int = -1
        self._sysvars: dict[str, str] = {
            "version": "5.1.73-infinidb-spark",
            "version_comment": "infinidb_spark (PySpark engine)",
            "sql_mode": "",
            "character_set_client": "utf8mb4",
            "character_set_results": "utf8mb4",
            "character_set_connection": "utf8mb4",
            "collation_connection": "utf8mb4_bin",
            "time_zone": "UTC",
            "autocommit": "ON",
        }
        if sf_dir:
            self.load(sf_dir)

    def load(self, sf_dir: str) -> "InfiniSession":
        self.tables = load_tables(self.spark, sf_dir)
        return self

    def sql(self, query: str, dialect: str = "spark") -> DataFrame:
        """Run SQL; ``dialect="mysql"`` first routes the text through the
        MySQL-dialect translator (the mysqld front-end analog,
        infinidb_spark/dialect.py)."""
        if dialect == "mysql":
            from infinidb_spark.dialect import translate_mysql

            query = translate_mysql(
                query,
                strict_group_by="ONLY_FULL_GROUP_BY"
                in self._sysvars.get("sql_mode", "").upper(),
            )
        if "infoschema_" in query:
            # information_schema reference: refresh the snapshot views
            # so tables/columns created this session are visible
            from infinidb_spark.plans.catalog import register_information_schema

            register_information_schema(self.spark, self._views)
        if "systable" in query or "syscolumn" in query:
            # calpontsys-schema reference: same per-query refresh rule —
            # these are createDataFrame SNAPSHOTS, so without this a
            # table created this session never appears (and the first
            # query would fail TABLE_OR_VIEW_NOT_FOUND outright)
            from infinidb_spark.plans.catalog import register_system_catalog

            register_system_catalog(self.spark)
        df = self.spark.sql(query)
        if self._trace:
            # calsettrace(1) semantics: capture the plan of every query
            # run while tracing, retrievable with calgettrace()
            self._last_trace = df._jdf.queryExecution().explainString(
                self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        return df

    def table(self, name: str) -> DataFrame:
        return self.tables[name]

    def create_table_as(
        self,
        name: str,
        df: DataFrame,
        partition_by: list[str] | None = None,
    ) -> str:
        """Materialize ``df`` as a MANAGED (writable, versioned) table —
        the DDL surface DML statements operate on.  The sf_dir tables
        stay read-only; managed tables live under a session scratch root
        (operators/dml.py copy-on-write layout)."""
        import tempfile

        from infinidb_spark.operators.dml import create_table

        if self._managed_root is None:
            self._managed_root = tempfile.mkdtemp(prefix="infinidb_tables_")
        path = os.path.join(self._managed_root, name)
        create_table(df, path, partition_by)
        self._managed[name] = path
        self._refresh(name)
        return path

    def _fill_auto_increment(self, table: str, aligned):
        """AUTO_INCREMENT assignment for INSERT / LOAD DATA batches.

        The session keeps a ``next_ai`` counter per table (the analog of
        the reference's BRM auto-increment counter that cpimport
        reserves ranges from, writeengine/bulk/cpimport.cpp:102-168).
        Explicit values win; NULL/absent values get
        ``max(next_ai, batch_explicit_max + 1), …`` via the distributed
        per-partition scheme in operators/dml.py.  Returns
        ``(filled_df, persisted_handle_or_None)`` — the caller
        unpersists the handle after the write (the persist keeps the
        source query from running twice: once for the max/null-count
        agg, once for the write)."""
        meta = self._table_meta.get(table, {})
        ai = meta.get("auto_inc")
        if not ai or ai not in aligned.columns:
            return aligned, None
        from pyspark.sql import functions as F

        from infinidb_spark.operators.dml import assign_auto_increment

        aligned = aligned.persist()
        stats = aligned.agg(
            F.max(F.col(ai)).alias("mx"),
            F.sum(F.when(F.col(ai).isNull(), 1).otherwise(0)).alias("nn"),
        ).collect()[0]
        explicit_max = stats["mx"] if stats["mx"] is not None else 0
        n_null = stats["nn"] or 0
        start = max(int(meta.get("next_ai", 1)), int(explicit_max) + 1)
        filled = assign_auto_increment(aligned, ai, start) if n_null else aligned
        meta["next_ai"] = start + n_null
        if n_null:
            # LAST_INSERT_ID(): first auto-generated id of the last
            # INSERT (MySQL's documented multi-row rule)
            self._last_insert_id = start
        return filled, aligned

    _MYSQL_SHOW_TYPES = {
        "boolean": "BOOLEAN", "tinyint": "TINYINT", "smallint": "SMALLINT",
        "int": "INT", "integer": "INT", "bigint": "BIGINT", "float": "FLOAT",
        "double": "DOUBLE", "string": "TEXT", "date": "DATE",
        "timestamp": "DATETIME", "timestamp_ntz": "DATETIME", "binary": "BLOB",
    }

    @staticmethod
    def _mysql_like_rx(pattern: str):
        """MySQL LIKE pattern (% = any run, _ = any one char) as a
        case-insensitive anchored regex."""
        import re as _re

        return _re.compile(
            "^" + _re.escape(pattern).replace("%", ".*").replace("_", ".") + "$",
            _re.IGNORECASE,
        )

    def _table_schema(self, name: str):
        """Schema for SHOW COLUMNS / SHOW CREATE — managed tables read
        through the versioned reader (schema-merged), external tables
        from their registered DataFrame.  ONE resolution path so the
        two SHOW statements can never drift."""
        if name in self._managed:
            from infinidb_spark.operators.dml import read_table

            return read_table(self.spark, self._managed[name]).schema
        if name in self.tables:
            return self.tables[name].schema
        raise KeyError(f"no such table {name!r}")

    def _mysql_show_type(self, spark_type) -> str:
        """Spark type → the MySQL name SHOW statements print."""
        t = spark_type.simpleString()
        if t.startswith("decimal"):
            return f"DECIMAL{t[7:]}".replace(" ", "")
        return self._MYSQL_SHOW_TYPES.get(t, t.upper())

    def _show_columns(self, name: str):
        """SHOW COLUMNS FROM t / DESCRIBE t — MySQL's six-column shape
        (Field, Type, Null, Key, Default, Extra).  Key is always empty
        (the reference engine has no indexes); Extra carries
        auto_increment like mysqld does."""
        schema = self._table_schema(name)
        meta = self._table_meta.get(name, {})
        defaults = meta.get("defaults", {})
        notnull = set(meta.get("notnull", []))
        rows = []
        for f in schema.fields:
            mysql_t = self._mysql_show_type(f.dataType).lower()
            rows.append(
                (
                    f.name,
                    mysql_t,
                    "NO" if f.name in notnull else "YES",
                    "",
                    str(defaults[f.name]) if f.name in defaults else None,
                    "auto_increment" if f.name == meta.get("auto_inc") else "",
                )
            )
        return self.spark.createDataFrame(
            rows,
            "Field string, Type string, `Null` string, Key string, "
            "Default string, Extra string",
        )

    def _show_create(self, name: str):
        """SHOW CREATE TABLE — MySQL-style DDL text synthesized from the
        live schema (+ typed-CREATE NOT NULL/DEFAULT metadata when the
        table was declared through DDL), ENGINE=InfiniDB tag like every
        reference script (`dbcon/ddlpackage/ddl.y` output form).
        Returns the MySQL two-column result (Table, Create Table)."""
        schema = self._table_schema(name)
        meta = self._table_meta.get(name, {})
        defaults = meta.get("defaults", {})
        notnull = set(meta.get("notnull", []))
        lines = []
        for f in schema.fields:
            mysql_t = self._mysql_show_type(f.dataType)
            piece = f"  `{f.name}` {mysql_t}"
            if f.name in notnull:
                piece += " NOT NULL"
            if f.name in defaults:
                piece += f" DEFAULT {defaults[f.name]}"
            if f.name == meta.get("auto_inc"):
                piece += " AUTO_INCREMENT"
            lines.append(piece)
        ddl = (
            f"CREATE TABLE `{name}` (\n" + ",\n".join(lines) + "\n) ENGINE=InfiniDB"
        )
        if meta.get("codec") == "uncompressed":
            # round-trippable: re-running this DDL recreates the table
            # with the same storage setting (the reference's comment)
            ddl += " COMMENT='compression=0'"
        return self.spark.createDataFrame(
            [(name, ddl)], "Table string, `Create Table` string"
        )

    #: the mysqld identity the reference presents (MySQL 5.1.73 carrying
    #: the InfiniDB storage engine) — clients probe @@version at connect
    _VERSION = "5.1.73-infinidb-spark"

    def _substitute_system_vars(self, toks, d):
        """Inline the supported @@system variables as literals; unknown
        ones raise rather than silently reading NULL."""
        out = []
        i = 0
        while i < len(toks):
            if (
                toks[i] == ("sym", "@")
                and i + 2 < len(toks)
                and toks[i + 1] == ("sym", "@")
                and toks[i + 2][0] == "word"
            ):
                name = toks[i + 2][1].lower()
                skip = 3
                if name in ("session", "global") and i + 4 < len(toks) and toks[
                    i + 3
                ] == ("sym", ".") and toks[i + 4][0] == "word":
                    # @@session.sql_mode / @@global.sql_mode forms
                    name = toks[i + 4][1].lower()
                    skip = 5
                # version / version_comment fall through to _sysvars so
                # SELECT @@version_comment and SHOW VARIABLES can never
                # disagree (they once did — two hardcoded literals)
                if name == "autocommit":
                    out.append(("number", "1" if self._autocommit else "0"))
                elif name in ("warning_count", "error_count"):
                    # diagnostics-area counters clients read after DML
                    n = len([
                        w for w in self._warnings
                        if name == "warning_count" or w[0] == "Error"
                    ])
                    out.append(("number", str(n)))
                elif name in self._sysvars:
                    out.append(("string", d._sql_str(self._sysvars[name])))
                else:
                    raise d.DialectError(f"unknown system variable @@{name}")
                i += skip
            else:
                out.append(toks[i])
                i += 1
        return out

    #: session-scoped MySQL information functions inlined as literals —
    #: mysqld evaluates these in the server layer, never the engine
    #: (the reference inherits them the same way); SLEEP/BENCHMARK are
    #: included because clients and health checks send them
    _SESSION_FUNCS = (
        "database", "schema", "connection_id", "last_insert_id",
        "found_rows", "row_count", "sleep", "benchmark",
    )

    def _substitute_session_funcs(self, toks, d):
        """Inline ``DATABASE()``-family calls with session-state
        literals.  Token shape: word '(' [args] ')'.

        SLEEP is side-effecting, so it is NOT executed here — the delay
        is queued on ``self._pending_sleeps`` and fired by
        ``_drain_sleeps()`` only after the statement classifies
        successfully (a statement that fails to parse must not have
        slept, mirroring mysqld's evaluate-at-execution order)."""
        self._pending_sleeps = []
        self._pending_liid = None  # LAST_INSERT_ID(expr): same deferral
        out = []
        i = 0
        while i < len(toks):
            t = toks[i]
            if t[0] == "word" and t[1].lower() in self._SESSION_FUNCS:
                j = d._next_code(toks, i + 1)
                if j is not None and toks[j] == ("sym", "("):
                    end = d._match_paren(toks, j)
                    name = t[1].lower()
                    inner = toks[j + 1 : end]
                    if name in ("database", "schema"):
                        out.append(("string", d._sql_str(self._schema)))
                    elif name == "connection_id":
                        out.append(("number", str(self._conn_id)))
                    elif name == "last_insert_id":
                        if d._next_code(inner, 0) is not None:
                            # LAST_INSERT_ID(expr): MySQL stores expr as
                            # the new session value AND returns it (the
                            # documented sequence-emulation form)
                            arg = d.render(inner).strip()
                            try:
                                val = int(arg)
                            except ValueError:
                                raise d.DialectError(
                                    "LAST_INSERT_ID(expr) supports integer "
                                    "literals only"
                                ) from None
                            # the stored-value mutation is DEFERRED to
                            # classification (like SLEEP) — a statement
                            # that fails to parse must not have set it
                            self._pending_liid = val
                            out.append(("number", str(val)))
                        else:
                            out.append(("number", str(self._last_insert_id)))
                    elif name == "found_rows":
                        out.append(("number", str(self._found_rows)))
                    elif name == "row_count":
                        out.append(("number", str(self._row_count)))
                    elif name == "sleep":
                        arg = d.render(inner).strip()
                        try:
                            secs = float(arg)
                        except ValueError:
                            raise d.DialectError(
                                "SLEEP expects a numeric literal"
                            ) from None
                        # deferred — fired by _drain_sleeps() after the
                        # statement classifies (capped at 30 s)
                        self._pending_sleeps.append(min(max(secs, 0.0), 30.0))
                        out.append(("number", "0"))
                    else:  # benchmark(n, expr): MySQL always returns 0
                        out.append(("number", "0"))
                    i = end + 1
                    continue
            out.append(t)
            i += 1
        return out

    def _drain_sleeps(self):
        """Apply side effects queued during token substitution — SLEEP()
        delays and the LAST_INSERT_ID(expr) stored-value mutation —
        called once the statement has classified successfully, never on
        a parse error path."""
        import time as _t

        if self._pending_liid is not None:
            self._last_insert_id, self._pending_liid = self._pending_liid, None
        pend, self._pending_sleeps = self._pending_sleeps, []
        for secs in pend:
            _t.sleep(secs)

    def _table_maint(self, op: str, tables: list[str]):
        """CHECK / ANALYZE / OPTIMIZE / REPAIR TABLE — MySQL's
        four-column maintenance result, wired to the engine's real
        machinery instead of acks where one exists:

        * CHECK    — harvest every part-file footer (a corrupt or
          truncated file fails the read), report the file count;
        * ANALYZE  — rebuild the min/max manifest fresh (the extent-map
          stats the planner prunes with; ≅ the reference recalculating
          casual-partition ranges);
        * OPTIMIZE — compact small part files (sources/layout.py), the
          defragmentation analog;
        * REPAIR   — nothing to repair in immutable Parquet + manifest;
          reports OK (mysqld reports 'note' for engines without repair).
        """
        rows = []
        for t in tables:
            full = f"{self._schema}.{t}"
            path = self._managed.get(t)
            try:
                if path is None:
                    if t not in self.tables:
                        raise KeyError(f"no such table {t!r}")
                    if op in ("optimize", "analyze"):
                        rows.append((full, op, "note",
                                     "Table is external/read-only; skipped"))
                        continue
                    self.tables[t].limit(1).collect()  # readable probe
                    rows.append((full, op, "status", "OK"))
                    continue
                if op == "check":
                    from infinidb_spark.sources.manifest import (
                        _harvest_file, _has_nested_data,
                        _nested_parquet_files, build_manifest,
                    )

                    if _has_nested_data(path):
                        # hive-partitioned layout: member files live
                        # INSIDE col=value subdirs — open every nested
                        # footer (a flat build_manifest sees 0 files
                        # and would report OK without checking any)
                        files = _nested_parquet_files(path)
                        for f in files:
                            _harvest_file(f)
                        rows.append((full, op, "status",
                                     f"OK ({len(files)} file(s))"))
                    else:
                        m = build_manifest(path)
                        rows.append((full, op, "status",
                                     f"OK ({len(m)} file(s))"))
                elif op == "analyze":
                    from infinidb_spark.sources.manifest import (
                        _has_nested_data, build_manifest, write_manifest,
                    )

                    if _has_nested_data(path):
                        # the flat extent manifest doesn't model the
                        # col=value layout (scanners prune partitioned
                        # tables natively); an EMPTY sidecar here would
                        # claim "0 files" to future readers
                        rows.append((full, op, "note",
                                     "Partitioned table; native partition"
                                     " pruning applies, manifest skipped"))
                    else:
                        m = build_manifest(path)
                        write_manifest(
                            m, os.path.join(path, "_infinidb_manifest.json")
                        )
                        rows.append((full, op, "status", "OK"))
                elif op == "optimize":
                    from infinidb_spark.sources.layout import (
                        compact_table, table_file_stats,
                    )

                    before, _ = table_file_stats(path)
                    compact_table(self.spark, path)
                    self._refresh(t)
                    after, _ = table_file_stats(path)
                    rows.append((full, op, "status",
                                 f"OK ({before} -> {after} file(s))"))
                else:  # repair
                    rows.append((full, op, "status", "OK"))
            except Exception as exc:  # surface per-table, keep going
                rows.append((full, op, "error", str(exc)[:200]))
        return self.spark.createDataFrame(
            rows, "Table string, Op string, Msg_type string, Msg_text string"
        )

    def _processlist(self):
        """SHOW [FULL] PROCESSLIST — MySQL columns populated from the
        Spark status tracker: one row per active Spark job (the engine's
        running statements) plus the session's own connection row, the
        way mysqld always lists the issuing connection."""
        tracker = self.spark.sparkContext.statusTracker()
        # id space shared with KILL and CONNECTION_ID(): the issuing
        # connection's row carries its CONNECTION_ID(); Spark jobs are
        # offset by _JOB_ID_OFFSET (1e9 — far above any in-process
        # connection count) so the two ranges can't collide
        rows = [
            (
                self._conn_id, "infinidb", "localhost", None,
                "Query", 0, "executing", None,
            )
        ]
        for jid in tracker.getActiveJobsIds():
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            rows.append(
                (
                    self._JOB_ID_OFFSET + int(jid),
                    "infinidb",
                    "localhost",
                    None,
                    "Query",
                    0,
                    str(info.status),
                    f"spark job {jid} stages={list(info.stageIds)}",
                )
            )
        return self.spark.createDataFrame(
            rows,
            "Id long, User string, Host string, db string, Command string, "
            "Time long, State string, Info string",
        )

    def _refresh(self, name: str) -> None:
        from infinidb_spark.operators.dml import read_table

        # schema-merged read: metadata-only ADD COLUMN leaves older part
        # files without the new column (operators/dml.py alter_table)
        df = read_table(self.spark, self._managed[name])
        df.createOrReplaceTempView(name)
        self.tables[name] = df

    def _check_default(self, default: str, spark_type: str, col: str) -> None:
        """MySQL rejects DDL whose DEFAULT can't serve the column type
        ("Invalid default value") instead of deferring the failure to
        the next INSERT; mirror that by probing the cast on one row —
        a non-NULL value that casts to NULL can never fill the column
        (with ANSI off the INSERT would silently write NULL instead)."""
        from pyspark.sql import functions as F

        try:
            probe = (
                self.spark.range(1)
                .select(F.expr(default).cast(spark_type).alias("v"))
                .collect()[0]
                .v
            )
        except Exception as ex:
            raise ValueError(
                f"Invalid default value for {col!r}: {default}"
            ) from ex
        if probe is None:
            raise ValueError(f"Invalid default value for {col!r}: {default}")

    def execute(self, statement: str, dialect: str = "mysql"):
        """Statement router — the full mysqld surface (SURVEY §3.1-3.2):
        SELECTs return a DataFrame; INSERT/UPDATE/DELETE run against a
        managed table through the copy-on-write DML operators and return
        the affected-row count; ``select cal*(...)`` admin UDF calls
        (ref `ha_calpont_impl.cpp:1713-2254`) dispatch to the admin
        surface and return the reference's message/scalar."""
        import time as _time

        # MySQL clears the diagnostics area at each new statement except
        # the ones that READ it (SHOW WARNINGS/ERRORS, SHOW COUNT(*),
        # @@warning_count/@@error_count) — without this, one LOAD DATA
        # reject would be re-reported after every later statement.
        # WORD-token detection, so the phrase inside a string literal
        # is data (same rule as SQL_CALC_FOUND_ROWS)
        from infinidb_spark import dialect as _d

        _words = {
            t[1].upper() for t in _d.tokenize(statement) if t[0] == "word"
        }
        reads_diag = (
            ("SHOW" in _words and ({"WARNINGS", "ERRORS"} & _words or "COUNT" in _words))
            or {"WARNING_COUNT", "ERROR_COUNT"} & _words
        )
        if not reads_diag:
            self._warnings = []

        t0 = _time.perf_counter()
        try:
            result = self._execute_inner(statement, dialect)
        except Exception as exc:
            # mysqld records the failure in the diagnostics area —
            # SHOW ERRORS / @@error_count read it after a failed
            # statement (1064 = parse error, 1105 = unknown error)
            code = 1064 if isinstance(exc, _d.DialectError) else 1105
            self._warnings.append(("Error", code, str(exc)[:512]))
            raise
        # calgetstats() analog: wall time + affected rows of the last
        # statement (rows only for eagerly-executed DML/DDL — a SELECT
        # returns a lazy DataFrame, its fetch happens at the caller)
        ms = round((_time.perf_counter() - t0) * 1000, 1)
        rows = result if isinstance(result, int) else "n/a"
        # ROW_COUNT() semantics: affected rows of the last statement,
        # -1 for statements that return a result set (MySQL's rule)
        self._row_count = result if isinstance(result, int) else -1
        self._last_stats = f"Query Stats: QueryTime-{ms}ms; RowsAffected-{rows}"
        rejects = getattr(self, "_last_rejects", 0)
        if rejects:
            self._last_stats += f"; RowsRejected-{rejects}"
            # rejected rows surface through SHOW WARNINGS, like mysqld's
            # per-row LOAD DATA warnings (code 1262: row truncated)
            self._warnings = [
                ("Warning", 1262, f"{rejects} row(s) rejected by the loader")
            ]
            self._last_rejects = 0
        return result

    # --- transactions ---------------------------------------------------
    # The reference is transactional through the version buffer: DML
    # pre-images stay in VSS/VBBM until commit/rollback
    # (`versioning/BRM/vss.h:180`, `dbcon/dmlpackage/dml.y:424` commit/
    # rollback statements).  Analog here: every row write builds a new
    # version directory and swaps the table's pointer, so the pre-image
    # version is never modified; BEGIN and SAVEPOINT retain it
    # (metadata-only snapshot — a version name, no data copy) and
    # ROLLBACK moves the pointer back.  DDL implicitly commits, exactly
    # MySQL's rule.  A crash mid-transaction leaves the retain marker —
    # the committed state is whatever the symlink points at (always
    # consistent), recovery = release_retained, the calcleartablelock
    # idiom.

    def begin(self) -> None:
        """START TRANSACTION; an open transaction implicitly commits
        (MySQL semantics for a second BEGIN)."""
        if self._txn is not None:
            self.commit()
        self._txn = {}
        self._savepoints = []

    def _retain_current(self, path: str) -> str:
        """Retain a table's live version; returns its name."""
        from infinidb_spark.operators.dml import retain_version

        version = os.path.basename(os.path.realpath(path))
        retain_version(path, version)
        return version

    def _txn_touch(self, name: str, path: str) -> None:
        """Snapshot a table on its first DML inside the transaction."""
        if self._txn is None or name in self._txn:
            return
        version = self._retain_current(path)
        self._txn[name] = version
        # a savepoint set BEFORE this table was first touched restores
        # it to its touch-time (= savepoint-time) state
        for _, tables in self._savepoints:
            tables.setdefault(name, version)

    def savepoint(self, name: str) -> None:
        """SAVEPOINT: retain every touched table's CURRENT version (an
        intermediate pre-image, same retain mechanism as BEGIN); a
        same-name savepoint replaces the old one (MySQL rule)."""
        if self._txn is None:
            raise RuntimeError("SAVEPOINT outside a transaction")
        tables = {
            tname: self._retain_current(self._managed[tname])
            for tname in self._txn
            if tname in self._managed
        }
        self._savepoints = [sp for sp in self._savepoints if sp[0] != name]
        self._savepoints.append((name, tables))

    def rollback_to(self, name: str) -> None:
        """ROLLBACK TO SAVEPOINT: restore touched tables to the
        savepoint state; later savepoints are discarded, the
        transaction stays open (MySQL semantics)."""
        for idx, (sp_name, tables) in enumerate(self._savepoints):
            if sp_name == name:
                for tname, version in tables.items():
                    self._restore_version(tname, version)
                del self._savepoints[idx + 1 :]
                return
        raise KeyError(f"no such savepoint {name!r}")

    def release_savepoint(self, name: str) -> None:
        """RELEASE SAVEPOINT: forget the savepoint, keep all changes
        (pins stay until the transaction ends)."""
        before = len(self._savepoints)
        self._savepoints = [sp for sp in self._savepoints if sp[0] != name]
        if len(self._savepoints) == before:
            raise KeyError(f"no such savepoint {name!r}")

    def _restore_version(self, tname: str, version: str) -> None:
        """Point a table back at a retained version — one pointer swap
        under the commit lock; the superseded version is GC'd unless
        something still retains or pins it."""
        from infinidb_spark.operators.dml import _swap, _table_lock_wait

        path = self._managed.get(tname)
        if path is None:
            return
        if os.path.basename(os.path.realpath(path)) != version:
            with _table_lock_wait(path, "ROLLBACK"):
                _swap(path, os.path.join(os.path.dirname(path.rstrip("/")), version))
        self._refresh(tname)

    def commit(self) -> None:
        """Make the transaction's writes permanent; GC retained
        pre-image versions that are no longer current."""
        if self._txn is None:
            return
        for name in self._txn:
            self._release_and_gc(name)
        self._txn = None
        self._savepoints = []

    def _release_and_gc(self, name: str) -> None:
        """Drop every retention (base + savepoints) for a table and GC
        the released versions that are no longer current — through the
        engine's one GC rule (dml._gc_version, under the table lock), so
        a version another writer has pinned as its snapshot survives."""
        from infinidb_spark.operators.dml import (
            _gc_version,
            _table_lock_wait,
            release_retained,
        )

        path = self._managed.get(name)
        if path is None:
            return
        parent = os.path.dirname(path.rstrip("/"))
        with _table_lock_wait(path, "GC"):
            for ver in release_retained(path):
                _gc_version(path, os.path.join(parent, ver))

    def rollback(self) -> None:
        """Restore every touched table to its BEGIN state by moving its
        version pointer back to the retained pre-image.  Metadata-only,
        no data rewrite."""
        if self._txn is None:
            return
        for name, version in self._txn.items():
            self._restore_version(name, version)
            self._release_and_gc(name)
        self._txn = None
        self._savepoints = []

    #: statement kinds that implicitly COMMIT an open transaction first —
    #: MySQL's documented DDL rule
    _IMPLICIT_COMMIT = frozenset(
        {"create", "create_typed", "create_like", "create_view", "drop",
         "drop_view", "truncate", "alter"}
    )

    def execute_script(self, script: str, dialect: str = "mysql") -> list:
        """Run a multi-statement script (top-level ``;`` separated) —
        the mysql-client batch surface the reference's scenario runners
        feed .sql files through (`utils/scenarios/perf/test/
        pfSubmitGroupTest.sh`).  Returns one result per statement
        (DataFrame for SELECTs, affected-row count for DML/DDL)."""
        from infinidb_spark.dialect import split_statements

        return [self.execute(s, dialect) for s in split_statements(script)]


    #: ha_calpont_impl.cpp:151 — the reference's verbatim autoswitch text
    _AUTOSWITCH_WARNING = (
        "The query includes syntax that is not supported by InfiniDB "
        "distributed mode. The execution was switched to standard mode "
        "with downgraded performance."
    )

    def _standard_mode_fallback(self, statement: str):
        """vtable_mode=0 autoswitch: run the statement as raw Spark SQL
        (standard mode) and surface the reference's warning."""
        df = self.sql(statement, dialect="spark")
        self._warnings = [("Warning", 9999, self._AUTOSWITCH_WARNING)]
        return df

    def _apply_sysvar_assignment(self, name: str, value: str, d) -> None:
        """Apply one system-variable assignment.  autocommit gets MySQL's
        boolean normalization (0/OFF/FALSE/NO in any case/quoting) and
        its enable-commits rule; everything else is stored for SHOW
        VARIABLES / @@ echo."""
        if name == "autocommit":
            norm = str(value).strip().strip("'\"").upper()
            self._autocommit = norm not in ("0", "OFF", "FALSE", "NO")
            if self._autocommit:
                self.commit()
        else:
            self._sysvars[name] = (
                d._unquote(value) if value[:1] in "'\"" else value
            )

    def _parse_set_segment(self, seg: list, d):
        """One ``name = value`` item of a SET assignment list →
        ('sysvar'|'uservar', name, value_text), or None when the shape
        isn't one this session applies (NAMES, CHARACTER SET, ...).

        ``seg`` keeps its whitespace/comment tokens: structural
        matching works on the code-only view, but VALUES render from
        the raw slice so adjacent word/number tokens don't fuse —
        ``@a = (SELECT max(x) FROM t)`` used to render the value as
        ``(SELECTmax(x)FROMt)``, which re-tokenizes into broken SQL."""
        raw = list(seg)
        idx = [i for i, t in enumerate(raw) if t[0] not in ("ws", "comment")]
        codes = [raw[i] for i in idx]

        def val(k: int) -> str:
            # render the raw (ws-preserving) tail from code index k on
            return d.render(raw[idx[k]:]).strip()

        if not codes:
            return None
        if codes[0] == ("sym", "@"):
            if len(codes) >= 2 and codes[1] == ("sym", "@"):
                rest = codes[2:]
                b = 2
                if (
                    rest and rest[0][0] == "word"
                    and rest[0][1].lower() in ("session", "global", "local")
                    and len(rest) >= 2 and rest[1] == ("sym", ".")
                ):
                    rest = rest[2:]
                    b += 2
                if len(rest) >= 3 and rest[0][0] == "word" and rest[1] == ("sym", "="):
                    return ("sysvar", rest[0][1].lower(), val(b + 2))
                return None
            # @name = expr / @name := expr (user variable; name keeps
            # its case like parse_set_user_var)
            rest = codes[1:]
            if len(rest) >= 3 and rest[0][0] == "word" and rest[1] == ("sym", "="):
                return ("uservar", rest[0][1], val(3))
            if (
                len(rest) >= 4 and rest[0][0] == "word"
                and rest[1] == ("sym", ":") and rest[2] == ("sym", "=")
            ):
                return ("uservar", rest[0][1], val(4))
            return None
        if codes[0][0] == "word":
            rest = codes
            b = 0
            if rest[0][1].upper() == "NAMES" and len(rest) >= 2 and rest[1][0] in (
                "word", "string",
            ):
                # SET NAMES <charset>[, ...] — legal inside MySQL's
                # option_value_list; recorded like the standalone form
                v = rest[1][1]
                return ("sysvar", "character_set_client",
                        d._unquote(v) if v[:1] in "'\"" else v)
            if (
                rest[0][1].upper() in ("SESSION", "GLOBAL", "LOCAL")
                and len(rest) >= 2 and rest[1][0] == "word"
            ):
                rest = rest[1:]
                b += 1
            if len(rest) >= 3 and rest[0][0] == "word" and rest[1] == ("sym", "="):
                return ("sysvar", rest[0][1].lower(), val(b + 2))
        return None

    def _set_multi(self, toks: list, d):
        """MySQL SET with a comma-separated assignment list — the form
        every connector's connect string uses (``SET @@session.
        autocommit = 0, @@session.sql_mode = ''``).  The old
        single-assignment fast path swallowed the whole tail as the
        first variable's value, silently LOSING an autocommit toggle.
        Splits on depth-0 commas, parses every segment BEFORE applying
        any (a malformed item fails the whole statement, mysqld's
        rule), then applies left to right.  Returns 0 when handled;
        None (single segment / unrecognized form) falls through to the
        existing single-assignment routes."""
        toks = list(toks)
        while toks and (
            toks[-1][0] in ("ws", "comment") or toks[-1] == ("sym", ";")
        ):
            toks.pop()
        segs: list[list] = []
        cur: list = []
        depth = 0
        for t in toks:
            if t == ("sym", "("):
                depth += 1
            elif t == ("sym", ")"):
                depth -= 1
            if t == ("sym", ",") and depth == 0:
                segs.append(cur)
                cur = []
            else:
                cur.append(t)
        segs.append(cur)
        if len(segs) < 2:
            return None
        plans = []
        for seg in segs:
            plan = self._parse_set_segment(seg, d)
            if plan is None:
                # a genuine assignment LIST with an unrecognized item
                # must not fall through: the single-assignment path
                # would swallow the tail as the first variable's value
                raise d.DialectError(
                    "unsupported item in SET assignment list: "
                    + d.render(list(seg)).strip()[:80]
                )
            plans.append(plan)
        for kind, name, value in plans:
            if kind == "sysvar":
                self._apply_sysvar_assignment(name, value, d)
            else:
                etoks = self._substitute_system_vars(d.tokenize(value), d)
                etoks = self._substitute_session_funcs(etoks, d)
                expr = d.render(d.substitute_user_vars(etoks, self._user_vars))
                self._user_vars[name] = self.sql(
                    f"SELECT ({d.translate_mysql(expr)}) AS v"
                ).collect()[0].v
        return 0

    def _execute_inner(self, statement: str, dialect: str):
        from pyspark.sql import functions as F

        from infinidb_spark import dialect as d
        from infinidb_spark.operators.dml import (
            delete_from,
            insert_into,
            read_table,
            update_table,
        )

        if dialect != "mysql":
            return self.spark.sql(statement)
        toks = d.tokenize(statement)
        # SET @@[session.|global.]var = value — the assignment form
        # clients use; intercept BEFORE substitution would inline the
        # lhs as a literal
        codes = [t for t in toks if t[0] not in ("ws", "comment")]
        if (
            codes
            and codes[0][0] == "word"
            and codes[0][1].upper() == "SET"
        ):
            # pass the ws-PRESERVING tail: _parse_set_segment renders
            # values from the raw stream (stripped tokens fused
            # adjacent words — '(SELECT max(x) FROM t)' became
            # '(SELECTmax(x)FROMt)')
            set_i = next(
                i for i, t in enumerate(toks) if t[0] not in ("ws", "comment")
            )
            handled = self._set_multi(toks[set_i + 1 :], d)
            if handled is not None:
                return handled
        if (
            len(codes) >= 5
            and codes[0][1].upper() == "SET"
            and codes[1] == ("sym", "@")
            and codes[2] == ("sym", "@")
        ):
            rest = codes[3:]
            if rest[0][0] == "word" and rest[0][1].lower() in ("session", "global") \
                    and len(rest) >= 3 and rest[1] == ("sym", "."):
                rest = rest[2:]
            if len(rest) >= 3 and rest[0][0] == "word" and rest[1] == ("sym", "="):
                name = rest[0][1].lower()
                value = d.render(list(rest[2:])).strip().rstrip(";").strip()
                self._apply_sysvar_assignment(name, value, d)
                return 0
        toks = self._substitute_system_vars(toks, d)
        toks = self._substitute_session_funcs(toks, d)
        statement = d.render(toks)
        # SET @var = expr keeps its lhs un-substituted; everything else
        # inlines @refs as literals first (undefined @var reads NULL —
        # MySQL's documented behavior)
        set_var = d.parse_set_user_var(toks)
        if set_var is not None:
            self._drain_sleeps()
            name, expr = set_var
            expr = d.render(
                d.substitute_user_vars(d.tokenize(expr), self._user_vars)
            )
            self._user_vars[name] = self.sql(
                f"SELECT ({d.translate_mysql(expr)}) AS v"
            ).collect()[0].v
            return 0
        prep = d.parse_prepared(toks)
        if prep is not None:
            if prep["kind"] == "prepare":
                # mysqld parses at PREPARE time; arity errors surface at
                # EXECUTE when the USING list binds
                self._prepared[prep["name"]] = prep["sql"]
                return 0
            if prep["kind"] == "deallocate":
                if self._prepared.pop(prep["name"], None) is None:
                    raise KeyError(f"unknown prepared statement {prep['name']!r}")
                return 0
            # EXECUTE: bind positionally (params already literal after
            # @-substitution below never ran — substitute now)
            sql_text = self._prepared.get(prep["name"])
            if sql_text is None:
                raise KeyError(f"unknown prepared statement {prep['name']!r}")
            params = [
                d.render(d.substitute_user_vars(d.tokenize(p), self._user_vars))
                for p in prep["params"]
            ]
            return self._execute_inner(
                d.bind_placeholders(sql_text, params), "mysql"
            )
        if any(t == ("sym", "@") for t in toks):
            # SELECT ... INTO @a, @b: the assignment targets must be
            # recognized BEFORE @-substitution (they are lvalues)
            try:
                st_raw = d.parse_statement(statement)
            except d.DialectError:
                st_raw = None
            if st_raw is not None and st_raw["kind"] == "select_into_vars":
                self._drain_sleeps()  # classified successfully
                sql_text = d.render(
                    d.substitute_user_vars(
                        d.tokenize(st_raw["sql"]), self._user_vars
                    )
                )
                # same MySQL-dialect translation as every other SELECT
                # path (a plain SELECT and its INTO @var form must
                # accept identical dialect constructs)
                rows = self.sql(sql_text, dialect="mysql").collect()
                if len(rows) > 1:
                    raise ValueError("Result consisted of more than one row")
                if rows:
                    if len(rows[0]) != len(st_raw["names"]):
                        raise ValueError(
                            f"INTO expects {len(st_raw['names'])} variable(s), "
                            f"select list has {len(rows[0])}"
                        )
                    for name, v in zip(st_raw["names"], rows[0]):
                        self._user_vars[name] = v
                # zero rows: variables unchanged (MySQL warning semantics)
                return 0
            statement = d.render(d.substitute_user_vars(toks, self._user_vars))
        # infinidb_vtable_mode (ha_calpont_impl.cpp:151,4251): 0 =
        # AUTOSWITCH (unsupported dialect syntax falls back to standard
        # mode — here, raw Spark SQL — with the reference's verbatim
        # warning), 1 = distributed only (strict error, the default),
        # 2 = always standard mode.
        vtable_mode = str(self._sysvars.get("infinidb_vtable_mode", "1")).strip()
        try:
            st = d.parse_statement(statement)
        except d.DialectError:
            if vtable_mode == "2":
                self._drain_sleeps()  # statement still executes
                return self.sql(statement, dialect="spark")
            if vtable_mode != "0":
                raise  # parse error: queued SLEEPs never fire
            self._drain_sleeps()
            return self._standard_mode_fallback(statement)
        if st["kind"] != "select":
            # genuinely grammar-classified — safe to fire queued SLEEPs.
            # 'select' is the catch-all kind; its SLEEPs fire only after
            # the dialect translation succeeds (below).
            self._drain_sleeps()
        if st["kind"] == "begin":
            self.begin()
            return 0
        if st["kind"] == "commit":
            self.commit()
            return 0
        if st["kind"] == "rollback":
            self.rollback()
            return 0
        if st["kind"] == "savepoint":
            self.savepoint(st["name"])
            return 0
        if st["kind"] == "rollback_to":
            self.rollback_to(st["name"])
            return 0
        if st["kind"] == "release_savepoint":
            self.release_savepoint(st["name"])
            return 0
        if st["kind"] == "set_autocommit":
            # MySQL: enabling autocommit commits the open transaction;
            # disabling means the next DML implicitly opens one
            self._autocommit = st["value"]
            if st["value"]:
                self.commit()
            return 0
        if st["kind"] == "processlist":
            return self._processlist()
        if st["kind"] in self._IMPLICIT_COMMIT and self._txn is not None:
            self.commit()  # MySQL: DDL implicitly commits
        if st["kind"] == "admin":
            return self._admin(st["func"], st["args"])
        if st["kind"] == "select":
            if vtable_mode == "2":
                # standard mode ALWAYS: queries skip the dialect layer
                # (SET/DDL/DML still route through the engine, the way
                # the reference's standard mode still uses the handler)
                self._drain_sleeps()
                return self.sql(statement, dialect="spark")
            has_calc_found_rows = any(
                t[0] == "word" and t[1].upper() == "SQL_CALC_FOUND_ROWS"
                for t in d.tokenize(statement)
            )  # token-level: the phrase inside a string/comment is data
            if has_calc_found_rows:
                # FOUND_ROWS() contract: the row count the SELECT would
                # return WITHOUT its LIMIT — computed as one count over
                # the un-LIMITed query (the modifier itself was dropped
                # by the dialect rewrite, as mysqld drops it post-parse)
                toks_fr = d.tokenize(st["sql"])
                lim = d._top_level_word(toks_fr, "LIMIT")
                inner_sql = d.render(toks_fr[:lim] if lim is not None else toks_fr)
                # the count wrapper must take the SAME translator path
                # as the SELECT it mirrors (permissive GROUP BY, string
                # aliases) — raw Spark SQL threw MISSING_AGGREGATION on
                # queries the main statement executed fine
                self._found_rows = self.sql(
                    f"SELECT count(*) AS c FROM ({inner_sql}) _fr",
                    dialect="mysql",
                ).collect()[0].c
            # the ORIGINAL text through the FULL translator — the
            # post-rewrite passes (_string_aliases, ci literals,
            # permissive GROUP BY) only run in translate_mysql, so a
            # SELECT via execute() must take the same path a SELECT via
            # sql(dialect="mysql") takes (the SELECT INTO @var fix's
            # rule, applied to the plain form too)
            try:
                df = self.sql(statement, dialect="mysql")
            except d.DialectError:
                if vtable_mode != "0":
                    raise  # untranslatable: queued SLEEPs never fire
                self._drain_sleeps()
                return self._standard_mode_fallback(statement)
            self._drain_sleeps()  # translation succeeded
            return df
        if st["kind"] == "select_into_outfile":
            from infinidb_spark.sources.export import export_outfile

            # MySQL's one-file contract through the statement surface;
            # the library call (sources/export.py) defaults to a
            # directory of part files for cluster-scale exports
            return export_outfile(
                self.sql(st["sql"], dialect="mysql"),
                st["path"],
                sep=st["sep"],
                quote=st["quote"],
                escape=st["escape"],
                line_sep=st["line_sep"],
                quote_optional=st["quote_optional"],
                single_file=True,
            )
        if st["kind"] == "explain":
            # same translator path as the SELECT being explained —
            # EXPLAIN must never reject a query execute() runs fine
            from infinidb_spark.dialect import translate_mysql

            return self.explain(translate_mysql(
                st["sql"],
                strict_group_by="ONLY_FULL_GROUP_BY"
                in self._sysvars.get("sql_mode", "").upper(),
            ))
        if st["kind"] == "create_view":
            # views merge into the plan at translate time, exactly the
            # reference's View handling (dbcon/mysql/ha_view.cpp) — a
            # temp view IS a named logical subplan in Spark
            if not st["or_replace"] and st["table"] in [
                v.name for v in self.spark.catalog.listTables() if v.tableType == "TEMPORARY"
            ]:
                raise ValueError(f"view {st['table']!r} already exists (use OR REPLACE)")
            vdf = self.spark.sql(st["select_sql"])
            if st.get("columns"):
                if len(st["columns"]) != len(vdf.columns):
                    raise ValueError(
                        f"view {st['table']!r}: {len(st['columns'])} column "
                        f"names for {len(vdf.columns)} select-list items"
                    )
                vdf = vdf.toDF(*st["columns"])
            vdf.createOrReplaceTempView(st["table"])
            self._views.add(st["table"])
            return 0
        if st["kind"] == "drop_view":
            dropped = self.spark.catalog.dropTempView(st["table"])
            self._views.discard(st["table"])
            if not dropped and not st["if_exists"]:
                raise KeyError(f"no such view {st['table']!r}")
            return 0
        if st["kind"] == "create":
            # count AFTER materializing (Parquet footer sum — metadata
            # only) so the source query runs exactly once
            path = self.create_table_as(st["table"], self.spark.sql(st["select_sql"]))
            return self.spark.read.parquet(path).count()
        if st["kind"] == "create_typed":
            from pyspark.sql.types import StructField, StructType, _parse_datatype_string

            fields = [
                StructField(c["name"], _parse_datatype_string(c["type"]), c["nullable"])
                for c in st["columns"]
            ]
            empty = self.spark.createDataFrame([], StructType(fields))
            self.create_table_as(st["table"], empty)
            ai_cols = [c["name"] for c in st["columns"] if c.get("auto_increment")]
            self._table_meta[st["table"]] = {
                "defaults": {
                    c["name"]: c["default"]
                    for c in st["columns"]
                    if c["default"] is not None
                },
                "notnull": [c["name"] for c in st["columns"] if not c["nullable"]],
                "auto_inc": ai_cols[0] if ai_cols else None,
                # start value: the reference's COMMENT 'autoincrement,N'
                # / COMMENT='autoincrement=col,N' or MySQL's
                # AUTO_INCREMENT=N table option (default 1)
                "next_ai": next(
                    (
                        c.get("ai_start") or 1
                        for c in st["columns"]
                        if c.get("auto_increment")
                    ),
                    1,
                ),
                # reference COMMENT='compression=N' → Parquet codec
                # (0 = uncompressed; default snappy like the reference)
                "codec": st.get("compression"),
            }
            return 0
        if st["kind"] == "show_create":
            return self._show_create(st["table"])
        if st["kind"] == "show_tables":
            names = sorted({*self.tables, *self._managed})
            if st.get("like"):
                rx = self._mysql_like_rx(st["like"])
                names = [n for n in names if rx.match(n)]
            return self.spark.createDataFrame(
                [(n,) for n in names], f"`Tables_in_{self._schema}` string"
            )
        if st["kind"] == "show_variables":
            self._sysvars["autocommit"] = "ON" if self._autocommit else "OFF"
            rows = sorted(self._sysvars.items())
            if st.get("status"):
                rows = [("Uptime", "0"), ("Threads_connected", "1")]
            if st.get("like"):
                rx = self._mysql_like_rx(st["like"])
                rows = [r for r in rows if rx.match(r[0])]
            return self.spark.createDataFrame(
                rows or [("", "")], "Variable_name string, Value string"
            ).filter("Variable_name <> ''")
        if st["kind"] == "show_table_status":
            # SHOW TABLE STATUS [LIKE]: Name/Engine/Rows — row counts
            # come from footer metadata (the manifest), never a scan,
            # matching mysqld's approximate-stats contract
            from infinidb_spark.sources.manifest import cached_manifest

            rows = []
            for n in sorted({*self.tables, *self._managed}):
                if st.get("like") and not self._mysql_like_rx(st["like"]).match(n):
                    continue
                try:
                    if n in self._managed:
                        path = self._managed[n]
                    else:
                        # inputFiles returns URIs (file:/...) — strip
                        # scheme; a directory-backed table reports one
                        # PART file, so climb to the table directory
                        # (a no-input-files table lands in the except)
                        path = self.tables[n].inputFiles()[0]
                        path = path[5:] if path.startswith("file:") else path
                        parent = os.path.dirname(path)
                        if os.path.basename(path).startswith("part-") and (
                            os.path.isdir(parent)
                        ):
                            path = parent
                    from infinidb_spark.sources.manifest import _has_nested_data

                    if _has_nested_data(path):
                        # hive-partitioned layout: no top-level member
                        # files to sum — count the footers recursively
                        # (still metadata-only, no data scan)
                        import pyarrow.parquet as _pq

                        nrows = 0
                        for dirpath, dirnames, fnames in os.walk(path):
                            dirnames[:] = [
                                d for d in dirnames
                                if not d.startswith((".", "_"))
                            ]
                            for f in fnames:
                                if f.endswith(".parquet") and not f.startswith(
                                    ("_", ".")
                                ):
                                    nrows += _pq.ParquetFile(
                                        os.path.join(dirpath, f)
                                    ).metadata.num_rows
                    else:
                        nrows = sum(e["rows"] for e in cached_manifest(path))
                except Exception:
                    nrows = None
                rows.append((n, "InfiniDB", nrows))
            return self.spark.createDataFrame(
                rows or [("", "", 0)],
                "Name string, Engine string, `Rows` bigint",
            ).filter("Name <> ''")
        if st["kind"] == "show_databases":
            return self.spark.createDataFrame(
                [("information_schema",), (self._schema,)], "`Database` string"
            )
        if st["kind"] == "use":
            self._schema = st["database"]
            return 0
        if st["kind"] == "set_sysvar":
            self._sysvars[st["name"]] = str(st["value"])
            return 0
        if st["kind"] == "show_columns":
            return self._show_columns(st["table"])
        if st["kind"] == "show_engines":
            # mysqld SHOW ENGINES shape; this engine presents itself the
            # way the reference's InfiniDB row does (install script
            # registers the engine; transactions via the version layer)
            return self.spark.createDataFrame(
                [(
                    "InfiniDB", "DEFAULT",
                    "Columnar analytics engine (Parquet on Spark SQL)",
                    "YES", "NO", "YES",
                )],
                "Engine string, Support string, Comment string, "
                "Transactions string, XA string, Savepoints string",
            )
        if st["kind"] == "show_charset":
            # default collation advertises what the engine DOES by
            # default: binary compare (Spark semantics); the ci mode is
            # opt-in via translate_mysql(ci_collation=True)
            return self.spark.createDataFrame(
                [("utf8mb4", "UTF-8 Unicode", "utf8mb4_bin", 4)],
                "Charset string, Description string, "
                "`Default collation` string, Maxlen int",
            )
        if st["kind"] == "show_collation":
            # the two collations the engine actually implements: binary
            # compare (the DEFAULT — never advertise ci semantics the
            # default comparison doesn't deliver) and the opt-in ci mode
            return self.spark.createDataFrame(
                [
                    ("utf8mb4_bin", "utf8mb4", 46, "Yes", "Yes", 1),
                    ("utf8mb4_general_ci", "utf8mb4", 45, "", "Yes", 1),
                ],
                "Collation string, Charset string, Id long, "
                "`Default` string, Compiled string, Sortlen int",
            )
        if st["kind"] == "show_warnings":
            rows = [
                w for w in self._warnings
                if not st["errors_only"] or w[0] == "Error"
            ]
            return self.spark.createDataFrame(
                rows or [("", 0, "")],
                "Level string, Code int, Message string",
            ).filter("Level <> ''")
        if st["kind"] == "show_warning_count":
            n = len([
                w for w in self._warnings
                if not st["errors_only"] or w[0] == "Error"
            ])
            col = "@@session.error_count" if st["errors_only"] else "@@session.warning_count"
            return self.spark.createDataFrame([(n,)], f"`{col}` long")
        if st["kind"] == "show_index":
            # InfiniDB tables have NO indexes (the reference dropped its
            # index subsystem; scans + extent elimination instead) —
            # MySQL's column shape with zero rows is exact parity
            if st["table"] not in self._managed and st["table"] not in self.tables:
                raise KeyError(f"no such table {st['table']!r}")
            return self.spark.createDataFrame(
                [],
                "Table string, Non_unique int, Key_name string, "
                "Seq_in_index int, Column_name string, Collation string, "
                "Cardinality long, Sub_part int, Packed string, "
                "`Null` string, Index_type string, Comment string",
            )
        if st["kind"] == "show_grants":
            return self.spark.createDataFrame(
                [(f"GRANT ALL PRIVILEGES ON *.* TO 'infinidb'@'localhost'",)],
                "`Grants for infinidb@localhost` string",
            )
        if st["kind"] == "show_open_tables":
            rows = [
                (self._schema, t, 0, 0)
                for t in sorted({*self.tables, *self._managed})
            ]
            return self.spark.createDataFrame(
                rows or [("", "", 0, 0)],
                "`Database` string, `Table` string, In_use int, "
                "Name_locked int",
            ).filter("`Table` <> ''")
        if st["kind"] == "show_triggers":
            return self.spark.createDataFrame(
                [],
                "`Trigger` string, Event string, `Table` string, "
                "Statement string, Timing string, Created timestamp, "
                "sql_mode string, Definer string",
            )
        if st["kind"] == "flush":
            # FLUSH TABLES: drop the session's table-DataFrame cache and
            # re-register from disk — the close-table-handles analog;
            # other FLUSH kinds (PRIVILEGES, LOGS...) are server-layer
            # acks with no engine state to touch
            if st["what"].startswith("TABLES") or st["what"] == "":
                for name in list(self._managed):
                    self._refresh(name)
            return 0
        if st["kind"] == "lock_tables":
            # Single-writer engine: DML already serializes through the
            # per-table lock file (operators/dml.py _table_lock, the
            # calviewtablelock surface).  LOCK TABLES is accepted as the
            # mysqld ack; the lock discipline is per-statement.
            return 0
        if st["kind"] == "unlock_tables":
            return 0
        if st["kind"] == "kill":
            # KILL [QUERY] <id>: id space matches SHOW PROCESSLIST —
            # the session connection row carries CONNECTION_ID(), Spark
            # jobs are listed as _JOB_ID_OFFSET+jobId.  cancelJob posts an async
            # event and never throws for unknown ids, so existence is
            # validated against the ACTIVE job list first
            # (ER_NO_SUCH_THREAD analog); KILL <own connection id> acks
            # (the client closes its side, mysqld semantics).
            if st["id"] == self._conn_id:
                return 0
            tracker = self.spark.sparkContext.statusTracker()
            active = set(tracker.getActiveJobsIds())
            jid = st["id"] - self._JOB_ID_OFFSET
            if jid not in active:
                raise KeyError(f"Unknown thread id: {st['id']}")
            self.spark.sparkContext._jsc.sc().cancelJob(int(jid))
            return 0
        if st["kind"] == "do":
            # DO evaluates for side effects and discards results
            self.sql(f"SELECT {st['exprs']}", dialect="mysql").collect()
            return 0
        if st["kind"] == "help":
            return self.spark.createDataFrame(
                [(st["topic"] or "contents",
                  "infinidb_spark: MySQL-dialect analytics engine on "
                  "Spark SQL; see SURVEY.md for the supported surface")],
                "name string, description string",
            )
        if st["kind"] == "table_maint":
            return self._table_maint(st["op"], st["tables"])
        if st["kind"] == "create_like":
            # MySQL CREATE TABLE ... LIKE: same structure, no data;
            # typed-CREATE column metadata carries over
            src_name = st["source"]
            if src_name in self._managed:
                src_schema = read_table(self.spark, self._managed[src_name]).schema
            elif src_name in self.tables:
                src_schema = self.tables[src_name].schema
            else:
                raise KeyError(f"no such table {src_name!r}")
            self.create_table_as(
                st["table"], self.spark.createDataFrame([], src_schema)
            )
            if src_name in self._table_meta:
                src_meta = self._table_meta[src_name]
                self._table_meta[st["table"]] = {
                    "defaults": dict(src_meta["defaults"]),
                    "notnull": list(src_meta["notnull"]),
                    # MySQL LIKE keeps the attribute, resets the counter
                    "auto_inc": src_meta.get("auto_inc"),
                    "next_ai": 1,
                }
            return 0
        if st["kind"] == "rename_tables":
            # each pair routes through the ALTER ... RENAME machinery
            # (managed-table path resolution, view re-registration,
            # implicit commit) — MySQL semantics for the standalone form.
            # MySQL's RENAME TABLE is atomic: validate EVERY pair before
            # executing any, so a bad pair leaves the catalog unchanged
            # instead of half-renamed.
            taken = set(self._managed)
            for old, new in st["pairs"]:
                if old not in taken:
                    raise KeyError(
                        f"{old!r} is not a managed table — RENAME TABLE "
                        "applied no changes"
                    )
                if new in taken:
                    raise KeyError(
                        f"target name {new!r} already exists — RENAME "
                        "TABLE applied no changes"
                    )
                taken.discard(old)
                taken.add(new)

            def _bt(name: str) -> str:
                # re-escape embedded backticks for the synthesized ALTER
                return "`" + name.replace("`", "``") + "`"

            for old, new in st["pairs"]:
                self._execute_inner(
                    f"ALTER TABLE {_bt(old)} RENAME TO {_bt(new)}", "mysql"
                )
            return 0
        if st["kind"] in ("drop", "truncate"):
            path = self._managed.get(st["table"])
            if path is None:
                if st["kind"] == "drop" and st["if_exists"]:
                    return 0
                raise KeyError(f"{st['table']!r} is not a managed table")
            if st["kind"] == "drop":
                import shutil

                real = os.path.realpath(path)
                for p in (path, real):
                    if os.path.islink(p):
                        os.remove(p)
                    elif os.path.isdir(p):
                        shutil.rmtree(p, ignore_errors=True)
                self.spark.catalog.dropTempView(st["table"])
                self._managed.pop(st["table"])
                self.tables.pop(st["table"], None)
                # a later CREATE of the same name must not inherit this
                # table's defaults/notnull/auto-increment state
                self._table_meta.pop(st["table"], None)
                return 0
            empty = read_table(self.spark, path).limit(0)
            from infinidb_spark.operators.dml import create_table

            # materialize the empty relation first — create_table's
            # overwrite would otherwise read from the dir it replaces
            empty = self.spark.createDataFrame([], empty.schema)
            meta = self._table_meta.get(st["table"]) or {}
            # keep the table's declared codec through the recreate
            create_table(empty, path, codec=meta.get("codec"))
            # MySQL TRUNCATE resets the AUTO_INCREMENT counter (unlike
            # DELETE FROM, which keeps it)
            if "next_ai" in meta:
                meta["next_ai"] = 1
            self._refresh(st["table"])
            return 0
        path = self._managed.get(st["table"])
        if path is None:
            raise KeyError(
                f"{st['table']!r} is not a managed table — create_table_as() first "
                "(sf_dir source tables are read-only)"
            )
        if st["kind"] in (
            "insert", "update", "delete", "load_data",
            "update_join", "delete_join",
        ):
            if not self._autocommit and self._txn is None:
                self.begin()  # autocommit=0: DML implicitly opens a txn
            self._txn_touch(st["table"], path)
        if st["kind"] in ("update_join", "delete_join"):
            # multi-table DML (SQLCOM_UPDATE_MULTI / DELETE_MULTI): the
            # joined table resolves like any query relation — sf_dir
            # source, view, or managed table
            from infinidb_spark.operators.dml import (
                delete_from_join, update_table_join,
            )

            other_name = st["other"]
            if other_name in self._managed:
                other_df = read_table(self.spark, self._managed[other_name])
            elif other_name in self.tables:
                other_df = self.tables[other_name]
            else:
                other_df = self.spark.table(other_name)
            where = F.expr(st["where"]) if st.get("where") else None
            codec = self._table_meta.get(st["table"], {}).get("codec")
            jt = st.get("join_type", "inner")
            if st["kind"] == "update_join":
                n = update_table_join(
                    self.spark, path, other_df,
                    st["on_target"], st["on_other"],
                    {c: F.expr(e) for c, e in st["assignments"].items()},
                    where,
                    codec=codec,
                    join_type=jt,
                )
            else:
                n = delete_from_join(
                    self.spark, path, other_df,
                    st["on_target"], st["on_other"], where,
                    codec=codec,
                    join_type=jt,
                )
            self._refresh(st["table"])
            return n
        if st["kind"] == "alter":
            from infinidb_spark.operators.dml import (
                alter_table,
                read_table,
                rename_table,
            )

            name = st["table"]
            for action in st["actions"]:
                op = action["op"]
                meta = self._table_meta.setdefault(name, {})
                if op == "rename_table":
                    new_path = os.path.join(os.path.dirname(path), action["new"])
                    rename_table(path, new_path)
                    self.spark.catalog.dropTempView(name)
                    self._managed.pop(name)
                    self.tables.pop(name, None)
                    self._table_meta[action["new"]] = self._table_meta.pop(name, meta)
                    name, path = action["new"], new_path
                    self._managed[name] = path
                    continue
                if op in ("set_default", "drop_default"):
                    # metadata-only, like the reference's syscat default
                    # update (ddlpackageproc AtaSetColumnDefault) — no
                    # file is touched at any table size
                    col = action["column"]
                    schema = read_table(self.spark, path).schema
                    by_name = {f.name: f for f in schema.fields}
                    if col not in by_name:
                        raise ValueError(f"no such column {col!r} in {name}")
                    defaults = meta.setdefault("defaults", {})
                    if op == "set_default" and action["default"] is not None:
                        self._check_default(
                            action["default"], by_name[col].dataType.simpleString(), col
                        )
                        defaults[col] = action["default"]
                    else:
                        defaults.pop(col, None)
                    continue
                if op == "add" and action.get("default") is not None:
                    self._check_default(
                        action["default"], action["type"], action["column"]
                    )
                alter_table(
                    self.spark, path, action, codec=meta.get("codec")
                )
                # keep column metadata aligned with the new shape
                defaults = meta.get("defaults", {})
                notnull = meta.get("notnull", [])
                if op == "add":
                    # future INSERTs that omit the column get the default
                    # too, same as a typed-CREATE default
                    if action.get("default") is not None:
                        meta.setdefault("defaults", {})[action["column"]] = action[
                            "default"
                        ]
                elif op == "drop":
                    defaults.pop(action["column"], None)
                    if action["column"] in notnull:
                        notnull.remove(action["column"])
                elif op in ("change", "rename_column"):
                    old = action["old"]
                    new = action["new"]
                    if old in defaults:
                        defaults[new] = defaults.pop(old)
                    if old in notnull:
                        notnull[notnull.index(old)] = new
                    if meta.get("auto_inc") == old:
                        meta["auto_inc"] = new
            self._refresh(name)
            return 0
        if st["kind"] == "load_data":
            from pyspark.sql.types import StructType

            from infinidb_spark.sources.bulk_load import bulk_load_csv
            from infinidb_spark.sources.export import NULL_MARKER

            target = read_table(self.spark, path).schema
            by_name = {f.name: f for f in target.fields}
            names = st["columns"] or [f.name for f in target.fields]
            unknown = set(names) - set(by_name)
            if unknown:
                raise ValueError(
                    f"LOAD DATA column(s) {sorted(unknown)} not in {st['table']}"
                )
            file_schema = StructType([by_name[n] for n in names])
            result = bulk_load_csv(
                self.spark,
                st["path"],
                file_schema,
                delimiter=st["sep"],
                header=st["skip_header"],
                null_value=NULL_MARKER,
                # honor the statement's FIELDS ENCLOSED/ESCAPED BY and
                # LINES TERMINATED BY instead of silently dropping them
                quote=st.get("quote"),
                escape=st.get("escape", "\\"),
                line_sep=st.get("line_sep"),
            )
            aligned = result.loaded.select(
                *[
                    (
                        F.col(f.name)
                        if f.name in names
                        else F.lit(None).cast(f.dataType)
                    ).alias(f.name)
                    for f in target.fields
                ]
            )
            aligned, _ai_handle = self._fill_auto_increment(st["table"], aligned)
            try:
                # typed-CREATE NOT NULL applies to LOAD DATA exactly
                # like INSERT (MySQL rejects the statement), checked on
                # the staged files after char-null semantics, so an
                # empty field bound for a NOT NULL string column is a
                # violation, not a silent NULL
                meta = self._table_meta.get(st["table"], {})
                insert_into(
                    aligned, path, codec=meta.get("codec"),
                    notnull=meta.get("notnull", []), stmt="LOAD DATA",
                )
            finally:
                # unpersist on reject too — repeated rejected statements
                # must not accumulate persisted RDDs for the session
                if _ai_handle is not None:
                    _ai_handle.unpersist()
                result.unpersist()
            self._refresh(st["table"])
            # cpimport-style reject accounting (the .bad file analog),
            # surfaced through calgetstats() by the execute() wrapper
            self._last_rejects = result.rows_rejected
            return result.rows_loaded
        if st["kind"] == "insert":
            src = self.spark.sql(st["select_sql"])
            target = read_table(self.spark, path).schema
            # positional when no column list (MySQL full-row form),
            # else named with NULL-filled, type-coerced gaps
            if st["columns"]:
                unknown = set(st["columns"]) - {f.name for f in target.fields}
                if unknown:
                    raise ValueError(
                        f"INSERT column(s) {sorted(unknown)} not in {st['table']}"
                    )
            src = src.toDF(*(st["columns"] or [f.name for f in target.fields]))
            meta = self._table_meta.get(st["table"], {})
            defaults = meta.get("defaults", {})

            def _gap(f):
                # typed-CREATE DEFAULT fills the gap; NULL otherwise
                if f.name in defaults:
                    return F.expr(defaults[f.name]).cast(f.dataType)
                return F.lit(None).cast(f.dataType)

            aligned = src.select(
                *[
                    (
                        F.col(f.name).cast(f.dataType)
                        if f.name in src.columns
                        else _gap(f)
                    ).alias(f.name)
                    for f in target.fields
                ]
            )
            aligned, _ai_handle = self._fill_auto_increment(st["table"], aligned)
            try:
                # the count comes out of the write job; the source
                # query runs once
                n = insert_into(
                    aligned, path, codec=meta.get("codec"),
                    notnull=meta.get("notnull", []),
                )
            finally:
                # unpersist on NOT NULL reject too, not only on success
                if _ai_handle is not None:
                    _ai_handle.unpersist()
        elif st["kind"] == "update":
            n = update_table(
                self.spark,
                path,
                F.expr(st["where"] or "true"),
                {c: F.expr(e) for c, e in st["assignments"].items()},
                codec=self._table_meta.get(st["table"], {}).get("codec"),
            )
        elif st["kind"] == "delete":
            n = delete_from(
                self.spark, path, F.expr(st["where"] or "true"),
                codec=self._table_meta.get(st["table"], {}).get("codec"),
            )
        else:
            # a catch-all `else: delete` here would turn any FUTURE
            # parser kind that carries a 'table' key but is missed
            # above into a full-table DELETE — fail loudly instead
            raise ValueError(f"unsupported DML statement kind {st['kind']!r}")
        self._refresh(st["table"])
        return n

    def _admin(self, func: str, args: list):
        """Admin-UDF dispatch — the cal* surface registered into mysqld
        (`dbcon/mysql/ha_calpont_impl.cpp:1713-2254` trace/stats/cache/
        locks, `ha_calpont_partition.cpp:854-1160` partition management).
        Schema-qualified forms (``'schema','table',...``) are accepted;
        the session is single-schema, so a leading schema argument is
        ignored the way the reference substitutes ``current_thd->db``.

        ``callastinsertid`` reads the table's AUTO_INCREMENT high-water
        mark (the BRM counter analog kept in table metadata)."""
        from infinidb_spark.operators import partitions as P
        from infinidb_spark.operators.dml import clear_table_lock, view_table_locks

        def tbl(name: str) -> str:
            path = self._managed.get(name)
            if path is None:
                raise KeyError(
                    f"{name!r} is not a managed table — partition/lock admin "
                    "applies to managed tables (create_table_as first)"
                )
            return path

        if func == "calshowpartitions":
            # (table, column) or (schema, table, column)
            table, column = args[-2], args[-1]
            return P.format_partitions(self.spark, tbl(table), column)
        if func in ("caldisablepartitions", "calenablepartitions", "caldroppartitions"):
            table, parts = args[-2], str(args[-1])
            op = {
                "caldisablepartitions": P.disable_partitions,
                "calenablepartitions": P.enable_partitions,
                "caldroppartitions": P.drop_partitions,
            }[func]
            msg = op(tbl(table), parts)
            self._refresh(table)  # visibility changed: re-register the view
            return msg
        if func.endswith("partitionsbyvalue"):
            # (schema,) table, column, start, end — partitionByValue_common
            # (`ha_calpont_partition.cpp:530`): partitions whose [min,max]
            # is fully contained in [start,end]; NULL bound = ±infinity
            table, column, start, end = args[-4], args[-3], args[-2], args[-1]
            matches = P.partitions_by_value(tbl(table), column, start, end)
            if func == "calshowpartitionsbyvalue":
                rel = P.show_partitions(self.spark, tbl(table), column)
                rows = [r for r in rel.collect() if r["file"] in set(matches)]
                out = [f"{'Part#':<10}{'Min':<30}{'Max':<30}Status"]
                out += [
                    f"  {r['part']:<10}{r['min']:<30}{r['max']:<30}{r['status']}"
                    for r in rows
                ]
                return "\n".join(out)
            if not matches:
                # WARN_NO_PARTITION_FOUND analog (line 777)
                return "No partition found for the given value range"
            op = {
                "caldisablepartitionsbyvalue": P.disable_partitions,
                "calenablepartitionsbyvalue": P.enable_partitions,
                "caldroppartitionsbyvalue": P.drop_partitions,
            }[func]
            msg = op(tbl(table), matches)
            self._refresh(table)
            return msg
        if func == "callastinsertid":
            # the table's auto-increment high-water mark (ref reads it
            # from BRM; ha_calpont_udf.cpp callastinsertid) — last id
            # assigned, 0 before any assignment
            table = args[-1]
            meta = self._table_meta.get(table, {})
            if not meta.get("auto_inc"):
                raise ValueError(
                    f"table {table!r} has no AUTO_INCREMENT column"
                )
            return int(meta.get("next_ai", 1)) - 1
        if func == "calgetversion":
            import infinidb_spark as _pkg

            return f"infinidb_spark {_pkg.__version__} (Spark {self.spark.version})"
        if func == "calonlinealter":
            # ref: `select calonlinealter('alter table ... add column ...')`
            # performs the alter without locking the table; this engine's
            # ALTER is already online (metadata-only schema merge), so
            # route the statement text through the DDL path
            self.execute(str(args[-1]))
            return 0
        if func == "calflushcache":
            # drops every cached relation (ref: clears PrimProc's block
            # cache); data on disk is untouched
            self.spark.catalog.clearCache()
            return 0
        if func == "calsettrace":
            prev = int(self._trace)
            self._trace = bool(args[0]) if args else True
            return prev
        if func == "calsetparms":
            # ref calsetparms('name', 'value') tunes ExeMgr/ResourceManager
            # knobs per session (ha_calpont_impl.cpp); the Spark analog is
            # a session-scoped SQL conf set
            if len(args) < 2:
                raise ValueError("calsetparms expects (name, value)")
            self.spark.conf.set(str(args[-2]), str(args[-1]))
            return f"{args[-2]} set to {args[-1]}"
        if func == "calgettrace":
            return self._last_trace
        if func == "calgetstats":
            return self._last_stats
        if func == "calviewtablelock":
            table = args[-1]
            tbl(table)  # validate
            recs = view_table_locks(self._managed_root or ".", table)
            if not recs:
                return f" table {table} is not locked by any session. "
            return "; ".join(
                f"lockID {r['lock_id']} op {r['op']} pid {r['pid']} since {r['since']}"
                for r in recs
            )
        if func == "calcleartablelock":
            return clear_table_lock(self._managed_root or ".", args[0])
        raise ValueError(f"unknown admin function {func!r}")

    def show_partitions(self, table: str, column: str | None = None) -> DataFrame:
        """Partition stats as a relation (the DataFrame-native twin of
        ``select calshowpartitions(...)``)."""
        from infinidb_spark.operators import partitions as P

        return P.show_partitions(self.spark, self._managed[table], column)

    def explain(self, query: str) -> str:
        return self.spark.sql(query)._jdf.queryExecution().explainString(
            self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )

    def priority(self, pool: str):
        """Scope queries to a FAIR-scheduler pool — the query-priority /
        resource-governor analog (ref `joblist/resourcedistributor.cpp`,
        ExeMgr session priorities): `with sess.priority("etl"): ...`
        tags every job submitted in the block; pools are created on
        demand, weights configurable via a scheduler allocation file on
        a real cluster."""
        from contextlib import contextmanager

        @contextmanager
        def _scope():
            sc = self.spark.sparkContext
            prev = sc.getLocalProperty("spark.scheduler.pool")
            sc.setLocalProperty("spark.scheduler.pool", pool)
            try:
                yield self
            finally:
                sc.setLocalProperty("spark.scheduler.pool", prev)

        return _scope()
