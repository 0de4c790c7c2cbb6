"""Batch DML over Parquet tables — INSERT / UPDATE / DELETE.

Reference: row DML flows through DMLProc + the version buffer for MVCC
(`dbcon/mysql/ha_calpont_dml.cpp:605` `ha_calpont_impl_write_row_`,
`dbcon/dmlpackage/dml.y:424-530`, VSS `versioning/BRM/vss.h:180`);
UPDATE/DELETE internally run a SELECT to locate rows
(`calpontselectexecutionplan.h:98-109` IDB_QUERYTYPE UPDATE/DELETE).

Spark-native model: **copy-on-write** over Parquet directories — the
same model Delta/Iceberg v1 use, and the honest analog of the
reference's version buffer (old data remains readable until the swap).

* INSERT  = append new Parquet files to the table directory (exactly
  cpimport's incremental load; no rewrite).
* UPDATE  = SELECT-transform-rewrite: read, apply SET under WHERE,
  write a new version directory, atomically swap.
* DELETE  = read, anti-filter, rewrite, swap.

Atomicity: each rewrite lands in a fresh `<table>.__v<uuid>__` version
directory and the live path `<table>` is a SYMLINK advanced with a
single atomic `os.replace` — a crash leaves the pointer on either the
old or the new version, never missing and never a mix (the Parquet
analog of the reference's version buffer: old blocks stay readable
until the pointer moves).  Tables created before the symlink layout
(plain directories) are migrated on first rewrite; single-writer
assumed — a real lakehouse deployment swaps in a transaction log
instead (out of scope, SURVEY §1.1).

Scale notes: plain ``update_table``/``delete_from`` rewrite the whole
table; at 100 TB use ``update_table_pruned``/``delete_from_pruned`` —
files whose manifest min/max cannot match the WHERE are HARD-LINKED
into the new version instead of rewritten (the reference's block-level
version buffer is the same idea at 8 KB granularity), so a key-ranged
DML on a clustered table (sources/layout.py) rewrites O(matching
files).  For directory-partitioned tables, predicate on the partition
column — Spark prunes those natively.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import time
import uuid
from collections import OrderedDict
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession


def _new_version_dir(table_dir: str) -> str:
    return table_dir.rstrip("/") + f".__v{uuid.uuid4().hex[:12]}__"


# --- table locks -------------------------------------------------------
# The reference serializes DML/bulk-load per table through DMLProc's
# lock table, inspectable with calviewtablelock() and recoverable with
# calcleartablelock(id) after a crash (`dbcon/mysql/ha_calpont_impl.cpp:
# 1966-2061`).  Analog: a per-holder O_EXCL lock file
# `<table>.__lock__.<lock_id>` held for the duration of a rewrite; a
# crash leaves it behind exactly like a dangling DMLProc lock, and
# clear_table_lock is the manual recovery.


_LOCK_MARK = ".__lock__"


def _lock_prefix(table_dir: str) -> str:
    return table_dir.rstrip("/") + _LOCK_MARK


def _lock_name_parts(fname: str) -> tuple[str, str | None]:
    """(table, holder id from the file name or None) for a lock file:
    the per-holder form ``<table>.__lock__.<lock_id>`` or the bare
    (legacy / crashed-before-name) ``<table>.__lock__``."""
    tbl, _, suffix = fname.partition(_LOCK_MARK)
    return tbl, (suffix[1:] or None) if suffix.startswith(".") else None


def _lock_files(table_dir: str) -> list[str]:
    """Every lock file for this table (any holder, plus the bare form)."""
    prefix = _lock_prefix(table_dir)
    parent = os.path.dirname(prefix) or "."
    base = os.path.basename(prefix)
    try:
        names = os.listdir(parent)
    except OSError:
        return []
    return sorted(
        os.path.join(parent, f)
        for f in names
        if f == base or f.startswith(base + ".")
    )


@contextmanager
def _table_lock(table_dir: str, op: str):
    """PER-HOLDER lock files: each acquirer owns a uniquely-named file
    ``<table>.__lock__.<lock_id>``, so release is one unlink of the
    holder's OWN file — atomic by construction.  The old single-file
    design released via read-then-remove, and a clear_table_lock plus a
    re-acquire slipping between the json.load and os.remove freed the
    NEW holder's lock.  Now an operator's stale-clear removes exactly
    one holder's file and can never be raced by another holder's
    release.

    Mutual exclusion: create own file, then verify it is the ONLY lock
    file.  A proceeder verified sole ownership after creating, so two
    proceeders are impossible; simultaneous acquirers may BOTH back
    off.  Because bare _table_lock callers fail fast (no _table_lock_
    wait loop), a both-backed-off collision is retried here a few
    times with per-holder jitter — the old single-file O_EXCL design
    always admitted one of two simultaneous acquirers, and fail-fast
    callers must not regress to zero winners.  An ESTABLISHED holder
    (file present before we create ours) still fails fast."""
    payload = {
        # integer id — the reference's calcleartablelock takes the
        # lockID as an INT argument
        "lock_id": uuid.uuid4().int % 1_000_000_000,
        "table": os.path.basename(table_dir.rstrip("/")),
        "op": op,
        "pid": os.getpid(),
        "since": time.strftime("%Y-%m-%d %H:%M:%S"),
    }
    own = f"{_lock_prefix(table_dir)}.{payload['lock_id']}"

    def _locked(others: list[str]):
        holder = {}
        for p in others:
            try:
                with open(p) as fh:
                    holder = json.load(fh)
                break
            except (OSError, json.JSONDecodeError):
                continue  # mid-write / corrupt: still a live lock file
        raise RuntimeError(
            f"table {payload['table']!r} is locked by {holder.get('op')} "
            f"(lock_id {holder.get('lock_id')}, pid {holder.get('pid')}) — "
            "calcleartablelock to clear a stale lock"
        ) from None

    for attempt in range(3):
        others = _lock_files(table_dir)
        if others:
            _locked(others)  # established (or stale) holder: fail fast
        fd = os.open(own, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        with os.fdopen(fd, "w") as fh:
            json.dump(payload, fh)
        others = [p for p in _lock_files(table_dir) if p != own]
        if not others:
            break  # sole owner — acquired
        # collided with a concurrent acquirer: back off symmetrically
        try:
            os.remove(own)
        except FileNotFoundError:
            pass
        if attempt == 2:
            _locked(others)
        # fresh random jitter EACH attempt: a fixed per-holder delay
        # would let two acquirers with colliding residues re-collide
        # deterministically on every retry (zero winners)
        time.sleep(0.002 + random.random() * 0.02)
    try:
        yield
    finally:
        try:
            os.remove(own)
        except FileNotFoundError:
            pass  # cleared as stale by an operator — nothing else to free


def view_table_locks(root: str, table: str | None = None) -> list[dict]:
    """Active lock records under a managed-table root
    (calviewtablelock's listing)."""
    out = []
    for f in sorted(os.listdir(root)):
        if _LOCK_MARK not in f:
            continue
        tbl, name_id = _lock_name_parts(f)
        try:
            with open(os.path.join(root, f)) as fh:
                rec = json.load(fh)
        except FileNotFoundError:
            continue  # released between listdir and open
        except (OSError, json.JSONDecodeError):
            # mid-write or crashed-before-flush: still a live lock
            # file blocking DML, so SHOW it — the per-holder file NAME
            # carries the id even when the payload never flushed; a
            # bare corrupt lock (no id anywhere) is clearable by table
            # name, see clear_table_lock
            rec = {
                "lock_id": int(name_id) if name_id and name_id.isdigit()
                else name_id,
                "table": tbl, "op": None, "pid": None, "since": None,
            }
        if table is None or rec.get("table") == table:
            out.append(rec)
    return out


def clear_table_lock(root: str, lock_id) -> str:
    """Remove a (stale) lock by id — calcleartablelock's recovery path.

    The per-holder file name carries the id, so even a holder that
    crashed before flushing its JSON payload is clearable by id; a
    bare corrupt lock file (legacy single-file form, no id anywhere)
    is clearable by passing the TABLE NAME instead, so recovery never
    requires a manual rm.  Removal targets one specific holder's file,
    so it can never free a lock acquired after the stale one."""
    for f in os.listdir(root):
        if _LOCK_MARK not in f:
            continue
        p = os.path.join(root, f)
        tbl, name_id = _lock_name_parts(f)
        try:
            with open(p) as fh:
                rec = json.load(fh)
        except (OSError, json.JSONDecodeError):
            rec = None  # crashed mid-write: match on the name instead
        hit = (
            (rec is not None and str(rec.get("lock_id")) == str(lock_id))
            or (name_id is not None and name_id == str(lock_id))
            or (rec is None and name_id is None and tbl == str(lock_id))
        )
        if hit:
            try:
                os.remove(p)
            except FileNotFoundError:
                continue  # holder released it first — fine either way
            return f"Lock {lock_id} is cleared"
    return f"No lock with id {lock_id}"


def _retain_path(table_dir: str) -> str:
    return table_dir.rstrip("/") + ".__retain__"


def retain_version(table_dir: str, version_basename: str) -> None:
    """Protect a version directory from _swap's GC — the transaction
    snapshot anchor (the analog of the reference's version buffer
    holding pre-image blocks until the transaction resolves,
    `versioning/BRM/vss.h:180`)."""
    retained = retained_versions(table_dir)
    retained.add(version_basename)
    with open(_retain_path(table_dir), "w") as fh:
        json.dump(sorted(retained), fh)


def retained_versions(table_dir: str) -> set[str]:
    p = _retain_path(table_dir)
    if not os.path.exists(p):
        return set()
    with open(p) as fh:
        return set(json.load(fh))


def release_retained(table_dir: str) -> set[str]:
    """Drop all retention for a table; returns what was retained."""
    retained = retained_versions(table_dir)
    p = _retain_path(table_dir)
    if os.path.exists(p):
        os.remove(p)
    return retained


def _swap(table_dir: str, new_dir: str) -> None:
    """Atomically point `table_dir` at `new_dir`, then GC the old version
    (unless a transaction retains it — see retain_version).

    The live path is a symlink; advancing it is ONE `os.replace` of a
    freshly-created link — atomic on POSIX, so a crash at any point
    leaves a fully-consistent table.  A pre-symlink plain directory is
    migrated first (rename to a version dir, then link); that rename is
    itself atomic, and recovery from a crash between the two steps is
    re-running any rewrite (the version dir is self-describing).
    """
    table_dir = table_dir.rstrip("/")
    old_target: str | None = None
    if os.path.islink(table_dir):
        old_target = os.path.join(
            os.path.dirname(table_dir), os.readlink(table_dir)
        )
    elif os.path.isdir(table_dir):
        # migrate legacy plain-directory layout
        old_target = _new_version_dir(table_dir)
        os.rename(table_dir, old_target)

    tmp_link = table_dir + ".__lnk__"
    if os.path.lexists(tmp_link):
        os.remove(tmp_link)
    os.symlink(os.path.basename(new_dir), tmp_link)
    os.replace(tmp_link, table_dir)  # the atomic commit point

    if (
        old_target
        and os.path.isdir(old_target)
        and os.path.basename(old_target) not in retained_versions(table_dir)
        and os.path.basename(old_target) not in _pinned_versions(table_dir)
    ):
        shutil.rmtree(old_target)


def charnull(df: DataFrame) -> DataFrame:
    """InfiniDB char-storage null semantics: an EMPTY STRING written to
    a char/varchar column is stored as NULL — the reference's char null
    magic value (its own null test, `dbcon/joblist/nulltests.pl`
    check_char_counts, expects is-null = 2 after inserting
    (NULL, '', 'A'); cpimport behaves the same on empty fields).
    Applied at every managed-table WRITE path (create/insert/alter/
    rewrite/stream sink), never on reads of external parquet.
    Idempotent: a managed table can therefore never contain '' in a
    top-level string column.  Scope note: only TOP-LEVEL string columns
    — the reference's type system has no nested types, so '' inside an
    array/struct (engine extension territory) is left as data.

    One select (not chained withColumn), with backtick-quoted column
    references so names containing dots resolve exactly."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType

    if not any(isinstance(f.dataType, StringType) for f in df.schema.fields):
        return df

    def ref(name: str):
        return F.col("`" + name.replace("`", "``") + "`")

    return df.select(
        *[
            F.nullif(ref(f.name), F.lit("")).alias(f.name)
            if isinstance(f.dataType, StringType)
            else ref(f.name)
            for f in df.schema.fields
        ]
    )


def managed_writer(
    df: DataFrame,
    mode: str,
    codec: str | None = None,
    partition_by: list[str] | None = None,
):
    """THE write chokepoint for managed-table data: char-null semantics
    applied exactly once, compression codec pinned, optional hive
    partitioning.  Every data write in this module routes through here;
    a new write path that bypasses it silently breaks the charnull
    invariant (tests/test_nulltests_replay.py pins the semantics)."""
    writer = charnull(df).write.mode(mode)
    if codec:
        writer = writer.option("compression", codec)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    return writer


def create_table(
    df: DataFrame,
    table_dir: str,
    partition_by: list[str] | None = None,
    codec: str | None = None,
) -> None:
    """Materialize a DataFrame as a managed Parquet table (versioned
    directory + symlink pointer; see module docstring).  ``codec``
    pins the Parquet compression: the reference compresses 8 KB blocks
    with snappy by default and COMMENT='compression=0' disables it
    (utils/compress/idbcompress.cpp:29; ha_calpont_ddl.cpp comment
    parsing) — 'snappy' (default) and 'uncompressed' are the analogs.

    Runs under the table lock like every other version-dir creator:
    an unlocked build racing a concurrent writer's orphan sweep
    (_sweep_orphan_versions treats unpinned non-live version dirs as
    crash debris) could lose its in-flight directory."""
    with _table_lock_wait(table_dir, "CREATE"):
        new_dir = _new_version_dir(table_dir)
        managed_writer(df, "overwrite", codec, partition_by).parquet(new_dir)
        _swap(table_dir, new_dir)


def _hive_partition_cols(table_dir: str) -> list[str]:
    """Partition columns of a hive-partitioned managed table, inferred
    from the live version's ``col=value`` directory names (outermost →
    innermost); ``[]`` for flat layouts.  The layout IS the metadata
    (no sidecar records partition_by), so every writer that must
    preserve partitioning reads it from here — a flat append into a
    partitioned root makes Spark's partition discovery raise
    'Conflicting directory structures' and the table unreadable."""
    cols: list[str] = []
    d = os.path.realpath(table_dir.rstrip("/"))
    while True:
        try:
            subs = [
                e for e in os.listdir(d)
                if "=" in e and not e.startswith(("_", "."))
                and os.path.isdir(os.path.join(d, e))
            ]
        except OSError:
            break
        if not subs:
            break
        name = subs[0].split("=", 1)[0]
        if any(s.split("=", 1)[0] != name for s in subs):
            break  # mixed names: not a hive layout — stop inferring
        cols.append(name)
        d = os.path.join(d, subs[0])
    return cols


def insert_into(df: DataFrame, table_dir: str, codec: str | None = None,
                lock_timeout: float = 60.0) -> None:
    """INSERT: append-only new files — no existing file is touched
    (≅ cpimport incremental load / ha_calpont_impl_write_row_).

    Takes the table lock for the append: an unlocked insert could
    resolve the live symlink, write its part files into the OUTGOING
    version directory while a committer is between token validation
    and swap, and have them rmtree'd by the committer's GC — both
    statements "succeed" and the inserted rows vanish.  Under the lock
    an insert lands either before a committer's validation (token
    mismatch → the rewrite rebases over it) or after its swap (files
    land in the new live version).  A hive-partitioned table's append
    keeps the layout (_hive_partition_cols) — a flat append would
    break partition discovery on every subsequent read."""
    with _table_lock_wait(table_dir, "INSERT", lock_timeout):
        cols = [c for c in _hive_partition_cols(table_dir) if c in df.columns]
        managed_writer(df, "append", codec, cols or None).parquet(table_dir)


def assign_auto_increment(df: DataFrame, col: str, start: int) -> DataFrame:
    """Fill NULLs in ``col`` with sequential ids ``start, start+1, …``.

    Reference: AUTO_INCREMENT ids come from a central BRM counter that
    bulk load / DML reserve ranges from (`writeengine/bulk/cpimport.cpp`
    auto-increment subsystem; `we_bulkload` reserves one range per
    batch).  Spark-native analog — max-offset + per-partition
    row_number, no driver-side loop and NO global sort:

    1. tag rows with ``spark_partition_id`` and a within-partition
       monotonic id,
    2. per-partition null-counts → prefix-sum offsets (a window over
       the tiny partition-count relation),
    3. broadcast-join offsets back; id = start + offset + local rank.

    Each partition numbers independently, so the batch never funnels
    through one task — the same range-reservation idea the reference
    uses, with partitions as the ranges.  Rows with ``col`` already set
    keep their value (MySQL: explicit values win).  The caller must
    ensure ``df`` is materialized/persisted if its source must not be
    recomputed (two jobs read it: the count and the write)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    need = F.col(col).isNull()
    tagged = df.withColumn("_ai_pid", F.spark_partition_id()).withColumn(
        "_ai_mid", F.monotonically_increasing_id()
    )
    w_local = Window.partitionBy("_ai_pid").orderBy("_ai_mid")
    # rank only the rows needing an id (explicit rows don't consume one
    # within the batch; the caller accounts for their max separately)
    tagged = tagged.withColumn(
        "_ai_rank",
        F.sum(F.when(need, 1).otherwise(0)).over(w_local),
    )
    counts = (
        tagged.filter(need)
        .groupBy("_ai_pid")
        .agg(F.count("*").alias("_ai_n"))
        .withColumn(
            "_ai_off",
            F.coalesce(
                F.sum("_ai_n").over(
                    Window.orderBy("_ai_pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .drop("_ai_n")
    )
    out = tagged.join(F.broadcast(counts), "_ai_pid", "left").withColumn(
        col,
        F.when(
            need,
            (F.lit(start) + F.coalesce(F.col("_ai_off"), F.lit(0)) + F.col("_ai_rank") - 1).cast(
                dict(df.dtypes)[col]
            ),
        ).otherwise(F.col(col)),
    )
    return out.drop("_ai_pid", "_ai_mid", "_ai_rank", "_ai_off")


def _rewrite_writer(df: DataFrame, codec: str | None,
                    table_dir: str | None = None):
    """Overwrite-mode writer honoring the table's pinned compression
    codec (COMMENT='compression=N'; None = Spark default snappy) — every
    copy-on-write rewrite must keep the storage setting, not just the
    INSERT paths.  When ``table_dir`` is given, the rewrite also keeps
    a hive-partitioned layout (a flat rewrite of a partitioned table
    silently dropped the partitioning)."""
    cols = None
    if table_dir is not None:
        cols = [
            c for c in _hive_partition_cols(table_dir) if c in df.columns
        ] or None
    return managed_writer(df, "overwrite", codec, cols)


def _apply_assignments(
    df: DataFrame, cond: Column, assignments: dict[str, Column]
) -> DataFrame:
    """THE UPDATE SET application, shared by every variant (full, join,
    pruned, optimistic) so the semantics can never drift: pin the WHERE
    verdict against the ORIGINAL row before any assignment (MySQL
    evaluates the predicate pre-SET, so a SET that writes a column the
    WHERE references must not change which rows later assignments
    touch; SET exprs still see updated values left-to-right, as MySQL
    does), and keep each column's declared type (MySQL: SET casts to
    the column type — essential for pruned rewrites, where hard-linked
    files retain the old type and a type-changing SET would split the
    table schema)."""
    from pyspark.sql import functions as F

    match = "__idb_upd_match__"
    out = df.withColumn(match, F.coalesce(cond, F.lit(False)))
    dtypes = {f.name: f.dataType for f in df.schema.fields}
    for col_name, expr in assignments.items():
        out = out.withColumn(
            col_name,
            F.when(F.col(match), expr).otherwise(F.col(col_name)).cast(dtypes[col_name]),
        )
    return out.drop(match)


def update_table(
    spark: SparkSession,
    table_dir: str,
    condition: Column,
    assignments: dict[str, Column],
    codec: str | None = None,
) -> int:
    """UPDATE <table> SET <assignments> WHERE <condition>.

    Returns the number of rows updated.  Copy-on-write: the SELECT
    locates rows (the reference's internal UPDATE-as-SELECT), the
    rewrite applies SET to matching rows and passes others through.
    """
    from pyspark.sql import functions as F

    from infinidb_spark.operators.partitions import carry_disabled

    with _table_lock(table_dir, "UPDATE"):
        df = read_table(spark, table_dir)
        n = df.filter(condition).count()
        updated = _apply_assignments(df, condition, assignments)
        new_dir = _new_version_dir(table_dir)
        _rewrite_writer(updated, codec, table_dir).parquet(new_dir)
        carry_disabled(table_dir, new_dir)
        _swap(table_dir, new_dir)
    return n


def _join_qualified(
    df: DataFrame,
    other: DataFrame,
    target_key: str,
    other_key: str,
    where: Column | None,
    join_type: str,
):
    """(joined, qualified) for multi-table DML — existential match.

    MySQL updates/deletes a target row when ANY joined row satisfies
    the WHERE (SQLCOM_UPDATE_MULTI evaluates the predicate per join
    pair), so with duplicate join keys in ``other`` the decision must
    range over every matching row, not one pinned representative.  One
    pass over the raw pair join per target row computes:

    - ``_idb_qual``  — EXISTS(pair): pair qualifies under join_type
      semantics AND the WHERE (evaluated against that pair's ``_idb_r``
      struct and the bare target columns);
    - ``_idb_r``     — the lexicographically-least *qualifying* joined
      row.  MySQL leaves the multi-match SET value undefined (whichever
      row the join emits first) but it is always a row that passed the
      WHERE; pinning the least qualifying row keeps that contract and
      makes the rewrite deterministic.

    ``join_type='inner'``: only join-matched pairs qualify.  ``'left'``:
    every target row is a candidate — unmatched rows see one pair with
    NULL join fields (``WHERE o.k IS NULL`` selects exactly those).

    Shape at scale: one shuffle join on the key, one groupBy on the
    target-row struct, one struct-equality join back — all O(|df| +
    |other|); the struct shuffle carries the same rows the copy-on-
    write rewrite re-writes anyway.  Spark struct equality is null-safe
    field-wise, so NULL-bearing target rows group and join correctly.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    def _has_map(dt) -> bool:
        if isinstance(dt, T.MapType):
            return True
        if isinstance(dt, T.ArrayType):
            return _has_map(dt.elementType)
        if isinstance(dt, T.StructType):
            return any(_has_map(f.dataType) for f in dt.fields)
        return False

    # BOTH sides are guarded: the target row becomes the groupBy key and
    # the other table's columns are packed into the _idb_r struct that
    # F.min orders — a map anywhere in either makes Spark's analysis
    # fail deep inside the plan, so fail with a clear error up front
    for side, schema in (("target", df.schema), ("joined", other.schema)):
        if any(_has_map(f.dataType) for f in schema.fields):
            raise ValueError(
                "multi-table UPDATE/DELETE is not supported when the "
                f"{side} table has map-typed columns (the existential "
                "match groups/orders full rows, and maps are not "
                "orderable)"
            )

    t_cols = list(df.columns)
    o_raw = other.select(
        F.col(other_key).alias("_idb_k"),
        F.struct(*[F.col(c) for c in other.columns]).alias("_idb_r"),
    )
    pairs = df.join(o_raw, F.col(target_key) == F.col("_idb_k"), "left")
    qual = (
        F.lit(True) if join_type == "left" else F.col("_idb_k").isNotNull()
    )
    if where is not None:
        qual = qual & F.coalesce(where, F.lit(False))
    per_target = (
        pairs.groupBy(F.struct(*[F.col(c) for c in t_cols]).alias("_idb_t"))
        .agg(
            F.max(qual).alias("_idb_qual"),
            F.min(F.when(qual, F.col("_idb_r"))).alias("_idb_r"),
        )
    )
    joined = df.join(
        per_target,
        F.struct(*[F.col(c) for c in t_cols]).eqNullSafe(F.col("_idb_t")),
        "left",
    )
    return joined, F.coalesce(F.col("_idb_qual"), F.lit(False))


def update_table_join(
    spark: SparkSession,
    table_dir: str,
    other: DataFrame,
    target_key: str,
    other_key: str,
    assignments: dict[str, Column],
    where: Column | None = None,
    codec: str | None = None,
    join_type: str = "inner",
) -> int:
    """Multi-table UPDATE (``UPDATE t [LEFT] JOIN o ON t.k = o.k SET
    ...``) — the reference's SQLCOM_UPDATE_MULTI surface
    (`dbcon/mysql/ha_calpont_execplan.cpp:1076,1842`: multi-table DML
    plans through the same SELECT machinery).  SET/WHERE expressions
    may reference the matched join row via the ``_idb_r`` struct
    (dialect rewrites ``alias.col`` to ``_idb_r.col``).

    ``join_type='inner'``: only join-matched target rows qualify.
    ``'left'``: EVERY target row is a candidate (MySQL LEFT JOIN UPDATE
    semantics — unmatched rows see NULL join fields, so
    ``WHERE o.k IS NULL`` selects exactly the unmatched rows).
    A row qualifies when ANY matching joined row satisfies the WHERE
    (existential, MySQL's per-pair evaluation — see _join_qualified);
    SET values come from the least qualifying joined row.
    Returns the qualifying-row count; copy-on-write swap."""
    from pyspark.sql import functions as F

    from infinidb_spark.operators.partitions import carry_disabled

    with _table_lock(table_dir, "UPDATE"):
        df = read_table(spark, table_dir)
        joined, matched = _join_qualified(
            df, other, target_key, other_key, where, join_type
        )
        n = joined.filter(matched).count()
        # matched is a MATERIALIZED coalesced column of the joined
        # relation, so the shared pin inside _apply_assignments is a
        # no-op re-pin — used anyway so all four UPDATE variants share
        # one SET application
        out = _apply_assignments(joined, matched, assignments)
        out = out.select(*[F.col(c) for c in df.columns])
        new_dir = _new_version_dir(table_dir)
        _rewrite_writer(out, codec, table_dir).parquet(new_dir)
        carry_disabled(table_dir, new_dir)
        _swap(table_dir, new_dir)
    return n


def delete_from_join(
    spark: SparkSession,
    table_dir: str,
    other: DataFrame,
    target_key: str,
    other_key: str,
    where: Column | None = None,
    codec: str | None = None,
    join_type: str = "inner",
) -> int:
    """Multi-table DELETE (``DELETE t FROM t [LEFT] JOIN o ON ...
    [WHERE]``) — SQLCOM_DELETE_MULTI analog.  ``'inner'``: join-matched
    target rows (with a true WHERE) are removed.  ``'left'``: every
    target row is a candidate with NULL join fields when unmatched —
    the classic anti-join purge is ``LEFT JOIN o ... WHERE o.k IS
    NULL``.  A row is deleted when ANY matching joined row satisfies
    the WHERE (existential — see _join_qualified)."""
    from pyspark.sql import functions as F

    from infinidb_spark.operators.partitions import carry_disabled

    with _table_lock(table_dir, "DELETE"):
        df = read_table(spark, table_dir)
        joined, matched = _join_qualified(
            df, other, target_key, other_key, where, join_type
        )
        n = joined.filter(matched).count()
        out = joined.filter(~matched).select(*[F.col(c) for c in df.columns])
        new_dir = _new_version_dir(table_dir)
        _rewrite_writer(out, codec, table_dir).parquet(new_dir)
        carry_disabled(table_dir, new_dir)
        _swap(table_dir, new_dir)
    return n


def _pruned_rewrite(
    spark: SparkSession,
    table_dir: str,
    predicates: list,
    transform,
    codec: str | None = None,
) -> int:
    """Shared engine for manifest-pruned UPDATE/DELETE.

    The reference's version buffer rewrites only the 8 KB blocks a DML
    touches (`versioning/BRM/vss.h:180`); the file-granularity analog:
    extent-eliminate the table's files against the WHERE (sources/
    manifest.py), rewrite only survivors, and HARD-LINK every other
    file into the new version directory — zero data movement for the
    untouched span, still one atomic swap.  At 100 TB with clustered
    layout (sources/layout.py) a key-ranged DML rewrites O(matching
    files), not the table.

    ``transform(df, cond) -> (new_df, affected_count)`` applies the
    operation to the scanned survivors.
    """
    from functools import reduce

    from infinidb_spark.sources.manifest import _as_filter, build_manifest, prune

    if not predicates:
        raise ValueError(
            "pruned DML needs at least one predicate — for a full-table "
            "rewrite use update_table/delete_from"
        )
    from infinidb_spark.operators.partitions import carry_disabled, disabled_partitions

    cond = reduce(lambda a, b: a & b, (_as_filter(p) for p in predicates))
    with _table_lock(table_dir, "DML"):
        # EVERYTHING version-dependent — realpath resolution, layout
        # check, disabled set, manifest, pruning — runs UNDER the lock:
        # a rewrite committed between an unlocked snapshot and the lock
        # acquisition would otherwise have its files hard-linked from
        # the OUTGOING version (silently reverting it, or crashing on
        # the GC'd paths).  update_table resolves under the lock for
        # the same reason.
        real = os.path.realpath(table_dir.rstrip("/"))
        if any(
            os.path.isdir(os.path.join(real, f))
            for f in os.listdir(real)
            if not f.startswith(("_", "."))
        ):
            raise ValueError(
                "pruned DML supports flat table layouts only — for a "
                "partitioned table, filter on the partition column instead "
                "(Spark prunes those directories natively)"
            )
        off = disabled_partitions(table_dir)
        manifest = [
            e for e in build_manifest(real) if os.path.basename(e["file"]) not in off
        ]
        if not manifest and not off:
            return 0
        touched = set(prune(manifest, predicates))
        new_dir = _new_version_dir(table_dir)
        os.makedirs(new_dir)
        for entry in manifest:
            if entry["file"] not in touched:
                os.link(entry["file"], os.path.join(new_dir, os.path.basename(entry["file"])))
        n = 0
        if touched:
            df = spark.read.option("mergeSchema", "true").parquet(*sorted(touched))
            new_df, n = transform(df, cond)
            # append alongside the hard links — part-file names are unique
            managed_writer(new_df, "append", codec).parquet(new_dir)
        carry_disabled(table_dir, new_dir)
        _swap(table_dir, new_dir)
    return n


def update_table_pruned(
    spark: SparkSession,
    table_dir: str,
    predicates: list,
    assignments: dict[str, Column],
    codec: str | None = None,
) -> int:
    """UPDATE rewriting only files whose min/max can match the WHERE
    (predicate-tuple form, sources/manifest.py); others hard-linked."""
    from pyspark.sql import functions as F

    def transform(df: DataFrame, cond: Column):
        n = df.filter(cond).count()
        return _apply_assignments(df, cond, assignments), n

    return _pruned_rewrite(spark, table_dir, predicates, transform, codec)


def delete_from_pruned(
    spark: SparkSession, table_dir: str, predicates: list,
    codec: str | None = None,
) -> int:
    """DELETE rewriting only files whose min/max can match the WHERE;
    NULL-condition rows kept (same three-valued rule as delete_from)."""
    from pyspark.sql import functions as F

    def transform(df: DataFrame, cond: Column):
        cond_true = F.coalesce(cond, F.lit(False))
        n = df.filter(cond_true).count()
        return df.filter(~cond_true), n

    return _pruned_rewrite(spark, table_dir, predicates, transform, codec)


def read_table(spark: SparkSession, table_dir: str) -> DataFrame:
    """Read a managed table with schema merging across part files.

    Needed because metadata-only ADD COLUMN (below) leaves older files
    without the new column; Parquet footer merging resolves the union
    schema and older rows surface NULLs.  At 100 TB a metastore/
    transaction log holds the schema instead of per-file footers — for
    the scratch-table sizes managed tables serve, footer merging is
    fine.

    Partitions marked out of service (operators/partitions.py) are
    excluded at PLAN time — their files never become input splits, the
    same way the BRM filters EXTENTOUTOFSERVICE extents before job
    dispatch.
    """
    from infinidb_spark.operators.partitions import disabled_partitions, enabled_files

    if disabled_partitions(table_dir):
        files = enabled_files(table_dir)
        if not files:
            # every partition disabled: schema-only empty relation
            return spark.read.option("mergeSchema", "true").parquet(table_dir).limit(0)
        return spark.read.option("mergeSchema", "true").parquet(*files)
    return spark.read.option("mergeSchema", "true").parquet(table_dir)


def alter_table(
    spark: SparkSession,
    table_dir: str,
    action: dict,
    codec: str | None = None,
) -> None:
    """ALTER TABLE, one action (reference DDL surface
    ``dbcon/ddlpackage/ddl.y:477-560``: AtaAddColumn, AtaDropColumn,
    AtaModifyColumnType, AtaRenameColumn).

    Scale design: ``ADD COLUMN`` with a NULL default is METADATA-ONLY —
    every existing file is hard-linked into the new version and one
    zero-row file carries the widened schema (old rows read as NULL via
    schema merge); no data is rewritten at any table size.  Type-
    changing actions (MODIFY/CHANGE/non-NULL DEFAULT) and DROP must
    materialize new values, so they are copy-on-write rewrites — same
    contract as UPDATE.
    """
    from pyspark.sql import functions as F

    from infinidb_spark.operators.partitions import disabled_partitions

    op = action["op"]
    # Everything version-dependent — realpath, the disabled check, the
    # layout check, and the READ PLAN (Spark pins the file listing when
    # the DataFrame is created) — runs UNDER the lock: an unlocked plan
    # racing a concurrent committed UPDATE would hard-link / re-read
    # the outgoing version and silently revert it (or crash on GC'd
    # paths).  update_table resolves under the lock for the same reason.
    with _table_lock(table_dir, "ALTER"):
        real = os.path.realpath(table_dir.rstrip("/"))
        if disabled_partitions(table_dir):
            # a rewrite from the enabled files only would fork the schema
            # away from the out-of-service data; the reference likewise
            # refuses DDL over disabled partitions
            raise RuntimeError(
                "ALTER TABLE with out-of-service partitions — "
                "calenablepartitions or caldroppartitions first"
            )
        flat = not any(
            os.path.isdir(os.path.join(real, f))
            for f in os.listdir(real)
            if not f.startswith(("_", "."))
        )
        df = read_table(spark, table_dir)
        if op == "add" and action.get("default") is None and flat:
            if action["column"] in df.columns:
                raise ValueError(f"column {action['column']!r} already exists")
            widened = df.limit(0).withColumn(
                action["column"], F.lit(None).cast(action["type"])
            )
            new_dir = _new_version_dir(table_dir)
            os.makedirs(new_dir)
            for f in os.listdir(real):
                if not f.startswith(("_", ".")):
                    os.link(os.path.join(real, f), os.path.join(new_dir, f))
            managed_writer(widened, "append", codec).parquet(new_dir)
            _swap(table_dir, new_dir)
            return

        if op == "add":
            if action["column"] in df.columns:
                raise ValueError(f"column {action['column']!r} already exists")
            dflt = action.get("default")
            out = df.withColumn(
                action["column"],
                (F.expr(dflt) if dflt is not None else F.lit(None)).cast(action["type"]),
            )
        elif op == "drop":
            if action["column"] not in df.columns:
                raise ValueError(f"no such column {action['column']!r}")
            out = df.drop(action["column"])
        elif op == "modify":
            out = df.withColumn(action["column"], F.col(action["column"]).cast(action["type"]))
        elif op == "change":
            out = df.withColumn(
                action["old"], F.col(action["old"]).cast(action["type"])
            ).withColumnRenamed(action["old"], action["new"])
        elif op == "rename_column":
            # RENAME COLUMN old TO new (ddl.y AtaRenameColumn): type kept
            if action["old"] not in df.columns:
                raise ValueError(f"no such column {action['old']!r}")
            if action["new"] in df.columns:
                raise ValueError(f"column {action['new']!r} already exists")
            out = df.withColumnRenamed(action["old"], action["new"])
        else:
            raise ValueError(f"unknown ALTER action {op!r}")
        new_dir = _new_version_dir(table_dir)
        _rewrite_writer(out, codec, table_dir).parquet(new_dir)
        _swap(table_dir, new_dir)


def rename_table(table_dir: str, new_dir: str) -> None:
    """ALTER TABLE ... RENAME TO — move the live pointer (symlink or
    plain directory).  The link target is version-dir BASENAME-relative
    (same parent), so renaming only the link preserves resolution.

    Runs under the table lock (every other mutator does; an unlocked
    rename racing a committer's _swap could re-create the old path and
    leave the table live under both names), and CARRIES THE SIDECARS:
    retention (``.__retain__``) and pins (``.__pins__``) are
    name-keyed, so leaving them behind would silently stop protecting
    snapshots — the next rewrite's GC would collect a version an open
    transaction still reads."""
    src, dst = table_dir.rstrip("/"), new_dir.rstrip("/")
    if os.path.lexists(dst):
        raise ValueError(f"target {new_dir!r} already exists")
    with _table_lock(src, "RENAME"):
        os.rename(src, dst)
        for suffix in (".__retain__", ".__pins__"):
            if os.path.lexists(src + suffix):
                os.rename(src + suffix, dst + suffix)


def delete_from(
    spark: SparkSession,
    table_dir: str,
    condition: Column,
    codec: str | None = None,
) -> int:
    """DELETE FROM <table> WHERE <condition>; returns rows deleted.

    SQL DELETE removes rows where the WHERE is TRUE — rows where it
    evaluates NULL are KEPT (three-valued logic), so the keep-filter is
    `NOT coalesce(cond, FALSE)`, not `NOT cond` (which would silently
    drop NULL-condition rows).
    """
    from pyspark.sql import functions as F

    from infinidb_spark.operators.partitions import carry_disabled

    with _table_lock(table_dir, "DELETE"):
        df = read_table(spark, table_dir)
        cond_true = F.coalesce(condition, F.lit(False))
        n = df.filter(cond_true).count()
        kept = df.filter(~cond_true)
        new_dir = _new_version_dir(table_dir)
        _rewrite_writer(kept, codec, table_dir).parquet(new_dir)
        carry_disabled(table_dir, new_dir)
        _swap(table_dir, new_dir)
    return n


# --- optimistic concurrent writers ------------------------------------
# The reference's version buffer admits concurrent writers with
# snapshot readers (`versioning/BRM/vss.h:180-210`: a block entering
# the VB records its verID; a second writer hitting a VB-resident block
# gets ERR_VBBM_OVERFLOW-style rejection).  Spark-native analog:
# SNAPSHOT-ISOLATION copy-on-write.  A writer reads a PINNED snapshot
# and builds its full rewrite with NO lock held (the expensive
# distributed work runs concurrently for any number of writers); the
# table lock is taken only for a short commit-time validate+swap.  If
# another writer committed in between, the row-level diff between the
# two snapshots decides: disjoint from our WHERE -> rebase (re-execute
# on the new snapshot, i.e. serialize after the winner), true row
# overlap -> first-committer-wins abort, exactly the VSS write-write
# conflict.  Pins keep a snapshot's files readable under concurrent
# swaps (the VB holding pre-images until the transaction resolves).


class ConcurrentWriteConflict(RuntimeError):
    """First-committer-wins abort: a concurrently-committed write
    changed rows this statement also writes (snapshot-isolation
    write-write conflict — `versioning/BRM/vss.h:180-210`)."""


def _pins_dir(table_dir: str) -> str:
    return table_dir.rstrip("/") + ".__pins__"


def _pin_version(table_dir: str, version_basename: str) -> str:
    """Additive per-writer pin file — no read-modify-write race between
    concurrent pinners (unlike the shared retain JSON)."""
    d = _pins_dir(table_dir)
    os.makedirs(d, exist_ok=True)
    p = os.path.join(d, uuid.uuid4().hex[:12] + ".json")
    # atomic publish: a sweeper reading a HALF-written pin would treat
    # the file as absent and collect the version it protects
    tmp = p + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"version": version_basename, "pid": os.getpid()}, fh)
    os.replace(tmp, p)
    return p


def _unpin(pin_path: str) -> None:
    try:
        os.remove(pin_path)
    except FileNotFoundError:
        pass


def _pinned_versions(table_dir: str) -> set[str]:
    """Versions pinned by LIVE writers; a pin whose pid is dead is a
    crashed transaction and is garbage-collected here (the stale-lock
    recovery analog for snapshots)."""
    d = _pins_dir(table_dir)
    if not os.path.isdir(d):
        return set()
    out: set[str] = set()
    for f in os.listdir(d):
        p = os.path.join(d, f)
        try:
            with open(p) as fh:
                rec = json.load(fh)
        except (OSError, json.JSONDecodeError):
            continue
        pid = rec.get("pid")
        alive = True
        if isinstance(pid, int):
            try:
                os.kill(pid, 0)
            except ProcessLookupError:
                alive = False
            except PermissionError:
                pass
        if alive:
            out.add(rec.get("version"))
        else:
            _unpin(p)
    return out


#: directory-identity memo for _snapshot: {dir: (dir mtime_ns,
#: {filename: (size, mtime_ns)}, [subdir names])}.  LRU-bounded.
_SNAP_CACHE: "OrderedDict[str, tuple[int, dict[str, tuple[int, int]], list[str]]]" = (
    OrderedDict()
)
_SNAP_CACHE_MAX = 8192
#: "racily clean" guard (the make/git idiom): a directory whose mtime
#: is within this window of now is never trusted from cache NOR cached
#: — a writer landing in the same timestamp tick after our scan would
#: otherwise alias.  Quiescent directories (the historical bulk of a
#: large table) are exactly the ones that hit the memo.  2 s, not a few
#: hundred ms: the window must exceed the FILESYSTEM's mtime
#: granularity (1 s on coarse filesystems; git's racily-clean rule
#: sizes to the same bound), else a writer landing in the same
#: truncated-mtime tick after the window closes would alias.
_SNAP_RACY_NS = 2_000_000_000


def _scan_dir(d: str) -> tuple[dict[str, tuple[int, int]], list[str], bool]:
    """One directory's (file identities, subdir names, listing-complete)
    — os.walk parity: dot-dirs skipped, symlinked dirs listed-but-not-
    descended, file stats follow symlinks.  ``complete=False`` means
    the scandir itself failed (EMFILE/EACCES/...): the caller must NOT
    memoize the empty listing, or a transient error would poison the
    snapshot identity until the dir mtime next changes."""
    files: dict[str, tuple[int, int]] = {}
    subdirs: list[str] = []
    try:
        with os.scandir(d) as it:
            for de in it:
                try:
                    if de.is_dir(follow_symlinks=False):
                        if not de.name.startswith("."):
                            subdirs.append(de.name)
                    elif de.is_dir(follow_symlinks=True):
                        continue  # symlink to dir: os.walk doesn't recurse
                    else:
                        st = de.stat()
                        files[de.name] = (st.st_size, st.st_mtime_ns)
                except OSError:
                    continue
    except OSError:
        return files, sorted(subdirs), False
    return files, sorted(subdirs), True


def _snapshot(table_dir: str) -> tuple[str, str, dict[str, tuple[int, int]]]:
    """(resolved version dir, content token, per-file identity map).

    The token hashes the file SET (relative names + sizes + mtimes),
    not just the version basename: a concurrent INSERT appends files
    into the SAME version directory, so basename equality alone would
    let a rewrite silently drop freshly-inserted rows.  mtime_ns in the
    identity guards the pathological same-name-same-size rewrite.

    The conflict path diffs two identity maps ``{relpath: (size,
    mtime_ns)}`` so it reads only CHANGED files, never the whole
    table.

    Cost: O(directories) stat + O(changed-directory files) scandir per
    statement, NOT O(files) — each directory's listing is memoized
    against its mtime (every writer here creates/renames/unlinks
    entries, which bumps the parent mtime; nothing writes parquet in
    place).  The reference keeps its extent map memory-resident for the
    same reason (``versioning/BRM/extentmap.h:116``): snapshot identity
    must be consultable per-statement without touching the extents.
    Directories modified within ``_SNAP_RACY_NS`` of now are rescanned
    unconditionally, so a concurrent writer in the same timestamp tick
    can never alias a stale listing.

    LIMIT: the memo keys on the PARENT directory's mtime, which an
    in-place rewrite of an existing file (open + truncate on the same
    name) does NOT bump — such an external edit is invisible to
    conflict detection until something creates/renames/unlinks in that
    directory.  No writer in this
    engine modifies parquet in place, so the blind spot only matters
    for table dirs also written by EXTERNAL tools; for those, set
    ``INFINIDB_SPARK_SNAPSHOT_NO_MEMO=1`` to stat every file on every
    snapshot (the pre-memo O(files) behavior)."""
    real = os.path.realpath(table_dir.rstrip("/"))
    no_memo = os.environ.get("INFINIDB_SPARK_SNAPSHOT_NO_MEMO", "") not in ("", "0")
    entries: dict[str, tuple[int, int]] = {}
    now = time.time_ns()
    stack = [real]
    while stack:
        d = stack.pop()
        try:
            dmt = os.stat(d).st_mtime_ns
        except OSError:
            continue
        hit = None if no_memo else _SNAP_CACHE.get(d)
        if hit is not None and hit[0] == dmt and now - dmt > _SNAP_RACY_NS:
            _, files, subdirs = hit
            _SNAP_CACHE.move_to_end(d)
        else:
            files, subdirs, complete = _scan_dir(d)
            if complete and now - dmt > _SNAP_RACY_NS:
                _SNAP_CACHE[d] = (dmt, files, subdirs)
                _SNAP_CACHE.move_to_end(d)
                while len(_SNAP_CACHE) > _SNAP_CACHE_MAX:
                    _SNAP_CACHE.popitem(last=False)
            else:
                # racy window OR a failed listing: never memoize —
                # a transient EMFILE/EACCES must self-heal next call
                _SNAP_CACHE.pop(d, None)
        rel_base = os.path.relpath(d, real)
        for name, key in files.items():
            rel = name if rel_base == "." else os.path.join(rel_base, name)
            entries[rel] = key
        stack.extend(os.path.join(d, s) for s in subdirs)
    token = hashlib.sha256(
        json.dumps([os.path.basename(real), sorted(entries.items())]).encode()
    ).hexdigest()
    return real, token, entries


def _data_file_ids(entries: dict[str, tuple[int, int]]) -> dict[str, tuple[int, int]]:
    """The subset of a snapshot identity map Spark would read as data:
    .parquet files with no hidden path component (the _SUCCESS /
    _partitions.json sidecars follow different rules)."""
    return {
        rel: key
        for rel, key in entries.items()
        if rel.endswith(".parquet")
        and not any(p.startswith(("_", ".")) for p in rel.split(os.sep))
    }


def _read_files(spark: SparkSession, version_dir: str, rels: list[str]) -> DataFrame:
    """Read an explicit file subset of a pinned version (module-level so
    tests can assert HOW MANY files the conflict path touches).
    basePath keeps Hive-partition columns: a leaf-file read without it
    drops `k=1/`-style directory columns and the conflict probe's
    exceptAll/filter would mis-resolve against the flat side."""
    return (
        spark.read.option("mergeSchema", "true")
        .option("basePath", version_dir)
        .parquet(*[os.path.join(version_dir, r) for r in rels])
    )


def _overlap_on_changed_files(
    spark: SparkSession,
    snap_dir: str,
    old_entries: dict[str, tuple[int, int]],
    cur_dir: str,
    cur_entries: dict[str, tuple[int, int]],
    cond_true: Column,
) -> int | None:
    """Write-write overlap probe reading ONLY the files that differ
    between two pinned versions, or None to force the full-table diff.

    The reference's version buffer tracks CHANGED blocks, never the
    whole table (`versioning/BRM/vss.h:180-210`); the analog here is
    multiset algebra over part files: with shared = identical
    (relpath, size, mtime) files, old = shared ⊎ removed and
    cur = shared ⊎ added, so old ∖ cur = removed ∖ added — the
    exceptAll only ever needs the differing files.  Hard-linked
    carries (metadata-only ALTER, caldroppartitions survivors) share
    identity and drop out for free.

    Falls back (None) when either version has out-of-service
    partitions: read_table excludes those files at plan time, and the
    exclusion must hold in the diff too — rare admin state, so the
    conservative full read is fine."""
    from infinidb_spark.operators.partitions import disabled_partitions

    if disabled_partitions(snap_dir) or disabled_partitions(cur_dir):
        return None
    old_data = _data_file_ids(old_entries)
    cur_data = _data_file_ids(cur_entries)
    removed = sorted(r for r, k in old_data.items() if cur_data.get(r) != k)
    added = sorted(r for r, k in cur_data.items() if old_data.get(r) != k)
    if not removed and not added:
        return 0
    if not removed:
        return _read_files(spark, cur_dir, added).filter(cond_true).limit(1).count()
    if not added:
        return _read_files(spark, snap_dir, removed).filter(cond_true).limit(1).count()
    old_diff = _read_files(spark, snap_dir, removed)
    cur_diff = _read_files(spark, cur_dir, added)
    return (
        old_diff.exceptAll(cur_diff).filter(cond_true).limit(1).count()
        + cur_diff.exceptAll(old_diff).filter(cond_true).limit(1).count()
    )


@contextmanager
def _table_lock_wait(table_dir: str, op: str, timeout: float = 60.0,
                     poll: float = 0.05):
    """`_table_lock` that WAITS (bounded) instead of failing fast —
    optimistic writers hold it only for commit-time validate+swap, so
    contention windows are milliseconds, not rewrite durations."""
    deadline = time.monotonic() + timeout
    while True:
        cm = _table_lock(table_dir, op)
        try:
            cm.__enter__()
        except RuntimeError:
            if time.monotonic() >= deadline:
                raise
            time.sleep(poll)
            continue
        try:
            yield
        except BaseException as e:
            cm.__exit__(type(e), e, e.__traceback__)
            raise
        else:
            cm.__exit__(None, None, None)
        return


def _read_version(spark: SparkSession, version_dir: str) -> DataFrame:
    """read_table against a PINNED version directory (the out-of-service
    sidecar lives inside the version dir, so exclusion semantics hold —
    read_table takes any directory, and delegating keeps the optimistic
    snapshot read from ever diverging from the normal read path)."""
    return read_table(spark, version_dir)


def _sweep_orphan_versions(table_dir: str) -> None:
    """GC version dirs left by CRASHED writers (e.g. SIGKILL between
    rewrite-build and commit) — the stale-lock recovery analog for
    snapshots.  A version dir is an orphan when it is not the live
    version, not retained by an open transaction, and not pinned by a
    live-pid writer (`_pinned_versions` drops dead-pid pins first).

    Must run under the table lock: plain writers build their rewrite
    UNDER that lock, and optimistic writers pin their in-flight version
    dir BEFORE its first byte is written, so anything unpinned here is
    garbage.  Ordering matters: version dirs are LISTED first and the
    keep-set read AFTER — a concurrent optimistic writer pins (lock-
    free) before creating its dir, so any dir the listing sees has its
    pin visible to the later read; a keep-set snapshotted first could
    go stale while this process is descheduled and collect a just-
    pinned, mid-write directory."""
    table_dir = table_dir.rstrip("/")
    parent = os.path.dirname(table_dir) or "."
    base = os.path.basename(table_dir)
    live = os.path.basename(os.path.realpath(table_dir))
    candidates = [
        f for f in os.listdir(parent)
        if f.startswith(base + ".__v") and f.endswith("__") and f != live
    ]
    if not candidates:
        return
    keep = retained_versions(table_dir) | _pinned_versions(table_dir)
    for f in candidates:
        if f in keep:
            continue
        shutil.rmtree(os.path.join(parent, f), ignore_errors=True)


def _gc_version(table_dir: str, version_dir: str) -> None:
    """Drop a no-longer-live version once nothing pins or retains it."""
    if not os.path.isdir(version_dir):
        return
    base = os.path.basename(version_dir)
    if os.path.realpath(version_dir) == os.path.realpath(table_dir.rstrip("/")):
        return
    if base in retained_versions(table_dir) or base in _pinned_versions(table_dir):
        return
    shutil.rmtree(version_dir, ignore_errors=True)


def _optimistic_rewrite(
    spark: SparkSession,
    table_dir: str,
    op: str,
    condition: Column,
    transform,
    codec: str | None,
    max_retries: int = 3,
    lock_timeout: float = 60.0,
    _before_commit=None,
) -> int:
    """Shared optimistic copy-on-write loop for UPDATE/DELETE.

    ``transform(df, cond_true) -> rewritten df``.  ``_before_commit``
    is a test hook invoked after the rewrite is built, before the
    commit lock — the deterministic way to interleave a competing
    committed write.

    Conflict detection sees every create/rename/unlink any engine
    writer performs; see the ``_snapshot`` LIMIT note for the one
    external-writer pattern it cannot see (in-place file rewrites,
    which bump no directory mtime) and the
    ``INFINIDB_SPARK_SNAPSHOT_NO_MEMO`` escape hatch for
    externally-managed table dirs."""
    from pyspark.sql import functions as F

    from infinidb_spark.operators.partitions import carry_disabled

    cond_true = F.coalesce(condition, F.lit(False))
    # pin under the lock: every version rmtree also runs under it, so a
    # snapshot can never vanish between resolve and pin
    with _table_lock_wait(table_dir, f"{op}-SNAPSHOT", lock_timeout):
        snap_dir, token, _ = _snapshot(table_dir)
        pins = [_pin_version(table_dir, os.path.basename(snap_dir))]
    old_dirs = [snap_dir]
    new_dir: str | None = None
    try:
        for attempt in range(max_retries + 1):
            df = _read_version(spark, snap_dir)
            n = df.filter(cond_true).count()
            new_dir = _new_version_dir(table_dir)
            # pin the in-flight version BEFORE its first byte lands:
            # _sweep_orphan_versions treats any unpinned non-live
            # version dir as crash debris
            pins.append(_pin_version(table_dir, os.path.basename(new_dir)))
            _rewrite_writer(transform(df, cond_true), codec, table_dir).parquet(new_dir)
            carry_disabled(table_dir, new_dir)
            if _before_commit is not None:
                hook, _before_commit = _before_commit, None
                hook()
            committed = False
            with _table_lock_wait(table_dir, op, lock_timeout):
                cur_dir, cur_token, _ = _snapshot(table_dir)
                if cur_token == token:
                    _swap(table_dir, new_dir)
                    committed = True
                else:
                    # pin the winner's version UNDER the lock so its
                    # files survive a third writer's swap-GC while we
                    # diff against it
                    pins.append(_pin_version(table_dir, os.path.basename(cur_dir)))
                    old_dirs.append(cur_dir)
            if committed:
                new_dir = None
                return n
            shutil.rmtree(new_dir, ignore_errors=True)  # stale rewrite
            new_dir = None
            if attempt >= max_retries:
                raise ConcurrentWriteConflict(
                    f"{op} on {os.path.basename(table_dir.rstrip('/'))!r}: "
                    f"snapshot invalidated {attempt + 1} times — giving up"
                )
            # row-level overlap vs the concurrently-committed state:
            # pre-images the winner removed/modified + post-images it
            # wrote; any of them matching OUR predicate is a true
            # write-write conflict -> first committer wins.  Reads only
            # the CHANGED files (see _overlap_on_changed_files) — a
            # conflict on an N-file table costs O(changed), not two
            # full-table set differences.
            if os.path.realpath(snap_dir) == os.path.realpath(cur_dir):
                # same version dir: the winner only APPENDED (INSERT).
                # New rows are phantoms under snapshot isolation, never
                # a write-write conflict — rebase over them.
                overlap = 0
            else:
                # re-walk BOTH dirs at diff time (matching the old
                # full-table diff, which read them live): the PIN-time
                # identity map can miss a file a concurrent INSERT
                # appended into the snapshot dir after pinning — its
                # rows would then show up only on the winner's side
                # and abort what is really a rebase-able phantom
                _, _, old_now = _snapshot(snap_dir)
                _, _, cur_now = _snapshot(cur_dir)
                overlap = _overlap_on_changed_files(
                    spark, snap_dir, old_now, cur_dir, cur_now, cond_true
                )
                if overlap is None:  # out-of-service state: full diff
                    old_df = _read_version(spark, snap_dir)
                    cur_df = _read_version(spark, cur_dir)
                    overlap = (
                        old_df.exceptAll(cur_df).filter(cond_true).limit(1).count()
                        + cur_df.exceptAll(old_df).filter(cond_true).limit(1).count()
                    )
            if overlap:
                raise ConcurrentWriteConflict(
                    f"{op} on {os.path.basename(table_dir.rstrip('/'))!r}: a "
                    "concurrent write changed rows this statement also "
                    "writes (first committer wins; retry the statement)"
                )
            # disjoint -> rebase: adopt the winner's snapshot and
            # re-execute, i.e. serialize this statement after it
            snap_dir, token = cur_dir, cur_token
        raise AssertionError("unreachable")
    finally:
        if new_dir:
            shutil.rmtree(new_dir, ignore_errors=True)
        for p in pins:
            _unpin(p)
        try:
            # GC under the lock (see pin note above); best-effort — a
            # skipped version is re-collected by the next writer's GC
            with _table_lock_wait(table_dir, "GC", timeout=5.0):
                for d in old_dirs:
                    _gc_version(table_dir, d)
                _sweep_orphan_versions(table_dir)
        except RuntimeError:
            pass


def update_table_optimistic(
    spark: SparkSession,
    table_dir: str,
    condition: Column,
    assignments: dict[str, Column],
    codec: str | None = None,
    max_retries: int = 3,
    lock_timeout: float = 60.0,
    _before_commit=None,
) -> int:
    """UPDATE under snapshot isolation: concurrent writers on DISJOINT
    rows of one table all commit (the reference's version-buffer
    admission); true row overlap aborts the later committer."""
    from pyspark.sql import functions as F

    def transform(df: DataFrame, cond_true: Column) -> DataFrame:
        return _apply_assignments(df, cond_true, assignments)

    return _optimistic_rewrite(
        spark, table_dir, "UPDATE", condition, transform, codec,
        max_retries, lock_timeout, _before_commit,
    )


def delete_from_optimistic(
    spark: SparkSession,
    table_dir: str,
    condition: Column,
    codec: str | None = None,
    max_retries: int = 3,
    lock_timeout: float = 60.0,
    _before_commit=None,
) -> int:
    """DELETE under snapshot isolation — see update_table_optimistic."""

    def transform(df: DataFrame, cond_true: Column) -> DataFrame:
        return df.filter(~cond_true)

    return _optimistic_rewrite(
        spark, table_dir, "DELETE", condition, transform, codec,
        max_retries, lock_timeout, _before_commit,
    )
