"""Batch DML over Parquet tables — INSERT / LOAD / UPDATE / DELETE.

Reference: row DML flows through DMLProc + the version buffer for MVCC
(`dbcon/mysql/ha_calpont_dml.cpp:605` `ha_calpont_impl_write_row_`,
`dbcon/dmlpackage/dml.y:424-530`, VSS `versioning/BRM/vss.h:180`);
UPDATE/DELETE internally run a SELECT to locate rows
(`calpontselectexecutionplan.h:98-109` IDB_QUERYTYPE UPDATE/DELETE).

Spark-native model: **copy-on-write** over Parquet directories with ONE
commit protocol for every row write.  The live path ``<table>`` is a
symlink to a version directory ``<table>.__v<uuid>__``; a statement
builds a new version directory and then, under the table's commit lock,
advances the symlink with a single atomic ``os.replace``.  A crash
leaves the pointer on either the old or the new version, never missing
and never a mix — the analog of the reference's version buffer, whose
pre-image blocks stay readable until the pointer moves.

* UPDATE / DELETE (single- and multi-table) read a pinned snapshot and
  rewrite it outside the lock; at commit the snapshot token is checked.
  Unchanged → swap.  Changed → a row-level diff against the winner
  decides between rebase (disjoint rows: re-execute on the new version)
  and first-committer-wins abort (``ConcurrentWriteConflict``).
* INSERT / LOAD write the new rows once into a pinned pending version,
  check NOT NULL there, then under the lock hard-link every file of the
  live version in and swap.  An insert cannot conflict.
* ROLLBACK moves the pointer back to the retained pre-image
  (``retain_version``).

Affected-row counts come from an ``Observation`` on the written
DataFrame, so no statement runs a separate count job.  Tables created
before the symlink layout (plain directories) are migrated on the first
swap.  DDL (create/alter/TRUNCATE/drop partitions, OPTIMIZE in
sources/layout.py) holds the lock for its whole build, and the
streaming sink links epoch files into the live version.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import time
import uuid
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


def _write_json_atomic(path: str, obj) -> None:
    """Publish a small JSON sidecar with tmp + ``os.replace``: a crash
    mid-write leaves the previous content, never a torn file that every
    later reader would fail to parse."""
    tmp = path + ".tmp"
    try:
        with open(tmp, "w") as fh:
            json.dump(obj, fh)
        os.replace(tmp, path)
    except BaseException:
        try:
            os.remove(tmp)
        except FileNotFoundError:
            pass
        raise


def retain_version(table_dir: str, version_basename: str) -> None:
    """Protect a version directory from _swap's GC — the transaction
    snapshot anchor (the analog of the reference's version buffer
    holding pre-image blocks until the transaction resolves,
    `versioning/BRM/vss.h:180`)."""
    retained = retained_versions(table_dir)
    retained.add(version_basename)
    _write_json_atomic(_retain_path(table_dir), sorted(retained))


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


def _link_live_files(table_dir: str, new_dir: str) -> None:
    """Hard-link every file of the live version into ``new_dir``,
    mirroring subdirectories: data files (hive ``col=value/`` dirs
    included), the ``_partitions.json`` sidecar and sink ``_epochs/``
    markers, checksum files.  The live ``_SUCCESS`` (``new_dir`` has its
    own) and hidden directories (sink epochs still staging) are
    skipped."""
    if not os.path.exists(table_dir):
        return  # first write creates the table
    real = os.path.realpath(table_dir.rstrip("/"))
    for dirpath, dirnames, files in os.walk(real):
        dirnames[:] = [d for d in dirnames if not d.startswith(".")]
        dst = os.path.join(new_dir, os.path.relpath(dirpath, real))
        os.makedirs(dst, exist_ok=True)
        for f in files:
            if f not in ("_SUCCESS", "._SUCCESS.crc"):
                os.link(os.path.join(dirpath, f), os.path.join(dst, f))


_MATCH = "__idb_match__"


def _observe_match(df: DataFrame, match: Column, obs) -> DataFrame:
    """``df`` plus a boolean ``_MATCH`` column — the statement's WHERE
    verdict, NULL as FALSE — with the matching-row count observed on
    ``obs``, so the affected-row count comes out of the write job.  The
    verdict is projected before it is observed: an observed metric may
    not hold an IN/EXISTS subquery, and a constant WHERE folded into the
    filter above would drop the observation from the plan."""
    from pyspark.sql import functions as F

    return df.withColumn(_MATCH, F.coalesce(match, F.lit(False))).observe(
        obs, F.count(F.when(F.col(_MATCH), 1)).alias("rows")
    )


def insert_into(df: DataFrame, table_dir: str, codec: str | None = None,
                lock_timeout: float = 60.0, notnull: list[str] = (),
                stmt: str = "INSERT", _before_commit=None) -> int:
    """INSERT / LOAD: returns the number of rows inserted
    (≅ cpimport incremental load / ha_calpont_impl_write_row_).

    The rows are written ONCE into a pending version directory, pinned
    before its first byte lands so a crashed insert is collected by the
    next writer's orphan sweep.  NOT NULL columns are checked on those
    staged files (MySQL rejects the whole statement, so nothing becomes
    visible on error, and the source query never runs twice).  Then,
    under the commit lock, every file of the then-live version is
    hard-linked in and the pointer swapped — no existing file is
    rewritten and the pre-image version is left untouched.  A
    hive-partitioned table is staged with its layout
    (_hive_partition_cols) so the link-in lands in the right ``col=value``
    dirs.  ``_before_commit`` is a test hook run after staging, before
    the commit lock."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    new_dir = _new_version_dir(table_dir)
    pin = _pin_version(table_dir, os.path.basename(new_dir))
    try:
        cols = [c for c in _hive_partition_cols(table_dir) if c in df.columns]
        obs = Observation()
        counted = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        managed_writer(counted, "overwrite", codec, cols or None).parquet(new_dir)
        n = obs.get["rows"]
        if notnull and n:
            pred = " OR ".join(f"`{c}` IS NULL" for c in notnull)
            bad = df.sparkSession.read.parquet(new_dir).filter(pred).count()
            if bad:
                raise ValueError(
                    f"{stmt} into {os.path.basename(table_dir.rstrip('/'))!r}: "
                    f"{bad} row(s) violate NOT NULL ({', '.join(notnull)})"
                )
        if _before_commit is not None:
            _before_commit()
        with _table_lock_wait(table_dir, stmt, lock_timeout):
            live = os.path.basename(os.path.realpath(table_dir.rstrip("/")))
            _link_live_files(table_dir, new_dir)
            _chain_append(table_dir, live, os.path.basename(new_dir))
            _swap(table_dir, new_dir)
            new_dir = None
            # unpin under the lock: the pending version is live now, and
            # a later insert's _chain_append must never see this pin
            _unpin(pin)
            _sweep_orphan_versions(table_dir)
        return n
    finally:
        if new_dir:
            shutil.rmtree(new_dir, ignore_errors=True)
        _unpin(pin)


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
    df: DataFrame, assignments: dict[str, Column]
) -> DataFrame:
    """THE UPDATE SET application over a ``_observe_match`` frame,
    shared by the single- and multi-table UPDATE so the semantics can
    never drift: the WHERE verdict is pinned against the ORIGINAL row
    before any assignment (MySQL evaluates the predicate pre-SET, so a
    SET that writes a column the WHERE references must not change which
    rows later assignments touch; SET exprs still see updated values
    left-to-right, as MySQL does), and each column keeps its declared
    type (MySQL: SET casts to the column type, so a type-changing SET
    never changes the table schema)."""
    from pyspark.sql import functions as F

    dtypes = {f.name: f.dataType for f in df.schema.fields}
    out = df
    for col_name, expr in assignments.items():
        out = out.withColumn(
            col_name,
            F.when(F.col(_MATCH), expr).otherwise(F.col(col_name)).cast(dtypes[col_name]),
        )
    return out.drop(_MATCH)


def update_table(
    spark: SparkSession,
    table_dir: str,
    condition: Column,
    assignments: dict[str, Column],
    codec: str | None = None,
    **commit_opts,
) -> int:
    """UPDATE <table> SET <assignments> WHERE <condition>.

    Returns the number of rows updated.  Copy-on-write: the SELECT
    locates rows (the reference's internal UPDATE-as-SELECT), the
    rewrite applies SET to matching rows and passes others through.
    Concurrent writers on DISJOINT rows of one table all commit (the
    reference's version-buffer admission); true row overlap aborts the
    later committer.  ``commit_opts`` (max_retries, lock_timeout,
    _before_commit) go to _optimistic_rewrite."""

    def build(df: DataFrame, obs) -> DataFrame:
        return _apply_assignments(_observe_match(df, condition, obs), assignments)

    return _optimistic_rewrite(
        spark, table_dir, "UPDATE", build, lambda d: d.filter(condition),
        codec, **commit_opts,
    )


def delete_from(
    spark: SparkSession,
    table_dir: str,
    condition: Column,
    codec: str | None = None,
    **commit_opts,
) -> int:
    """DELETE FROM <table> WHERE <condition>; returns rows deleted.

    SQL DELETE removes rows where the WHERE is TRUE — rows where it
    evaluates NULL are KEPT (three-valued logic), so the keep-filter is
    `NOT coalesce(cond, FALSE)`, not `NOT cond` (which would silently
    drop NULL-condition rows).  Same commit protocol as update_table.
    """
    from pyspark.sql import functions as F

    def build(df: DataFrame, obs) -> DataFrame:
        return _observe_match(df, condition, obs).filter(~F.col(_MATCH)).drop(_MATCH)

    return _optimistic_rewrite(
        spark, table_dir, "DELETE", build, lambda d: d.filter(condition),
        codec, **commit_opts,
    )


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


def _join_selector(other, target_key, other_key, where, join_type):
    """Row selector for multi-table DML: the target rows a statement
    writes, by the same existential match the rewrite uses."""
    def select(df: DataFrame) -> DataFrame:
        joined, matched = _join_qualified(
            df, other, target_key, other_key, where, join_type
        )
        return joined.filter(matched)

    return select


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
    **commit_opts,
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
    Returns the qualifying-row count; same commit protocol as
    update_table."""
    from pyspark.sql import functions as F

    def build(df: DataFrame, obs) -> DataFrame:
        joined, matched = _join_qualified(
            df, other, target_key, other_key, where, join_type
        )
        out = _apply_assignments(_observe_match(joined, matched, obs), assignments)
        return out.select(*[F.col(c) for c in df.columns])

    return _optimistic_rewrite(
        spark, table_dir, "UPDATE", build,
        _join_selector(other, target_key, other_key, where, join_type),
        codec, **commit_opts,
    )


def delete_from_join(
    spark: SparkSession,
    table_dir: str,
    other: DataFrame,
    target_key: str,
    other_key: str,
    where: Column | None = None,
    codec: str | None = None,
    join_type: str = "inner",
    **commit_opts,
) -> int:
    """Multi-table DELETE (``DELETE t FROM t [LEFT] JOIN o ON ...
    [WHERE]``) — SQLCOM_DELETE_MULTI analog.  ``'inner'``: join-matched
    target rows (with a true WHERE) are removed.  ``'left'``: every
    target row is a candidate with NULL join fields when unmatched —
    the classic anti-join purge is ``LEFT JOIN o ... WHERE o.k IS
    NULL``.  A row is deleted when ANY matching joined row satisfies
    the WHERE (existential — see _join_qualified)."""
    from pyspark.sql import functions as F

    def build(df: DataFrame, obs) -> DataFrame:
        joined, matched = _join_qualified(
            df, other, target_key, other_key, where, join_type
        )
        kept = _observe_match(joined, matched, obs).filter(~F.col(_MATCH))
        return kept.select(*[F.col(c) for c in df.columns])

    return _optimistic_rewrite(
        spark, table_dir, "DELETE", build,
        _join_selector(other, target_key, other_key, where, join_type),
        codec, **commit_opts,
    )


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
    # paths).  Row writers pin their snapshot for the same reason.
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


# --- the commit protocol -----------------------------------------------
# The reference's version buffer admits concurrent writers with
# snapshot readers (`versioning/BRM/vss.h:180-210`: a block entering
# the VB records its verID; a second writer hitting a VB-resident block
# gets ERR_VBBM_OVERFLOW-style rejection).  Spark-native analog:
# SNAPSHOT-ISOLATION copy-on-write.  A writer reads a PINNED snapshot
# and builds its full rewrite with NO lock held (the expensive
# distributed work runs concurrently for any number of writers); the
# table lock is taken only for a short commit-time validate+swap.  If
# another writer committed in between, the row-level diff between the
# two snapshots decides: disjoint from our rows -> rebase (re-execute
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
    concurrent pinners (unlike the shared retain JSON).  Published
    atomically: a sweeper reading a HALF-written pin would treat the
    file as absent and collect the version it protects."""
    d = _pins_dir(table_dir)
    os.makedirs(d, exist_ok=True)
    p = os.path.join(d, uuid.uuid4().hex[:12] + ".json")
    _write_json_atomic(p, {"version": version_basename, "pid": os.getpid()})
    return p


def _unpin(pin_path: str) -> None:
    try:
        os.remove(pin_path)
    except FileNotFoundError:
        pass


def _pin_chain(rec: dict) -> list[str]:
    """A pin's versions: the pinned snapshot, then every version an
    INSERT built from it by appending rows (see _chain_append)."""
    return [rec.get("version"), *rec.get("appended", [])]


def _read_pin(p: str) -> dict | None:
    try:
        with open(p) as fh:
            return json.load(fh)
    except (OSError, json.JSONDecodeError):
        return None


def _chain_append(table_dir: str, live: str, new_version: str) -> None:
    """An INSERT's version is ``live`` plus new rows, so to a writer
    whose snapshot is ``live`` those rows are phantoms, never a write-
    write conflict.  Chain ``new_version`` onto every pin whose newest
    version is ``live``: the chained version stays alive with the pin
    and is the base that writer diffs a later winner against.  Runs
    under the commit lock; pins are only removed under it too
    (_optimistic_rewrite's GC step), so no pin is re-created here."""
    d = _pins_dir(table_dir)
    if not os.path.isdir(d):
        return
    for f in os.listdir(d):
        p = os.path.join(d, f)
        rec = _read_pin(p) if f.endswith(".json") else None
        if rec is not None and _pin_chain(rec)[-1] == live:
            rec["appended"] = _pin_chain(rec)[1:] + [new_version]
            _write_json_atomic(p, rec)


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
        rec = _read_pin(p)
        if rec is None:
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
            out.update(_pin_chain(rec))
        else:
            _unpin(p)
    return out


def _snapshot(table_dir: str) -> tuple[str, str, dict[str, tuple[int, int]]]:
    """(resolved version dir, content token, per-file identity map).

    The token hashes the file SET (relative names + sizes + mtimes),
    not just the version basename: the streaming sink links epoch files
    into the SAME version directory, so basename equality alone would
    let a rewrite silently drop freshly-linked rows.  mtime_ns in the
    identity guards the pathological same-name-same-size rewrite,
    including an in-place edit by an external tool.

    The conflict path diffs two identity maps ``{relpath: (size,
    mtime_ns)}`` so it reads only CHANGED files, never the whole
    table.  Cost: one scandir per directory and one stat per file —
    hidden (dot) directories skipped, symlinked directories not
    descended."""
    real = os.path.realpath(table_dir.rstrip("/"))
    entries: dict[str, tuple[int, int]] = {}
    stack = [""]  # directories relative to ``real``
    while stack:
        rel = stack.pop()
        try:
            with os.scandir(os.path.join(real, rel)) as it:
                listing = list(it)
        except OSError:
            continue
        for de in listing:
            name = os.path.join(rel, de.name) if rel else de.name
            try:
                if de.is_dir():
                    if not de.is_symlink() and not de.name.startswith("."):
                        stack.append(name)
                    continue
                st = de.stat()
            except OSError:
                continue
            entries[name] = (st.st_size, st.st_mtime_ns)
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
    select,
) -> int:
    """Write-write overlap probe: > 0 when a row the winner removed or
    wrote is one this statement writes (``select(df)`` → those rows).

    The reference's version buffer tracks CHANGED blocks, never the
    whole table (`versioning/BRM/vss.h:180-210`); the analog here is
    multiset algebra over part files: with shared = identical
    (relpath, size, mtime) files, old = shared ⊎ removed and
    cur = shared ⊎ added, so old ∖ cur = removed ∖ added — the
    exceptAll only ever needs the differing files.  Hard-linked
    carries (INSERT link-ins, metadata-only ALTER, caldroppartitions
    survivors) share identity and drop out for free.

    When either version has out-of-service partitions the diff reads
    both versions whole: read_table excludes those files at plan time,
    and the exclusion must hold in the diff too — rare admin state, so
    the conservative full read is fine."""
    from infinidb_spark.operators.partitions import disabled_partitions

    def probe(df: DataFrame) -> int:
        return select(df).limit(1).count()

    if disabled_partitions(snap_dir) or disabled_partitions(cur_dir):
        old_diff, cur_diff = read_table(spark, snap_dir), read_table(spark, cur_dir)
    else:
        old_data = _data_file_ids(old_entries)
        cur_data = _data_file_ids(cur_entries)
        removed = sorted(r for r, k in old_data.items() if cur_data.get(r) != k)
        added = sorted(r for r, k in cur_data.items() if old_data.get(r) != k)
        if not removed and not added:
            return 0
        if not removed:
            return probe(_read_files(spark, cur_dir, added))
        if not added:
            return probe(_read_files(spark, snap_dir, removed))
        old_diff = _read_files(spark, snap_dir, removed)
        cur_diff = _read_files(spark, cur_dir, added)
    return probe(old_diff.exceptAll(cur_diff)) + probe(cur_diff.exceptAll(old_diff))


@contextmanager
def _table_lock_wait(table_dir: str, op: str, timeout: float = 60.0,
                     poll: float = 0.05):
    """`_table_lock` that WAITS (bounded) instead of failing fast —
    row writers hold it only for commit-time validate+swap, so
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


def _sweep_orphan_versions(table_dir: str) -> None:
    """GC version dirs left by CRASHED writers (e.g. SIGKILL between
    rewrite-build and commit) and versions nothing protects any more —
    the stale-lock recovery analog for snapshots.  A version dir is an
    orphan when it is not the live version, not retained by an open
    transaction, and not pinned by a live-pid writer
    (`_pinned_versions` drops dead-pid pins first).

    Must run under the table lock: DDL builds its new version UNDER
    that lock, and row writers pin their in-flight version dir BEFORE
    its first byte is written, so anything unpinned here is garbage.
    Ordering matters: version dirs are LISTED first and the keep-set
    read AFTER — a concurrent writer pins (lock-free) before creating
    its dir, so any dir the listing sees has its pin visible to the
    later read; a keep-set snapshotted first could go stale while this
    process is descheduled and collect a just-pinned, mid-write
    directory."""
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
    build,
    select,
    codec: str | None,
    max_retries: int = 3,
    lock_timeout: float = 60.0,
    _before_commit=None,
) -> int:
    """THE copy-on-write loop for UPDATE/DELETE, single- and
    multi-table; returns the affected-row count.

    ``build(df, obs) -> rewritten df`` observes the affected rows on
    ``obs`` (a fresh ``Observation`` per attempt), so the count comes
    out of the write job itself.  ``select(df) -> rows this statement
    writes`` drives the conflict probe.  ``_before_commit`` is a test
    hook invoked after the rewrite is built, before the commit lock —
    the deterministic way to interleave a competing committed write.

    Conflict detection sees every create/rename/unlink/in-place edit
    of a file (_snapshot stats every file)."""
    from pyspark.sql import Observation

    from infinidb_spark.operators.partitions import carry_disabled

    parent = os.path.dirname(table_dir.rstrip("/")) or "."
    # pin under the lock: every version rmtree also runs under it, so a
    # snapshot can never vanish between resolve and pin
    with _table_lock_wait(table_dir, f"{op}-SNAPSHOT", lock_timeout):
        snap_dir, token, _ = _snapshot(table_dir)
        snap_pin = _pin_version(table_dir, os.path.basename(snap_dir))
    pins = [snap_pin]
    new_dir: str | None = None
    try:
        for attempt in range(max_retries + 1):
            obs = Observation()
            new_dir = _new_version_dir(table_dir)
            # pin the in-flight version BEFORE its first byte lands:
            # _sweep_orphan_versions treats any unpinned non-live
            # version dir as crash debris
            pins.append(_pin_version(table_dir, os.path.basename(new_dir)))
            out = build(read_table(spark, snap_dir), obs)
            _rewrite_writer(out, codec, table_dir).parquet(new_dir)
            n = obs.get["rows"]
            carry_disabled(table_dir, new_dir)
            if _before_commit is not None:
                hook, _before_commit = _before_commit, None
                hook()
            with _table_lock_wait(table_dir, op, lock_timeout):
                cur_dir, cur_token, _ = _snapshot(table_dir)
                if cur_token == token:
                    _swap(table_dir, new_dir)
                    new_dir = None
                    return n
                # pin the winner's version UNDER the lock so its files
                # survive a third writer's swap-GC while we diff
                # against it; it is our snapshot if we rebase
                cur_pin = _pin_version(table_dir, os.path.basename(cur_dir))
                pins.append(cur_pin)
                # INSERTs since our snapshot are chained onto its pin:
                # diff from the newest of them, so their rows count as
                # phantoms, not as the winner's writes
                base_dir = os.path.join(parent, _pin_chain(_read_pin(snap_pin))[-1])
            shutil.rmtree(new_dir, ignore_errors=True)  # stale rewrite
            new_dir = None
            if attempt >= max_retries:
                raise ConcurrentWriteConflict(
                    f"{op} on {os.path.basename(table_dir.rstrip('/'))!r}: "
                    f"snapshot invalidated {attempt + 1} times — giving up"
                )
            # row-level overlap vs the concurrently-committed state:
            # pre-images the winner removed/modified + post-images it
            # wrote; any of them among OUR rows is a true write-write
            # conflict -> first committer wins.  Reads only the CHANGED
            # files (see _overlap_on_changed_files) — a conflict on an
            # N-file table costs O(changed), not two full-table set
            # differences.
            if os.path.realpath(base_dir) == os.path.realpath(cur_dir):
                # the winner only APPENDED (an INSERT chained onto our
                # pin, or sink epoch files linked into our version).
                # New rows are phantoms under snapshot isolation, never
                # a write-write conflict — rebase over them.
                overlap = 0
            else:
                # re-walk BOTH dirs at diff time: the PIN-time identity
                # map can miss a file the streaming sink linked into
                # the snapshot dir after pinning — its rows would then
                # show up only on the winner's side and abort what is
                # really a rebase-able phantom
                _, _, old_now = _snapshot(base_dir)
                _, _, cur_now = _snapshot(cur_dir)
                overlap = _overlap_on_changed_files(
                    spark, base_dir, old_now, cur_dir, cur_now, select
                )
            if overlap:
                raise ConcurrentWriteConflict(
                    f"{op} on {os.path.basename(table_dir.rstrip('/'))!r}: a "
                    "concurrent write changed rows this statement also "
                    "writes (first committer wins; retry the statement)"
                )
            # disjoint -> rebase: adopt the winner's snapshot and
            # re-execute, i.e. serialize this statement after it
            snap_dir, token, snap_pin = cur_dir, cur_token, cur_pin
        raise AssertionError("unreachable")
    finally:
        if new_dir:
            shutil.rmtree(new_dir, ignore_errors=True)
        try:
            # unpin and GC under the lock (see pin note above and
            # _chain_append); best-effort — a version skipped here is
            # collected by the next writer's sweep
            with _table_lock_wait(table_dir, "GC", timeout=5.0):
                for p in pins:
                    _unpin(p)
                _sweep_orphan_versions(table_dir)
        except RuntimeError:
            for p in pins:
                _unpin(p)
