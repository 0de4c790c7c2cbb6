"""Extent map + casual-partitioning elimination — file-level min/max skip.

The reference's signature scan optimization: every 8M-row *extent*
carries min/max "casual partitioning" stats in the BRM extent map
(`versioning/BRM/extentmap.h:103`), and `TupleBPS` drops whole extents
whose [min, max] cannot satisfy the filter before any I/O is issued
(`dbcon/joblist/lbidlist.h:80-114` `GetMinMax` /
`CasualPartitionPredicate`, `dbcon/joblist/tuple-bps.cpp:258-260`).

Spark analog, two layers:

* **row-group / page skip** — free: the vectorized Parquet reader prunes
  row groups against pushed filters (SURVEY §4).  Nothing to build.
* **file-level skip at PLAN time** — this module, the engine's ONE
  extent map.  Parquet footers are harvested into an in-memory manifest
  (extent map ≅ one row per file) memoized per file identity
  (``cached_manifest``); a scan is then planned against only the
  surviving file list (``prune``), so eliminated files never become
  input splits at all — the plan-time-vs-run-time distinction the
  reference draws between extent elimination (ExeMgr, before dispatch)
  and block filtering (PM).

The memo is what keeps footer reads O(changed files): an append reads
only the new footers, a hard-linked DML survivor hits by inode.  ANALYZE
TABLE persists the map as a JSON sidecar inside the table directory
(``write_manifest``, the BRM save-file analog) so a fresh process seeds
the memo without footer reads.  Scans never write anything.  Pruning is
a Python loop over the entries — a few ms per 10³ files, far below the
Spark job floor, and the tables this engine serves have 1-10 files.  The
manifest can be loaded as a DataFrame (``manifest_df``) for
introspection — the analog of the reference's `editem -i` extent-map
dump.

Elimination is conservative: a file survives unless its stats PROVE no
row can match (missing stats, all-NULL columns, or unknown operators
never eliminate).  Predicates are re-applied as real filters after the
scan, so pruning can only remove whole-file no-ops, never change
results.
"""

from __future__ import annotations

import json
import os
from collections import OrderedDict
from functools import reduce
from typing import Any

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

#: predicate tuple forms accepted by prune()/scan_with_manifest():
#:   (col, "=",  v)   (col, "<", v)   (col, "<=", v)
#:   (col, ">",  v)   (col, ">=", v)
#:   (col, "between", lo, hi)         (col, "in", [v, ...])
Predicate = tuple


def build_manifest(path: str) -> list[dict[str, Any]]:
    """Harvest per-file stats (the extent map) from Parquet footers.

    ``path`` is a single parquet file or a directory of part files.
    Returns one entry per file: ``{"file", "rows", "columns": {col:
    {"min", "max", "null_count"}}}`` with column-chunk stats merged
    across row groups (file-level min/max, like one extent per file).
    """
    return [_harvest_file(f) for f in _member_files(path)]


def _member_files(path: str) -> list[str]:
    if os.path.isdir(path):
        return sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
    return [path]


def _has_nested_data(path: str) -> bool:
    """True when a directory has NO top-level member files but parquet
    somewhere below — the hive-partitioned layout (``dt=…/part.parquet``
    from partition_by writers).  The extent maps key member files at
    the TOP level (the engine's managed flat-clustered layout);
    partitioned tables prune natively through their partition columns,
    so the scanners must fall back to a plain filtered scan instead of
    mis-reading "no member files" as "no data" (which returned ZERO
    rows for every partitioned table)."""
    real = os.path.realpath(path)
    if not os.path.isdir(real) or _member_files(real):
        return False
    for dirpath, dirnames, files in os.walk(real):
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "_"))]
        if any(
            f.endswith(".parquet") and not f.startswith(("_", "."))
            for f in files
        ):
            return True
    return False


def _nested_parquet_files(path: str) -> list[str]:
    """Every member parquet file under a hive-partitioned table dir
    (``col=value`` subdirs), sorted for determinism — the nested
    counterpart of ``_member_files`` for callers (CHECK TABLE) that
    must open every footer regardless of layout."""
    real = os.path.realpath(path)
    out: list[str] = []
    for dirpath, dirnames, files in os.walk(real):
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "_"))]
        out.extend(
            os.path.join(dirpath, f)
            for f in files
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
    return sorted(out)


def _harvest_file(f: str) -> dict[str, Any]:
    # identity captured BEFORE the footer read: write_manifest persists
    # THIS stat, so an external same-name replacement between harvest
    # and persist can never stamp the new file's (mtime,size,ino) onto
    # the old file's min/max (the safe failure direction is old
    # identity + new stats — a future seed check just re-harvests)
    fst = os.stat(f)
    md = pq.ParquetFile(f).metadata
    cols: dict[str, dict[str, Any]] = {}
    undecodable: set[str] = set()
    for rg_i in range(md.num_row_groups):
        rg = md.row_group(rg_i)
        for c_i in range(rg.num_columns):
            chunk = rg.column(c_i)
            name = chunk.path_in_schema
            try:
                st = chunk.statistics
                if st is not None and st.has_min_max:
                    st.min, st.max  # noqa: B018 — force extraction now
            except (NotImplementedError, OSError, pa.ArrowNotImplementedError):
                # pyarrow cannot decode min/max for some logical types
                # Spark writes (e.g. INT64-backed DECIMAL) even though
                # the footer carries them — recovered below through
                # DuckDB's parquet_metadata (the reference prunes
                # decimal columns too: CasualPartitionDataType)
                undecodable.add(name)
                st = None
            entry = cols.setdefault(
                name, {"min": None, "max": None, "null_count": 0}
            )
            if st is None or not st.has_min_max:
                # a chunk without stats poisons the whole column
                # PERMANENTLY for this file: its min/max would no
                # longer cover every row, so elimination must never
                # fire — even if a later row group has stats
                entry["min"] = entry["max"] = None
                entry["null_count"] = None
                entry["_poisoned"] = True
                continue
            if entry["null_count"] is not None:
                if st.null_count is not None:
                    entry["null_count"] += st.null_count
                else:
                    # a chunk with min/max but NO null_count (legal
                    # Parquet) makes the aggregate UNKNOWN — same
                    # never-undercount rule as the DuckDB path below
                    entry["null_count"] = None
            if not entry.get("_poisoned"):
                if entry["min"] is None or st.min < entry["min"]:
                    entry["min"] = st.min
                if entry["max"] is None or st.max > entry["max"]:
                    entry["max"] = st.max
    if undecodable:
        for name, stats in _duckdb_stats(f, undecodable).items():
            cols[name] = stats
    return {
        "file": f,
        "rows": md.num_rows,
        "columns": cols,
        "stat": (fst.st_mtime_ns, fst.st_size, fst.st_ino),
    }


def _duckdb_stats(f: str, names: set) -> dict[str, dict[str, Any]]:
    """Footer min/max for columns pyarrow cannot decode, via DuckDB's
    ``parquet_metadata`` (it decodes every logical type, returning
    stats as strings).  Values parse to Decimal when they look numeric
    — comparable with the int/float/Decimal literals predicates carry
    (_may_match falls back to keep-the-file on incomparable types).
    A row group with NULL stats poisons its column as usual."""
    import decimal

    def parse(v):
        if v is None:
            return None
        try:
            return decimal.Decimal(v)
        except decimal.InvalidOperation:
            return v

    out: dict[str, dict[str, Any]] = {}
    rows = _duck_con().execute(
        "SELECT path_in_schema, stats_min_value, stats_max_value, "
        "stats_null_count FROM parquet_metadata(?)",
        [f],
    ).fetchall()
    for name, mn, mx, nulls in rows:
        if name not in names:
            continue
        entry = out.setdefault(name, {"min": None, "max": None, "null_count": 0})
        mn, mx = parse(mn), parse(mx)
        if entry.get("_poisoned"):
            continue
        if mn is None or mx is None:
            entry["min"] = entry["max"] = None
            entry["null_count"] = None
            entry["_poisoned"] = True
            continue
        if nulls is None:
            # min/max stay valid for pruning, but the aggregate null
            # count is no longer exact — mark UNKNOWN, never undercount
            entry["null_count"] = None
        elif entry["null_count"] is not None:
            entry["null_count"] += nulls
        if entry["min"] is None or mn < entry["min"]:
            entry["min"] = mn
        if entry["max"] is None or mx > entry["max"]:
            entry["max"] = mx
    return out


#: one process-wide DuckDB connection for footer reads — a per-file
#: connect would pay setup once per decimal-bearing file at scale
_DUCK_CON = None


def _duck_con():
    global _DUCK_CON
    if _DUCK_CON is None:
        import duckdb

        _DUCK_CON = duckdb.connect()
    return _DUCK_CON


#: mtime/size-keyed manifest memo — the in-process analog of the
#: persisted extent map (the BRM keeps it resident; re-reading footers
#: per query is pure overhead).  Same keying idiom as session.py's
#: table cache; stale keys for a path are evicted on refresh.  LRU-
#: bounded: stale-key eviction only covers the SAME path, so a session
#: scanning many short-lived table dirs would otherwise accumulate full
#: per-file manifests forever.
_MANIFEST_CACHE: "OrderedDict[tuple, list[dict[str, Any]]]" = OrderedDict()
_MANIFEST_CACHE_MAX = 64


def _path_key(path: str) -> tuple:
    """Keyed on every member file's (name, mtime, size, INODE) — a file
    rewritten IN PLACE (same name) changes its own mtime even though
    the directory's doesn't, and the inode catches the residual case a
    same-size rename-replace lands within filesystem mtime granularity
    (the same hazard write_manifest's sidecar 'ino' field defends)."""
    real = os.path.realpath(path)
    if os.path.isdir(real):
        stats = []
        for f in sorted(os.listdir(real)):
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                st = os.stat(os.path.join(real, f))
                stats.append((f, st.st_mtime_ns, st.st_size, st.st_ino))
        return (real, tuple(stats))
    st = os.stat(real)
    return (real, st.st_mtime_ns, st.st_size, st.st_ino)


#: per-FILE footer memo: (inode, mtime_ns, size) -> harvested stats.
#: This is what makes manifest maintenance INCREMENTAL — the BRM
#: updates extent-map entries as extents are allocated, it never
#: rescans the map (`versioning/BRM/extentmap.h`).  Keying on the
#: INODE (not the path) means the hard-linked survivors of a
#: copy-on-write DML rewrite (operators/dml.py links untouched files
#: into the new version dir) hit the cache under their new paths.
_FILE_ENTRY_CACHE: dict[tuple, dict[str, Any]] = {}
_FILE_CACHE_MAX = 200_000  # ~100s of bytes per entry; bounded


def cached_manifest(path: str) -> list[dict[str, Any]]:
    """``build_manifest`` with a per-file footer memo: after an append
    (INSERT / bulk load adds part files) only the NEW files' footers
    are read, and after a pruned DML rewrite the hard-link-carried
    files hit the cache by inode — on a 100k-file table both cost
    O(changed files) footer reads, not 100k.  The directory-level memo
    on top keeps the unchanged-table path allocation-free."""
    key = _path_key(path)
    hit = _MANIFEST_CACHE.get(key)
    if hit is not None:
        _MANIFEST_CACHE.move_to_end(key)
    if hit is None:
        for k in [k for k in _MANIFEST_CACHE if k[0] == key[0]]:
            _MANIFEST_CACHE.pop(k, None)
        if len(_FILE_ENTRY_CACHE) > _FILE_CACHE_MAX:
            # evict the OLDEST half (dict preserves insertion order)
            # instead of clearing: a full clear silently turned the
            # O(changed-files) incremental-harvest contract into a full
            # per-refresh re-read above the cap
            for k in list(_FILE_ENTRY_CACHE)[: _FILE_CACHE_MAX // 2]:
                _FILE_ENTRY_CACHE.pop(k, None)
        entries = []
        real = os.path.realpath(path)
        seed: dict | None = None  # sidecar parsed lazily, first miss only
        for f in _member_files(real):
            st = os.stat(f)
            fkey = (st.st_ino, st.st_mtime_ns, st.st_size)
            cached = _FILE_ENTRY_CACHE.get(fkey)
            if cached is None:
                if seed is None:
                    seed = _sidecar_seed(real) if os.path.isdir(real) else {}
                side = seed.get(os.path.basename(f))
                if (
                    side is not None
                    and side[0] == st.st_mtime_ns
                    and side[1] == st.st_size
                    # harvest-time inode must match when the sidecar has
                    # one (v2.1+); a same-(mtime,size) in-place rewrite
                    # changes inode → re-harvest instead of serving stale
                    # min/max.  A RELOCATED table's inodes differ too —
                    # re-harvest is the conservative, correct outcome.
                    and (side[2] is None or side[2] == st.st_ino)
                ):
                    # cold-start seed from the ANALYZE-persisted sidecar
                    # (the BRM save-file): no footer read needed
                    cached = _FILE_ENTRY_CACHE[fkey] = side[3]
                else:
                    cached = _FILE_ENTRY_CACHE[fkey] = _harvest_file(f)
            # stats are path-independent; the entry's file is not.
            # The check-time stat rides along so a later persist
            # (write_manifest) records the VALIDATED identity, never a
            # persist-time re-stat of a possibly-replaced file.
            entries.append(
                {**cached, "file": f,
                 "stat": (st.st_mtime_ns, st.st_size, st.st_ino)}
            )
        hit = _MANIFEST_CACHE[key] = entries
        while len(_MANIFEST_CACHE) > _MANIFEST_CACHE_MAX:
            _MANIFEST_CACHE.popitem(last=False)
    return hit


def _may_match(entry: dict[str, Any], pred: Predicate) -> bool:
    """Could ANY row in this file satisfy ``pred``?  (CasualPartitionPredicate
    semantics, `lbidlist.h:96` — conservative: unknown → True.)"""
    col, op = pred[0], pred[1]
    st = entry["columns"].get(col)
    if st is None or st["min"] is None or st["max"] is None:
        return True
    mn, mx = st["min"], st["max"]
    lits = pred[2] if op == "in" else pred[2:]
    if isinstance(mn, float) or any(isinstance(v, float) for v in lits):
        # Spark compares an integral/decimal column with a DOUBLE
        # literal (and a DOUBLE column with an integral literal) as
        # doubles, so the residual filter matches 2**53 + 1 = 2.0**53;
        # Python compares them exactly and would drop that file.
        # float() is monotone, so widening the bounds the same way
        # keeps every file the filter can match.
        mn, mx = _as_float(mn), _as_float(mx)
        lits = [_as_float(v) for v in lits]
        pred = (col, op, lits) if op == "in" else (col, op, *lits)

    def _co(v):
        # coerce the literal to the STAT's temporal type — the most
        # common time-filter literal forms (ISO strings, datetime.date
        # against datetime stats) previously raised TypeError inside
        # the comparison and silently kept every file, making date
        # extent elimination inert
        import datetime

        if isinstance(mn, datetime.datetime):
            if isinstance(v, str):
                return datetime.datetime.fromisoformat(v)
            if isinstance(v, datetime.date) and not isinstance(
                v, datetime.datetime
            ):
                return datetime.datetime.combine(v, datetime.time.min)
        elif isinstance(mn, datetime.date) and isinstance(v, str):
            return datetime.date.fromisoformat(v)
        return v

    try:
        if op == "in":
            vals = [_co(v) for v in pred[2]]
            return any(mn <= v <= mx for v in vals)
        p2 = _co(pred[2])
        p3 = _co(pred[3]) if op == "between" else None
        if op == "=":
            return mn <= p2 <= mx
        if op == "<":
            return mn < p2
        if op == "<=":
            return mn <= p2
        if op == ">":
            return mx > p2
        if op == ">=":
            return mx >= p2
        if op == "between":
            return not (mx < p2 or mn > p3)
    except (TypeError, ValueError):
        return True  # incomparable literal/stat types → keep the file
    return True  # unknown operator → keep the file


def _as_float(v):
    """``v`` as a double when it is a number; anything else unchanged
    (an incomparable pair then keeps the file as usual)."""
    import decimal

    if isinstance(v, (int, decimal.Decimal)) and not isinstance(v, bool):
        try:
            return float(v)
        except OverflowError:
            return v
    return v


def prune(manifest: list[dict[str, Any]], predicates: list[Predicate]) -> list[str]:
    """Files that survive extent elimination (AND of all predicates)."""
    return [
        e["file"]
        for e in manifest
        if all(_may_match(e, p) for p in predicates)
    ]


def _as_filter(pred: Predicate) -> Column:
    col, op = F.col(pred[0]), pred[1]
    if op == "=":
        return col == pred[2]
    if op in ("<", "<=", ">", ">="):
        return {"<": col < pred[2], "<=": col <= pred[2],
                ">": col > pred[2], ">=": col >= pred[2]}[op]
    if op == "between":
        return col.between(pred[2], pred[3])
    if op == "in":
        return col.isin(*pred[2])
    raise ValueError(f"unsupported predicate op: {op!r}")


def scan_with_manifest(
    spark: SparkSession,
    path: str,
    predicates: list[Predicate],
    manifest: list[dict[str, Any]] | None = None,
) -> DataFrame:
    """Plan a scan over only the files that can match, filters re-applied.

    ``path`` is a table directory or a single parquet file; its extent
    map comes from ``cached_manifest`` unless a pre-built ``manifest``
    is passed.  The returned DataFrame's file list is the pruned one —
    eliminated files never become input splits.  Row-group skip within
    surviving files still happens natively (predicates are pushed down
    as usual).  A hive-partitioned directory has no top-level files to
    map and falls back to a plain filtered scan.  Read-only: nothing is
    written next to the data."""
    manifest = manifest if manifest is not None else cached_manifest(path)
    if not predicates:  # nothing to eliminate with — plain full scan
        return spark.read.parquet(path)
    residual = reduce(lambda a, b: a & b, (_as_filter(p) for p in predicates))
    if not manifest and _has_nested_data(path):
        # hive-partitioned table: no top-level member files to map —
        # plain scan; partition pruning + pushdown still apply natively
        return spark.read.parquet(path).filter(residual)
    files = prune(manifest, predicates)
    if not files:
        # all extents eliminated: plan over one file for the schema, with
        # an always-false residual Catalyst folds to an empty relation
        anchor = [manifest[0]["file"]] if manifest else [path]
        return spark.read.parquet(*anchor).filter(F.lit(False) & residual)
    return spark.read.parquet(*files).filter(residual)


def manifest_df(spark: SparkSession, manifest: list[dict[str, Any]]) -> DataFrame:
    """The extent map as a queryable relation (ref `editem -i` dump):
    one row per (file, column) with rows/min/max/null_count."""
    rows = [
        (
            os.path.basename(e["file"]),
            int(e["rows"]),
            col,
            None if st["min"] is None else str(st["min"]),
            None if st["max"] is None else str(st["max"]),
            None if st["null_count"] is None else int(st["null_count"]),
        )
        for e in manifest
        for col, st in sorted(e["columns"].items())
    ]
    return spark.createDataFrame(
        rows, "file string, rows bigint, column string, min string, max string, null_count bigint"
    )


def _enc_stat(v):
    """Type-tagged JSON encoding for a min/max value so a reloaded
    sidecar compares with the same types the live harvest produces."""
    import datetime
    import decimal

    if v is None:
        return None
    if isinstance(v, bool):
        return ["b", "1" if v else "0"]
    if isinstance(v, int):
        return ["i", str(v)]
    if isinstance(v, float):
        return ["f", repr(v)]
    if isinstance(v, decimal.Decimal):
        return ["d", str(v)]
    if isinstance(v, datetime.datetime):
        return ["ts", v.isoformat()]
    if isinstance(v, datetime.date):
        return ["dt", v.isoformat()]
    if isinstance(v, bytes):
        return ["y", v.hex()]
    return ["s", str(v)]


def _dec_stat(x):
    import datetime
    import decimal

    if x is None:
        return None
    tag, v = x
    return {
        "b": lambda: v == "1",
        "i": lambda: int(v),
        "f": lambda: float(v),
        "d": lambda: decimal.Decimal(v),
        "ts": lambda: datetime.datetime.fromisoformat(v),
        "dt": lambda: datetime.date.fromisoformat(v),
        "y": lambda: bytes.fromhex(v),
        "s": lambda: v,
    }[tag]()


#: sidecar file name — underscore prefix keeps it invisible to Spark's
#: Parquet reader, like _SUCCESS
SIDECAR_NAME = "_infinidb_manifest.json"


def write_manifest(manifest: list[dict[str, Any]], out_path: str) -> None:
    """Persist the extent map (BRM save-file analog, `extentmap.h:103`).

    Format v2: per-entry file BASENAME + (mtime_ns, size) validity key
    and type-tagged min/max — ``cached_manifest`` seeds its per-file
    footer memo from a sidecar whose entries still match their files,
    so a FRESH PROCESS (new session, driver restart) skips the footer
    reads the reference's BRM never re-does.  Entries whose file stat
    changed are simply re-harvested."""
    entries = []
    for e in manifest:
        # the identity is the HARVEST-time stat carried on the entry —
        # a persist-time re-stat could stamp a newer same-name file's
        # (mtime,size,ino) onto the old file's min/max if an external
        # writer replaced it between harvest and persist, and a fresh
        # process would then seed wrong stats and prune wrongly.  The
        # fallback stat covers hand-built manifests only.
        if "stat" in e:
            mtime_ns, size, ino = e["stat"]
        else:
            try:
                st = os.stat(e["file"])
            except OSError:
                continue  # file vanished between harvest and persist
            mtime_ns, size, ino = st.st_mtime_ns, st.st_size, st.st_ino
        entries.append({
            "basename": os.path.basename(e["file"]),
            "mtime_ns": mtime_ns,
            "size": size,
            # harvest-time inode: a file rewritten in place with an
            # identical (mtime_ns, size) — clock-granularity collisions,
            # same-length rewrite — still changes inode on the rename-
            # into-place write path, so seeding can detect it
            "ino": ino,
            "rows": e["rows"],
            "columns": {
                name: {
                    "min": _enc_stat(c["min"]),
                    "max": _enc_stat(c["max"]),
                    "null_count": c["null_count"],
                }
                for name, c in e["columns"].items()
            },
        })
    src_dir = (
        os.path.dirname(os.path.abspath(manifest[0]["file"])) if manifest else ""
    )
    # tmp + os.replace, the same idiom as partitions._write_sidecar: a
    # crash mid-dump would otherwise leave a permanently truncated
    # sidecar (JSONDecodeError on every explicit load; _sidecar_seed
    # silently {} forever)
    tmp = out_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"version": 2, "dir": src_dir, "entries": entries}, fh)
    os.replace(tmp, out_path)


def read_manifest(in_path: str) -> list[dict[str, Any]]:
    """Load a persisted manifest back into the in-memory shape (file
    paths resolved against the sidecar's directory)."""
    with open(in_path) as fh:
        data = json.load(fh)
    if isinstance(data, list):  # legacy v1 (repr-JSON) — stats as str
        return data
    base = data.get("dir")
    side_home = os.path.dirname(os.path.abspath(in_path))

    def _faithful_copy_at(d: str) -> bool:
        """Every listed entry exists at ``d`` with matching
        (mtime_ns, size) — a metadata-preserving copy of the table.
        Bare basename existence is NOT enough: a manifest written into
        a directory that merely contains same-named files (an older
        snapshot, an unrelated table) must keep resolving against the
        recorded 'dir'."""
        for e in data.get("entries", []):
            try:
                st = os.stat(os.path.join(d, e["basename"]))
            except OSError:
                return False
            if st.st_mtime_ns != e.get("mtime_ns") or st.st_size != e.get("size"):
                return False
        return bool(data.get("entries"))

    if base and base != side_home and _faithful_copy_at(side_home):
        # a table copied/restored TOGETHER with its sidecar resolves
        # against the sidecar's own directory even when the original
        # 'dir' still exists — otherwise the restored copy silently
        # reads stats pointing at the original's files
        base = side_home
    elif not base or not os.path.isdir(base):
        # table relocated/restored: resolve against the sidecar's home
        base = side_home
    out = []
    for e in data.get("entries", []):
        out.append({
            "file": os.path.join(base, e["basename"]),
            "rows": e["rows"],
            "columns": {
                name: {
                    "min": _dec_stat(c["min"]),
                    "max": _dec_stat(c["max"]),
                    "null_count": c["null_count"],
                }
                for name, c in e["columns"].items()
            },
        })
    return out


def _sidecar_seed(real_dir: str) -> dict[str, tuple[int, int, int | None, dict]]:
    """{basename: (mtime_ns, size, ino|None, entry)} from a v2 sidecar,
    empty on absence/legacy/corruption — purely an optimization source.
    ``ino`` is None for sidecars written before the inode key existed."""
    p = os.path.join(real_dir, SIDECAR_NAME)
    try:
        with open(p) as fh:
            data = json.load(fh)
        if not isinstance(data, dict) or data.get("version") != 2:
            return {}
        out = {}
        for e in data.get("entries", []):
            out[e["basename"]] = (
                e["mtime_ns"],
                e["size"],
                e.get("ino"),
                {
                    "rows": e["rows"],
                    "columns": {
                        name: {
                            "min": _dec_stat(c["min"]),
                            "max": _dec_stat(c["max"]),
                            "null_count": c["null_count"],
                        }
                        for name, c in e["columns"].items()
                    },
                },
            )
        return out
    except (OSError, ValueError, KeyError, TypeError):
        return {}
