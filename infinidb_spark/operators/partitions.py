"""Logical-partition management over managed tables — the reference's
cal*partitions admin surface.

Reference: InfiniDB exposes partition administration as MySQL UDFs
(`dbcon/mysql/ha_calpont_partition.cpp:854-1160`):

* ``calshowpartitions(table, column)``   — per-partition min/max/status
  from the BRM extent map (`calshowpartitions`, line 889);
* ``caldisablepartitions(table, 'p,..')``— mark extents OUT OF SERVICE
  so scans and DML skip them (line 1094);
* ``calenablepartitions``                — bring them back (line 1143);
* ``caldroppartitions``                  — physically remove them
  (line 831 ``caldroppartitions`` DDL packaging).

Here a *logical partition* is one Parquet part-file of a managed table
(operators/dml.py layout) — the extent analog, exactly the granularity
the manifest (sources/manifest.py) tracks min/max for.  State lives in a
``_partitions.json`` sidecar inside the table's version directory (the
leading underscore hides it from Spark's file listing and the manifest
harvest, like `_SUCCESS`):

    {"disabled": ["part-00003-....parquet", ...]}

Disable, enable and drop are relinked commits (operators/dml.py
``commit_relinked``): every live file is hard-linked into a private
version, the sidecar is replaced or the dropped files unlinked there,
and the table pointer swaps once — no data movement at any table size
(the reference flips an extent-map bit for the same reason), and no
write into the live version.  ``enabled_files`` is the single choke
point the DML layer reads through, so a disabled partition is invisible
to SELECT, UPDATE, DELETE and ALTER alike, and rewrites carry disabled
files forward untouched (re-enable restores their rows bit-for-bit).

Scale: all operations are driver-side metadata over the file listing —
O(#files) links and fsyncs, no Spark job, no shuffle; the expensive
paths (query planning over survivors) reuse the manifest's plan-time
elimination.
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from infinidb_spark.operators.dml import _write_json_atomic, commit_relinked

SIDECAR = "_partitions.json"


def _real(table_dir: str) -> str:
    return os.path.realpath(table_dir.rstrip("/"))


def _part_files(real_dir: str) -> list[str]:
    """Sorted basenames of the table's Parquet part-files."""
    return sorted(
        f
        for f in os.listdir(real_dir)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


def _read_sidecar(real_dir: str) -> dict[str, Any]:
    p = os.path.join(real_dir, SIDECAR)
    if not os.path.exists(p):
        return {"disabled": []}
    with open(p) as fh:
        return json.load(fh)


def _write_sidecar(real_dir: str, state: dict[str, Any]) -> None:
    """tmp + ``os.replace`` in a private version: the name may be a hard
    link to the live version's sidecar, which must never be written
    through."""
    _write_json_atomic(os.path.join(real_dir, SIDECAR), state)


def disabled_partitions(table_dir: str) -> set[str]:
    real = _real(table_dir)
    present = set(_part_files(real))
    return {f for f in _read_sidecar(real)["disabled"] if f in present}


def enabled_files(table_dir: str) -> list[str]:
    """Full paths of the partitions a scan/DML should see — the analog
    of the BRM filtering EXTENTOUTOFSERVICE extents out of every
    getExtents() the job step builders call."""
    real = _real(table_dir)
    off = disabled_partitions(table_dir)
    return [os.path.join(real, f) for f in _part_files(real) if f not in off]


def _resolve(real_dir: str, parts: str | list) -> list[str]:
    """Accept the reference's comma-joined id string or a Python list;
    ids are part-file basenames or zero-based ordinals in sorted order
    (the stable-within-a-version analog of dbroot.partition.segment)."""
    files = _part_files(real_dir)
    if isinstance(parts, str):
        parts = [p.strip() for p in parts.split(",") if p.strip()]
    out: list[str] = []
    for p in parts:
        if isinstance(p, int) or (isinstance(p, str) and p.isdigit()):
            i = int(p)
            if not 0 <= i < len(files):
                raise ValueError(f"partition ordinal {i} out of range (0..{len(files) - 1})")
            out.append(files[i])
        elif p in files:
            out.append(p)
        else:
            raise ValueError(f"no such partition {p!r}")
    return out


def partitions_by_value(
    table_dir: str, column: str, start=None, end=None
) -> list[str]:
    """Partitions selected by a column value range — the
    ``cal*partitionsbyvalue`` family's shared resolver
    (``partitionByValue_common``, `ha_calpont_partition.cpp:530-780`).

    Reference semantics, mirrored exactly: a partition qualifies iff
    its casual-partition ``[min, max]`` for ``column`` is FULLY
    CONTAINED in ``[start, end]`` (``min >= start and max <= end``) —
    i.e. dropping it cannot lose a row outside the range; a NULL bound
    means ±infinity (line 640-670); partitions with no valid stats
    (CPINVALID extents — here, a column missing from the footer stats)
    are never selected (line 745).  Returns part-file basenames.
    """
    from infinidb_spark.sources.manifest import cached_manifest

    real = _real(table_dir)
    by_file = {os.path.basename(e["file"]): e for e in cached_manifest(real)}
    out: list[str] = []
    for f in _part_files(real):
        entry = by_file.get(f)
        st = (entry or {}).get("columns", {}).get(column)
        if not st or st["min"] is None or st["max"] is None:
            continue  # CPINVALID: no stats → never range-selected
        # Parquet min/max EXCLUDE NULLs: a partition holding NULL rows
        # is not fully contained in any value range — dropping it by
        # [min,max] alone would destroy those rows (violating the
        # cannot-lose-a-row invariant above).  Unknown null_count →
        # not selectable, same conservatism as missing stats.
        if st.get("null_count") != 0:
            continue
        mn, mx = st["min"], st["max"]
        try:
            lo_ok = start is None or mn >= _coerce(start, mn, "start")
            hi_ok = end is None or mx <= _coerce(end, mx, "end")
        except (TypeError, ValueError):
            raise ValueError(
                f"range bound not comparable with column {column!r} stats"
            ) from None
        if lo_ok and hi_ok:
            out.append(f)
    return out


def _coerce(bound, stat, edge: str = "start"):
    """Coerce a user-supplied bound (always parsed as str/int/float from
    the UDF argument list) to the stat's own type — the IDB_format
    analog (`ha_calpont_partition.cpp:655,668`: bounds are parsed
    according to the column's catalog type)."""
    import datetime

    if isinstance(stat, bool) or stat is None:
        return bound
    if isinstance(stat, int) and not isinstance(bound, int):
        import math

        # containment-preserving coercion: int() truncates toward zero,
        # so '10.7' as a START would become 10 and let a partition
        # holding rows in [10, 10.7) be selected/dropped although those
        # rows are OUTSIDE the requested range; a START bound rounds UP
        # and an END bound rounds DOWN, so a fractional bound can only
        # SHRINK the selected range, never widen it.
        v = float(bound) if isinstance(bound, str) else bound
        return math.ceil(v) if edge == "start" else math.floor(v)
    if isinstance(stat, float) and not isinstance(bound, float):
        return float(bound)
    if isinstance(stat, datetime.datetime) and isinstance(bound, str):
        return datetime.datetime.fromisoformat(bound)
    if isinstance(stat, datetime.date) and isinstance(bound, str):
        return datetime.date.fromisoformat(bound)
    if isinstance(stat, str):
        return str(bound)
    return bound


def disable_partitions(table_dir: str, parts: str | list) -> str:
    """Mark partitions out of service (metadata-only).  Returns the
    reference's message text (`ha_calpont_partition.cpp:793-797`).

    A relinked commit (operators/dml.py ``commit_relinked``): the
    sidecar's read-modify-write runs on the private version under the
    commit lock, so two concurrent disables cannot lose one, and a
    DML rewrite pinned on the old version aborts or rebases at its
    token check instead of carrying stale disabled state."""
    def edit(version_dir: str) -> bool:
        state = _read_sidecar(version_dir)
        already = set(state["disabled"])
        fresh = set(_resolve(version_dir, parts)) - already
        if fresh:
            _write_sidecar(version_dir, {**state, "disabled": sorted(already | fresh)})
        return bool(fresh)

    if commit_relinked(table_dir, "DISABLE PARTITIONS", edit):
        return "Partitions are disabled successfully"
    return "No partitions are disabled"


def enable_partitions(table_dir: str, parts: str | list) -> str:
    def edit(version_dir: str) -> bool:
        state = _read_sidecar(version_dir)
        off = set(state["disabled"])
        back = set(_resolve(version_dir, parts)) & off
        if back:
            _write_sidecar(version_dir, {**state, "disabled": sorted(off - back)})
        return bool(back)

    commit_relinked(table_dir, "ENABLE PARTITIONS", edit)
    return "Partitions are enabled successfully."


def drop_partitions(table_dir: str, parts: str | list) -> str:
    """Physically drop partitions: a relinked commit whose private
    version unlinks the dropped files — the copy-on-write twin of the
    reference's caldroppartitions DDL (`ha_calpont_partition.cpp:831`).
    Zero bytes copied; a concurrent DML rewrite pinned on the old
    version sees the drop at its token check, so it cannot resurrect
    the dropped rows."""
    import pyarrow.parquet as pq

    def edit(version_dir: str) -> bool:
        targets = set(_resolve(version_dir, parts))
        files = _part_files(version_dir)
        empty = None
        if targets and targets == set(files):
            # dropping EVERY partition must leave a readable empty
            # table, not a parquet-less directory that fails schema
            # inference on every later read (the DELETE-all path writes
            # an empty schema-bearing file for the same reason)
            empty = pq.read_schema(os.path.join(version_dir, files[0])).empty_table()
        for f in targets:
            os.remove(os.path.join(version_dir, f))
        if empty is not None:
            pq.write_table(empty, os.path.join(version_dir, "part-empty.parquet"))
        state = _read_sidecar(version_dir)
        off = set(state["disabled"])
        if off & targets:
            _write_sidecar(version_dir, {**state, "disabled": sorted(off - targets)})
        return bool(targets)

    if commit_relinked(table_dir, "DROP PARTITIONS", edit):
        return "Partitions are dropped successfully"
    return "No partitions are dropped"


def carry_disabled(table_dir: str, new_dir: str) -> None:
    """Hard-link disabled partitions (and their sidecar state) into a
    pending version directory, so a rewrite built from ``enabled_files``
    preserves out-of-service data byte-for-byte — the invariant that
    makes enable-after-DML restore exactly the disabled rows (the
    reference's version buffer never touches OUT-OF-SERVICE extents
    either).  Called by the DML layer before every ``_swap``."""
    real = _real(table_dir)
    off = sorted(disabled_partitions(table_dir))
    if not off:
        return
    for f in off:
        dst = os.path.join(new_dir, f)
        if not os.path.exists(dst):
            os.link(os.path.join(real, f), dst)
    _write_sidecar(new_dir, {"disabled": off})


def show_partitions(
    spark: SparkSession, table_dir: str, column: str | None = None
) -> DataFrame:
    """Per-partition stats relation — calshowpartitions' Part#/Min/Max/
    Status table (`ha_calpont_partition.cpp:995-1047`) with the part-file
    id alongside the ordinal.  Min/max come from the manifest (footer
    stats, the extent-map analog); a column without stats shows N/A like
    the reference's CPINVALID extents."""
    from infinidb_spark.sources.manifest import cached_manifest

    real = _real(table_dir)
    off = disabled_partitions(table_dir)
    by_file = {os.path.basename(e["file"]): e for e in cached_manifest(real)}
    rows = []
    for i, f in enumerate(_part_files(real)):
        entry = by_file.get(f)
        st = (entry or {}).get("columns", {}).get(column) if column else None
        if column and st and st["min"] is not None:
            mn, mx = str(st["min"]), str(st["max"])
        elif column:
            mn = mx = "N/A"
        else:
            mn = mx = None
        rows.append(
            (
                i,
                f,
                int(entry["rows"]) if entry else None,
                mn,
                mx,
                "Disabled" if f in off else "Enabled",
            )
        )
    return spark.createDataFrame(
        rows,
        "part int, file string, rows bigint, min string, max string, status string",
    )


def format_partitions(spark: SparkSession, table_dir: str, column: str) -> str:
    """The reference UDF's exact presentation: a left-adjusted
    ``Part#/Min/Max/Status`` text block (`ha_calpont_partition.cpp:
    995-1002`) — what ``select calshowpartitions(...)`` returns through
    the MySQL front-end."""
    out = [f"{'Part#':<10}{'Min':<30}{'Max':<30}Status"]
    for r in show_partitions(spark, table_dir, column).collect():
        out.append(f"  {r['part']:<10}{r['min']:<30}{r['max']:<30}{r['status']}")
    return "\n".join(out)
