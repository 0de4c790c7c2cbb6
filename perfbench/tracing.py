"""Spans, counters and Spark stage metrics for the traced run.

Spans are recorded from the benchmark's own side of each layer boundary:
the engine's public functions are wrapped for the length of the traced
run (and restored afterwards), so the engine itself is unchanged.  Each
span keeps its name, start, end, parent span and the id of the timed
operation it belongs to; spans and counts stay in memory and are written
out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import functools
import importlib
import json
import os
import time
import urllib.request

#: (module[:class], attribute, span name) of every wrapped layer entry
#: point.  Engine modules import these at call time or through the module
#: object, so replacing the attribute reaches every caller.  Only
#: driver-side functions are listed: a wrapper must never be shipped to a
#: Python worker inside a UDF.
LAYER_FUNCTIONS = [
    ("infinidb_spark.dialect", "translate_mysql", "dialect.translate"),
    ("infinidb_spark.dialect", "parse_statement", "dialect.parse"),
    ("infinidb_spark.dialect", "tokenize", "dialect.tokenize"),
    ("infinidb_spark.session:InfiniSession", "execute", "session.execute"),
    ("infinidb_spark.session:InfiniSession", "sql", "session.sql"),
    ("infinidb_spark.sources.bulk_load", "bulk_load_csv", "sources.load"),
    ("infinidb_spark.sources.manifest", "build_manifest", "sources.manifest_build"),
    ("infinidb_spark.operators.dml", "insert_into", "dml.insert"),
    ("infinidb_spark.operators.dml", "update_table", "dml.update"),
    ("infinidb_spark.operators.dml", "delete_from", "dml.delete"),
    ("infinidb_spark.operators.dml", "create_table", "dml.create"),
    ("infinidb_spark.operators.dedup", "normalize_text", "operators.dedup"),
    ("infinidb_spark.operators.dedup", "minhash_lsh_pairs", "operators.dedup"),
    ("infinidb_spark.operators.dedup", "dedup_simhash", "operators.dedup"),
    ("infinidb_spark.operators.similarity", "cosine_topk_batch", "operators.similarity"),
    ("infinidb_spark.operators.similarity", "ann_ivf_topk", "operators.similarity"),
    ("infinidb_spark.operators.similarity", "kmeans_fit_predict", "operators.similarity"),
    ("infinidb_spark.operators.text", "analyze", "operators.text"),
    ("infinidb_spark.operators.text", "quality_score", "operators.text"),
    ("infinidb_spark.operators.text", "scrub_pii", "operators.text"),
    ("infinidb_spark.operators.text", "pii_counts", "operators.text"),
]


class Tracer:
    """In-memory span recorder.  A disabled tracer records nothing and
    its ``span`` is a no-op, so the untraced run pays no tracing cost."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op_id: int | None = None
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        self.spans.append({
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
        })
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    # --- wrapping the engine's layer entry points --------------------------

    def _wrap(self, owner, attr: str, name: str) -> None:
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, original))

    def install(self) -> None:
        """Wrap every layer entry point (traced runs only)."""
        if not self.enabled:
            return
        for target, attr, name in LAYER_FUNCTIONS:
            mod_name, _, cls = target.partition(":")
            owner = importlib.import_module(mod_name)
            if cls:
                owner = getattr(owner, cls)
            if hasattr(owner, attr):
                self._wrap(owner, attr, name)

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    # --- reductions ----------------------------------------------------------

    def inclusive_s(self, name: str, ops: set[int] | None = None) -> float:
        """Time inside spans called ``name``, counting a recursive or
        nested call of the same name once."""
        total = 0.0
        for s in self.spans:
            if s["name"] != name or s["end"] is None:
                continue
            if ops is not None and s["op"] not in ops:
                continue
            p = s["parent"]
            nested = False
            while p is not None:
                if self.spans[p]["name"] == name:
                    nested = True
                    break
                p = self.spans[p]["parent"]
            if not nested:
                total += s["end"] - s["start"]
        return total

    def write(self, path: str, counts: dict) -> None:
        """One JSON line per span, then one line with the run's counts."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
            f.write(json.dumps({"counts": counts}) + "\n")


# --- Spark stage metrics over the UI's REST API ------------------------------


def _rest(base: str, path: str):
    with urllib.request.urlopen(f"{base}/{path}", timeout=10) as r:
        return json.load(r)


def _ms(stamp: str | None) -> float | None:
    """Parse a REST timestamp such as ``2026-01-01T10:00:00.123GMT``;
    None when absent or in another format."""
    if not stamp:
        return None
    try:
        t = dt.datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    except ValueError:
        return None
    return t.replace(tzinfo=dt.timezone.utc).timestamp() * 1000.0


def stage_metrics(spark, group_prefix: str, expected_jobs: int) -> dict[str, float]:
    """Sum the stage metrics of every job whose group starts with
    ``group_prefix``.  The URL comes from ``uiWebUrl``, so a UI bound to
    another port than 4040 is still found.  The listener bus is
    asynchronous: wait until the UI has seen every job the status tracker
    counted, for at most ten seconds."""
    sc = spark.sparkContext
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    deadline = time.monotonic() + 10
    while True:
        jobs = [
            j for j in _rest(base, "jobs")
            if str(j.get("jobGroup") or "").startswith(group_prefix)
        ]
        done = all(j.get("status") != "RUNNING" for j in jobs)
        if (len(jobs) >= expected_jobs and done) or time.monotonic() > deadline:
            break
        time.sleep(0.2)
    wanted = {sid for j in jobs for sid in j.get("stageIds", [])}
    out = {
        "jobs": len(jobs), "stages": 0, "tasks": 0, "exec_cpu_s": 0.0,
        "run_s": 0.0, "gc_s": 0.0, "input_bytes": 0, "input_records": 0,
        "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
        "sched_wait_s": 0.0,
    }
    for s in _rest(base, "stages"):
        if s.get("stageId") not in wanted or s.get("status") == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += s.get("numCompleteTasks", 0)
        out["exec_cpu_s"] += s.get("executorCpuTime", 0) / 1e9
        out["run_s"] += s.get("executorRunTime", 0) / 1e3
        out["gc_s"] += s.get("jvmGcTime", 0) / 1e3
        out["input_bytes"] += s.get("inputBytes", 0)
        out["input_records"] += s.get("inputRecords", 0)
        out["shuffle_read_bytes"] += s.get("shuffleReadBytes", 0)
        out["shuffle_write_bytes"] += s.get("shuffleWriteBytes", 0)
        out["spill_bytes"] += s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
        sub, first = _ms(s.get("submissionTime")), _ms(s.get("firstTaskLaunchedTime"))
        if sub is not None and first is not None:
            out["sched_wait_s"] += max(first - sub, 0.0) / 1e3
    return out


# --- memory ------------------------------------------------------------------


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MiB; 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0
