"""Warehouse benchmark for the infinidb_spark engine.

    python3 perfbench/run.py --workload report_batch --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from ``--seed``, starts the engine on
local[<nproc>] with one closed-loop client, warms up, then times
``round(--seconds / cycle_s)`` whole cycles of the workload's operations,
about ``--seconds`` of engine time.  Every result is checked (see
workloads.py).  Lines of the form
``metric <name> <value> <unit>`` name every metric; the last line of
standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``.

All files go to ``.bench_work/`` under the repository root, which is
removed at the end except for the span file of a traced run.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spec_units(section: str) -> dict[str, str]:
    """Metric name -> unit for one section of BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it:
    ``(value, percentile, sample count)``.  Below eleven samples no
    percentile qualifies and the maximum is returned as percentile 100."""
    s = sorted(values)
    n = len(s)
    if n < 11:
        return s[-1], 100.0, n
    i = n - 11
    return s[i], 100.0 * (i + 1) / n, n


def cpu_ticks(pid: int) -> int:
    """User plus system CPU ticks a process has used so far."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return int(fields[11]) + int(fields[12])


def cpu_steal() -> tuple[int, int]:
    """``(all, stolen)`` CPU ticks of the machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return sum(ticks), ticks[7] if len(ticks) > 7 else 0


def hygiene(work: str, trace: bool) -> None:
    """Point every scratch path of Spark, the JVM and Python into
    ``work``, pin the core count, and keep the UI for traced runs only."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = local
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # every JVM, the launcher included: temp files here, and no
    # hsperfdata, which HotSpot writes to /tmp whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={shlex.quote(os.path.join(work, 'warehouse'))}",
        "pyspark-shell",
    ])
    if trace:
        os.environ["SPARK_GRAFT_UI"] = "1"
    else:
        os.environ.pop("SPARK_GRAFT_UI", None)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    os.chdir(work)


class Runner:
    """Runs operations one at a time, timing each from the call into the
    engine through the collected result; checks run untimed."""

    def __init__(self, ctx, workload, plant_wrong: bool, trace_mode: bool):
        self.ctx = ctx
        self.workload = workload
        self.trace_mode = trace_mode
        self.records: list[dict] = []
        self.check_s = 0.0
        self.plant_wrong = plant_wrong
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    @staticmethod
    def _files() -> dict[str, int]:
        """Parquet files under the session's managed-table roots."""
        import glob

        from workloads import parquet_files

        out: dict[str, int] = {}
        for root in glob.glob(os.path.join(os.environ["TMPDIR"], "infinidb_tables_*")):
            out.update(parquet_files(root))
        return out

    def run(self, op, timed: bool, traced: bool = False) -> dict:
        tr = self.ctx.tracer
        op_id = len(self.records)
        before = self._files() if op.kind == "write" else None
        if self.trace_mode:
            # only traced operations carry the group the stage report reads
            group = f"bench-{'op' if traced else 'plain'}-{op_id}"
            self.ctx.spark.sparkContext.setJobGroup(group, op.name)
        tr.op_id = op_id
        err = None
        cpu0 = time.thread_time()
        t0 = time.perf_counter()
        try:
            with tr.span("op"):
                out = op.run()
        except Exception as exc:  # a failed statement is a counted failure
            out, err = None, f"{type(exc).__name__}: {str(exc)[:300]}"
        lat = time.perf_counter() - t0
        tr.op_id = None
        c0 = time.perf_counter()
        rec = {"id": op_id, "name": op.name, "kind": op.kind, "lat": lat,
               "driver_cpu": time.thread_time() - cpu0, "timed": timed, "traced": traced}
        if traced:
            rec["jobs"] = len(self.ctx.spark.sparkContext.statusTracker()
                              .getJobIdsForGroup(f"bench-op-{op_id}"))
        if err is None:
            if self.plant_wrong and timed:
                out = _plant(out)
                self.plant_wrong = False
            try:
                op.check(out)
            except Exception as exc:
                err = f"{type(exc).__name__}: {str(exc)[:300]}"
        if isinstance(out, int) and not isinstance(out, bool):
            rec["rows"] = out
        elif out is not None and hasattr(out, "rows"):
            rec["rows_out"] = len(out.rows)
        if before is not None:
            after = self._files()
            new = [p for p in after if p not in before]
            rec["files_written"] = len(new)
            rec["bytes_written"] = sum(after[p] for p in new)
        rec["ok"] = err is None
        self.attempted += 1
        if err is not None:
            self.failed += 1
            self.errors.append(f"{op.name}: {err}")
        self.records.append(rec)
        self.check_s += time.perf_counter() - c0
        return rec


def _plant(out):
    """Corrupt a result on purpose (self-test of the checks)."""
    from workloads import Fetched

    if isinstance(out, Fetched):
        return Fetched(out.df, out.rows[:-1] if out.rows else [tuple(range(len(out.df.columns)))])
    return out + 1 if isinstance(out, int) else out


def stop_engine(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--orders", type=int, default=5000,
                    help="orders rows; the other tables scale with it")
    ap.add_argument("--plant-wrong", action="store_true",
                    help="corrupt the first timed result (self-test of the checks)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "infinidb_spark")):
        print("perfbench: the infinidb_spark package is not beside perfbench/",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import numpy as np

    import datagen
    import tracing
    from workloads import WORKLOADS, Context

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    trace_out = os.path.join(ROOT, ".bench_work", "traces",
                             f"{args.workload}-{args.seed}.jsonl")
    os.makedirs(work, exist_ok=True)
    hygiene(work, bool(args.trace))
    spark = None
    try:
        data = os.path.join(work, "data")
        sizes = datagen.write_tpch(data, args.seed, args.orders)
        datagen.write_corpus(data, docs=500, vectors=500)

        t_setup = time.perf_counter()
        from infinidb_spark.session import InfiniSession, get_spark

        import __spark_entry__  # noqa: F401  (registers every plan module)

        phases = {"setup.import_s": time.perf_counter() - t_setup}
        # the DuckDB oracle is not part of set-up: its time is taken out
        t_oracle = time.perf_counter()
        from tests.oracle_util import duck_con

        duck = duck_con(data)
        oracle_s = time.perf_counter() - t_oracle

        # spans and stage metrics cover the timed operations only
        tracer = tracing.Tracer(False)
        t = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        phases["setup.engine_start_s"] = time.perf_counter() - t
        t = time.perf_counter()
        session = InfiniSession(spark, data)
        ctx = Context(spark, session, duck, np.random.default_rng(args.seed),
                      data, work, tracer, sizes)
        workload = WORKLOADS[args.workload](ctx)
        runner = Runner(ctx, workload, args.plant_wrong, bool(args.trace))
        phases["setup.register_s"] = time.perf_counter() - t
        t = time.perf_counter()
        for op in workload.warmup():
            runner.run(op, timed=False)
        phases["setup.warmup_s"] = time.perf_counter() - t - runner.check_s
        setup_s = time.perf_counter() - t_setup - oracle_s - runner.check_s

        # a fixed number of whole cycles, set by --seconds and the cycle's
        # nominal length, so every run of a workload measures the same mix
        # however fast the engine is
        cycles = max(1, round(args.seconds / workload.cycle_s))
        tracer.enabled = bool(args.trace)
        tracer.install()
        from pyspark import SparkContext

        jvm_pid = SparkContext._gateway.proc.pid
        steal0, jvm0 = cpu_steal(), cpu_ticks(jvm_pid)
        for _ in range(cycles):
            for i, op in enumerate(workload.cycle()):
                if not args.trace or op.kind != "read" or i % 2:
                    runner.run(op, timed=True, traced=bool(args.trace))
                    continue
                # tracing overhead: every other read runs once without
                # wrappers and once with, alternating which goes first
                first_plain = len(runner.records) % 2 == 0
                pair = []
                for plain in (first_plain, not first_plain):
                    if plain:
                        tracer.uninstall()
                        tracer.enabled = False
                    rec = runner.run(op, timed=True, traced=not plain)
                    if plain:
                        tracer.enabled = True
                        tracer.install()
                    rec["pair_plain"] = plain
                    pair.append(rec)
                pair[0]["pair"], pair[1]["pair"] = pair[1]["id"], pair[0]["id"]
        tracer.uninstall()
        steal1, jvm_cpu_s = cpu_steal(), (cpu_ticks(jvm_pid) - jvm0) / os.sysconf("SC_CLK_TCK")

        metrics, lines = summarize(args, runner, ctx, setup_s, jvm_cpu_s, spark)
        lines.insert(0, f"metric cycles {cycles} count  "
                        f"(whole cycles of about {workload.cycle_s:g} s each)")
        lines[1:1] = [f"metric {k} {v:.6g} s" for k, v in phases.items()]
        lines.append(f"metric cpu_steal_share "
                     f"{(steal1[1] - steal0[1]) / max(steal1[0] - steal0[0], 1):.4f} ratio  "
                     "(CPU time the hypervisor gave to others while measuring)")
        if args.trace:
            tracer.write(trace_out, ctx.stats)
    finally:
        if spark is not None:
            stop_engine(spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # .bench_work, when nothing is left
        except OSError:
            pass

    for line in lines:
        print(line)
    for e in runner.errors[:20]:
        print(f"failure {e}")
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }))
    return 0


def summarize(args, runner, ctx, setup_s, jvm_cpu_s, spark):
    """Reduce the operation records to metrics.  Returns the JSON metric
    map for this mode and the ``metric ...`` lines for every metric."""
    import tracing

    recs = [r for r in runner.records if r["timed"]]
    if args.trace:
        recs_lat = [r for r in recs if not r.get("pair_plain")]
    else:
        recs_lat = recs
    lat = [r["lat"] for r in recs_lat]
    busy = sum(lat)
    shown: list[tuple[str, float, str, str]] = []

    def show(name, value, unit, note=""):
        shown.append((name, value, unit, note))

    from pyspark import SparkContext

    jvm_pid = SparkContext._gateway.proc.pid
    jvm_mb = tracing.peak_rss_mb(jvm_pid)
    py_mb = tracing.peak_rss_mb(os.getpid())
    show("setup_s", setup_s, "s")
    show("op_p50_s", statistics.median(lat), "s", f"n={len(lat)}")
    t, pct, n = tail(lat)
    show("op_tail_s", t, "s", f"p{pct:.1f} n={n}")
    show("ops_per_s", len(lat) / busy, "1/s")
    # the JVM's CPU over every timed operation (paired untraced reads
    # included), plus the driver thread's CPU inside the calls
    show("cpu_s_per_op", (jvm_cpu_s + sum(r["driver_cpu"] for r in recs)) / len(recs), "s",
         "JVM plus the driver thread")
    show("peak_rss_mb", jvm_mb + py_mb, "MB", "JVM + Python driver, VmHWM")
    for kind in ("read", "write"):
        ks = [r for r in recs_lat if r["kind"] == kind]
        if not ks:
            show(f"{kind}_p50_s", float("nan"), "s", "no such operations in this workload")
            continue
        kl = [r["lat"] for r in ks]
        show(f"{kind}_p50_s", statistics.median(kl), "s", f"n={len(kl)}")
        t, pct, n = tail(kl)
        show(f"{kind}_tail_s", t, "s", f"p{pct:.1f} n={n}")
        if kind == "read":
            show("read_ops_per_s", len(kl) / sum(kl), "1/s")
        else:
            rows = sum(r.get("rows", 0) for r in ks)
            show("write_rows_per_s", rows / sum(kl), "1/s")
            bw = sum(r.get("bytes_written", 0) for r in ks)
            show("write_bytes_per_row", bw / max(rows, 1), "B",
                 f"{bw} B of new Parquet for {rows} affected rows")
    show("failed_op_ratio", runner.failed / runner.attempted, "ratio",
         f"{runner.failed}/{runner.attempted}")
    by_class: dict[str, list[float]] = {}
    for r in recs_lat:
        by_class.setdefault(r["name"].split(".")[0], []).append(r["lat"])
    for cls, v in sorted(by_class.items()):
        show(f"{cls}.p50_s", statistics.median(v), "s", f"n={len(v)}")

    values = {n_: v for n_, v, _, _ in shown}
    metrics = {k: {"value": values[k], "unit": u}
               for k, u in spec_units("end_to_end").items()}
    if args.trace:
        metrics = trace_metrics(runner, ctx, spark, recs, show, jvm_mb, py_mb)
    lines = [f"metric {n} {v:.6g} {u}" + (f"  ({note})" if note else "")
             for n, v, u, note in shown]
    return metrics, lines


def trace_metrics(runner, ctx, spark, recs, show, jvm_mb, py_mb):
    """Per-layer metrics of a traced run, per traced operation."""
    import tracing

    tr = ctx.tracer
    traced = [r for r in recs if r["traced"]]
    ids = {r["id"] for r in traced}
    n = len(traced)
    st = tracing.stage_metrics(spark, "bench-op-", sum(r.get("jobs", 0) for r in traced))
    rows_out = sum(r.get("rows_out", 0) for r in traced)
    per = {
        "dialect.translate_s": tr.inclusive_s("dialect.translate", ids),
        "dialect.parse_s": tr.inclusive_s("dialect.parse", ids),
        "dialect.tokenize_s": tr.inclusive_s("dialect.tokenize", ids),
        "session.execute_s": tr.inclusive_s("session.execute", ids),
        "session.sql_s": tr.inclusive_s("session.sql", ids),
        "exec.plan_s": tr.inclusive_s("exec.plan", ids),
        "exec.exec_s": tr.inclusive_s("exec.run", ids),
        "exec.jobs": st["jobs"], "exec.stages": st["stages"], "exec.tasks": st["tasks"],
        "exec.sched_wait_s": st["sched_wait_s"], "exec.task_cpu_s": st["exec_cpu_s"],
        "exec.task_run_s": st["run_s"],
        "exec.input_bytes": st["input_bytes"],
        "exec.shuffle_read_bytes": st["shuffle_read_bytes"],
        "exec.shuffle_write_bytes": st["shuffle_write_bytes"],
    }
    per = {k: v / n for k, v in per.items()}
    per["exec.rows_in_per_row_out"] = st["input_records"] / max(rows_out, 1)
    per["process.jvm_rss_mb"] = jvm_mb
    per["process.py_rss_mb"] = py_mb
    by_id = {r["id"]: r for r in runner.records}
    diffs = [r["lat"] - by_id[r["pair"]]["lat"] for r in traced if "pair" in r]
    per["trace.overhead_s"] = statistics.median(diffs) if diffs else 0.0
    metrics = {k: {"value": per[k], "unit": u} for k, u in spec_units("per_layer").items()}
    for k, v in metrics.items():
        show(k, v["value"], v["unit"])
    show("trace.overhead_pairs", len(diffs), "count",
         "median of traced minus untraced latency of the same read")
    # layer-specific figures; printed, not part of the JSON map
    lat = sum(r["lat"] for r in traced)
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    show("exec.run_share", tr.inclusive_s("exec.run", ids) / lat, "ratio",
         "share of operation latency inside collect()")
    show("exec.core_busy_share", st["run_s"] / (lat * cores), "ratio",
         f"task run time over operation latency times {cores} cores")
    show("exec.gc_s", st["gc_s"] / n, "s/op")
    show("exec.spill_bytes", st["spill_bytes"] / n, "B/op")
    names: dict[str, list[float]] = {}
    for r in traced:
        names.setdefault(r["name"], []).append(r["lat"])
    for name, v in sorted(names.items()):
        if name.startswith(("tpch.", "job.")):
            show(f"plans.{name.split('.', 1)[1]}_s", statistics.median(v), "s", f"n={len(v)}")
        if name.startswith("dml."):
            show(f"dml.{name.split('.', 1)[1]}_s", statistics.median(v), "s", f"n={len(v)}")
    for span in ("dml.insert", "dml.update", "dml.delete", "sources.load",
                 "sources.manifest_build", "operators.dedup",
                 "operators.similarity", "operators.text"):
        v = tr.inclusive_s(span, ids)
        if v:
            show(f"{span}_total_s", v, "s", "inside the layer, whole traced window")
    writes = [r for r in traced if r["kind"] == "write"]
    if writes:
        show("dml.files_written", sum(r.get("files_written", 0) for r in writes), "count")
        show("dml.bytes_written", sum(r.get("bytes_written", 0) for r in writes), "B")
    if hasattr(runner.workload, "storage"):
        for k, (v, unit, note) in runner.workload.storage().items():
            show(k, v, unit, note)
    for k, v in sorted(ctx.stats.items()):
        show(k, v, "count", "rows of one run of the job" if k.startswith("operators.")
             else "whole run, warm-up included")
    return metrics


if __name__ == "__main__":
    sys.exit(main())
