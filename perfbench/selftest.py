"""Tiny-scale self-test of the benchmark.

    python3 perfbench/selftest.py

Runs each workload once on a small warehouse with a planted wrong answer
and checks that every end-to-end metric is printed and that the planted
answer is counted as a failure; runs one traced run and checks that every
per-layer metric is printed; and checks that the benchmark exits with an
error, printing no result, when the engine is not beside it.  Takes a few
minutes (one JVM start per run).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench(args: list[str], cwd: str = ROOT) -> tuple[int, str]:
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return p.returncode, p.stdout


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems: list[str] = []
    tiny = ["--seed", "3", "--seconds", "1", "--orders", "1500"]

    def expect(cond: bool, what: str) -> None:
        print(("ok   " if cond else "FAIL ") + what, flush=True)
        if not cond:
            problems.append(what)

    for w in spec["workloads"]:
        code, out = bench(["--workload", w["name"], "--trace", "0", "--plant-wrong", *tiny])
        lines = out.strip().splitlines()
        result = json.loads(lines[-1]) if code == 0 and lines else {}
        expect(code == 0, f"{w['name']}: exit code 0")
        for m in spec["end_to_end"]:
            printed = any(line.startswith(f"metric {m['name']} ") for line in lines)
            value = result.get("metrics", {}).get(m["name"], {}).get("value")
            expect(printed and value is not None and value > 0,
                   f"{w['name']}: {m['name']} printed and above 0")
        expect(result.get("failed", 0) >= 1 and result.get("correct") is False,
               f"{w['name']}: the planted wrong answer is counted as a failure")

    name = spec["workloads"][-1]["name"]
    code, out = bench(["--workload", name, "--trace", "1", *tiny])
    result = json.loads(out.strip().splitlines()[-1]) if code == 0 else {}
    expect(result.get("correct") is True, f"{name} traced: every answer correct")
    for m in spec["per_layer"]:
        expect(m["name"] in result.get("metrics", {}), f"{name} traced: {m['name']} printed")

    bare = os.path.join(ROOT, ".bench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    code, out = bench(["--workload", name, "--trace", "0", *tiny], cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    expect(code != 0 and not out.strip(), "without the engine: error exit, no result")

    print("selftest:", "PASS" if not problems else f"{len(problems)} FAILED")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
