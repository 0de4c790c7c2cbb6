"""Capture outputs + plan + timed noop passes for a set of queries.

Usage: python scripts/capture_state.py <tag> <query1,query2,...> [passes]

Writes /tmp/cap_<tag>_<query>_{sf01,sf1}.txt (sorted repr rows),
plans/r11/<query>_<tag>.txt (sf0.1 formatted plan), and prints noop-sink
pass times at sf1.
"""

from __future__ import annotations

import io
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from infinidb_spark.session import get_spark  # noqa: E402

SF01 = "/root/testdata/sf0.1"
SF1 = "/tmp/infinidb_testdata/sf1"


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2].split(",")
    passes = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    spark = get_spark("capture-state")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry_mod.queries()
    for name in names:
        fn = qs[name]
        for sf, suffix in [(SF01, "sf01"), (SF1, "sf1")]:
            rows = fn(spark, sf).collect()
            with open(f"/tmp/cap_{tag}_{name}_{suffix}.txt", "w") as f:
                for r in rows:
                    f.write(repr(tuple(r)) + "\n")
            print(f"{name} {suffix}: {len(rows)} rows", flush=True)
        df = fn(spark, SF01)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        os.makedirs("plans/r11", exist_ok=True)
        with open(f"plans/r11/{name}_{tag}.txt", "w") as f:
            f.write(buf.getvalue())
        for i in range(passes):
            spark.sparkContext.setJobDescription(f"{name} {tag} pass {i}")
            t0 = time.perf_counter()
            fn(spark, SF1).write.format("noop").mode("overwrite").save()
            print(f"{name} sf1 pass {i}: {time.perf_counter() - t0:.2f}s", flush=True)


if __name__ == "__main__":
    main()
