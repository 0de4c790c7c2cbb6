from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from infinidb_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("infinidb-spark-tests", cpus=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR



@pytest.fixture
def crash_before_swap(monkeypatch):
    """``crash(table_dir, write)`` runs ``write()`` and stops it where a
    SIGKILL between staging and the commit lock would: nothing after
    that point runs (no lock, no swap, no cleanup), so the pending
    version and its pin stay behind, and the pin's owner is a dead pid.
    The real SIGKILL is the ``sink_before_swap`` kill point of
    tests/test_optimistic_dml.py."""
    import json
    import subprocess

    import infinidb_spark.operators.dml as dml

    class Killed(BaseException):
        pass

    def killed(*args, **kwargs):
        raise Killed

    def crash(table_dir, write):
        with monkeypatch.context() as m:
            m.setattr(dml, "_table_lock_wait", killed)
            m.setattr(dml, "_unpin", lambda p: None)
            m.setattr(dml.shutil, "rmtree", lambda *a, **k: None)
            with pytest.raises(Killed):
                write()
        dead = int(subprocess.run(
            [sys.executable, "-c", "import os; print(os.getpid())"],
            capture_output=True, text=True, check=True,
        ).stdout)
        pins = dml._pins_dir(table_dir)
        for f in os.listdir(pins):
            with open(os.path.join(pins, f)) as fh:
                rec = json.load(fh)
            if rec["pid"] == os.getpid():
                rec["pid"] = dead
                with open(os.path.join(pins, f), "w") as fh:
                    json.dump(rec, fh)

    return crash
