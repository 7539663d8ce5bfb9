"""Malformed SPARK_GRAFT_* values fail loudly before a session is built."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from prove_spark.session import get_spark


@pytest.mark.parametrize(
    "var, value, kwargs",
    [
        ("SPARK_GRAFT_CPUS", "abc", {}),
        ("SPARK_GRAFT_CPUS", "0", {}),
        (
            "SPARK_GRAFT_EXTRA_CONF",
            "spark.ui.enabled=false;spark.ui.port",
            {"master": "local[1]", "shuffle_partitions": 1},
        ),
    ],
)
def test_malformed_env_value_raises(monkeypatch, var, value, kwargs):
    # the check runs before the builder, so no JVM starts and the shared
    # test session's conf is untouched
    monkeypatch.setenv(var, value)
    with pytest.raises(ValueError, match=var):
        get_spark("malformed-env", **kwargs)


@pytest.mark.parametrize("value", ["abc", "0"])
def test_bench_rejects_malformed_cpus(value):
    # bench.py sizes its local[N] launches from SPARK_GRAFT_CPUS at import
    env = {**os.environ, "SPARK_GRAFT_CPUS": value}
    proc = subprocess.run(
        [sys.executable, "-c", "import bench"],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode != 0
    # the exception line itself, not the traceback's echo of the source
    error = proc.stderr.strip().splitlines()[-1]
    assert error.startswith("ValueError") and "SPARK_GRAFT_CPUS" in error
