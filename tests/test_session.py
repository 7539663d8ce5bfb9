"""Malformed SPARK_GRAFT_* values fail loudly before a session is built."""

from __future__ import annotations

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
