"""session.effective_cpus: the one place the core count is resolved."""

import os

import pytest

from leann_rs_spark.session import effective_cpus, get_spark


def test_effective_cpus_env_and_invalid_value(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert effective_cpus() == 3
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert effective_cpus() == (os.cpu_count() or 4)
    # a non-numeric value names the variable, and fails when the session
    # starts — before any Spark work — not at a later reporting step
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "four")
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        effective_cpus()
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        get_spark("bad-cpus")
