"""Session sizing: the CPU count comes from the host unless
SPARK_GRAFT_CPUS says otherwise, and a bad value is an error, not a
silent default."""

import os

import pytest

from codecdb_queryengine_spark.session import _cpus


def test_cpus_default_is_host_affinity(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert _cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert _cpus() == 3


def test_cpus_unparsable_value_raises(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "four")
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        _cpus()
