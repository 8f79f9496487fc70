"""SparkSession defaults that need no running session."""

from __future__ import annotations

import re

import pytest

from data_algorithms_with_pyspark_spark.session import _default_parallelism


@pytest.mark.parametrize("raw", ["four", "2.5", "0", "-3"])
def test_bad_cpu_count_names_the_variable_and_value(monkeypatch, raw):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
    msg = f"SPARK_GRAFT_CPUS must be a positive integer, got {raw!r}"
    with pytest.raises(ValueError, match=re.escape(msg)):
        _default_parallelism()


def test_cpu_count_from_env(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    assert _default_parallelism() == 6
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "1")
    assert _default_parallelism() == 2  # local mode keeps two task slots
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert _default_parallelism() >= 2
