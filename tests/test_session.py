"""Session-factory configuration parsing."""

import pytest

from gem_data_wrangle_spark.session import _int_env

_NAMES = ("SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_CPUS")


@pytest.mark.parametrize("bad", ["0", "-1", "*", "", "eight"])
def test_int_env_skips_invalid_partition_counts(monkeypatch, bad):
    """A value that would build a session dying at its first shuffle
    falls through to the next variable, then to the default."""
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", bad)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    assert _int_env(_NAMES, 32) == 6
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "0")
    assert _int_env(_NAMES, 32) == 32


def test_int_env_takes_first_positive(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", "200")
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    assert _int_env(_NAMES, 32) == 200
    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert _int_env(_NAMES, 32) == 32
