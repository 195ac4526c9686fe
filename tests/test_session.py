"""Session sizing reads its environment strictly: a value it cannot use
fails loudly instead of falling back to a default."""

from __future__ import annotations

import pytest

from fiveg_spark.session import default_shuffle_partitions


@pytest.mark.parametrize("cpus", ["auto", "", "4.0", "-2"])
def test_bad_cpus_env_raises(monkeypatch, cpus):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", cpus)
    monkeypatch.setenv("SPARK_GRAFT_MASTER", "local[2]")
    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE", raising=False)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        default_shuffle_partitions()


@pytest.mark.parametrize("cpus, expected", [("1", 8), ("8", 8), ("32", 32)])
def test_digit_cpus_env_sizes_partitions(monkeypatch, cpus, expected):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", cpus)
    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE", raising=False)
    assert default_shuffle_partitions() == expected
