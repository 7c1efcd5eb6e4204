"""session.local_cpus: the one core-count default that get_spark sizes
local[N] from and bench.py records in its artifacts."""

from flink_examples_spark.session import local_cpus


def test_local_cpus_defaults_to_32_when_unset(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert local_cpus() == "32"


def test_local_cpus_reads_env(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    assert local_cpus() == "8"
