"""The shared harness session helpers size themselves from the host.

``session()`` is not called here: ``getOrCreate`` would return the test
fixture's session and rewrite its settings."""

import os

from flink_ml_spark.benchmark.session import driver_memory, host_cpus


def test_host_cpus_honours_env(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert host_cpus() == 3


def test_host_cpus_defaults_to_affinity_not_omp(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setenv("OMP_NUM_THREADS", "1")
    assert host_cpus() == len(os.sched_getaffinity(0))


def test_driver_memory_env_verbatim(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_MEM", "1234m")
    assert driver_memory() == "1234m"
