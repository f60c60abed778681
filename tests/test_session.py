"""Session defaults: with no core count in the environment, the
session is sized to the cores this process may run on."""

import os

from pyspark.sql import SparkSession

from demv_spark.session import get_spark


def test_default_master_follows_cpu_affinity(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 1, 2})
    # capture the builder's options instead of starting a session
    monkeypatch.setattr(
        SparkSession.Builder, "getOrCreate", lambda self: dict(self._options)
    )
    opts = get_spark("defaults")
    assert opts["spark.master"] == "local[3]"
    assert opts["spark.sql.shuffle.partitions"] == "3"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "5")
    opts = get_spark("defaults")
    assert opts["spark.master"] == "local[5]"
    assert opts["spark.sql.shuffle.partitions"] == "5"
