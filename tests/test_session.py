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


def test_default_driver_memory_is_half_of_ram_capped_at_8g(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    monkeypatch.setattr(
        SparkSession.Builder, "getOrCreate", lambda self: dict(self._options)
    )
    pages = {"SC_PAGE_SIZE": 4096}
    monkeypatch.setattr(os, "sysconf", lambda name: pages[name])
    pages["SC_PHYS_PAGES"] = 6 * 2**30 // 4096  # 6 GB box
    assert get_spark("mem")["spark.driver.memory"] == "3072m"
    pages["SC_PHYS_PAGES"] = 64 * 2**30 // 4096  # 64 GB box
    assert get_spark("mem")["spark.driver.memory"] == "8192m"
    monkeypatch.setenv("SPARK_DRIVER_MEM", "2g")
    assert get_spark("mem")["spark.driver.memory"] == "2g"


def test_local_table_keeps_schema_and_scans_locally(spark):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from demv_spark.plans.introspect import explain_str, plan_stats
    from demv_spark.session import local_table

    schema = StructType(
        [StructField("k", StringType()), StructField("n", LongType(), False)]
    )
    t = local_table(spark, [{"n": 1}, ("a", 2)], schema)
    assert t.schema == schema
    assert [tuple(r) for r in t.collect()] == [(None, 1), ("a", 2)]
    assert "LocalTableScan" in explain_str(t)
    assert not plan_stats(t)["has_python_rdd"]
    ddl = local_table(spark, [(0, 0.5)], "t int, x double")
    assert ddl.schema == spark.createDataFrame([(0, 0.5)], "t int, x double").schema
