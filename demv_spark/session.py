"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]``; the config choices below are the
ones that matter identically on a real cluster: AQE (runtime shuffle
coalescing + skew-join splitting), Arrow for any pandas interchange,
and a shuffle-partition count sized for the workload rather than the
200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "demv_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Parameters are overridable for tests/bench; on a real cluster the
    same conf keys apply — only ``master`` changes.
    """
    # default to the cores this process may run on, never a fixed
    # count that oversubscribes a small box
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalescing of small shuffle partitions and
        # skew-join splitting — sensitive-group skew is the norm in the
        # fairness domain, so this is load-bearing, not cosmetic.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for all pandas interchange (grouped-map strategies,
        # toPandas of small results).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
