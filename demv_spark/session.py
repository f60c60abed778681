"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]``; the config choices below are the
ones that matter identically on a real cluster: AQE (runtime shuffle
coalescing + skew-join splitting), Arrow for any pandas interchange,
and a shuffle-partition count sized for the workload rather than the
200 default.

``local_table`` is how the engine hands a small driver-built table
(a target map, a weight map, a per-fold result) to Spark.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


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
    # driver heap: SPARK_DRIVER_MEM, else half of physical memory capped
    # at 8 GB, so a small box is never promised more heap than it has
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    driver_mem = os.environ.get("SPARK_DRIVER_MEM") or f"{min(8192, half_mb)}m"

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
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_table(
    spark: SparkSession,
    rows: Iterable[Mapping | Sequence],
    schema: StructType | str,
) -> DataFrame:
    """A small driver-built table as an Arrow local relation.

    ``rows`` are dicts (a missing key is null) or tuples in ``schema``
    order; ``schema`` is a ``StructType`` or a DDL string, and the
    result's schema equals it, nullability included. The plan is a
    ``LocalTableScan``: scanning it runs no Python-worker task, where
    ``spark.createDataFrame(list)`` builds a Python RDD whose every
    scan does (≈0.25 s a task on a 4-core ``local[4]`` session, even
    on a reused worker)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    names = schema.fieldNames()
    records = [r if isinstance(r, Mapping) else dict(zip(names, r)) for r in rows]
    table = pa.Table.from_pylist(records, schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)
