"""The shared group kernels of ``functions/compat``: the NULL-safe
per-group join and the two-phase bucketed rank."""

import pyspark.sql.functions as F
from pyspark.sql import Window

from demv_spark.functions.compat import bucketed_rank


def test_bucketed_rank_equals_single_window_row_number(spark):
    # NULL keys, NULL bucket values, and bucket 1 empty for key "a"
    # (buckets 0 and 2 only) — ranks must match one window per key
    rows = []
    for i in range(120):
        k = (None, "a", "b")[i % 3]
        j = i // 3
        b = None if i % 7 == 0 else (0, 2)[j % 2] if k == "a" else j % 4
        rows.append((i, k, b, float((i * 13) % 17)))
    df = spark.createDataFrame(rows, "id long, k string, b int, x double")
    order = [F.col("x").desc(), F.col("id")]
    got = {
        r["id"]: r["__rn"]
        for r in bucketed_rank(df, ["k"], ["b"], order).collect()
    }
    w = Window.partitionBy("k").orderBy("b", *order)
    want = {
        r["id"]: r["rn"]
        for r in df.withColumn("rn", F.row_number().over(w)).collect()
    }
    assert len(got) == len(rows)
    assert got == want
    assert bucketed_rank(df, ["k"], ["b"], order).columns == [*df.columns, "__rn"]
