"""Physical-plan introspection — the engine's performance guardrails.

The 100 TB design rules (SURVEY.md §4) are checkable properties of
the optimized physical plan: how many exchanges (shuffles), whether
filters reached the parquet scan (PushedFilters), whether the scan
schema was pruned (ReadSchema), how much of the plan runs inside
whole-stage codegen, whether any row-at-a-time Python UDF snuck
into a hot path, and whether the plan scans a Python RDD (a
driver-built ``createDataFrame(list)`` table). ``plan_stats``
extracts those properties so tests and the bench can assert on them
instead of eyeballing explain output.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """df.explain(...) as a string instead of stdout."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), mode
    )


def plan_stats(df: DataFrame) -> dict:
    """Summary of scale-relevant physical-plan properties."""
    plan = explain_str(df, "formatted")
    simple = explain_str(df, "simple")
    return {
        "n_exchanges": len(re.findall(r"\bExchange\b", simple)),
        "n_broadcasts": len(re.findall(r"BroadcastExchange|BroadcastHashJoin", simple)),
        "n_sort_merge_joins": len(re.findall(r"SortMergeJoin", simple)),
        "n_wholestage_codegen": len(re.findall(r"WholeStageCodegen", simple)),
        "has_python_udf": bool(re.search(r"BatchEvalPython|PythonUDF", simple)),
        "has_arrow_eval": bool(re.search(r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas", simple)),
        # a scan of spark.createDataFrame(list): every scan runs
        # Python-worker tasks (a localCheckpoint's ExistingRDD does not)
        "has_python_rdd": "applySchemaToPythonRDD" in plan,
        "pushed_filters": re.findall(r"PushedFilters: \[([^\]]*)\]", plan),
        "read_schemas": re.findall(r"ReadSchema: (\S+)", plan),
    }


def assert_no_python_udf(df: DataFrame) -> None:
    """Hot-path guard: fail if the plan contains a row-at-a-time
    Python UDF (Arrow-batched pandas ops are allowed)."""
    stats = plan_stats(df)
    if stats["has_python_udf"]:
        raise AssertionError(
            "plan contains a row-at-a-time Python UDF:\n" + explain_str(df, "simple")
        )
