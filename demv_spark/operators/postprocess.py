"""Post-processing prediction balancers — SURVEY.md §2.6 E9.

The reference optionally applies post-hoc "blackbox" balancers to the
prediction table (utils.py:362-379; the `balancers` package is not
shipped). The engine-native equivalent is per-group threshold
adjustment over a score column: pure window/when expressions, one
pass, no UDF.

Both ranking post-processors decide ``"auto"`` skew handling through
``balancer.resolve_auto_salt`` and rank skewed groups with
``compat.bucketed_rank``; their per-group tables (score cuts, quota
bounds) join back through ``compat.null_safe_broadcast_join``, so a
NULL group value is a group like any other on every path.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql.types import LongType, NumericType, StructField, StructType

from demv_spark.functions.compat import bucketed_rank, null_safe_broadcast_join
from demv_spark.operators.balancer import resolve_auto_salt


def group_threshold_adjust(
    df: DataFrame,
    unpriv: Column,
    score_col: str,
    priv_threshold: float,
    unpriv_threshold: float,
    out: str = "prediction_adj",
) -> DataFrame:
    """Binary re-thresholding with a group-dependent cutoff —
    the classic reject-option post-processor shape."""
    thr = F.when(unpriv, F.lit(unpriv_threshold)).otherwise(F.lit(priv_threshold))
    return df.withColumn(out, (F.col(score_col) >= thr).cast("int"))


def equalize_positive_rates(
    df: DataFrame,
    group_cols: Sequence[str],
    score_col: str,
    rate: float,
    out: str = "prediction_adj",
    tiebreak: Sequence[str] = (),
    skew_buckets: int | str | None = "auto",
) -> DataFrame:
    """Set each group's positive rate to exactly ``rate``: rank scores
    within each group, mark the top ceil(rate·n) positive. Pass
    ``tiebreak`` columns for a total order when scores can tie
    (determinism/oracle contract).

    Fairness groups are few-and-huge by construction, so the naive
    plan — ONE window task ranking a whole group — serializes a whole
    demographic at scale. ``skew_buckets="auto"`` (default) runs a
    cheap group-size census first (one aggregate over the group
    columns; pass an int or None to skip the extra scan) and, past
    ``balancer.AUTO_SALT_GROUP_ROWS`` rows in the largest group,
    switches to the range-bucketed exact rank: per-group approximate
    score quantiles split each group into score-range buckets, rows
    rank within (group, bucket), and exact per-bucket prefix counts
    restore the global rank (``compat.bucketed_rank``) — same output
    bit-for-bit, NULL groups included (equal scores never straddle a
    bucket, so the tiebreak order is preserved), but no task ever
    owns more than ~one bucket of a group."""
    gcols = list(group_cols)
    if skew_buckets == "auto":
        sizes = [
            r["__gn"]
            for r in df.groupBy(*gcols).agg(F.count(F.lit(1)).alias("__gn")).collect()
        ]
        skew_buckets = resolve_auto_salt(sizes)

    n = F.count(F.lit(1)).over(Window.partitionBy(*gcols))
    order = [F.col(score_col).desc(), *[F.col(t) for t in tiebreak]]
    if not skew_buckets or skew_buckets <= 1:
        rn = F.row_number().over(Window.partitionBy(*gcols).orderBy(*order))
        return df.withColumn(out, (rn <= F.ceil(n * F.lit(rate))).cast("int"))

    bucketed = _score_buckets(df, gcols, score_col, int(skew_buckets))
    return (
        bucketed_rank(bucketed, gcols, ["__b"], order)
        .withColumn(out, (F.col("__rn") <= F.ceil(n * F.lit(rate))).cast("int"))
        .drop("__b", "__rn")
    )


def multiclass_quota_adjust(
    df: DataFrame,
    group_cols: Sequence[str],
    pred_col: str,
    order_cols: Sequence[str],
    out: str = "prediction_adj",
    skew_buckets: int | str | None = "auto",
) -> DataFrame:
    """Multiclass post-processing balancer — the engine's twin of the
    reference's ``blackbox`` adjuster (utils.py:362-369: the external
    `balancers` MulticlassBalancer over a combined sensitive column).
    That package solves an LP for a *randomized* per-(group, class)
    reassignment; the engine-native re-expression is the deterministic
    per-class quota assignment with the same shape: every group's
    adjusted class distribution is forced to the pooled prediction
    distribution (statistical parity across all classes), assignments
    chosen by a deterministic within-group order instead of
    randomization so the operator is reproducible and SQL-oracle-able.

    Mechanics: pooled census of ``pred_col`` → cumulative class counts
    cum_c; per group of size n_g the class-c rank boundary is
    ``b_{g,c} = (cum_c · n_g) div N`` — *integer* arithmetic, so the
    boundaries are exact, monotone, engine-portable, and b_last = n_g.
    Rows rank within their group by ``order_cols`` (must be a total
    order; include original ``pred_col`` first to keep assignments
    maximally aligned with the classifier's own classes) and take the
    smallest class whose boundary covers their rank.

    Plan: one pooled aggregate + one group census (both tiny) build a
    per-group boundary ARRAY, broadcast and resolved by a map-side
    array scan — no per-row join fan-out (a rank≤boundary non-equi
    join would multiply rows by matching classes before re-collapsing;
    the array filter does the same selection inside codegen). The only
    big-data op is the per-group ranking window — one shuffle. The
    bounds join NULL-safely, so a NULL group keeps its rows. The
    output keeps the input's columns in order, plus ``out``.

    Skew: groups here are demographic slices (few, huge), so the
    naive per-group window serializes a whole demographic into one
    task. ``skew_buckets="auto"`` (default, same census-driven trigger
    as ``equalize_positive_rates``) decomposes the rank when the
    biggest group exceeds ``balancer.AUTO_SALT_GROUP_ROWS`` AND
    ``order_cols`` is the canonical ``[pred_col, numeric_key]`` shape:
    each (group, class) slice splits into key-range buckets and
    ``compat.bucketed_rank`` ranks within (group; class, bucket) — the
    count of rows in earlier (class, bucket) cells of the group plus
    the local rank is the global rank, so the output is bit-identical
    to the plain window, NULL groups and classes included, but no
    task ever owns more than ~one bucket of one class of one group.
    Other ``order_cols`` shapes keep the plain window.
    """
    gcols = list(group_cols)
    ocols = list(order_cols)
    # pooled class census is config-scale (#classes rows): collect it,
    # fold to cumulative counts driver-side
    census = sorted(
        (r[0], r[1])
        for r in df.groupBy(pred_col).agg(F.count(F.lit(1)).alias("n")).collect()
    )
    classes, cums, acc = [], [], 0
    for cls, n in census:
        acc += n
        classes.append(cls)
        cums.append(acc)
    n_total = acc
    # group census collected ONCE: it feeds both the broadcast bounds
    # table and the auto-salt decision below — the previous second
    # groupBy cost an extra full scan+shuffle of the big table
    # (ADVICE r3). The operator's contract REQUIRES broadcast-scale
    # group cardinality (the bounds ride into the plan as a broadcast
    # of per-group boundary arrays), so the driver materialization is
    # inherent — but bound it: take(cap+1) transfers at most cap+1
    # rows and a too-wide group key fails fast with a clear error
    # instead of an OOM.
    _MAX_GROUPS = 1_000_000
    size_rows = (
        df.groupBy(*gcols).agg(F.count(F.lit(1)).alias("__gn")).take(_MAX_GROUPS + 1)
    )
    if len(size_rows) > _MAX_GROUPS:
        raise ValueError(
            f"multiclass_quota_adjust: more than {_MAX_GROUPS} groups on "
            f"{gcols}; the per-group boundary broadcast requires "
            "broadcast-scale group cardinality — coarsen the group key"
        )
    sizes = df.sparkSession.createDataFrame(
        size_rows,
        StructType(
            [df.schema[c] for c in gcols]
            + [StructField("__gn", LongType(), False)]
        ),
    )
    # per-(group, class) boundary array: (cum_c · n_g) div N — exact
    # BIGINT arithmetic, monotone, and b_last = n_g by construction
    bounds = sizes.withColumn(
        "__bounds",
        F.array(
            *[
                F.struct(
                    F.lit(cls).alias("cls"),
                    F.expr(f"({cum}L * __gn) div {n_total}L").alias("b"),
                )
                for cls, cum in zip(classes, cums)
            ]
        ),
    ).drop("__gn")
    can_decompose = (
        len(ocols) == 2
        and ocols[0] == pred_col
        and isinstance(df.schema[ocols[1]].dataType, NumericType)
    )
    if skew_buckets == "auto":
        group_rows = [r["__gn"] for r in size_rows]
        skew_buckets = resolve_auto_salt(group_rows) if can_decompose else None

    if not skew_buckets or skew_buckets <= 1:
        w = Window.partitionBy(*gcols).orderBy(*[F.col(c) for c in ocols])
        ranked = df.withColumn("__rn", F.row_number().over(w))
    else:
        # exact rank over the (class, key-bucket) cells of each group
        bucketed = _score_buckets(
            df, [*gcols, pred_col], ocols[1], int(skew_buckets), ascending=True
        )
        ranked = bucketed_rank(
            bucketed, gcols, [pred_col, "__b"], [F.col(ocols[1]).asc()]
        ).drop("__b")
    rn = F.col("__rn")
    pick = F.element_at(
        F.filter(F.col("__bounds"), lambda x: rn <= x["b"]), 1
    )["cls"]
    return (
        null_safe_broadcast_join(ranked, bounds, gcols, carry=["__bounds"])
        .withColumn(out, pick)
        .drop("__rn", "__bounds")
    )


def _score_buckets(
    df: DataFrame,
    group_cols: list[str],
    score_col: str,
    buckets: int,
    ascending: bool = False,
) -> DataFrame:
    """Add ``__b``: each row's score-range bucket within its group,
    from the group's own approximate score quantiles. Unlike the
    balancer's random salt (valid only for a random order), these
    buckets are ALIGNED with the sort order, so ``bucketed_rank``
    over them reproduces the per-group rank exactly. The quantile
    cuts only balance the buckets — any cuts give the exact result,
    because equal scores always share a bucket (strict comparison)
    and bucket index is monotone in the sort order."""
    fracs = [i / buckets for i in range(1, buckets)]
    cuts = df.groupBy(*group_cols).agg(
        F.percentile_approx(score_col, fracs, 10_000).alias("__cuts")
    )
    s = F.col(score_col)
    if ascending:
        # bucket index = cuts strictly below the score; NULLs sort
        # FIRST under ASC → dedicated leading bucket
        bucket = (
            F.when(s.isNull() | F.col("__cuts").isNull(), F.lit(-1))
            .otherwise(F.size(F.filter("__cuts", lambda c: c < s)))
        )
    else:
        # bucket 0 = highest scores (count of cuts strictly above the
        # score), monotone non-increasing in score; NULL scores — which
        # sort last under DESC — get the dedicated final bucket
        bucket = (
            F.when(s.isNull() | F.col("__cuts").isNull(), F.lit(buckets))
            .otherwise(F.size(F.filter("__cuts", lambda c: c > s)))
        )
    return (
        null_safe_broadcast_join(df, cuts, group_cols, carry=["__cuts"])
        .withColumn("__b", bucket)
        .drop("__cuts")
    )
