"""Fairness metric suite — SURVEY.md §2.4 M1–M5, A8–A12.

Reproduces the *as-implemented* semantics of the reference
(`replication_package/src/utils.py:15-121`), including its quirks:

- The prediction table's label column holds PREDICTIONS; ground truth
  travels in a separate ``y_true`` column (utils.py:249-251). Here the
  caller passes predicates: ``unpriv`` (group condition), ``pred_pos``
  (prediction = positive), ``true_pos`` (truth = positive).
- "Equalized odds" (utils.py:33-62) uses precision-style ratios — the
  TPR denominator is predicted-positive, not actual-positive — and
  guards every zero denominator to 0. Reproduced exactly.
- ``average_odds_difference`` (utils.py:98-113) returns a per-class
  vector with the as-written operator precedence
  ``(fpr_u - fpr_p) + (tpr_u - tpr_p)/2`` (no outer parens).
- ``disparate_impact`` (utils.py:15-20): ``min(u/p, p/u)`` unless
  ``u == 0`` (then ``u/p``); the reference leaves ``p == 0`` unguarded
  (ZeroDivisionError) — we define it as 0.0 and document.

Execution shape: every metric is ONE fused aggregate pass over the
predictions table (conditional-count fusion, utils.py re-scans 4-10×
per metric). ``fairness_suite`` fuses all scalar metrics + accuracy
into a single job. The two-group metrics (M1–M3 and both suites)
read one conditional-count list (``_counts``: exact counts, or
weighted masses for ``weighted_fairness_suite``), and the M2 and M3
expressions are each written once. All pure Spark SQL expressions —
no UDFs — so each metric also renders to ANSI SQL for the DuckDB
oracle.

All ratios here divide exact integer counts, so results are
bit-identical across engines (IEEE-754 correctly-rounded division).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window


def group_condition(unpriv_group) -> Column:
    """The reference's unprivileged-group dict → conjunctive predicate
    (utils.py:24 renders ``{'sex': 0, 'race': 0}`` to the pandas query
    string ``'sex==0 & race==0'``; here it compiles to the Column
    conjunction). Pairs with ``sources.recipes.FAIRNESS[...]['unpriv']``
    so a loader config drives the metric suite directly:

        cond = group_condition(FAIRNESS['cmc']['unpriv'][2])
        fairness_suite(preds, cond, ...)
    """
    cond = None
    for k, v in unpriv_group.items():
        c = F.col(k) == F.lit(v)
        cond = c if cond is None else (cond & c)
    if cond is None:
        raise ValueError("unpriv_group must contain at least one column")
    return cond


def _cnt(pred: Column) -> Column:
    """COUNT(*) FILTER (WHERE pred) as a double (ratio-ready)."""
    return F.sum(F.when(pred, F.lit(1)).otherwise(F.lit(0))).cast("double")


def _guard(num: Column, den: Column) -> Column:
    """num/den with the reference's 0-denominator→0 guard (utils.py:37-58)."""
    return F.when(den == 0, F.lit(0.0)).otherwise(num / den)


def _counts(
    unpriv: Column,
    pred_pos: Column,
    true_pos: Column,
    cnt: Callable[[Column], Column] = _cnt,
) -> list[Column]:
    """The conditional counts M1–M3 read, one aliased column each:
    u/p (group size), up/pp (predicted positive), u_pp_tp/p_pp_tp
    (predicted and true positive), u_pn/p_pn (predicted negative),
    u_pp_tn/p_pp_tn (predicted positive, true negative), where u is
    the unprivileged group and p the rest. ``cnt`` turns a predicate
    into a count: ``_cnt``, or a weighted mass. Counts a caller never
    selects are pruned from the aggregate by the optimizer."""
    g, ng = unpriv, ~unpriv
    return [
        cnt(g & pred_pos).alias("up"),
        cnt(g).alias("u"),
        cnt(ng & pred_pos).alias("pp"),
        cnt(ng).alias("p"),
        cnt(g & pred_pos & true_pos).alias("u_pp_tp"),
        cnt(ng & pred_pos & true_pos).alias("p_pp_tp"),
        cnt(g & ~pred_pos).alias("u_pn"),
        cnt(g & pred_pos & ~true_pos).alias("u_pp_tn"),
        cnt(ng & ~pred_pos).alias("p_pn"),
        cnt(ng & pred_pos & ~true_pos).alias("p_pp_tn"),
    ]


def _rates() -> tuple[Column, Column]:
    """(u_rate, p_rate): each group's predicted-positive rate over ``_counts``."""
    return F.col("up") / F.col("u"), F.col("pp") / F.col("p")


def _disp_imp(u_rate: Column, p_rate: Column) -> Column:
    """M2 (utils.py:15-20): min(u/p, p/u); u==0 → u/p; p==0 defined as 0.0."""
    return (
        F.when(p_rate == 0, F.lit(0.0))
        .when(u_rate == 0, u_rate / p_rate)
        .otherwise(F.least(u_rate / p_rate, p_rate / u_rate))
    )


def _eq_odds(tpr_u: Column, tpr_p: Column, fpr_u: Column, fpr_p: Column) -> Column:
    """M3 (utils.py:33-62): max(|tpr_u − tpr_p|, |fpr_u − fpr_p|)."""
    return F.greatest(F.abs(tpr_u - tpr_p), F.abs(fpr_u - fpr_p))


def _counted_eq_odds() -> Column:
    """M3 over ``_counts``, in the as-implemented precision-style form:
    the TPR denominator is |g ∧ ŷ=pos| (the ``up``/``pp`` count)."""
    return _eq_odds(
        _guard(F.col("u_pp_tp"), F.col("up")),
        _guard(F.col("p_pp_tp"), F.col("pp")),
        _guard(F.col("u_pp_tn"), F.col("u_pn")),
        _guard(F.col("p_pp_tn"), F.col("p_pn")),
    )


def statistical_parity(
    df: DataFrame, unpriv: Column, pred_pos: Column, alias: str = "stat_par"
) -> DataFrame:
    """M1 (utils.py:23-30): P(ŷ=pos|unpriv) − P(ŷ=pos|priv), priv = ¬unpriv.

    Single-row DataFrame; one aggregate pass (4 fused conditional counts).
    """
    agg = df.agg(*_counts(unpriv, pred_pos, F.lit(True)))
    u_rate, p_rate = _rates()
    return agg.select((u_rate - p_rate).alias(alias))


def disparate_impact(
    df: DataFrame, unpriv: Column, pred_pos: Column, alias: str = "disp_imp"
) -> DataFrame:
    """M2 (utils.py:15-20): min(u/p, p/u); u==0 → u/p; p==0 defined as 0.0."""
    agg = df.agg(*_counts(unpriv, pred_pos, F.lit(True)))
    return agg.select(_disp_imp(*_rates()).alias(alias))


def equalized_odds(
    df: DataFrame,
    unpriv: Column,
    pred_pos: Column,
    true_pos: Column,
    alias: str = "eq_odds",
) -> DataFrame:
    """M3 (utils.py:33-62), as-implemented precision-style form.

    tpr_g  = |g ∧ ŷ=pos ∧ y=pos| / |g ∧ ŷ=pos|        (0 if denom 0)
    fpr_g  = |g ∧ ŷ=pos ∧ y≠pos| / |g ∧ ŷ≠pos|        (0 if denom 0)
    result = max(|tpr_u − tpr_p|, |fpr_u − fpr_p|)
    """
    agg = df.agg(*_counts(unpriv, pred_pos, true_pos))
    return agg.select(_counted_eq_odds().alias(alias))


def accuracy(
    df: DataFrame, y_true: str, y_pred: str, alias: str = "acc"
) -> DataFrame:
    """A11 (utils.py:260 accuracy_score): mean(y_true == y_pred)."""
    match = F.when(F.col(y_true) == F.col(y_pred), F.lit(1)).otherwise(F.lit(0))
    return df.agg((F.sum(match) / F.count(F.lit(1))).alias(alias))


def zero_one_loss_diff(
    df: DataFrame,
    y_true: str,
    y_pred: str,
    sensitive: Sequence[str],
    alias: str = "zero_one_loss",
    group_by: Sequence[str] = (),
) -> DataFrame:
    """M5 (utils.py:116-121, fairlearn MetricFrame.difference()).

    Per-sensitive-group zero-one loss, then max between-group
    difference (max − min). Two-level aggregation; the second level
    runs over |groups| rows only. ``group_by`` columns (e.g. a CV
    fold) give one row per key, each equal to the ungrouped result on
    that key's rows.
    """
    miss = F.when(F.col(y_true) != F.col(y_pred), F.lit(1)).otherwise(F.lit(0))
    per_group = df.groupBy(*group_by, *sensitive).agg(
        (F.sum(miss) / F.count(F.lit(1))).alias("loss")
    )
    return per_group.groupBy(*group_by).agg(
        (F.max("loss") - F.min("loss")).alias(alias)
    )


def zero_one_loss_by_group(
    df: DataFrame, y_true: str, y_pred: str, sensitive: Sequence[str]
) -> DataFrame:
    """Per-group zero-one loss table (the MetricFrame.by_group view)."""
    miss = F.when(F.col(y_true) != F.col(y_pred), F.lit(1)).otherwise(F.lit(0))
    return df.groupBy(*sensitive).agg(
        (F.sum(miss) / F.count(F.lit(1))).alias("loss"),
        F.count(F.lit(1)).alias("n"),
    )


def confusion_matrix_long(df: DataFrame, y_true: str, y_pred: str) -> DataFrame:
    """A8 (utils.py:87): multiclass confusion matrix in long form
    (y_true, y_pred, cnt). One shuffle; pivot to wide driver-side if a
    matrix is wanted (|classes|² rows is tiny by construction).
    """
    return df.groupBy(y_true, y_pred).agg(F.count(F.lit(1)).alias("cnt"))


def confusion_matrix_normalized(df: DataFrame, y_true: str, y_pred: str) -> DataFrame:
    """A9 (confusionmatrix.py:63-64): row-normalized confusion matrix.

    Normalizer via a window over the tiny long-form matrix — the big
    table is scanned once.
    """
    from pyspark.sql import Window

    cm = confusion_matrix_long(df, y_true, y_pred)
    w = Window.partitionBy(y_true)
    return cm.select(
        y_true,
        y_pred,
        "cnt",
        (F.col("cnt") / F.sum("cnt").over(w)).alias("frac"),
    )


def average_odds_difference(
    df: DataFrame,
    unpriv: Column,
    y_true: str,
    y_pred: str,
    alias: str = "avg_odds_diff",
) -> DataFrame:
    """M4 (utils.py:98-113): per-class (fpr_u − fpr_p) + (tpr_u − tpr_p)/2.

    From each partition's confusion matrix (utils.py:87-95):
    TPR_c = TP_c / |y=c|,  FPR_c = (|ŷ=c| − TP_c) / (n_g − |y=c|).

    Plan: ONE scan → groupBy(is_unpriv, y_true, y_pred) count cube
    (tiny), then ONE re-aggregation: each cube row is exploded into
    its two per-class contributions — (cls=y_true: truth count + TP)
    and (cls=y_pred: prediction count) — so a single groupBy(g, cls)
    replaces the three separate re-aggregations and two full-outer
    joins a naive translation needs (each extra join on the tiny cube
    costs a whole scheduling round-trip, which dominates at
    interactive latency). n_g falls out as a window sum over the same
    result; the final unpriv-vs-priv alignment is one more tiny
    aggregate, not a join. Classes are the union of per-partition
    truth/prediction values; a class absent from one partition yields
    NULL there (the reference would crash on misaligned numpy vectors
    — documented deviation).
    Returns one row per class: (class, avg_odds_diff).
    """
    cube = (
        df.select(
            unpriv.cast("int").alias("g"),
            F.col(y_true).alias("yt"),
            F.col(y_pred).alias("yp"),
        )
        .groupBy("g", "yt", "yp")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    contrib = cube.select(
        "g",
        F.explode(
            F.array(
                F.struct(
                    F.col("yt").alias("cls"),
                    F.col("cnt").alias("ct"),
                    F.lit(0).alias("cp"),
                    F.when(F.col("yt") == F.col("yp"), F.col("cnt"))
                    .otherwise(F.lit(0))
                    .alias("tp"),
                ),
                F.struct(
                    F.col("yp").alias("cls"),
                    F.lit(0).alias("ct"),
                    F.col("cnt").alias("cp"),
                    F.lit(0).alias("tp"),
                ),
            )
        ).alias("c"),
    )
    per = (
        contrib.groupBy("g", F.col("c.cls").alias("cls"))
        .agg(
            F.sum("c.ct").alias("cnt_true"),
            F.sum("c.cp").alias("cnt_pred"),
            F.sum("c.tp").alias("tp"),
        )
        # sum of per-class truth counts within g IS the partition size
        .withColumn("n_g", F.sum("cnt_true").over(Window.partitionBy("g")))
    )
    # guarded division: a prediction-only class (cnt_true == 0) or a
    # single-truth-class partition (n_g == cnt_true) yields NULL, per
    # the docstring — unguarded division raises under ANSI mode
    tpr = F.when(F.col("cnt_true") > 0, F.col("tp") / F.col("cnt_true"))
    fpr = F.when(
        F.col("n_g") > F.col("cnt_true"),
        (F.col("cnt_pred") - F.col("tp")) / (F.col("n_g") - F.col("cnt_true")),
    )
    per = per.select("g", "cls", tpr.alias("tpr"), fpr.alias("fpr"))
    # ≤2 rows per class (g=0/1): align sides with a max(when) pivot —
    # a missing side stays NULL, matching full-outer-join semantics
    return per.groupBy("cls").agg(
        (
            (
                F.max(F.when(F.col("g") == 1, F.col("fpr")))
                - F.max(F.when(F.col("g") == 0, F.col("fpr")))
            )
            + (
                F.max(F.when(F.col("g") == 1, F.col("tpr")))
                - F.max(F.when(F.col("g") == 0, F.col("tpr")))
            )
            / 2
        ).alias(alias)
    )


def _suite(
    df: DataFrame,
    unpriv: Column,
    pred_pos: Column,
    true_pos: Column,
    y_true: str,
    y_pred: str,
    cnt: Callable[[Column], Column],
    n: Column,
    group_by: Sequence[str] = (),
) -> DataFrame:
    """(stat_par, disp_imp, eq_odds, acc) from ONE aggregate: the
    ``_counts`` under ``cnt``, the matches under ``cnt`` and the total
    ``n``, per ``group_by`` key."""
    agg = df.groupBy(*group_by).agg(
        *_counts(unpriv, pred_pos, true_pos, cnt),
        cnt(F.col(y_true) == F.col(y_pred)).alias("n_match"),
        n.alias("n"),
    )
    u_rate, p_rate = _rates()
    return agg.select(
        *group_by,
        (u_rate - p_rate).alias("stat_par"),
        _disp_imp(u_rate, p_rate).alias("disp_imp"),
        _counted_eq_odds().alias("eq_odds"),
        (F.col("n_match") / F.col("n")).alias("acc"),
    )


def fairness_suite(
    df: DataFrame,
    unpriv: Column,
    pred_pos: Column,
    true_pos: Column,
    y_true: str,
    y_pred: str,
    group_by: Sequence[str] = (),
) -> DataFrame:
    """M1+M2+M3+accuracy fused into ONE aggregate job (12 conditional
    counts — the reference re-scans the table ~20× for the same
    numbers, utils.py:252-260). Single-row DataFrame with columns
    (stat_par, disp_imp, eq_odds, acc); with ``group_by`` columns
    (e.g. a CV fold) one row per key, the key columns first, each
    equal to the ungrouped suite on that key's rows.
    """
    return _suite(
        df, unpriv, pred_pos, true_pos, y_true, y_pred,
        _cnt, F.count(F.lit(1)).cast("double"), group_by,
    )


def fairness_by_group(
    df: DataFrame,
    sensitive: Sequence[str],
    pred_pos: Column,
    true_pos: Column,
) -> DataFrame:
    """One-vs-rest fairness metrics for EVERY combination of the
    sensitive columns, in ONE scan of the base table.

    The reference evaluates a single privileged/unprivileged split per
    call (utils.py:23-58); in DEMV's headline setting — multiple
    sensitive variables (demv.py: the cross-product of sensitive
    values) — the per-combination view requires |G| such calls, i.e.
    |G| scans. Here: one groupBy census over the sensitive combos with
    the outcome predicates folded into conditional counts, then every
    group's one-vs-rest metric is window arithmetic over the census.
    The base table is scanned exactly once; the unpartitioned window
    runs over |G| rows (tiny by construction), so the single-partition
    WindowExec is deliberate, not a scale bug.

    Returns one row per sensitive combination with (n, stat_par,
    disp_imp, eq_odds) where "unprivileged" = this combo and
    "privileged" = everyone else, using the reference's exact guard
    quirks (0-denominator→0; disparate-impact 0-rate cases).
    """
    from pyspark.sql import Window

    # census counts stay LONG through the window sums (integer adds are
    # order-exact; double summation order would not be) — cast to
    # double only where a ratio is formed, so the oracle can reproduce
    # every float bit-for-bit
    census = df.groupBy(*[F.col(s) for s in sensitive]).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(pred_pos, F.lit(1)).otherwise(F.lit(0))).alias("n_pp"),
        F.sum(F.when(pred_pos & true_pos, F.lit(1)).otherwise(F.lit(0))).alias(
            "n_pp_tp"
        ),
    )
    w = Window.partitionBy()
    tot_n = F.sum("n").over(w)
    tot_pp = F.sum("n_pp").over(w)
    tot_pp_tp = F.sum("n_pp_tp").over(w)

    def d(c):
        return c.cast("double")

    u, up, u_pp_tp = d(F.col("n")), d(F.col("n_pp")), d(F.col("n_pp_tp"))
    p, pp, p_pp_tp = d(tot_n) - u, d(tot_pp) - up, d(tot_pp_tp) - u_pp_tp
    u_rate = _guard(up, u)
    p_rate = _guard(pp, p)
    # as-implemented M3 form: TPR denominator is the predicted-positive
    # count, FPR = (pp & ~tp) / pred-negative — all derivable from the
    # three census counts
    eq_odds = _eq_odds(
        _guard(u_pp_tp, up),
        _guard(p_pp_tp, pp),
        _guard(up - u_pp_tp, u - up),
        _guard(pp - p_pp_tp, p - pp),
    )
    return census.select(
        *sensitive,
        F.col("n").cast("long").alias("n"),
        (u_rate - p_rate).alias("stat_par"),
        _disp_imp(u_rate, p_rate).alias("disp_imp"),
        eq_odds.alias("eq_odds"),
    )


def weighted_fairness_suite(
    df: DataFrame,
    unpriv: Column,
    pred_pos: Column,
    true_pos: Column,
    y_true: str,
    y_pred: str,
    weight_col: str,
) -> DataFrame:
    """fairness_suite over INSTANCE WEIGHTS: every count becomes a
    weighted mass, so fairness can be evaluated under a reweighing
    (balancer.reweighing) — or any importance weighting — WITHOUT
    materializing a resampled table. Same single-job plan; weighted
    sums go through decimal-stable summation so the result stays
    hash-reproducible across engines.

    Sanity property: on reweighed data with pred = label, stat_par is
    0 (the weights make (sensitive, label) independent by
    construction).
    """
    from demv_spark.functions.compat import stable_sum

    w = F.col(weight_col)

    def wcnt(pred: Column) -> Column:
        return stable_sum(F.when(pred, w).otherwise(F.lit(0.0)))

    return _suite(
        df, unpriv, pred_pos, true_pos, y_true, y_pred, wcnt, stable_sum(w)
    )


def auc_exact(
    df: DataFrame,
    score_col: str,
    label_col: str,
    positive=1,
    group_cols: "Sequence[str]" = (),
) -> DataFrame:
    """Exact ROC AUC as integer-exact components — the threshold-free
    ranking metric the threshold suite (accuracy/TPR/FPR) lacks.

    Mann-Whitney formulation with tie-averaged ranks, computed from
    the per-distinct-score census so no per-row rank materializes:
    for a score group of size c with p positives and cum rows strictly
    below, every member's average rank is cum + (c+1)/2, so the
    positives contribute p·(2·cum + c + 1) to S2 = 2·Σ_pos rank —
    always an INTEGER. AUC = (S2/2 − P(P+1)/2) / (P·N) derives from
    the emitted (s2, n_pos, n_neg) with zero float ops inside the
    engine, making the result bit-reproducible on any engine.

    Scale shape: one aggregation by score, then the prefix count over
    the distinct-score census is RANGE-BUCKETED (the quantile
    machinery's trick) — a continuous score makes that census as big
    as the input, so a single global-ordered window would serialize
    it into one task; instead each of 1024 score ranges cumsums
    locally and a tiny per-bucket offset window (1024 rows) restores
    the exact global prefix. Returns one row (s2, n_pos, n_neg) — or
    one row per group when ``group_cols`` is set (AUC parity across
    sensitive groups: every rank statistic is computed within its own
    group, the per-group fairness twin of the threshold metrics).
    """
    gcols = list(group_cols)
    # input contract: rows with NULL score are excluded (a NULL has no
    # rank; Spark's NULLS-FIRST vs SQL's NULLS-LAST would otherwise
    # place it differently per engine). NULL labels count as
    # not-positive on both engines (SUM skips the NULL comparison).
    df = df.filter(F.col(score_col).isNotNull())
    s = F.col(score_col).cast("double")
    # NOTE: the min/max aggregate is one eager pass over df (bucket
    # boundaries must be literals at plan time); equal-width buckets
    # degrade toward a single range under extreme score outliers — if
    # scores span many decades, pre-transform (rank/log) before
    # calling, or the per-bucket windows skew.
    lo, hi = df.agg(F.min(s), F.max(s)).collect()[0]
    g = df.groupBy(*gcols, s.alias("__s")).agg(
        F.count(F.lit(1)).alias("__c"),
        F.sum((F.col(label_col) == F.lit(positive)).cast("long")).alias("__p"),
    )
    joined = _bucketed_prefix(g, gcols, ["__c"], lo, hi, inclusive=False)
    cum = F.col("__c_pre")
    contrib = F.col("__p") * (F.lit(2) * cum + F.col("__c") + F.lit(1))
    joined = joined.withColumn("__contrib", contrib)
    aggs = [
        F.sum("__contrib").alias("s2"),
        F.sum("__p").alias("n_pos"),
        (F.sum("__c") - F.sum("__p")).alias("n_neg"),
    ]
    return joined.groupBy(*gcols).agg(*aggs) if gcols else joined.agg(*aggs)


def _bucketed_prefix(
    g: DataFrame,
    gcols: "Sequence[str]",
    cum_cols: "Sequence[str]",
    lo,
    hi,
    inclusive: bool,
    n_buckets: int = 1024,
) -> DataFrame:
    """Shared range-bucketed prefix scaffold behind auc_exact and
    ks_statistic: per-row global running sums of ``cum_cols`` over
    the distinct-score census ``g`` (ordered by ``__s``, partitioned
    by ``gcols``) WITHOUT a global single-task sort — each of
    ``n_buckets`` equal-width score ranges cumsums locally, and a
    tiny per-bucket offset window (n_buckets rows per group) restores
    the exact global prefix. ``inclusive`` picks whether the running
    sum includes the current row (KS CDFs) or stops before it (AUC
    rank bases). Adds ``<col>_pre`` per cum col. Offsets join back
    through the NULL-safe group idiom (compat) so NULL-valued
    sensitive groups keep their rows."""
    from demv_spark.functions.compat import null_safe_broadcast_join

    gcols = list(gcols)
    if lo is None or hi is None or hi == lo:
        bucket = F.lit(0)
    else:
        span = float(hi) - float(lo)
        bucket = F.least(
            F.floor((F.col("__s") - F.lit(float(lo))) / F.lit(span) * n_buckets),
            F.lit(n_buckets - 1),
        ).cast("int")
    g = g.withColumn("__bk", bucket)
    end = 0 if inclusive else -1
    w_local = (
        Window.partitionBy(*gcols, "__bk")
        .orderBy("__s")
        .rowsBetween(Window.unboundedPreceding, end)
    )
    totals = g.groupBy(*gcols, "__bk").agg(
        *[F.sum(c).alias(f"__bt{c}") for c in cum_cols]
    )
    w_off = (
        Window.partitionBy(*gcols) if gcols else Window.partitionBy()
    ).orderBy("__bk").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals
    for c in cum_cols:
        offsets = offsets.withColumn(
            f"__off{c}", F.coalesce(F.sum(f"__bt{c}").over(w_off), F.lit(0))
        )
    offsets = offsets.drop(*[f"__bt{c}" for c in cum_cols])
    j = null_safe_broadcast_join(
        g, offsets, keys=gcols, eq_cols=["__bk"],
        carry=[f"__off{c}" for c in cum_cols],
    )
    for c in cum_cols:
        local = F.coalesce(F.sum(c).over(w_local), F.lit(0))
        j = j.withColumn(f"{c}_pre", local + F.col(f"__off{c}"))
    return j.drop(*[f"__off{c}" for c in cum_cols])


def ks_statistic(
    df: DataFrame,
    score_col: str,
    label_col: str,
    positive=1,
) -> DataFrame:
    """Exact Kolmogorov–Smirnov separation between the positive- and
    negative-class score distributions — AUC's companion for score
    quality (max CDF gap instead of rank probability), in the same
    integer-exact components: at every distinct score t (thresholds
    between scores add nothing — the CDF gap only moves AT scores),
    the cross-multiplied gap |cum_pos·n_neg − cum_neg·n_pos| is an
    INTEGER; D = max gap / (n_pos·n_neg). Emits one row
    (d_num, n_pos, n_neg, ks_fx) with ks_fx = (10⁶·d_num) div
    (n_pos·n_neg) — d_num fits a signed 64-bit while each class is
    under ~3·10⁹ rows (the cross product is computed in
    DECIMAL(38,0); only the emission casts down).

    Scale shape: same as auc_exact — one aggregation by distinct
    score, then an INCLUSIVE range-bucketed prefix over the score
    census (1024 local cumsums + a 1024-row offset window), never a
    global single-task sort. NULL scores are excluded (no rank);
    NULL labels count as not-positive."""
    df = df.filter(F.col(score_col).isNotNull())
    s = F.col(score_col).cast("double")
    lo, hi = df.agg(F.min(s), F.max(s)).collect()[0]
    g = df.groupBy(s.alias("__s")).agg(
        F.count(F.lit(1)).alias("__c"),
        # coalesce BEFORE the sum: NULL == positive is NULL, and a
        # NULL group-sum would poison the cumulative at that score
        # (unlike auc_exact, where the skipped NULL contribution is
        # absorbed by the total)
        F.sum(
            F.coalesce(
                (F.col(label_col) == F.lit(positive)).cast("long"), F.lit(0)
            )
        ).alias("__p"),
    )
    tot = g.agg(F.sum("__c").alias("__tc"), F.sum("__p").alias("__tp"))
    j = _bucketed_prefix(
        g, [], ["__c", "__p"], lo, hi, inclusive=True
    ).crossJoin(F.broadcast(tot))
    cp = F.col("__p_pre").cast("decimal(38,0)")
    cn = F.col("__c_pre").cast("decimal(38,0)") - cp
    npos = F.col("__tp").cast("decimal(38,0)")
    nneg = (F.col("__tc") - F.col("__tp")).cast("decimal(38,0)")
    gap = F.abs(cp * nneg - cn * npos)
    stats = j.select(
        gap.alias("__gap"), F.col("__tp"), (F.col("__tc") - F.col("__tp")).alias("__tn")
    ).agg(
        F.max("__gap").alias("__d"),
        F.max("__tp").alias("n_pos"),   # constant columns
        F.max("__tn").alias("n_neg"),
    )
    return stats.select(
        F.col("__d").cast("long").alias("d_num"),
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("n_neg").cast("long").alias("n_neg"),
        F.expr(
            "CAST(CAST(1000000 AS DECIMAL(38,0)) * __d AS DECIMAL(38,0)) "
            "div (CAST(n_pos AS DECIMAL(38,0)) * CAST(n_neg AS DECIMAL(38,0)))"
        ).alias("ks_fx"),
    )


def cohens_kappa(
    df: DataFrame, col_a: str, col_b: str
) -> DataFrame:
    """Cohen's kappa between two categorical label columns (rater
    agreement / label-quality audit), as EXACT INTEGER components:
    with N total rows, agree = Σ_k n_kk, and chance = Σ_k row_k·col_k
    (marginal products), kappa = (N·agree − chance)/(N² − chance) —
    emit (kappa_num, kappa_den, n, agree) and let the caller divide,
    so the (possibly negative) ratio never meets an engine-specific
    integer-division convention. Emission bound: kappa_den ≤ N² must
    fit a signed 64-bit, i.e. N under ~3.04·10⁹ rows (the same bound
    ks_statistic documents; the internal algebra is DECIMAL(38,0) —
    only the final cast narrows). NULL labels form a real category
    (null-safe equality for the agreement diagonal). One confusion
    census shuffle; the marginals reduce driver-free via two tiny
    re-aggregations of the |A|·|B|-row census."""
    cm = df.groupBy(
        F.col(col_a).alias("__a"), F.col(col_b).alias("__b")
    ).agg(F.count(F.lit(1)).alias("__n"))
    rows = cm.groupBy("__a").agg(F.sum("__n").alias("__ra"))
    cols = cm.groupBy("__b").agg(F.sum("__n").alias("__cb"))
    chance = (
        rows.join(cols, F.col("__a").eqNullSafe(F.col("__b")), "inner")
        .agg(
            F.coalesce(
                F.sum(
                    F.col("__ra").cast("decimal(38,0)")
                    * F.col("__cb").cast("decimal(38,0)")
                ),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("__chance")
        )
    )
    base = cm.agg(
        F.sum("__n").alias("__N"),
        F.coalesce(
            F.sum(F.when(F.col("__a").eqNullSafe(F.col("__b")), F.col("__n"))),
            F.lit(0),
        ).alias("__agree"),
    )
    j = base.crossJoin(F.broadcast(chance))
    nn = F.col("__N").cast("decimal(38,0)")
    return j.select(
        (nn * F.col("__agree").cast("decimal(38,0)") - F.col("__chance"))
        .cast("long").alias("kappa_num"),
        (nn * nn - F.col("__chance")).cast("long").alias("kappa_den"),
        F.col("__N").cast("long").alias("n"),
        F.col("__agree").cast("long").alias("agree"),
    )


def calibration_census(
    df: DataFrame,
    prob_col: str,
    label_col: str,
    n_bins: int = 10,
    positive=1,
    group_cols: "Sequence[str]" = (),
) -> DataFrame:
    """Reliability-diagram census: bucket predicted probabilities into
    ``n_bins`` equal-width bins and emit per-bin exact counts — the
    inputs of ECE/calibration curves without any float aggregate.

    bin = least(floor(p·n_bins), n_bins−1); emits (bin, n, n_pos,
    sum_p_scaled) where sum_p_scaled = Σ round(p·10⁶) is an exact
    BIGINT (single IEEE multiply + half-up floor per row, engine
    identical). mean predicted prob and empirical rate derive
    downstream. One narrow shuffle on the bin key. ``group_cols``
    yields the per-sensitive-group view (calibration parity).
    """
    gcols = list(group_cols)
    # NULL probabilities are excluded: least(floor(NULL*k), k-1) would
    # silently land them in the TOP bin (Spark least skips NULLs)
    # while their p6 dropped out of the sum — a deflated top-bin mean
    df = df.filter(F.col(prob_col).isNotNull())
    p = F.col(prob_col).cast("double")
    # out-of-contract probabilities clamp SYMMETRICALLY into the edge
    # bins (p<0 → bin 0, p>1 → bin n-1): without the greatest(), a
    # negative p lands in phantom bins (-1, -2, ...) that appear as
    # extra census rows while p>1 folds into the top bin — an
    # asymmetry that made malformed inputs look like valid bins
    b = F.greatest(
        F.lit(0),
        F.least(F.floor(p * F.lit(float(n_bins))).cast("int"), F.lit(n_bins - 1)),
    )
    p6 = F.floor(p * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    return (
        df.select(
            *gcols,
            b.alias("bin"),
            (F.col(label_col) == F.lit(positive)).cast("long").alias("__pos"),
            p6.alias("__p6"),
        )
        .groupBy(*gcols, "bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("__pos").alias("n_pos"),
            F.sum("__p6").alias("sum_p6"),
        )
    )
