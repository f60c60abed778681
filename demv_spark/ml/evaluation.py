"""Evaluation harness — SURVEY.md §2.6 (E1–E7, E10–E11).

The reference evaluates debiasing with sklearn KFold(10, shuffle,
seed=2) + classifier train/predict per fold, collecting fairness
metrics per fold (utils.py:136-158, 242-261). Here:

- fold assignment is a COLUMN (seeded ntile over a random order —
  fold sizes match sklearn KFold exactly: the first n%k folds get the
  extra row), so per-fold train/test splits are plain filters that
  Catalyst prunes;
- classifiers are MLlib estimators (distributed fit/predict) behind
  the same four names the reference uses (generatemetrics.py:172-184);
- ``_fold_splits`` is the one fold loop: the fold-assigned table is
  cached for the call, each fold's debiased training split is
  materialised once through ``_owned_checkpoint`` (eager
  localCheckpoint) so the scaler summary and the classifier's passes
  do not re-run the debias, and all of it is released when the loop
  exits;
- ``cross_val`` fits a fit→predict hook per split (the MLlib pipeline
  by default, the EG/GridSearch reductions from cli) and scores all k
  folds in ONE grouped pass per metric call (fairness_suite /
  zero_one_loss_diff grouped by fold); the per-fold table it returns
  is an Arrow local relation (``session.local_table``), so reading it
  runs no Python-worker task;
- ``out_of_fold_predictions`` runs the same loop and returns its
  union materialised (eager localCheckpoint), so the result reads no
  fold cache once the call returns;
- the final report is mean ± std over the tiny per-fold table in one
  aggregate (A5/E10), with explode for list-valued cells (E11).

sklearn↔MLlib gaps (documented, SURVEY §7): GBTClassifier is
binary-only → multiclass falls back to RandomForest; LinearSVC gets
OneVsRest for multiclass; MLP needs explicit layer sizes. Metric
parity with the reference is tolerance-based, never bitwise.

The fairlearn reductions (E8), ExponentiatedGradient and GridSearch
over a bounded-group-loss constraint, are implemented Spark-natively
in ml/eg.py: weightCol best responses to a per-group λ, updated
multiplicatively (EG) or swept over a fixed grid (GridSearch).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence
from contextlib import contextmanager
from functools import reduce

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from demv_spark.functions import metrics as M
from demv_spark.session import local_table


def assign_folds(
    df: DataFrame,
    k: int = 10,
    seed: int = 2,
    fold_col: str = "fold",
    exact: bool = False,
    portable_key: Sequence[str] | None = None,
) -> DataFrame:
    """Seeded fold-assignment column (E4, utils.py:137,145-148).

    exact=False (the default): pmod(hash, k) — shuffle-free, scales
    to any size, fold sizes only approximately equal. The
    reference-parity regimes below are opt-in.

    exact=True: ntile(k) over rand(seed) — fold sizes identical to
    sklearn KFold (first n % k folds take the extra row). GLOBAL
    SORT: the whole table serializes through one ranking task —
    right only for datasets that fit a sort (the reference's regime).

    portable_key=[cols]: like exact=False but md5-based (compat.
    portable_hash) over the given key columns — shuffle-free AND
    reproducible in any SQL engine, so fold membership itself can be
    oracle-checked. SQL twin per row:
    ``CAST(concat('0x', substr(md5(concat_ws('|', key..., 'seed')),
    1, 15)) AS BIGINT) % k``."""
    if portable_key is not None:
        from demv_spark.functions.compat import portable_hash

        h = portable_hash(
            F.concat_ws("|", *[F.col(c) for c in portable_key], F.lit(str(seed)))
        )
        return df.withColumn(fold_col, F.pmod(h, F.lit(k)).cast("int"))
    if exact:
        w = Window.orderBy(F.rand(seed))
        return df.withColumn(fold_col, F.ntile(k).over(w) - 1)
    return df.withColumn(
        fold_col, F.pmod(F.xxhash64(F.struct(*df.columns), F.lit(seed)), k).cast("int")
    )


def assign_folds_stratified(
    df: DataFrame,
    label_col: str,
    k: int = 10,
    seed: int = 2,
    fold_col: str = "fold",
    key_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Stratified seeded fold assignment — sklearn StratifiedKFold's
    guarantee (every fold carries each label's share ±1 row) in
    shuffle-bounded form: within each label stratum, rows rank by the
    portable md5 hash of ``key_cols`` (default: all columns) and take
    ``fold = (rank − 1) mod k`` — round-robin, so per-(label, fold)
    counts differ by at most one, and membership is a pure function
    of the data (oracle-checkable, partitioning-independent).

    Scale shape: ONE window shuffle keyed on the label stratum. A
    huge stratum ranks in one task — same hazard and remedy as
    ``assign_folds(exact=True)``; prefer it only when class balance
    across folds matters (imbalanced labels, the usual reason), else
    the default hash folds are shuffle-free."""
    from demv_spark.functions.compat import portable_hash

    cols = list(key_cols) if key_cols is not None else list(df.columns)
    h = portable_hash(
        F.concat_ws(
            "|", F.lit(f"sfold{seed}"),
            *[F.col(c).cast("string") for c in cols],
        )
    )
    w = Window.partitionBy(label_col).orderBy(h.asc(), *[F.col(c) for c in cols])
    return df.withColumn(
        fold_col, ((F.row_number().over(w) - 1) % k).cast("int")
    )


def build_classifier(name: str, label_col: str, features_col: str, n_classes: int, seed: int = 2):
    """E3 — classifier factory matching generatemetrics.py:172-184:
    logistic | gradient | svc | mlp (+ input layer sizes for mlp)."""
    from pyspark.ml.classification import (
        GBTClassifier,
        LinearSVC,
        LogisticRegression,
        OneVsRest,
        RandomForestClassifier,
    )

    if name == "logistic":
        return LogisticRegression(labelCol=label_col, featuresCol=features_col)
    if name == "gradient":
        if n_classes <= 2:
            return GBTClassifier(labelCol=label_col, featuresCol=features_col, seed=seed)
        # GBT is binary-only in MLlib → documented RF fallback
        return RandomForestClassifier(labelCol=label_col, featuresCol=features_col, seed=seed)
    if name == "svc":
        svc = LinearSVC(labelCol=label_col, featuresCol=features_col)
        if n_classes <= 2:
            return svc
        return OneVsRest(classifier=svc, labelCol=label_col, featuresCol=features_col)
    if name == "mlp":
        raise ValueError("mlp needs explicit layers; use build_mlp(...)")
    raise ValueError(f"unknown classifier: {name}")


def build_mlp(label_col: str, features_col: str, layers: Sequence[int], seed: int = 2):
    from pyspark.ml.classification import MultilayerPerceptronClassifier

    return MultilayerPerceptronClassifier(
        labelCol=label_col, featuresCol=features_col, layers=list(layers), seed=seed
    )


def _pipeline(feature_cols: Sequence[str], label_col: str, classifier):
    """E1+E2 — VectorAssembler → StandardScaler → classifier
    (reference: make_pipeline(StandardScaler(), model),
    generatemetrics.py:196)."""
    from pyspark.ml import Pipeline
    from pyspark.ml.feature import StandardScaler, VectorAssembler

    assembler = VectorAssembler(inputCols=list(feature_cols), outputCol="__raw_features")
    scaler = StandardScaler(
        inputCol="__raw_features", outputCol="__features", withMean=True, withStd=True
    )
    clf = classifier.copy() if hasattr(classifier, "copy") else classifier
    clf = clf.setParams(featuresCol="__features") if hasattr(clf, "setParams") else clf
    return Pipeline(stages=[assembler, scaler, clf])


def _owned_checkpoint(df: DataFrame) -> tuple[DataFrame, Callable[[], None]]:
    """Eager localCheckpoint of ``df`` plus a callable that frees its
    blocks. The checkpoint is a new RDD only this call holds: no
    CacheManager entry (``cache`` on a table the caller already cached
    is a no-op, and the matching unpersist would evict the caller's
    entry), and the release touches no other RDD. Release only once
    nothing lazy still reads the checkpoint."""
    cp = df.localCheckpoint(eager=True)
    rdd = cp._jdf.queryExecution().logical().rdd()
    return cp, lambda: rdd.unpersist(False)


@contextmanager
def _fold_splits(
    df: DataFrame,
    k: int,
    seed: int,
    fold_col: str = "fold",
    debias: Callable[[DataFrame], DataFrame] | None = None,
) -> Iterator[Iterator[tuple[DataFrame, DataFrame]]]:
    """The k-fold loop: yields the (train, test) split of each hash
    fold of ``df``, fold 0 first. The fold table is cached for the loop; with
    ``debias``, each training split is debiased and materialised once
    through ``_owned_checkpoint``. On exit the fold cache and every
    split are released, so nothing lazy may still read them."""
    folded = assign_folds(df, k, seed, fold_col).cache()
    releases = []

    def splits():
        for fold in range(k):
            train = folded.filter(F.col(fold_col) != fold)
            if debias is not None:
                train, release = _owned_checkpoint(debias(train))
                releases.append(release)
            yield train, folded.filter(F.col(fold_col) == fold)

    try:
        yield splits()
    finally:
        folded.unpersist()
        for release in releases:
            release()


def out_of_fold_predictions(
    df: DataFrame,
    feature_cols: Sequence[str],
    label_col: str,
    classifier,
    k: int = 10,
    seed: int = 2,
    fold_col: str = "fold",
    debias: Callable[[DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """E7 (confusionmatrix.py:147-205): per fold, fit on the other
    k−1 folds (optionally debiased first), predict the held-out fold;
    union of the k test-fold predictions covers every row exactly
    once. No row-id writeback join is needed — predictions stay
    attached to their rows through transform (the reference's
    positional writeback at confusionmatrix.py:203 is a pandas-ism).

    Returns df columns + `prediction` (double) + `y_true` (the label
    copied, matching the reference's column convention), materialised
    (eager localCheckpoint) so the fold caches release with the call."""
    pipe = _pipeline(feature_cols, label_col, classifier)
    with _fold_splits(df, k, seed, fold_col, debias) as splits:
        pred = reduce(
            DataFrame.unionByName,
            [
                pipe.fit(train).transform(test).drop(
                    "__raw_features", "__features", "rawPrediction", "probability"
                )
                for train, test in splits
            ],
        )
        return pred.withColumn("y_true", F.col(label_col)).localCheckpoint(
            eager=True
        )


def majority_baseline_oof(
    df: DataFrame,
    label_col: str,
    key_cols: Sequence[str],
    k: int = 5,
    seed: int = 2,
    fold_col: str = "fold",
    out: str = "y_pred_base",
) -> DataFrame:
    """Out-of-fold MAJORITY-CLASS baseline: each row is predicted the
    most frequent label of the other k−1 folds (ties → smallest
    label). The zero-parameter twin of ``out_of_fold_predictions`` —
    same fold machinery, but the 'model' is a grouped count, which
    makes the entire CV split-train-predict cycle SQL-expressible and
    therefore oracle-checkable end to end (MLlib fits are not).

    Plan: portable-hash fold column (no shuffle) → per-(fold, label)
    census (one aggregate; tiny result) → complement counts by
    label-total subtraction (no second scan) → per-fold argmax →
    broadcast join back. One scan + one k×|labels| aggregate.

    Returns df + fold_col + ``out`` (the baseline prediction).
    """
    folded = assign_folds(df, k, seed, fold_col, portable_key=key_cols)
    census = folded.groupBy(fold_col, label_col).agg(
        F.count(F.lit(1)).alias("__n")
    )
    totals = census.groupBy(label_col).agg(F.sum("__n").alias("__n_tot"))
    # full fold × label grid: a label absent from fold f still counts
    # toward f's complement majority (its complement count is the
    # label's global total)
    grid = census.select(fold_col).distinct().crossJoin(totals)
    compl = grid.join(census, [fold_col, label_col], "left").select(
        fold_col,
        label_col,
        (F.col("__n_tot") - F.coalesce(F.col("__n"), F.lit(0))).alias("__n_compl"),
    )
    w = Window.partitionBy(fold_col).orderBy(
        F.desc("__n_compl"), F.col(label_col)
    )
    majority = (
        compl.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .select(fold_col, F.col(label_col).alias(out))
    )
    return folded.join(F.broadcast(majority), fold_col)


def cross_val(
    df: DataFrame,
    feature_cols: Sequence[str],
    label_col: str,
    classifier,
    unpriv,
    positive_label,
    sensitive: Sequence[str],
    k: int = 10,
    seed: int = 2,
    debias: Callable[[DataFrame], DataFrame] | None = None,
    fit: Callable[[DataFrame], Callable[[DataFrame], DataFrame]] | None = None,
) -> DataFrame:
    """E4+E5 (utils.py:136-158): k-fold cross-validation collecting
    the fairness metric suite per fold. `unpriv` is a Column predicate
    over the raw columns; `positive_label` the positive class value.
    Optional `debias` callable (e.g. DEMV fit_transform) runs on each
    training split only, mirroring _demv_training (utils.py:231-239).
    Optional `fit` replaces the `classifier` pipeline as the model: it
    takes a training split and returns a predict callable that adds a
    `prediction` column to a test split (the EG/GridSearch reductions,
    the reference's exp=True branch).

    Returns one row per fold, as an Arrow local relation: columns acc,
    disp_imp, eq_odds, fold, stat_par, zero_one_loss (fold first when
    fold 0 has no test rows)."""
    if fit is None:
        pipe = _pipeline(feature_cols, label_col, classifier)

        def fit(train):
            return pipe.fit(train).transform

    with _fold_splits(df, k, seed, debias=debias) as splits:
        pred = reduce(
            DataFrame.unionByName, [fit(train)(test) for train, test in splits]
        )
        # every fold's metrics are collected inside the loop: nothing
        # lazy reads its caches once it exits
        suite = M.fairness_suite(
            pred,
            unpriv,
            F.col("prediction") == positive_label,
            F.col(label_col) == positive_label,
            label_col,
            "prediction",
            group_by=["fold"],
        ).collect()
        loss = M.zero_one_loss_diff(
            pred, label_col, "prediction", sensitive, group_by=["fold"]
        ).collect()
    suite = {r["fold"]: r.asDict() for r in suite}
    loss = {r["fold"]: r.asDict() for r in loss}
    # a fold with no test rows keeps its row, with null metrics
    rows = [{**suite.get(f, {}), **loss.get(f, {}), "fold": f} for f in range(k)]
    # the column order PySpark's list inference gave this table: each
    # row's keys sorted, merged in row order (so an empty fold 0 puts
    # `fold` first); `fold` is bigint, every metric double
    names = dict.fromkeys(c for r in rows for c in sorted(r))
    schema = StructType(
        [StructField(c, LongType() if c == "fold" else DoubleType()) for c in names]
    )
    return local_table(df.sparkSession, rows, schema)


def repeated_demv_eval(
    df: DataFrame,
    feature_cols: Sequence[str],
    label_col: str,
    classifier,
    unpriv,
    positive_label,
    sensitive: Sequence[str],
    n_reps: int = 30,
    k: int = 10,
    seed: int = 2,
    stop: int = 10000,
) -> DataFrame:
    """E5 (utils.py:231-239 _demv_training): the reference repeats
    debias+train 30× per fold to average out sampling noise. Engine
    form: vary the DEMV sampling seed per repetition; the group census
    is identical across reps (only sampling differs), so group_targets
    is computed once per training split by construction. Returns the
    unioned per-(rep, fold) metric table."""
    from demv_spark.operators.balancer import DEMV

    reps = []
    for rep in range(n_reps):
        per_fold = cross_val(
            df, feature_cols, label_col, classifier, unpriv, positive_label,
            sensitive, k=k, seed=seed,
            debias=lambda t, r=rep: DEMV(
                list(sensitive), label=label_col, seed=seed + r, stop=stop
            ).fit_transform(t),
        )
        reps.append(per_fold.withColumn("rep", F.lit(rep)))
    return reduce(DataFrame.unionByName, reps)


def sweep_stops(
    df: DataFrame,
    feature_cols: Sequence[str],
    label_col: str,
    classifier,
    unpriv,
    positive_label,
    sensitive: Sequence[str],
    stops: Sequence[int],
    k: int = 10,
    seed: int = 2,
) -> DataFrame:
    """E6 (utils.py:214-228 eval_demv): evaluate DEMV across a sweep
    of ``stop`` values; per-stop grouped mean of each metric (A13,
    utils.py:223-227). Returns (stop, metric means…)."""
    from demv_spark.operators.balancer import DEMV

    parts = []
    for stop in stops:
        per_fold = cross_val(
            df, feature_cols, label_col, classifier, unpriv, positive_label,
            sensitive, k=k, seed=seed,
            debias=lambda t, s=stop: DEMV(
                list(sensitive), label=label_col, seed=seed, stop=s
            ).fit_transform(t),
        )
        parts.append(per_fold.withColumn("stop", F.lit(stop)))
    swept = reduce(DataFrame.unionByName, parts)
    metric_cols = [c for c in swept.columns if c not in ("fold", "stop")]
    return swept.groupBy("stop").agg(
        *[F.avg(c).alias(c) for c in metric_cols]
    )


def metrics_report(per_fold: DataFrame, metric_cols: Sequence[str] | None = None) -> DataFrame:
    """E10/A5 (utils.py:330-340): mean ± population std per metric
    over the per-fold table. Long form: (metric, mean, std), one row
    per metric in column order — ONE aggregate builds every metric's
    (metric, mean, std) struct and ``inline`` turns them into rows."""
    metric_cols = metric_cols or [c for c in per_fold.columns if c != "fold"]
    stats = [
        F.struct(
            F.lit(c).alias("metric"),
            F.avg(c).alias("mean"),
            F.coalesce(F.stddev_pop(c), F.lit(0.0)).alias("std"),
        )
        for c in metric_cols
    ]
    return per_fold.agg(F.array(*stats).alias("r")).select(F.inline("r"))


def explode_metric_lists(df: DataFrame, list_cols: Sequence[str]) -> DataFrame:
    """E11 (utils.py:342-354): explode list-valued metric cells into
    rows for CSV output — literal same-name Spark op."""
    out = df
    for c in list_cols:
        out = out.withColumn(c, F.explode(c))
    return out


def write_metrics_csv(df: DataFrame, path: str) -> None:
    """S6 — CSV sink for (tiny) metric tables (utils.py:352-358)."""
    df.toPandas().to_csv(path, index=False)
