"""End-to-end CLI — the engine twin of the reference's
``generatemetrics.py`` entry point (EP2 in SURVEY §3).

``run_metrics`` mirrors the reference dispatch (generatemetrics.py:
89-146): ``biased`` → plain k-fold CV; ``eg``/``grid`` → the
bounded-group-loss reductions (ml/eg.py) fitted per training fold;
anything else → DEMV with that strategy (``uniform``/``smote``/
``adasyn``) debiasing each training split inside CV
(utils.py:133-142). The returned table is the per-fold metric suite;
``report`` collapses it to the reference's mean ± std CSV shape
(prepareplots, utils.py:342-354).

``main`` is the argparse face (generatemetrics.py:28-86): dataset
name + method + number of sensitive features, with file paths for the
dataset sources since the originals aren't bundled. Everything
in-between — recipe, fairness config, unprivileged predicate — comes
from ``sources.recipes`` so the CLI is a thin composition.
"""

from __future__ import annotations

import argparse
from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame

from demv_spark.functions.metrics import group_condition
from demv_spark.ml import evaluation as E

DEMV_STRATEGIES = ("uniform", "smote", "adasyn")


def _feature_cols(df: DataFrame, label: str) -> list[str]:
    from pyspark.sql.types import NumericType

    return [
        f.name
        for f in df.schema.fields
        if f.name != label and isinstance(f.dataType, NumericType)
    ]


def _class_count(df: DataFrame, label: str, classifier: str) -> int | None:
    """The label's class count for the classifiers whose form depends
    on it (``gradient``, ``svc``: binary vs multiclass), else None —
    counting costs Spark jobs no other classifier reads."""
    if classifier in ("gradient", "svc"):
        return df.select(label).distinct().count()
    return None


def run_metrics(
    df: DataFrame,
    method: str,
    unpriv_group: Mapping,
    label: str,
    positive_label,
    classifier: str = "logistic",
    k: int = 10,
    seed: int = 2,
    stop: int = 10000,
    round_level: int = 1,
) -> DataFrame:
    """generatemetrics.py:89-146 dispatch, engine-native. Returns the
    per-fold metric table (fold, stat_par, disp_imp, eq_odds, acc,
    zero_one_loss)."""
    sensitive = list(unpriv_group)
    unpriv = group_condition(unpriv_group)
    features = _feature_cols(df, label)
    n_classes = _class_count(df, label, classifier)

    def clf():
        return E.build_classifier(classifier, label, "__features", n_classes, seed)

    if method == "biased":
        return E.cross_val(
            df, features, label, clf(), unpriv, positive_label, sensitive,
            k=k, seed=seed,
        )
    if method in ("eg", "grid"):
        from demv_spark.ml.eg import ExponentiatedGradientBGL, GridSearchBGL

        reduction = ExponentiatedGradientBGL if method == "eg" else GridSearchBGL

        # the exp=True branch of the reference's cross_val (utils.py:
        # 136-158 with the fairlearn wrapper): the fitted reduction is
        # the fold's model
        def fit(train):
            red = reduction(clf, sensitive, label, seed=seed)
            return red.fit(train, features).predict

        return E.cross_val(
            df, features, label, None, unpriv, positive_label, sensitive,
            k=k, seed=seed, fit=fit,
        )
    if method in DEMV_STRATEGIES:
        from demv_spark.operators.balancer import DEMV

        return E.cross_val(
            df, features, label, clf(), unpriv, positive_label, sensitive,
            k=k, seed=seed,
            debias=lambda t: DEMV(
                sensitive, label=label, round_level=round_level,
                strategy=method, stop=stop, seed=seed,
            ).fit_transform(t),
        )
    raise ValueError(
        f"unknown method {method!r}: expected biased/eg/grid/{'/'.join(DEMV_STRATEGIES)}"
    )


def generate_cm(
    df: DataFrame,
    unpriv_group: Mapping,
    label: str,
    pdf_path: str,
    classifier: str = "logistic",
    debias_method: str | None = None,
    k: int = 10,
    seed: int = 2,
) -> DataFrame:
    """EP3 twin (confusionmatrix.py:147-238 ``generatecm``): optional
    whole-table DEMV debias, out-of-fold predictions over k folds,
    unprivileged/privileged split by the group dict, row-normalized
    confusion matrices rendered to the two-panel PDF (ml/cm_pdf.py).
    Returns the out-of-fold prediction table (predictions stay
    attached through transform — no positional writeback join)."""
    from demv_spark.ml.cm_pdf import write_confusion_matrix_pdf

    sensitive = list(unpriv_group)
    features = _feature_cols(df, label)
    n_classes = _class_count(df, label, classifier)
    clf = E.build_classifier(classifier, label, "__features", n_classes, seed)

    base = df
    if debias_method in DEMV_STRATEGIES:
        # reference debiases the WHOLE dataset before the CV prediction
        # pass in generatecm (confusionmatrix.py:160-165)
        from demv_spark.operators.balancer import DEMV

        base = DEMV(
            sensitive, label=label, strategy=debias_method, seed=seed
        ).fit_transform(df)

    preds = E.out_of_fold_predictions(base, features, label, clf, k=k, seed=seed)
    write_confusion_matrix_pdf(
        preds, group_condition(unpriv_group), "y_true", "prediction", pdf_path
    )
    return preds


def report(per_fold: DataFrame) -> DataFrame:
    """mean ± std over folds — the reference's print_metrics /
    prepareplots rollup (utils.py:330-358)."""
    return E.metrics_report(per_fold)


def main(argv: Sequence[str] | None = None) -> None:
    from demv_spark.session import get_spark
    from demv_spark.sources import recipes as R

    parser = argparse.ArgumentParser(
        description="DEMV-Spark benchmark CLI (generatemetrics.py twin)"
    )
    parser.add_argument("dataset", choices=sorted(R.FAIRNESS))
    parser.add_argument(
        "method", choices=["biased", "eg", "grid", *DEMV_STRATEGIES]
    )
    parser.add_argument("n_features", type=int, choices=[1, 2, 3])
    parser.add_argument("--path", required=True, help="dataset file path")
    parser.add_argument("--path2", help="second file (wine: white csv)")
    parser.add_argument("--classifier", default="logistic")
    parser.add_argument("--k", type=int, default=10)
    parser.add_argument("--out", help="metrics CSV path")
    parser.add_argument(
        "--sensitive",
        action="append",
        help="explicit sensitive feature(s) — the loaders' "
        "sensitivefeature branch; repeatable, validated against the "
        "dataset's sfs table",
    )
    args = parser.parse_args(argv)

    spark = get_spark("demv-spark-cli")
    loader = getattr(R, f"load_{args.dataset}")
    if args.dataset == "wine":
        df = loader(spark, args.path, args.path2, n_features=args.n_features)
    elif args.dataset in ("adult",):
        df = loader(spark, args.path)
    else:
        df = loader(spark, args.path, n_features=args.n_features)

    cfg = R.FAIRNESS[args.dataset]
    unpriv_group = (
        R.unpriv_for(args.dataset, args.sensitive)
        if args.sensitive
        else cfg["unpriv"][args.n_features]
    )
    per_fold = run_metrics(
        df,
        args.method,
        unpriv_group,
        cfg["label"],
        cfg["positive_label"],
        classifier=args.classifier,
        k=args.k,
    )
    rep = report(per_fold)
    rep.show(truncate=False)
    if args.out:
        E.write_metrics_csv(rep, args.out)


if __name__ == "__main__":
    main()
