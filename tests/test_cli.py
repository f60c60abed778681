"""CLI twin of generatemetrics.py (demv_spark/cli.py): the method
dispatch runs end-to-end on a synthetic biased table, and the real-
file path reproduces the reference invocation shape."""

import os

import pyspark.sql.functions as F
import pytest

from demv_spark import cli
from demv_spark.sources.generator import make_classification

REF_DATA = "/root/reference/replication_package/data"
METRICS = ["acc", "disp_imp", "eq_odds", "stat_par", "zero_one_loss"]


@pytest.fixture(scope="module")
def biased(spark):
    base = make_classification(
        spark, 1200, n_features=4, n_classes=2, n_sensitive=1, seed=9
    )
    return base.withColumn(
        "y",
        F.when(
            (F.col("s0") == 1) & (F.col("y") == 1) & (F.rand(4) < 0.5), 0
        ).otherwise(F.col("y")),
    ).cache()


@pytest.mark.parametrize(
    "method",
    [
        "biased",
        "uniform",
        # the EG variant fits iters x k MLlib models (~90 s) — slow
        # tier; the dispatch wiring it shares with biased/uniform is
        # covered by those, and EG itself by test_eg.py
        pytest.param("eg", marks=pytest.mark.slow),
    ],
)
def test_run_metrics_dispatch(biased, method):
    per_fold = cli.run_metrics(
        biased, method, {"s0": 1}, "y", 1, k=3,
    )
    # the names, order and types PySpark's list inference gave the
    # per-fold table: sorted names, fold bigint, metrics double
    assert per_fold.dtypes == [
        ("acc", "double"), ("disp_imp", "double"), ("eq_odds", "double"),
        ("fold", "bigint"), ("stat_par", "double"),
        ("zero_one_loss", "double"),
    ]
    rows = per_fold.collect()
    assert [r["fold"] for r in rows] == [0, 1, 2]
    for r in rows:
        assert 0.0 <= r["acc"] <= 1.0
        assert -1.0 <= r["stat_par"] <= 1.0
    rep = [r["metric"] for r in cli.report(per_fold).collect()]
    assert rep == METRICS


def test_run_metrics_unknown_method(biased):
    with pytest.raises(ValueError):
        cli.run_metrics(biased, "nope", {"s0": 1}, "y", 1)


@pytest.mark.slow
@pytest.mark.skipif(
    not os.path.isdir(REF_DATA), reason="reference data not available"
)
def test_cli_main_real_cmc(tmp_path, spark):
    out = str(tmp_path / "metrics.csv")
    cli.main([
        "cmc", "biased", "2",
        "--path", f"{REF_DATA}/cmc.data",
        "--k", "3", "--out", out,
    ])
    text = open(out).read()
    assert "stat_par" in text and "mean" in text


def test_generate_cm_writes_pdf(biased, tmp_path):
    out = str(tmp_path / "cm.pdf")
    preds = cli.generate_cm(
        biased, {"s0": 1}, "y", out, k=3, debias_method="uniform"
    )
    assert "prediction" in preds.columns and "y_true" in preds.columns
    data = open(out, "rb").read()
    assert data.startswith(b"%PDF") and b"(Unprivileged group)" in data


def test_run_metrics_empty_fold_keeps_its_row(spark):
    """A fold with no test rows keeps a row with null metrics. When it
    is fold 0, list inference put ``fold`` first; that order holds."""
    from demv_spark.ml.evaluation import assign_folds

    rows = [(float(i), float(i * 7 % 5), i % 2, i // 2 % 2) for i in range(12)]
    df = spark.createDataFrame(rows, "f1 double, f2 double, s0 int, y int")
    sizes = {
        r["fold"]: r["count"]
        for r in assign_folds(df, 3, 5).groupBy("fold").count().collect()
    }
    assert 0 not in sizes and set(sizes) == {1, 2}
    per_fold = cli.run_metrics(df, "biased", {"s0": 0}, "y", 1, k=3, seed=5)
    assert per_fold.dtypes == [
        ("fold", "bigint"), *[(m, "double") for m in METRICS]
    ]
    got = per_fold.collect()
    assert [r["fold"] for r in got] == [0, 1, 2]
    assert all(got[0][m] is None for m in METRICS)
    assert all(got[f][m] is not None for f in (1, 2) for m in METRICS)
    assert [r["metric"] for r in cli.report(per_fold).collect()] == METRICS
