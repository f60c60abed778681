import pyspark.sql.functions as F
import pytest

from demv_spark.ml import evaluation as E
from demv_spark.operators.balancer import DEMV
from demv_spark.operators.postprocess import equalize_positive_rates, group_threshold_adjust
from demv_spark.sources.generator import make_classification


@pytest.fixture(scope="module")
def data(spark):
    return make_classification(
        spark, n_rows=400, n_features=4, n_classes=2, n_sensitive=1, seed=7
    ).cache()


def test_generator_shape_and_balance(data):
    assert data.columns == ["f0", "f1", "f2", "f3", "s0", "y"]
    n = data.count()
    assert n == 400
    s_counts = {r["s0"]: r["count"] for r in data.groupBy("s0").count().collect()}
    assert s_counts[0] == s_counts[1] == 200  # exact half/half like the reference
    assert data.select("y").distinct().count() == 2


def test_assign_folds_exact_sizes(spark, data):
    """exact=True is the opt-in sklearn-parity regime (global sort)."""
    folded = E.assign_folds(data, k=7, seed=2, exact=True)
    sizes = sorted(r["count"] for r in folded.groupBy("fold").count().collect())
    # sklearn KFold parity: first n%k folds get the extra row
    assert sizes == [57, 57, 57, 57, 57, 57, 58]
    # deterministic under same seed
    a = E.assign_folds(data, 7, seed=2, exact=True).groupBy("fold").count().collect()
    b = E.assign_folds(data, 7, seed=2, exact=True).groupBy("fold").count().collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_assign_folds_hash_mode_is_default(spark, data):
    """VERDICT r5: the DEFAULT fold plan must be the shuffle-free
    hash-mod path — no global Window.orderBy(rand) in a default plan."""
    from demv_spark.plans.introspect import explain_str

    folded = E.assign_folds(data, k=5, seed=2)
    counts = folded.groupBy("fold").count().collect()
    assert len(counts) == 5
    assert sum(r["count"] for r in counts) == 400
    # plan check on a lineage-clean input (the `data` fixture itself
    # contains a generator window): fold assignment must be map-side
    plain = E.assign_folds(spark.range(100).withColumn("x", F.rand(1)), k=5)
    plan = explain_str(plain, "simple")
    assert "Window" not in plan and "Sort" not in plan and "Exchange" not in plan


def test_out_of_fold_predictions_cover_all_rows(data):
    clf = E.build_classifier("logistic", "y", "__features", n_classes=2)
    pred = E.out_of_fold_predictions(data, ["f0", "f1", "f2", "f3"], "y", clf, k=3)
    assert pred.count() == 400
    assert "prediction" in pred.columns and "y_true" in pred.columns


def test_cross_val_logistic_learns(data):
    clf = E.build_classifier("logistic", "y", "__features", n_classes=2)
    per_fold = E.cross_val(
        data, ["f0", "f1", "f2", "f3"], "y", clf,
        unpriv=F.col("s0") == 1, positive_label=1, sensitive=["s0"], k=3,
    )
    rows = per_fold.collect()
    assert len(rows) == 3
    accs = [r["acc"] for r in rows]
    assert min(accs) > 0.7  # separable synthetic data → well above chance
    report = {r["metric"]: r for r in E.metrics_report(per_fold).collect()}
    assert set(report) == {"stat_par", "disp_imp", "eq_odds", "acc", "zero_one_loss"}
    assert report["acc"]["mean"] == pytest.approx(sum(accs) / 3, abs=1e-9)


def test_metrics_report_matches_per_metric_union(spark):
    """The one-aggregate report gives exactly the rows and schema of
    the per-metric form it replaced: one (metric, mean, std) aggregate
    per metric, unioned."""
    per_fold = spark.createDataFrame(
        [
            {"fold": 0, "acc": 0.8, "stat_par": -0.1, "zero_one_loss": 0.05},
            {"fold": 1, "acc": 0.7, "stat_par": None, "zero_one_loss": 0.1},
            {"fold": 2, "acc": 0.9, "stat_par": 0.3, "zero_one_loss": 0.0},
        ]
    )
    for src in (per_fold, per_fold.filter(F.col("fold") == 1)):
        pieces = [
            src.agg(
                F.lit(c).alias("metric"),
                F.avg(c).alias("mean"),
                F.coalesce(F.stddev_pop(c), F.lit(0.0)).alias("std"),
            )
            for c in ("acc", "stat_par", "zero_one_loss")
        ]
        old = pieces[0].unionByName(pieces[1]).unionByName(pieces[2])
        new = E.metrics_report(src)
        assert new.schema == old.schema
        assert new.collect() == old.collect()


def test_cross_val_with_demv_debias(data):
    clf = E.build_classifier("logistic", "y", "__features", n_classes=2)

    def debias(train):
        return DEMV(["s0"], label="y", seed=3).fit_transform(train)

    per_fold = E.cross_val(
        data, ["f0", "f1", "f2", "f3"], "y", clf,
        unpriv=F.col("s0") == 1, positive_label=1, sensitive=["s0"], k=2,
        debias=debias,
    )
    assert per_fold.count() == 2


@pytest.mark.parametrize("name,n_classes", [("gradient", 2), ("gradient", 3), ("svc", 2)])
def test_classifier_factory(name, n_classes):
    clf = E.build_classifier(name, "y", "__features", n_classes=n_classes)
    assert clf is not None


def test_classifier_factory_rejects_unknown():
    with pytest.raises(ValueError):
        E.build_classifier("quantum", "y", "f", 2)


def test_explode_metric_lists(spark):
    df = spark.createDataFrame([("a", [1.0, 2.0])], ["m", "vals"])
    out = E.explode_metric_lists(df, ["vals"]).collect()
    assert [r["vals"] for r in out] == [1.0, 2.0]


def test_group_threshold_adjust(spark):
    df = spark.createDataFrame(
        [(1, 0.6), (1, 0.4), (0, 0.6), (0, 0.4)], ["s", "score"]
    )
    out = group_threshold_adjust(df, F.col("s") == 1, "score", 0.5, 0.3)
    got = {(r["s"], r["score"]): r["prediction_adj"] for r in out.collect()}
    assert got[(1, 0.4)] == 1   # unpriv threshold lowered
    assert got[(0, 0.4)] == 0


def test_equalize_positive_rates(spark):
    rows = [(g, float(i)) for g in (0, 1) for i in range(10)]
    df = spark.createDataFrame(rows, ["g", "score"])
    out = equalize_positive_rates(df, ["g"], "score", rate=0.3)
    pos = out.filter(F.col("prediction_adj") == 1).groupBy("g").count().collect()
    assert all(r["count"] == 3 for r in pos)


def test_equalize_bucketed_rank_exact(spark):
    # skewed groups + tied scores + NULL scores: the range-bucketed
    # rank must reproduce the single-window plan bit-for-bit
    rows = [(i, "big", float((i * 7) % 50), ) for i in range(900)]
    rows += [(1000 + i, "small", float(i % 5), ) for i in range(60)]
    rows += [(2000, "big", None), (2001, "small", None)]
    # a NULL group is a group: the bucketed path must keep its rows
    rows += [(3000 + i, None, float(i % 11)) for i in range(80)]
    df = spark.createDataFrame(rows, "id long, g string, score double")
    plain = equalize_positive_rates(
        df, ["g"], "score", rate=0.25, tiebreak=["id"], skew_buckets=None
    )
    bucketed = equalize_positive_rates(
        df, ["g"], "score", rate=0.25, tiebreak=["id"], skew_buckets=7
    )
    a = {r["id"]: r["prediction_adj"] for r in plain.collect()}
    b = {r["id"]: r["prediction_adj"] for r in bucketed.collect()}
    assert a == b and len(b) == len(rows)
    assert bucketed.columns == plain.columns
    assert sum(b[3000 + i] for i in range(80)) == 20
    # NULL scores sort last and never go positive at rate 0.25
    assert a[2000] == 0 and a[2001] == 0


def test_equalize_auto_picks_bucketed_path(spark, monkeypatch):
    from demv_spark.operators import balancer as balancer_mod
    from demv_spark.operators import postprocess as pp

    rows = [(i, i % 2, float(i % 97)) for i in range(400)]
    df = spark.createDataFrame(rows, "id long, g int, score double")
    # lower the cutoff so the 200-row groups count as "skewed"
    monkeypatch.setattr(balancer_mod, "AUTO_SALT_GROUP_ROWS", 50)
    called = {}
    orig = pp._score_buckets

    def spy(*args, **kw):
        called["buckets"] = args[-1]
        return orig(*args, **kw)

    monkeypatch.setattr(pp, "_score_buckets", spy)
    auto = pp.equalize_positive_rates(df, ["g"], "score", rate=0.5, tiebreak=["id"])
    got = {r["id"]: r["prediction_adj"] for r in auto.collect()}
    assert called["buckets"] == 4  # ceil(200 / 50)
    plain = pp.equalize_positive_rates(
        df, ["g"], "score", rate=0.5, tiebreak=["id"], skew_buckets=None
    )
    assert got == {r["id"]: r["prediction_adj"] for r in plain.collect()}


def test_majority_baseline_oof(spark):
    from demv_spark.ml.evaluation import majority_baseline_oof

    # 70% label 1 -> every fold's complement majority is 1
    rows = [(i, 1 if i % 10 < 7 else 0) for i in range(200)]
    df = spark.createDataFrame(rows, ["id", "y"])
    out = majority_baseline_oof(df, "y", key_cols=["id"], k=5, seed=2)
    assert out.count() == 200
    assert out.filter(F.col("y_pred_base") != 1).count() == 0
    # portable fold assignment is a pure function of (key, seed)
    folds1 = {r["id"]: r["fold"] for r in out.collect()}
    out2 = majority_baseline_oof(df, "y", key_cols=["id"], k=5, seed=2)
    assert folds1 == {r["id"]: r["fold"] for r in out2.collect()}


def test_multiclass_quota_adjust_equalizes_class_shares(spark):
    from demv_spark.operators.postprocess import multiclass_quota_adjust

    # group a: all predicted 0; group b: all predicted 2 — pooled
    # distribution is 50/50, so each group must end up half 0, half 2
    rows = [(i, "a", 0) for i in range(100)] + [(i, "b", 2) for i in range(100)]
    df = spark.createDataFrame(rows, ["id", "g", "pred"])
    out = multiclass_quota_adjust(df, ["g"], "pred", ["pred", "id"])
    census = {
        (r["g"], r["prediction_adj"]): r["n"]
        for r in out.groupBy("g", "prediction_adj")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert census == {("a", 0): 50, ("a", 2): 50, ("b", 0): 50, ("b", 2): 50}


def test_multiclass_quota_adjust_boundaries_and_determinism(spark):
    from demv_spark.operators.postprocess import multiclass_quota_adjust

    # pooled: 30 of class 0, 60 of 1, 30 of 2 out of 120 → shares
    # 1/4, 1/2, 1/4; group sizes 40 and 80 → quotas (10,20,10), (20,40,20)
    rows = (
        [(i, "a", 0) for i in range(30)]
        + [(100 + i, "a", 1) for i in range(10)]
        + [(200 + i, "b", 1) for i in range(50)]
        + [(300 + i, "b", 2) for i in range(30)]
    )
    df = spark.createDataFrame(rows, ["id", "g", "pred"])
    out = multiclass_quota_adjust(df, ["g"], "pred", ["pred", "id"])
    census = {
        (r["g"], r["prediction_adj"]): r["n"]
        for r in out.groupBy("g", "prediction_adj")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert census == {
        ("a", 0): 10, ("a", 1): 20, ("a", 2): 10,
        ("b", 0): 20, ("b", 1): 40, ("b", 2): 20,
    }
    # deterministic: same input → same per-row assignment
    a = {r["id"]: r["prediction_adj"] for r in out.collect()}
    b = {
        r["id"]: r["prediction_adj"]
        for r in multiclass_quota_adjust(df, ["g"], "pred", ["pred", "id"]).collect()
    }
    assert a == b


def test_multiclass_quota_skew_path_matches_plain(spark, monkeypatch):
    from demv_spark.operators import balancer as bal
    from demv_spark.operators import postprocess as pp

    monkeypatch.setattr(bal, "AUTO_SALT_GROUP_ROWS", 50)
    called = {}
    orig = pp._score_buckets

    def spy(*args, **kw):
        called["hit"] = True
        return orig(*args, **kw)

    monkeypatch.setattr(pp, "_score_buckets", spy)
    # the second fixture has a NULL group (a fifth of its rows): both
    # paths must assign every row
    for rows in (
        [(i, "a" if i % 3 else "b", (i * 7) % 4) for i in range(300)],
        [(i, None if i % 5 == 0 else "ab"[i % 2], i % 3) for i in range(300)],
    ):
        df = spark.createDataFrame(rows, "id long, g string, pred int")
        called.clear()
        auto = pp.multiclass_quota_adjust(df, ["g"], "pred", ["pred", "id"])
        assert called.get("hit"), "auto skew path should trigger past the threshold"
        plain = pp.multiclass_quota_adjust(
            df, ["g"], "pred", ["pred", "id"], skew_buckets=None
        )
        a = {r["id"]: r["prediction_adj"] for r in auto.collect()}
        b = {r["id"]: r["prediction_adj"] for r in plain.collect()}
        assert a == b and len(a) == len(rows)


def test_multiclass_quota_auto_skips_non_canonical_order(spark, monkeypatch):
    from demv_spark.operators import balancer as bal
    from demv_spark.operators import postprocess as pp

    monkeypatch.setattr(bal, "AUTO_SALT_GROUP_ROWS", 10)
    df = spark.createDataFrame(
        [(i, "g", i % 2, f"k{i}") for i in range(40)],
        ["id", "g", "pred", "skey"],
    )
    # string key -> not the canonical [pred, numeric] shape: plain
    # window, no decomposition attempted
    out = pp.multiclass_quota_adjust(df, ["g"], "pred", ["pred", "skey"])
    assert out.count() == 40


def test_assign_folds_stratified_balance_and_determinism(spark):
    from demv_spark.ml.evaluation import assign_folds_stratified

    # imbalanced labels: 90/10
    df = spark.range(200).select(
        F.col("id"),
        (F.col("id") % 10 == 0).cast("int").alias("y"),
    ).cache()
    out = assign_folds_stratified(df, "y", k=5, key_cols=["id"])
    counts = {(r["y"], r["fold"]): r["count"] for r in
              out.groupBy("y", "fold").count().collect()}
    # every (label, fold) cell within 1 of the stratum's share
    for y, total in ((0, 180), (1, 20)):
        vals = [counts.get((y, f), 0) for f in range(5)]
        assert max(vals) - min(vals) <= 1
        assert sum(vals) == total
    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, assign_folds_stratified(
        df.repartition(7), "y", k=5, key_cols=["id"]).collect()))
    assert a == b
