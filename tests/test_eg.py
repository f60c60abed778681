"""Exponentiated-gradient reduction (E8) — dynamics unit tests plus
the MLlib-backed reduction's tolerance test against the reference's
published EG behavior (BASELINE.md: fairlearn ExponentiatedGradient +
BoundedGroupLoss(ZeroOneLoss, 0.1) over logistic on cmc —
stat_par −0.1072 ± 0.0426: the constraint bounds group LOSS, so
statistical parity stays negative rather than snapping to 0)."""

import pyspark.sql.functions as F
import pytest

from demv_spark.ml import evaluation as E
from demv_spark.ml.eg import ExponentiatedGradientBGL, eg_bounded_loss_dynamics
from demv_spark.sources.generator import make_classification


def test_eg_dynamics_hand_computed(spark):
    # group 0: 3 of 4 labeled 0; group 1: 4 of 4 labeled 1
    rows = [(0, 0)] * 3 + [(0, 1)] + [(1, 1)] * 4
    df = spark.createDataFrame(rows, "s int, y int")
    out = eg_bounded_loss_dynamics(df, "s", "y", bound=0.1, eta=1.0, iters=3).collect()
    t0 = out[0]
    # λ start at 1, p0 = p1 = 0.5 → w = 3 for both groups;
    # votes: v1 = 3·1 + 3·4 = 15 ≥ v0 = 3·3 = 9 → c = 1
    assert (t0["t"], t0["c"], t0["lam0"], t0["lam1"]) == (0, 1, 1.0, 1.0)
    assert t0["loss0"] == pytest.approx(0.75) and t0["loss1"] == 0.0
    # λ updates: lam0 ← 1·(1 + (0.75 − 0.1)) = 1.65; lam1 ← 0.9
    t1 = out[1]
    assert t1["lam0"] == pytest.approx(1.65) and t1["lam1"] == pytest.approx(0.9)


def test_eg_dynamics_violating_group_multiplier_grows(spark):
    rows = [(0, 0)] * 30 + [(0, 1)] * 10 + [(1, 1)] * 40
    df = spark.createDataFrame(rows, "s int, y int")
    out = eg_bounded_loss_dynamics(df, "s", "y", bound=0.1, eta=1.0, iters=6).collect()
    # whichever group violates the bound in round t gets a larger λ
    # in round t+1; a satisfied group's λ shrinks by exactly 0.9
    for a, b in zip(out, out[1:]):
        for g in (0, 1):
            lam_a, lam_b, loss = a[f"lam{g}"], b[f"lam{g}"], a[f"loss{g}"]
            if loss > 0.1:
                assert lam_b > lam_a
            else:
                assert lam_b == pytest.approx(lam_a * (1 + (loss - 0.1)))


def test_eg_dynamics_requires_both_groups(spark):
    df = spark.createDataFrame([(1, 0), (1, 1)], "s int, y int")
    with pytest.raises(ValueError):
        eg_bounded_loss_dynamics(df, "s", "y")


@pytest.fixture(scope="module")
def biased(spark):
    base = make_classification(
        spark, 2000, n_features=5, n_classes=2, n_sensitive=1, seed=11
    )
    return base.withColumn(
        "y",
        F.when(
            (F.col("s0") == 1) & (F.col("y") == 1) & (F.rand(3) < 0.5), 0
        ).otherwise(F.col("y")),
    ).cache()


def test_reduction_fit_keeps_the_callers_cache(spark):
    """EG/GridSearch cache the training table for their fits and
    release it after. A table the caller cached must stay cached."""
    from pyspark import StorageLevel

    from demv_spark.ml.eg import GridSearchBGL

    data = spark.range(120).select(
        (F.col("id") % 7).cast("double").alias("f1"),
        (F.col("id") % 2).cast("int").alias("s0"),
        (F.col("id") % 3 == 0).cast("int").alias("y"),
    ).cache()
    data.count()

    def factory():
        return E.build_classifier("logistic", "y", "__features", 2).setMaxIter(3)

    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    ExponentiatedGradientBGL(factory, ["s0"], "y", iters=1).fit(data, ["f1"])
    assert data.storageLevel != StorageLevel.NONE
    GridSearchBGL(factory, ["s0"], "y", grid_size=2).fit(data, ["f1"])
    assert data.storageLevel != StorageLevel.NONE
    # and the fits' own copies are gone
    assert set(jsc.getPersistentRDDs().keySet().toArray()) <= before
    data.unpersist()


@pytest.mark.parametrize("reduction", ["eg", "grid"])
def test_reduction_fit_releases_its_copy_when_the_fit_raises(spark, reduction):
    """The owned training copy is released on every exit path: a
    classifier that fails leaves no RDD of the fit pinned."""
    from demv_spark.ml.eg import GridSearchBGL

    data = spark.range(60).select(
        (F.col("id") % 7).cast("double").alias("f1"),
        (F.col("id") % 2).cast("int").alias("s0"),
        (F.col("id") % 3 == 0).cast("int").alias("y"),
    )

    def factory():
        raise RuntimeError("classifier unavailable")

    cls = ExponentiatedGradientBGL if reduction == "eg" else GridSearchBGL
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    with pytest.raises(RuntimeError, match="classifier unavailable"):
        cls(factory, ["s0"], "y").fit(data, ["f1"])
    assert set(jsc.getPersistentRDDs().keySet().toArray()) == before


@pytest.mark.slow
def test_eg_bgl_matches_reference_behavior(biased):
    """Reference parity (generatemetrics.py:101-113 via BASELINE.md):
    EG with a bounded-group-loss constraint narrows the group-loss gap
    while statistical parity stays NEGATIVE within the published band
    — the reference's cmc EG row is stat_par −0.1072 ± 0.0426, i.e.
    the constraint does not equalize selection rates."""
    feats = [f"f{i}" for i in range(5)]
    factory = lambda: E.build_classifier("logistic", "y", "__features", 2)

    def group_losses(pred):
        return {
            r["s0"]: r["loss"]
            for r in pred.groupBy("s0")
            .agg(
                (
                    F.sum((F.col("prediction") != F.col("y")).cast("int"))
                    / F.count(F.lit(1))
                ).alias("loss")
            )
            .collect()
        }

    base_model = E._pipeline(feats, "y", factory()).fit(biased)
    base_pred = base_model.transform(biased)
    base_losses = group_losses(base_pred)

    eg = ExponentiatedGradientBGL(
        factory, ["s0"], "y", bound=0.1, eta=2.0, iters=5
    ).fit(biased, feats)
    eg_pred = eg.predict(biased)
    eg_losses = group_losses(eg_pred)

    # group-loss gap narrows (the constraint's whole point)
    base_gap = max(base_losses.values()) - min(base_losses.values())
    eg_gap = max(eg_losses.values()) - min(eg_losses.values())
    assert eg_gap <= base_gap + 1e-9

    # multiplier dynamics: the violating group's λ rises, the
    # satisfied group's λ falls, every iteration
    for a, b in zip(eg.trajectory_, eg.trajectory_[1:]):
        for g, loss in a["losses"].items():
            if loss > 0.1:
                assert b["lams"][g] > a["lams"][g]
            else:
                assert b["lams"][g] < a["lams"][g]

    # fairness/accuracy envelope vs the published reference row:
    # stat_par stays negative, inside the ±2σ band around −0.1072,
    # and accuracy holds within 5pp of the unconstrained model
    from demv_spark.functions import metrics as M

    sp = M.statistical_parity(
        eg_pred, F.col("s0") == 1, F.col("prediction") == 1
    ).collect()[0][0]
    assert -0.1072 - 2 * 0.0426 < sp < 0.0
    acc_base = base_pred.filter(F.col("prediction") == F.col("y")).count() / 2000
    acc_eg = eg_pred.filter(F.col("prediction") == F.col("y")).count() / 2000
    assert acc_eg >= acc_base - 0.05


def test_grid_census_infeasible_picks_min_max_loss(spark):
    # group 0: 3 of 4 labeled 0; group 1: 4 of 4 labeled 1 — no
    # constant prediction meets bound 0.1, so selection falls back to
    # the smallest max group loss (c=1 rows: max=0.75) at lowest g
    rows = [(0, 0)] * 3 + [(0, 1)] + [(1, 1)] * 4
    df = spark.createDataFrame(rows, "s int, y int")
    from demv_spark.ml.eg import grid_bounded_loss_census

    out = grid_bounded_loss_census(
        df, "s", "y", bound=0.1, grid_size=3, lambda_max=2.0
    ).collect()
    assert len(out) == 9
    assert not any(r["feasible"] for r in out)
    by_g = {r["g"]: r for r in out}
    # λ=(0,0): votes v1 = 1·1 + 1·4 = 5 ≥ v0 = 3 → c=1
    assert by_g[0]["c"] == 1 and by_g[0]["loss0"] == pytest.approx(0.75)
    # λ=(2,0): w0 = 5 → v0 = 15 > v1 = 9 → c=0, group1 loss = 1
    assert by_g[6]["c"] == 0 and by_g[6]["loss1"] == 1.0
    selected = [r for r in out if r["selected"]]
    assert len(selected) == 1 and selected[0]["g"] == 0


def test_grid_census_feasible_picks_min_err(spark):
    # both groups overwhelmingly y=1: c=1 is feasible at every grid
    # point; equal errs tie-break to the lowest grid index
    rows = [(0, 1)] * 19 + [(0, 0)] + [(1, 1)] * 20
    df = spark.createDataFrame(rows, "s int, y int")
    from demv_spark.ml.eg import grid_bounded_loss_census

    out = grid_bounded_loss_census(
        df, "s", "y", bound=0.1, grid_size=3, lambda_max=2.0
    ).collect()
    assert all(r["feasible"] and r["c"] == 1 for r in out)
    assert [r["g"] for r in out if r["selected"]] == [0]
    assert all(r["err"] == pytest.approx(1 / 40) for r in out)


@pytest.mark.slow
def test_grid_search_bgl_selects_by_rule(biased):
    from demv_spark.ml.eg import GridSearchBGL

    feats = [f"f{i}" for i in range(5)]
    factory = lambda: E.build_classifier("logistic", "y", "__features", 2)
    gs = GridSearchBGL(
        factory, ["s0"], "y", bound=0.3, grid_size=3, lambda_max=2.0
    ).fit(biased, feats)
    # two groups (s0 ∈ {0,1}) × grid_size 3 → 3² cartesian λ points
    assert len(gs.grid_) == 9 and len(gs.models_) == 9
    # selection rule holds against the recorded grid trajectory
    feasible = [r for r in gs.grid_ if max(r["losses"].values()) <= 0.3]
    if feasible:
        expect = min(feasible, key=lambda r: (r["err"], r["idx"]))["idx"]
    else:
        expect = min(gs.grid_, key=lambda r: (max(r["losses"].values()), r["idx"]))["idx"]
    assert gs.best_idx_ == expect
    pred = gs.predict(biased)
    assert pred.filter(F.col("prediction").isNotNull()).count() == 2000
