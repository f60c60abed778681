"""Metric goldens computed by hand / with pandas against the reference
formulas (replication_package/src/utils.py:15-121 semantics)."""

import pyspark.sql.functions as F
import pytest

from demv_spark.functions import metrics as M

# (sens, y_pred, y_true) — y_pred plays the reference's "label col of
# the prediction table" role; positive class = 1
ROWS = [
    (1, 1, 1), (1, 1, 0), (1, 0, 1), (1, 0, 0), (1, 0, 0),   # unpriv: 5 rows, 2 pred-pos
    (0, 1, 1), (0, 1, 1), (0, 1, 0), (0, 0, 1), (0, 0, 0), (0, 0, 0), (0, 1, 1),  # priv: 7 rows, 4 pred-pos
]


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame(ROWS, ["sens", "y_pred", "y_true"])


def _unpriv():
    return F.col("sens") == 1


def _pred_pos():
    return F.col("y_pred") == 1


def _true_pos():
    return F.col("y_true") == 1


def test_statistical_parity(df):
    # unpriv rate = 2/5, priv rate = 4/7
    got = M.statistical_parity(df, _unpriv(), _pred_pos()).collect()[0][0]
    assert got == pytest.approx(2 / 5 - 4 / 7, abs=1e-12)


def test_disparate_impact(df):
    u, p = 2 / 5, 4 / 7
    got = M.disparate_impact(df, _unpriv(), _pred_pos()).collect()[0][0]
    assert got == pytest.approx(min(u / p, p / u), abs=1e-12)


def test_disparate_impact_zero_unpriv(spark):
    d = spark.createDataFrame([(1, 0), (1, 0), (0, 1), (0, 0)], ["sens", "y_pred"])
    got = M.disparate_impact(d, F.col("sens") == 1, F.col("y_pred") == 1).collect()[0][0]
    assert got == 0.0  # u==0 → u/p per utils.py:19-20


def test_equalized_odds_as_implemented(df):
    # as-implemented precision-style ratios (utils.py:33-62):
    # unpriv: pred-pos=2, of which true-pos=1 → tpr_u = 1/2
    #         pred-neg=3; pred-pos & true-neg=1 → fpr_u = 1/3
    # priv:   pred-pos=4, of which true-pos=3 → tpr_p = 3/4
    #         pred-neg=3; pred-pos & true-neg=1 → fpr_p = 1/3
    expected = max(abs(1 / 2 - 3 / 4), abs(1 / 3 - 1 / 3))
    got = M.equalized_odds(df, _unpriv(), _pred_pos(), _true_pos()).collect()[0][0]
    assert got == pytest.approx(expected, abs=1e-12)


def test_accuracy(df):
    matches = sum(1 for _, yp, yt in ROWS if yp == yt)
    got = M.accuracy(df, "y_true", "y_pred").collect()[0][0]
    assert got == pytest.approx(matches / len(ROWS), abs=1e-12)


def test_zero_one_loss_diff(df):
    # unpriv loss = 3/5 mismatches? rows: (1,1)ok,(1,0)x,(0,1)x,(0,0)ok,(0,0)ok → 2/5
    # priv: (1,1)ok,(1,1)ok,(1,0)x,(0,1)x,(0,0)ok,(0,0)ok,(1,1)ok → 2/7
    got = M.zero_one_loss_diff(df, "y_true", "y_pred", ["sens"]).collect()[0][0]
    assert got == pytest.approx(2 / 5 - 2 / 7, abs=1e-12)


def test_confusion_matrix_long(df):
    cm = {(r["y_true"], r["y_pred"]): r["cnt"]
          for r in M.confusion_matrix_long(df, "y_true", "y_pred").collect()}
    assert cm[(1, 1)] == 4 and cm[(0, 1)] == 2 and cm[(1, 0)] == 2 and cm[(0, 0)] == 4


def test_confusion_matrix_normalized(df):
    rows = M.confusion_matrix_normalized(df, "y_true", "y_pred").collect()
    by_true = {}
    for r in rows:
        by_true.setdefault(r["y_true"], 0.0)
        by_true[r["y_true"]] += r["frac"]
    for v in by_true.values():
        assert v == pytest.approx(1.0, abs=1e-12)


def test_average_odds_difference_binary(df):
    # textbook TPR/FPR per partition (utils.py:86-95), class c=1:
    # unpriv: y_true=1 rows: 2, tp(1)=1 → tpr=1/2 ; pred(1)=2, fp=1, n-true(1)=3 → fpr=1/3
    # priv:   y_true=1 rows: 4, tp(1)=3 → tpr=3/4 ; pred(1)=4, fp=1, n-true(1)=3 → fpr=1/3
    # aod(1) = (1/3-1/3) + (1/2-3/4)/2 = -1/8
    out = {r["cls"]: r["avg_odds_diff"]
           for r in M.average_odds_difference(df, _unpriv(), "y_true", "y_pred").collect()}
    assert out[1] == pytest.approx(-1 / 8, abs=1e-12)
    # class 0: unpriv tpr0 = 2/3, fpr0 = (3-2)/2 = 1/2; priv tpr0 = 2/3? priv y_true=0 rows=3, tp0=2 → 2/3
    #          priv pred0=3, fp0=1, n-true0=4 → 1/4
    # aod(0) = (1/2 - 1/4) + (2/3 - 2/3)/2 = 1/4
    assert out[0] == pytest.approx(1 / 4, abs=1e-12)


def test_fairness_suite_matches_individual(df):
    suite = M.fairness_suite(df, _unpriv(), _pred_pos(), _true_pos(), "y_true", "y_pred").collect()[0]
    sp = M.statistical_parity(df, _unpriv(), _pred_pos()).collect()[0][0]
    di = M.disparate_impact(df, _unpriv(), _pred_pos()).collect()[0][0]
    eo = M.equalized_odds(df, _unpriv(), _pred_pos(), _true_pos()).collect()[0][0]
    acc = M.accuracy(df, "y_true", "y_pred").collect()[0][0]
    assert suite["stat_par"] == pytest.approx(sp, abs=1e-12)
    assert suite["disp_imp"] == pytest.approx(di, abs=1e-12)
    assert suite["eq_odds"] == pytest.approx(eo, abs=1e-12)
    assert suite["acc"] == pytest.approx(acc, abs=1e-12)


def test_suite_kernel_identities_bit_exact(spark):
    """One count kernel behind every two-group metric: with all
    weights 1.0 the weighted suite equals fairness_suite row for row,
    and M1-M3 equal the matching suite columns, as float bits. Case 1
    has no privileged predicted positive (p_rate == 0), case 2 none in
    the unprivileged group (u_rate == 0)."""
    import struct

    cases = {
        0: ROWS,
        1: [(1, 1, 1), (1, 0, 0), (1, 1, 0), (0, 0, 1), (0, 0, 0)],
        2: [(1, 0, 1), (1, 0, 0), (0, 1, 1), (0, 1, 0), (0, 0, 0)],
    }
    table = spark.createDataFrame(
        [(c, *r) for c, rows in cases.items() for r in rows],
        ["case", "sens", "y_pred", "y_true"],
    ).withColumn("w", F.lit(1.0))
    args = (_unpriv(), _pred_pos(), _true_pos(), "y_true", "y_pred")
    suite = {
        r["case"]: r
        for r in M.fairness_suite(table, *args, group_by=["case"]).collect()
    }
    assert suite[1]["stat_par"] == 2 / 3 and suite[1]["disp_imp"] == 0.0
    assert suite[2]["stat_par"] == -2 / 3 and suite[2]["disp_imp"] == 0.0

    def bits(x):
        return struct.pack(">d", x)

    for case in cases:
        part = table.filter(F.col("case") == case)
        want = suite[case]
        got = M.weighted_fairness_suite(part, *args, "w").collect()[0]
        for col in ("stat_par", "disp_imp", "eq_odds", "acc"):
            assert bits(got[col]) == bits(want[col]), (case, col)
        single = {
            "stat_par": M.statistical_parity(part, _unpriv(), _pred_pos()),
            "disp_imp": M.disparate_impact(part, _unpriv(), _pred_pos()),
            "eq_odds": M.equalized_odds(part, _unpriv(), _pred_pos(), _true_pos()),
        }
        for col, df in single.items():
            assert bits(df.collect()[0][0]) == bits(want[col]), (case, col)


def test_grouped_suite_and_loss_equal_per_group_filters(spark):
    """group_by (the CV fold loop scores all folds in one pass): each
    key's row equals the ungrouped call on that key's rows, exactly."""
    folds = spark.createDataFrame(
        [(f, *r) for f in range(3) for r in ROWS[f:] + ROWS[: 2 * f]],
        ["fold", "sens", "y_pred", "y_true"],
    )
    args = (_unpriv(), _pred_pos(), _true_pos(), "y_true", "y_pred")
    suite = M.fairness_suite(folds, *args, group_by=["fold"])
    loss = M.zero_one_loss_diff(
        folds, "y_true", "y_pred", ["sens"], group_by=["fold"]
    )
    assert suite.columns == ["fold", "stat_par", "disp_imp", "eq_odds", "acc"]
    assert loss.columns == ["fold", "zero_one_loss"]
    suite = {r["fold"]: r for r in suite.collect()}
    loss = {r["fold"]: r for r in loss.collect()}
    assert set(suite) == set(loss) == {0, 1, 2}
    for f in range(3):
        part = folds.filter(F.col("fold") == f).drop("fold")
        want = M.fairness_suite(part, *args).collect()[0]
        assert tuple(suite[f])[1:] == tuple(want)
        want_loss = M.zero_one_loss_diff(part, "y_true", "y_pred", ["sens"])
        assert loss[f]["zero_one_loss"] == want_loss.collect()[0][0]


def test_fairness_by_group_one_vs_rest(df):
    """Each sens value's row must equal the corresponding single-split
    metric with unpriv = (sens == v)."""
    by = {
        r["sens"]: r
        for r in M.fairness_by_group(df, ["sens"], _pred_pos(), _true_pos()).collect()
    }
    assert set(by) == {0, 1} and by[1]["n"] == 5 and by[0]["n"] == 7
    for v in (0, 1):
        cond = F.col("sens") == v
        sp = M.statistical_parity(df, cond, _pred_pos()).collect()[0][0]
        di = M.disparate_impact(df, cond, _pred_pos()).collect()[0][0]
        eo = M.equalized_odds(df, cond, _pred_pos(), _true_pos()).collect()[0][0]
        assert by[v]["stat_par"] == pytest.approx(sp, abs=1e-12)
        assert by[v]["disp_imp"] == pytest.approx(di, abs=1e-12)
        assert by[v]["eq_odds"] == pytest.approx(eo, abs=1e-12)


def test_fairness_by_group_multi_sensitive(df):
    out = M.fairness_by_group(
        df, ["sens", "y_true"], _pred_pos(), _true_pos()
    ).collect()
    assert len(out) == 4  # 2 sens × 2 y_true combos
    assert {tuple([r["sens"], r["y_true"]]) for r in out} == {
        (0, 0), (0, 1), (1, 0), (1, 1)
    }


def test_avg_odds_single_class_partition_yields_null(spark):
    from demv_spark.functions import metrics as M

    # g=0's truth labels are all 'A' (n_g == cnt_true for A) and 'B'
    # appears only as a prediction — both divisions must yield NULL,
    # not raise under ANSI mode
    rows = [(0, "A", "B"), (0, "A", "A"), (1, "A", "A"), (1, "B", "B")]
    df = spark.createDataFrame(rows, ["g", "yt", "yp"])
    out = M.average_odds_difference(df, F.col("g") == 1, "yt", "yp").collect()
    assert len(out) == 2  # classes A and B — no ArithmeticException


def test_weighted_suite_reweighing_zeroes_stat_parity(spark):
    from demv_spark.functions.metrics import weighted_fairness_suite
    from demv_spark.operators.balancer import reweighing

    # skewed (s, y); reweighing restores independence, so weighted
    # stat parity with pred == label must vanish
    rows = [(1, 1)] * 60 + [(1, 0)] * 10 + [(0, 1)] * 30 + [(0, 0)] * 100
    df = spark.createDataFrame(
        [(s, y, i) for i, (s, y) in enumerate(rows)], ["s", "y", "i"]
    )
    w = reweighing(df, ["s"], "y")
    out = weighted_fairness_suite(
        w.withColumn("y_true", F.col("y")).withColumn("y_pred", F.col("y")),
        F.col("s") == 1, F.col("y") == 1, F.col("y") == 1,
        "y_true", "y_pred", "weight",
    ).collect()[0]
    assert abs(out["stat_par"]) < 1e-6
    assert out["acc"] == pytest.approx(1.0)


def test_group_condition_conjunction(spark):
    from demv_spark.functions.metrics import group_condition

    df = spark.createDataFrame(
        [(0, 0), (0, 1), (1, 0), (1, 1)], ["sex", "race"]
    )
    got = df.filter(group_condition({"sex": 0, "race": 0})).collect()
    assert [(r["sex"], r["race"]) for r in got] == [(0, 0)]
    with pytest.raises(ValueError):
        group_condition({})


# ---- threshold-free metrics ----


def _auc_bruteforce(pairs):
    """(score, label) -> AUC by concordant-pair counting (ties 0.5)."""
    pos = [s for s, y in pairs if y == 1]
    neg = [s for s, y in pairs if y == 0]
    num = 0.0
    for p in pos:
        for n in neg:
            num += 1.0 if p > n else (0.5 if p == n else 0.0)
    return num / (len(pos) * len(neg))


def test_auc_exact_matches_bruteforce_with_ties(spark):
    import random

    from demv_spark.functions.metrics import auc_exact

    rng = random.Random(7)
    pairs = [
        (rng.choice([0.1, 0.25, 0.25, 0.5, 0.7, 0.9]), rng.randint(0, 1))
        for _ in range(300)
    ]
    df = spark.createDataFrame(pairs, ["score", "y"])
    r = auc_exact(df, "score", "y").collect()[0]
    auc = (r["s2"] / 2 - r["n_pos"] * (r["n_pos"] + 1) / 2) / (
        r["n_pos"] * r["n_neg"]
    )
    assert auc == pytest.approx(_auc_bruteforce(pairs), abs=1e-12)
    # perfect separation → 1.0
    perfect = spark.createDataFrame(
        [(float(i), 1 if i >= 50 else 0) for i in range(100)], ["score", "y"]
    )
    r = auc_exact(perfect, "score", "y").collect()[0]
    assert (r["s2"] / 2 - r["n_pos"] * (r["n_pos"] + 1) / 2) == r["n_pos"] * r["n_neg"]


def test_auc_exact_deterministic_under_repartition(spark):
    import random

    from demv_spark.functions.metrics import auc_exact

    rng = random.Random(3)
    pairs = [(rng.random(), rng.randint(0, 1)) for _ in range(500)]
    df = spark.createDataFrame(pairs, ["score", "y"])
    a = auc_exact(df, "score", "y").collect()[0]
    b = auc_exact(df.repartition(13), "score", "y").collect()[0]
    assert tuple(a) == tuple(b)


def test_calibration_census_bins_and_counts(spark):
    from demv_spark.functions.metrics import calibration_census

    rows = [(0.05, 0), (0.05, 1), (0.55, 1), (0.95, 1), (1.0, 1)]
    df = spark.createDataFrame(rows, ["p", "y"])
    got = {r["bin"]: (r["n"], r["n_pos"], r["sum_p6"]) for r in
           calibration_census(df, "p", "y", n_bins=10).collect()}
    assert got[0] == (2, 1, 100000)       # two 0.05s
    assert got[5] == (1, 1, 550000)
    assert got[9] == (2, 2, 950000 + 1000000)  # p=1.0 clamps into bin 9


def test_auc_exact_per_group_matches_separate_runs(spark):
    import random

    from demv_spark.functions.metrics import auc_exact

    rng = random.Random(21)
    rows = [(rng.choice(["a", "b"]), rng.random(), rng.randint(0, 1)) for _ in range(400)]
    df = spark.createDataFrame(rows, ["g", "score", "y"])
    grouped = {r["g"]: (r["s2"], r["n_pos"], r["n_neg"])
               for r in auc_exact(df, "score", "y", group_cols=["g"]).collect()}
    for g in ("a", "b"):
        solo = auc_exact(df.filter(F.col("g") == g), "score", "y").collect()[0]
        assert grouped[g] == (solo["s2"], solo["n_pos"], solo["n_neg"])


def test_auc_exact_null_group_gets_its_own_row(spark):
    """ADVICE r4: the grouped census-offsets join must be NULL-safe so
    a NULL sensitive group still yields an AUC parity row."""
    from demv_spark.functions.metrics import auc_exact

    rows = [(float(i % 7), i % 2, None if i % 3 == 0 else "g") for i in range(60)]
    df = spark.createDataFrame(rows, ["score", "y", "g"])
    got = {r["g"]: (r["s2"], r["n_pos"], r["n_neg"])
           for r in auc_exact(df, "score", "y", group_cols=["g"]).collect()}
    assert set(got) == {None, "g"}
    # the NULL-group row must equal a standalone run on that partition
    solo = auc_exact(df.filter(F.col("g").isNull()), "score", "y").collect()[0]
    assert got[None] == (solo["s2"], solo["n_pos"], solo["n_neg"])


def test_calibration_census_clamps_out_of_range_probs(spark):
    """ADVICE r4: p<0 clamps into bin 0 and p>1 into the top bin —
    symmetric handling, no phantom negative bins."""
    from demv_spark.functions.metrics import calibration_census

    df = spark.createDataFrame(
        [(-0.5, 1), (-0.01, 0), (0.05, 1), (0.95, 0), (1.5, 1)], ["p", "y"]
    )
    got = {r["bin"]: r["n"] for r in
           calibration_census(df, "p", "y", n_bins=10).collect()}
    assert got == {0: 3, 9: 2}
    assert all(b >= 0 for b in got)


def test_ks_statistic_hand_cases(spark):
    import pyspark.sql.functions as F

    from demv_spark.functions.metrics import ks_statistic

    # perfect separation → D = 1
    df = spark.createDataFrame(
        [(1.0, 0), (2.0, 0), (3.0, 1), (4.0, 1)], "s double, y int"
    )
    r = ks_statistic(df, "s", "y").collect()[0]
    assert (r["d_num"], r["n_pos"], r["n_neg"], r["ks_fx"]) == (4, 2, 2, 1_000_000)
    # ties + overlap: pos {1,3}, neg {1,2} → D = 0.5 at t=2
    df2 = spark.createDataFrame(
        [(1.0, 1), (3.0, 1), (1.0, 0), (2.0, 0)], "s double, y int"
    )
    r2 = ks_statistic(df2, "s", "y").collect()[0]
    assert (r2["d_num"], r2["ks_fx"]) == (2, 500_000)
    # NULL scores excluded, NULL labels count as negative
    df3 = spark.createDataFrame(
        [(None, 1), (1.0, None), (2.0, 1)], "s double, y int"
    )
    r3 = ks_statistic(df3, "s", "y").collect()[0]
    assert (r3["n_pos"], r3["n_neg"], r3["ks_fx"]) == (1, 1, 1_000_000)


def test_cohens_kappa_hand_case(spark):
    from demv_spark.functions.metrics import cohens_kappa

    df = spark.createDataFrame(
        [("x", "x"), ("x", "y"), ("y", "y"), ("y", "y"), (None, None)],
        "a string, b string",
    )
    r = cohens_kappa(df, "a", "b").collect()[0]
    # N=5, agree=4 (NULL==NULL is the diagonal), marginals A{x:2,y:2,∅:1}
    # B{x:1,y:3,∅:1} → chance=2+6+1=9 → num=20−9=11, den=25−9=16
    assert tuple(r) == (11, 16, 5, 4)
