"""Balancer invariants per SURVEY.md §5.1:
- target sizes reproduce the reference loop's exact integer dynamics
  (brute-force simulated here as the test oracle);
- post-balance, every converged group satisfies
  round(w_exp/w_obs, round_level) == 1 with w_exp frozen on ORIGINAL N
  (demv/helpers.py:53);
- only whole-row duplicates/deletions; schema preserved; deterministic
  under a fixed seed.
"""

import random

import pyspark.sql.functions as F

import pytest

from demv_spark.operators.balancer import DEMV, _simulate_target, group_targets


def _reference_loop(n0, total, w_exp, round_level, stop):
    """Direct transcription of the loop dynamics at helpers.py:13-26
    as a pure-integer test oracle (no dataframes)."""
    if n0 == 0:
        return n0, 0
    n, i = n0, 0
    w_obs = n / total
    disp = round(w_exp / w_obs, round_level) if round_level else w_exp / w_obs
    while disp != 1 and i != stop and w_obs != 0:
        ratio = w_exp / w_obs
        if ratio > 1:
            n += 1
        elif ratio < 1:
            n -= 1
        w_obs = n / total
        if w_obs == 0:
            return n, i
        disp = round(w_exp / w_obs, round_level) if round_level else w_exp / w_obs
        i += 1
    return n, i


@pytest.mark.parametrize("round_level", [1, 2, None])
def test_simulate_target_matches_reference_loop(round_level):
    rng = random.Random(7)
    for _ in range(300):
        total = rng.randint(50, 5000)
        n0 = rng.randint(1, total)
        w_exp = rng.uniform(0.0005, 0.4)
        stop = rng.choice([10, 100, 10000])
        exp = _reference_loop(n0, total, w_exp, round_level, stop)
        got = _simulate_target(n0, total, w_exp, round_level, stop)
        assert got == exp, (n0, total, w_exp, round_level, stop)


def test_simulate_target_large_delta_fast():
    # a 10M-row gap must not take 10M python steps (stop effectively ∞)
    n, iters = _simulate_target(10, 100_000_000, 0.1, 1, 10**9)
    assert n == pytest.approx(10_000_000, rel=0.06)
    assert iters == n - 10


def _fixture_df(spark, n=400, seed=5):
    rng = random.Random(seed)
    rows = [
        (
            rng.random(),
            rng.random(),
            int(rng.random() < 0.25),
            int(rng.random() < 0.5),
            rng.choice([0, 1, 2]),
        )
        for _ in range(n)
    ]
    return spark.createDataFrame(rows, ["f1", "f2", "s1", "s2", "y"])


def _null_group_df(spark, n=600):
    """Every fifth row has a NULL sensitive value: a NULL group per
    label, 120 of the 600 rows."""
    rows = [
        (i, None if i % 5 == 0 else i % 2, int(i % 7 < 3)) for i in range(n)
    ]
    return spark.createDataFrame(rows, "i long, s int, y int")


def test_rebalance_exact_group_sizes(spark):
    df = _fixture_df(spark)
    d = DEMV(["s1", "s2"], label="y", round_level=1, seed=11)
    out = d.fit_transform(df)
    got = {
        (r["s1"], r["s2"], r["y"]): r["cnt"]
        for r in out.groupBy("s1", "s2", "y").count().withColumnRenamed("count", "cnt").collect()
    }
    for t in d._targets:
        key = (t["s1"], t["s2"], t["y"])
        assert got.get(key, 0) == t["target"], (key, t)


def test_rebalance_invariant_converged_disparity(spark):
    df = _fixture_df(spark)
    n_orig = df.count()
    d = DEMV(["s1", "s2"], label="y", round_level=1, stop=10000)
    d.fit(df)
    for t in d._targets:
        if t["iters"] < d.stop and t["target"] > 0:
            assert round(t["w_exp"] * n_orig / t["target"], 1) == 1.0


def test_rebalance_rows_are_whole_row_copies(spark):
    df = _fixture_df(spark, n=200)
    d = DEMV(["s1", "s2"], label="y", seed=3)
    out = d.fit_transform(df)
    assert out.columns == df.columns  # schema preserved
    src = set(map(tuple, df.collect()))
    for row in out.collect():
        assert tuple(row) in src


def test_rebalance_deterministic(spark):
    df = _fixture_df(spark, n=300)
    a = DEMV(["s1"], label="y", seed=9).fit_transform(df).collect()
    b = DEMV(["s1"], label="y", seed=9).fit_transform(df).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_skew_salt_same_group_sizes(spark):
    # the salted rank must keep NULL-keyed groups exactly like the
    # single-window rank does: every group hits its target
    for df, sens, salt in (
        (_fixture_df(spark, n=500), ["s1", "s2"], 8),
        (_null_group_df(spark), ["s"], 4),
    ):
        key = [*sens, "y"]
        plain_d = DEMV(sens, label="y", seed=4, skew_salt=None)
        plain = plain_d.fit_transform(df)
        salted = DEMV(sens, label="y", seed=4, skew_salt=salt).fit_transform(df)

        def sizes(out):
            return {
                tuple(r[k] for k in key): r["count"]
                for r in out.groupBy(*key).count().collect()
            }

        a, b = sizes(plain), sizes(salted)
        want = {tuple(t[k] for k in key): t["target"] for t in plain_d._targets}
        assert a == b == {k: v for k, v in want.items() if v > 0}
        assert salted.count() == sum(want.values())


def test_auto_salt_engages_on_skewed_census(spark, monkeypatch):
    from demv_spark.operators import balancer as bal
    from demv_spark.operators.balancer import resolve_auto_salt

    # decision function: below the cutoff -> unsalted; above -> enough
    # buckets that none exceeds the cutoff
    assert resolve_auto_salt([100, 200], 1000) is None
    assert resolve_auto_salt([5000, 10], 1000) == 5
    assert resolve_auto_salt([], 1000) is None

    # a lowered module cutoff, read at call time, sends DEMV down the
    # salted path on a skewed fixture; it still hits the exact targets
    monkeypatch.setattr(bal, "AUTO_SALT_GROUP_ROWS", 40)
    called = {}
    orig = bal.bucketed_rank

    def spy(df, keys, buckets, order):
        called["buckets"] = buckets
        return orig(df, keys, buckets, order)

    monkeypatch.setattr(bal, "bucketed_rank", spy)
    df = _fixture_df(spark, n=500)
    d = DEMV(["s1", "s2"], label="y", seed=4)
    d.fit(df)
    assert resolve_auto_salt([t["n"] for t in d._targets]) >= 2
    out = d.transform(df)
    got = {
        (r["s1"], r["s2"], r["y"]): r["count"]
        for r in out.groupBy("s1", "s2", "y").count().collect()
    }
    want = {
        tuple(t[k] for k in ("s1", "s2", "y")): t["target"] for t in d._targets
        if t["target"] > 0
    }
    assert got == want
    assert called["buckets"] == ["__salt"]


def test_get_iters_and_disparities(spark):
    df = _fixture_df(spark)
    d = DEMV(["s1", "s2"], label="y")
    assert d.get_iters() == 0 and d.get_disparities() == []
    d.fit_transform(df)
    assert d.get_iters() > 0
    assert len(d.get_disparities()) > 0


def test_group_targets_multivalued_sensitive(spark):
    # generalization beyond the reference's hardcoded binary domains
    rows = [(s, y) for s in (0, 1, 2) for y in (0, 1) for _ in range((s + 1) * 10 + y * 5)]
    df = spark.createDataFrame(rows, ["s", "y"])
    targets = group_targets(df, ["s"], "y", 1, 10000)
    assert len(targets) == 6


def test_rebalance_null_sensitive_keys(spark):
    # NULL-keyed groups must be resampled, not silently dropped
    rows = ([(0, 0)] * 20 + [(1, 0)] * 5 + [(None, 0)] * 8
            + [(0, 1)] * 15 + [(1, 1)] * 10 + [(None, 1)] * 3)
    df = spark.createDataFrame(rows, "s int, y int")
    d = DEMV(["s"], label="y", seed=2)
    out = d.fit_transform(df)
    got = {(r["s"], r["y"]): r["count"] for r in out.groupBy("s", "y").count().collect()}
    for t in d._targets:
        assert got.get((t["s"], t["y"]), 0) == t["target"], t
    assert any(k[0] is None for k in got)


def test_fit_from_merged_census_matches_direct_fit(spark):
    from demv_spark.functions.counting import group_census, merge_census

    rows = [(i % 2, 1 if i % 5 < 3 else 0, float(i)) for i in range(400)]
    df = spark.createDataFrame(rows, ["s", "y", "x"])

    direct = DEMV(["s"], label="y", seed=1).fit(df)

    shard_a = group_census(df.filter(F.col("x") < 200), ["s", "y"])
    shard_b = group_census(df.filter(F.col("x") >= 200), ["s", "y"])
    merged = merge_census([shard_a, shard_b], ["s", "y"])
    incr = DEMV(["s"], label="y", seed=1).fit_from_census(merged)

    key = lambda t: (t["s"], t["y"])
    assert sorted(direct._targets, key=key) == sorted(incr._targets, key=key)
    assert direct.get_iters() == incr.get_iters()

    # transform driven by the incremental fit hits the same sizes
    out = incr.transform(df)
    got = {(r["s"], r["y"]): r["n"] for r in out.groupBy("s", "y").agg(F.count(F.lit(1)).alias("n")).collect()}
    want = {(t["s"], t["y"]): t["target"] for t in incr._targets}
    assert got == want


def test_reweighing_restores_independence(spark):
    from demv_spark.operators.balancer import reweighing

    # skewed (s, y): s=1 overwhelmingly y=1
    rows = (
        [(1, 1)] * 60 + [(1, 0)] * 10 + [(0, 1)] * 30 + [(0, 0)] * 100
    )
    df = spark.createDataFrame([(s, y, i) for i, (s, y) in enumerate(rows)], ["s", "y", "i"])
    out = reweighing(df, ["s"], "y")
    assert out.count() == 200
    # weighted group mass = expected mass under independence:
    # sum_w(s,y) = n * w = n_s * n_y / N
    got = {
        (r["s"], r["y"]): r["m"]
        for r in out.groupBy("s", "y").agg(F.sum("weight").alias("m")).collect()
    }
    n_s = {1: 70, 0: 130}
    n_y = {1: 90, 0: 110}
    for (s, y), m in got.items():
        assert abs(m - n_s[s] * n_y[y] / 200) < 1e-9


def test_reweighing_null_sensitive_key(spark):
    from demv_spark.operators.balancer import reweighing

    rows = [(None, 1, 1), (None, 0, 2), (1, 1, 3), (1, 0, 4), (0, 1, 5)]
    df = spark.createDataFrame(rows, "s int, y int, i int")
    out = reweighing(df, ["s"], "y")
    # null-safe join: NULL-keyed rows keep their weights, none dropped
    assert out.count() == 5
    assert out.filter(F.col("weight").isNull()).count() == 0


def test_merge_census_deletion_path(spark):
    from demv_spark.functions.counting import group_census, merge_census

    df = spark.createDataFrame([(1, 1)] * 10 + [(0, 1)] * 5, ["s", "y"])
    full = group_census(df, ["s", "y"])
    # delete the (0,1) shard by merging its negated census
    neg = group_census(df.filter("s = 0"), ["s", "y"]).withColumn(
        "n", -F.col("n")
    )
    merged = {(r["s"], r["y"]): r["n"] for r in merge_census([full, neg], ["s", "y"]).collect()}
    assert merged == {(1, 1): 10, (0, 1): 0}


def test_fit_from_census_with_zero_count_groups(spark):
    from demv_spark.functions.counting import group_census, merge_census

    df = spark.createDataFrame([(1, 1)] * 10 + [(0, 1)] * 5, ["s", "y"])
    full = group_census(df, ["s", "y"])
    neg = group_census(df.filter("s = 0"), ["s", "y"]).withColumn("n", -F.col("n"))
    merged = merge_census([full, neg], ["s", "y"])  # contains an n=0 row
    d = DEMV(["s"], label="y").fit_from_census(merged)  # must not crash
    assert all(t["n"] > 0 for t in d._targets)


def test_demv_lsh_id_cols_routes_to_scale_path(spark):
    """DEMV(strategy=..., lsh_id_cols=[...]) reaches the no-UDF LSH
    synthesis from the flagship API: censuses hit the same fixed-point
    targets as the exact path, the plan has no Python UDF, and the
    output equals the direct synthetic_rebalance_lsh call."""
    import pyspark.sql.functions as F

    from demv_spark.operators.balancer import DEMV
    from demv_spark.operators.strategies import synthetic_rebalance_lsh
    from demv_spark.plans.introspect import plan_stats
    from demv_spark.sources.generator import make_classification

    df = make_classification(
        spark, 400, n_features=3, n_classes=2, n_sensitive=1, seed=5
    ).withColumn("rid", F.xxhash64("f0", "f1", "f2")).cache()

    for strat in ("smote", "adasyn"):
        est = DEMV(["s0"], label="y", round_level=1, strategy=strat,
                   seed=11, lsh_id_cols=["rid"]).fit(df)
        out = est.transform(df)
        assert not plan_stats(out)["has_python_udf"]
        got = {(r["s0"], r["y"]): r["count"]
               for r in out.groupBy("s0", "y").count().collect()}
        want = {(t["s0"], t["y"]): t["target"] for t in est._targets}
        assert got == want
        direct = synthetic_rebalance_lsh(
            df, ["s0"], "y", est._targets, id_cols=["rid"],
            strategy=strat, seed=11)
        assert sorted(map(tuple, out.collect())) == sorted(
            map(tuple, direct.collect()))

    import pytest as _pytest
    with _pytest.raises(ValueError, match="lsh_id_cols"):
        DEMV(["s0"], strategy="uniform", lsh_id_cols=["rid"])
