"""Exponentiated-gradient reduction — SURVEY.md §2.6 E8.

The reference's ``eg`` / ``grid`` methods wrap the classifier in
fairlearn's ``ExponentiatedGradient`` with a
``BoundedGroupLoss(ZeroOneLoss(), upper_bound=0.1)`` constraint
(replication_package/src/generatemetrics.py:101-131): every
sensitive group's expected zero-one loss must stay under the bound,
enforced by a Lagrangian game — a λ multiplier per group prices
constraint violation, the learner best-responds to λ-reweighted
examples, λ updates multiplicatively on the violation.

Spark-native re-expression (no fairlearn, no resampling):

- the per-example weight has the closed form ``w_i = 1 + λ_g/p_g``
  for example *i* in group *g* (coefficient of loss_i in the
  Lagrangian, normalized by 1/N) — a COLUMN built by broadcast-
  joining the tiny per-group λ map, feeding MLlib's ``weightCol``;
- the λ update uses the first-order multiplicative-weights twin of
  the exponentiated update, ``λ ← λ·max(0, 1 + η·(loss_g − B))``
  instead of ``λ·exp(η·…)`` — same fixed points (violation 0 ⇒ λ
  unchanged), same ascent direction, but engine-exact arithmetic:
  no libm ``exp``, so the dynamics reproduce bit-for-bit in any
  IEEE-754 SQL engine (the oracle re-derives the full trajectory in
  DuckDB with a recursive CTE);
- prediction is the deterministic uniform-ensemble majority over the
  T best responses (fairlearn returns a randomized classifier; the
  majority vote is its derandomized twin, and determinism is the
  engine's contract).

``eg_bounded_loss_dynamics`` is the SQL-checkable core: the same
game with the smallest non-trivial hypothesis class (global constant
predictions), whose best response is computable from the (s, y)
census alone — the driver-oracle query for the weight dynamics.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence
from contextlib import contextmanager

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, StructField, StructType

from demv_spark.session import local_table


def _sy_census(
    df: DataFrame, sensitive: str, label: str, caller: str
) -> tuple[list[list[int]], tuple[float, float]]:
    """The (s, y) census of binary ``sensitive`` and ``label`` in one
    Spark aggregate: cell counts n[s][y] and each group's row share
    p[s]."""
    cells = {
        (r["s"], r["y"]): r["n"]
        for r in df.select(
            F.col(sensitive).cast("int").alias("s"),
            F.col(label).cast("int").alias("y"),
        )
        .groupBy("s", "y")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n = [[cells.get((s, y), 0) for y in (0, 1)] for s in (0, 1)]
    n0, n1 = sum(n[0]), sum(n[1])
    if n0 == 0 or n1 == 0:
        raise ValueError(f"{caller} needs both sensitive groups")
    total = n0 + n1
    return n, (n0 / total, n1 / total)


def _constant_response(
    n: list[list[int]], p: tuple[float, float], lam0: float, lam1: float
) -> tuple[int, float, float]:
    """Best response to the λ-weighted examples (w = 1 + λ_s/p_s)
    among constant predictions: the c maximizing Σ w_i·1[y_i = c],
    ties to 1 (mirrored as >=). Returns (c, loss0, loss1), each
    group's zero-one loss under c."""
    w0, w1 = 1 + lam0 / p[0], 1 + lam1 / p[1]
    v1 = w0 * n[0][1] + w1 * n[1][1]
    v0 = w0 * n[0][0] + w1 * n[1][0]
    c = 1 if v1 >= v0 else 0
    return c, n[0][1 - c] / sum(n[0]), n[1][1 - c] / sum(n[1])


def eg_bounded_loss_dynamics(
    df: DataFrame,
    sensitive: str,
    label: str,
    bound: float = 0.1,
    eta: float = 1.0,
    iters: int = 8,
) -> DataFrame:
    """EG weight dynamics over the (s, y) census with the constant-
    prediction best response. Returns one row per iteration:
    (t, c, loss0, loss1, lam0, lam1) where c is the round's best
    response, loss_g the group zero-one losses under c, lam_g the λ
    BEFORE the round's update. Requires binary s and y in {0, 1}.

    One Spark aggregate (the census); the walk itself is census-scale
    driver arithmetic, the same shape as the DEMV fixed-point fit.
    Every operation is +, ·, /, max — mirrored textually in the
    DuckDB oracle so the doubles match bit-for-bit.
    """
    n, p = _sy_census(df, sensitive, label, "eg_bounded_loss_dynamics")
    lam0 = lam1 = 1.0
    rows = []
    for t in range(iters):
        c, loss0, loss1 = _constant_response(n, p, lam0, lam1)
        rows.append((t, c, loss0, loss1, lam0, lam1))
        lam0 = lam0 * max(0.0, 1 + eta * (loss0 - bound))
        lam1 = lam1 * max(0.0, 1 + eta * (loss1 - bound))
    return local_table(
        df.sparkSession,
        rows,
        "t int, c int, loss0 double, loss1 double, lam0 double, lam1 double",
    )


@contextmanager
def _weighted_fits(
    df: DataFrame,
    feature_cols: Sequence[str],
    sensitive: Sequence[str],
    label: str,
    classifier_factory: Callable[[], object],
) -> Iterator[tuple[dict, Callable[[dict], tuple]]]:
    """The best-response step both reductions share. Yields (probs,
    fit): ``probs`` maps each sensitive-value tuple g to its row share
    p_g, and ``fit(lams)`` fits the classifier pipeline on weights
    w = 1 + λ_g/p_g (a broadcast-joined λ map, built on the driver as
    an Arrow local relation, feeding MLlib ``weightCol``, no
    resampling) and returns (model, {g: (wrong, n)}), its per-group
    census over the training rows. Every fit and census reads an
    owned copy of ``df``, released on every exit path, so the release
    cannot evict a table the caller cached."""
    from demv_spark.ml.evaluation import _owned_checkpoint, _pipeline

    df, release = _owned_checkpoint(df)
    try:
        census = df.groupBy(*sensitive).agg(F.count(F.lit(1)).alias("n")).collect()
        total = sum(r["n"] for r in census)
        probs = {tuple(r[k] for k in sensitive): r["n"] / total for r in census}
        wmap_schema = StructType(
            [StructField(k, df.schema[k].dataType) for k in sensitive]
            + [StructField("__eg_w", DoubleType())]
        )

        def fit(lams: dict) -> tuple:
            wmap = local_table(
                df.sparkSession,
                [(*g, 1 + lams[g] / p) for g, p in probs.items()],
                wmap_schema,
            )
            clf = classifier_factory()
            if hasattr(clf, "setWeightCol"):
                clf = clf.setWeightCol("__eg_w")
            model = _pipeline(feature_cols, label, clf).fit(
                df.join(F.broadcast(wmap), list(sensitive))
            )
            wrong = (F.col("prediction") != F.col(label)).cast("int")
            stats = {
                tuple(r[k] for k in sensitive): (r["wrong"], r["n"])
                for r in model.transform(df)
                .groupBy(*sensitive)
                .agg(F.sum(wrong).alias("wrong"), F.count(F.lit(1)).alias("n"))
                .collect()
            }
            return model, stats

        yield probs, fit
    finally:
        release()


class ExponentiatedGradientBGL:
    """EG reduction with a bounded-group-loss (zero-one) constraint
    over any MLlib classifier that accepts ``weightCol`` — the
    engine-native stand-in for the reference's fairlearn
    ``ExponentiatedGradient(pipeline, BoundedGroupLoss(ZeroOneLoss(),
    0.1))`` (generatemetrics.py:101-113).

    Per iteration: build the weight column from the per-group λ map
    (broadcast join, no resampling), fit the classifier pipeline,
    measure per-group zero-one loss on the training table (one fused
    aggregate), update λ multiplicatively on the violations. T
    classifier fits total; every data-sized operation is a plain
    DataFrame plan.

    Parameters mirror fairlearn where meaningful: ``bound`` is the
    group-loss upper bound B, ``eta`` the multiplier learning rate,
    ``iters`` the number of best responses (fairlearn's max_iter).
    """

    def __init__(
        self,
        classifier_factory: Callable[[], object],
        sensitive: Sequence[str],
        label: str,
        bound: float = 0.1,
        eta: float = 1.0,
        iters: int = 5,
        seed: int = 2,
    ):
        self.classifier_factory = classifier_factory
        self.sensitive = list(sensitive)
        self.label = label
        self.bound = bound
        self.eta = eta
        self.iters = iters
        self.seed = seed
        self.models_: list = []
        self.trajectory_: list[dict] = []

    def fit(self, df: DataFrame, feature_cols: Sequence[str]) -> "ExponentiatedGradientBGL":
        self.models_ = []
        self.trajectory_ = []
        with _weighted_fits(
            df, feature_cols, self.sensitive, self.label, self.classifier_factory
        ) as (probs, best_response):
            lams = {g: 1.0 for g in probs}
            for t in range(self.iters):
                model, stats = best_response(lams)
                self.models_.append(model)
                losses = {g: w / n for g, (w, n) in stats.items()}
                self.trajectory_.append({"t": t, "lams": dict(lams), "losses": losses})
                lams = {
                    g: lam * max(0.0, 1 + self.eta * (losses[g] - self.bound))
                    for g, lam in lams.items()
                }
        return self

    def predict(self, df: DataFrame, out: str = "prediction") -> DataFrame:
        """Deterministic uniform-ensemble majority over the T best
        responses; ties predict 1 (the positive class)."""
        if not self.models_:
            raise ValueError("fit first")
        # chain transforms on one plan (no joins): each model's
        # prediction is captured as __p{i}, its scratch columns pruned
        base_cols = df.columns
        cur = df
        for i, model in enumerate(self.models_):
            cur = model.transform(cur).select(
                *base_cols,
                *[f"__p{j}" for j in range(i)],
                F.col("prediction").alias(f"__p{i}"),
            )
        votes = sum(F.col(f"__p{i}") for i in range(len(self.models_)))
        return cur.withColumn(
            out, (votes * 2 >= F.lit(len(self.models_))).cast("int")
        ).drop(*[f"__p{i}" for i in range(len(self.models_))])

    def max_group_loss(self) -> float:
        """Largest per-group loss at the last iteration — the
        constraint the reduction is bounding."""
        return max(self.trajectory_[-1]["losses"].values())


def grid_bounded_loss_census(
    df: DataFrame,
    sensitive: str,
    label: str,
    bound: float = 0.1,
    grid_size: int = 5,
    lambda_max: float = 2.0,
) -> DataFrame:
    """GridSearch weight sweep over the (s, y) census with the
    constant-prediction best response — the λ-grid twin of
    ``eg_bounded_loss_dynamics`` (reference: fairlearn GridSearch with
    BoundedGroupLoss, generatemetrics.py:120-123). One row per grid
    point: (g, lam0, lam1, c, loss0, loss1, err, feasible, selected).

    Selection is deterministic: among feasible points (max group loss
    ≤ bound) the lowest overall error wins, ties to the lowest grid
    index; with no feasible point, the smallest max group loss wins.
    Every op is +, ·, /, max and comparisons — mirrored textually in
    the DuckDB oracle (a generate_series cross grid + window argmin).
    """
    n, p = _sy_census(df, sensitive, label, "grid_bounded_loss_census")
    total = sum(n[0]) + sum(n[1])
    step = lambda_max / (grid_size - 1)
    rows = []
    for g in range(grid_size * grid_size):
        i0, i1 = g // grid_size, g % grid_size
        lam0, lam1 = i0 * step, i1 * step
        c, loss0, loss1 = _constant_response(n, p, lam0, lam1)
        err = (n[0][1 - c] + n[1][1 - c]) / total
        feasible = max(loss0, loss1) <= bound
        rows.append((g, lam0, lam1, c, loss0, loss1, err, feasible))

    feas = [r for r in rows if r[7]]
    if feas:
        best = min(feas, key=lambda r: (r[6], r[0]))[0]
    else:
        best = min(rows, key=lambda r: (max(r[4], r[5]), r[0]))[0]
    out = [r + (r[0] == best,) for r in rows]
    return local_table(
        df.sparkSession,
        out,
        "g int, lam0 double, lam1 double, c int, loss0 double, "
        "loss1 double, err double, feasible boolean, selected boolean",
    )


class GridSearchBGL:
    """Grid-search reduction with a bounded-group-loss (zero-one)
    constraint — the engine-native stand-in for the reference's
    fairlearn ``GridSearch(pipeline, BoundedGroupLoss(ZeroOneLoss(),
    0.1))`` (generatemetrics.py:120-123). Same weight machinery as
    ``ExponentiatedGradientBGL`` (w = 1 + λ_g/p_g via broadcast join,
    MLlib ``weightCol``), but the λ vectors come from a fixed cartesian
    ladder instead of adaptive multiplicative updates, and ONE fitted
    model is selected instead of an ensemble.

    Selection rule (deterministic, documented divergence from
    fairlearn's Lagrangian tradeoff pick): lowest training error among
    grid points whose max per-group training loss meets the bound;
    if none qualifies, the smallest max group loss.
    """

    def __init__(
        self,
        classifier_factory: Callable[[], object],
        sensitive: Sequence[str],
        label: str,
        bound: float = 0.1,
        grid_size: int = 5,
        lambda_max: float = 2.0,
        seed: int = 2,
    ):
        self.classifier_factory = classifier_factory
        self.sensitive = list(sensitive)
        self.label = label
        self.bound = bound
        self.grid_size = grid_size
        self.lambda_max = lambda_max
        self.seed = seed
        self.models_: list = []
        self.grid_: list[dict] = []
        self.best_idx_: int | None = None

    def _lambda_grid(self, groups: list[tuple]) -> list[dict]:
        if self.grid_size ** len(groups) > 10_000 or len(groups) > 4:
            raise ValueError(
                "cartesian λ grid explodes beyond 4 groups; pass fewer "
                "sensitive groups or use ExponentiatedGradientBGL"
            )
        step = self.lambda_max / (self.grid_size - 1)
        grids: list[dict] = [{}]
        for g in groups:
            grids = [
                {**base, g: i * step}
                for base in grids
                for i in range(self.grid_size)
            ]
        return grids

    def fit(self, df: DataFrame, feature_cols: Sequence[str]) -> "GridSearchBGL":
        self.models_ = []
        self.grid_ = []
        with _weighted_fits(
            df, feature_cols, self.sensitive, self.label, self.classifier_factory
        ) as (probs, best_response):
            for idx, lams in enumerate(self._lambda_grid(list(probs))):
                model, stats = best_response(lams)
                self.models_.append(model)
                self.grid_.append(
                    {
                        "idx": idx,
                        "lams": dict(lams),
                        "losses": {g: w / n for g, (w, n) in stats.items()},
                        "err": sum(w for w, _ in stats.values())
                        / sum(n for _, n in stats.values()),
                    }
                )

        feasible = [
            r for r in self.grid_ if max(r["losses"].values()) <= self.bound
        ]
        pool = feasible or self.grid_
        key = (
            (lambda r: (r["err"], r["idx"]))
            if feasible
            else (lambda r: (max(r["losses"].values()), r["idx"]))
        )
        self.best_idx_ = min(pool, key=key)["idx"]
        return self

    def predict(self, df: DataFrame, out: str = "prediction") -> DataFrame:
        if self.best_idx_ is None:
            raise ValueError("fit first")
        pred = self.models_[self.best_idx_].transform(df)
        if out != "prediction":
            pred = pred.withColumnRenamed("prediction", out)
        return pred
