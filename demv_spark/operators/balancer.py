"""DEMV group-balancing resampler — SURVEY.md §2.5 (D1–D11).

The reference (demv/demv.py:8, demv/helpers.py:5-106) balances every
(sensitive-values × label) group by adding/removing ONE random row per
iteration until ``round(w_exp/w_obs, round_level) == 1``. That is an
O(Δn) pandas loop with quadratic copying, single-threaded.

Spark-first redesign (SURVEY.md §4):

1. **Census** — one ``groupBy(*sensitive, label).count()`` enumerates
   all groups in a single shuffle (replaces the 2^k recursive slicing
   of helpers.py:63-106). Marginals are re-aggregations of the tiny
   census — the base table is scanned once.
2. **Target sizes** — the reference loop's fixed point is computed
   arithmetically on the driver (|groups| integers, no data). We
   simulate the loop's integer dynamics exactly — including Python
   banker's rounding, the ``stop`` cap, and near-window oscillation —
   with an algebraic fast-forward over the monotone region, so
   ``get_iters()`` matches the reference for any Δn without O(Δn)
   work per row.
3. **Resample** — ONE pass over the data: broadcast-join the
   group→target map (an Arrow local relation built on the driver, so
   scanning it runs no Python-worker task), rank rows within each
   group by seeded ``rand``, keep/duplicate by closed form::

       base  = target div n,  extra = target mod n   (mod n of target)
       copies(row) = base + 1 if rank <= extra else base

   which covers under- (base=0) and over-sampling (base>=1) in a
   single ``explode(array_repeat(...))`` — whole-row duplicates only,
   exactly ``target`` output rows per group, deterministic given
   (seed, input partitioning).

Scale notes (100 TB): the only driver-side data is the census
(≤ Π|domains| rows). The ranking window partitions by the full group
key; once a group outgrows one ranking task (``AUTO_SALT_GROUP_ROWS``,
read by ``resolve_auto_salt`` at call time) the rank runs in two
phases through ``compat.bucketed_rank`` (random salt bucket + exact
per-salt offsets), so no single task owns a whole group. Every
per-group table — targets, weights, offsets — joins back through
``compat.null_safe_broadcast_join``: a NULL sensitive or label value
is a group like any other on both paths.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window
from pyspark.sql.types import LongType, StructField, StructType

from demv_spark.functions.compat import bucketed_rank, null_safe_broadcast_join
from demv_spark.functions.counting import group_weights
from demv_spark.session import local_table


def _simulate_target(
    n0: int, total: int, w_exp: float, round_level: int | None, stop: int
) -> tuple[int, int]:
    """Exact integer dynamics of the reference loop (helpers.py:13-26).

    Returns (target_size, iterations). One row is added/removed per
    iteration; ``disp = round(w_exp / (n/total), round_level)`` uses
    Python's round (banker's) exactly as the reference does. The
    monotone approach region is fast-forwarded algebraically; only the
    last few steps (and any near-window oscillation, bounded by
    ``stop``) are stepped.
    """
    if n0 == 0 or total == 0:
        return n0, 0

    def disp(n: int) -> float:
        d = w_exp / (n / total)
        return round(d, round_level) if round_level else d

    n, i = n0, 0
    center = w_exp * total  # ratio == 1 exactly at this (real) size
    # the rounded-disparity==1 window in n-space: ratio within 1 ± eps
    # ⟺ n within [center/(1+eps), center/(1-eps)]; jumps stop strictly
    # short of the near edge (±2 margin absorbs banker's-rounding ties)
    eps = 0.5 * 10 ** (-round_level) if round_level else 0.0
    low_edge = center / (1.0 + eps)
    high_edge = center / (1.0 - eps) if eps < 1.0 else float("inf")
    while disp(n) != 1 and i != stop:
        ratio = w_exp / (n / total)
        if ratio > 1:
            # fast-forward the monotone climb: stay safely below the
            # rounding window, never past the stop budget
            jump_to = min(int(low_edge) - 2, n + (stop - i) - 1)
            if jump_to > n + 8:
                i += jump_to - n
                n = jump_to
                continue
            n += 1
        elif ratio < 1:
            jump_to = max(int(high_edge) + 3, n - ((stop - i) - 1))
            if jump_to < n - 8:
                i += n - jump_to
                n = jump_to
                continue
            n -= 1
        else:  # ratio == 1 but rounded != 1 cannot happen; defensive
            break
        if n == 0:
            # group emptied: reference returns immediately, iteration
            # not counted (helpers.py:22-26 else-branch)
            return 0, i
        i += 1
    return n, i


def disparity_trajectory(
    n0: int, total: int, w_exp: float, round_level: int | None, stop: int
) -> list[float]:
    """D6 — the reference's full per-step disparity log
    (helpers.py:11-21: ``disparity = [disp]`` + one append per
    iteration). The engine eliminates the row-at-a-time loop, but the
    trajectory is pure arithmetic (one row changes per step), so it
    is reproducible exactly on demand without touching data."""
    if n0 == 0 or total == 0:
        return [0.0]

    def disp(n: int) -> float:
        d = w_exp / (n / total)
        return round(d, round_level) if round_level else d

    traj = [disp(n0)]
    n, i = n0, 0
    while traj[-1] != 1 and i != stop:
        ratio = w_exp / (n / total)
        if ratio > 1:
            n += 1
        elif ratio < 1:
            n -= 1
        else:
            break
        if n == 0:
            break
        traj.append(disp(n))
        i += 1
    return traj


def group_targets(
    df: DataFrame,
    sensitive: Sequence[str],
    label: str,
    round_level: int | None = 1,
    stop: int = 10000,
) -> list[dict]:
    """Census + per-group balanced target size (driver-side list).

    w_exp is the product of marginal frequencies FROZEN on the
    original table (helpers.py:53) — the loop only changes the group's
    own size, so the fixed point is computable up front.
    """
    keys = [*sensitive, label]
    census_rows = (
        df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n")).collect()
    )
    return targets_from_census(census_rows, sensitive, label, round_level, stop)


def targets_from_census(
    census_rows,
    sensitive: Sequence[str],
    label: str,
    round_level: int | None = 1,
    stop: int = 10000,
) -> list[dict]:
    """Target computation from a precomputed census — the incremental
    path: at 100 TB the census is maintained under appends with
    ``counting.merge_census`` (per-shard censuses sum exactly), so a
    re-fit after loading a shard touches |groups| rows, not the
    corpus. ``census_rows`` is any iterable of row-likes with the
    sensitive columns, the label column, and ``n``.
    """
    # drop empty groups: merge_census's deletion path (negated counts)
    # legitimately yields n == 0 rows, and a zero-size group needs no
    # target (the reference loop never sees an empty slice either —
    # helpers.py:8-9 skips them)
    census_rows = [r for r in census_rows if r["n"] != 0]
    total = sum(r["n"] for r in census_rows)
    sens_marginal: dict[tuple, int] = {}
    label_marginal: dict[object, int] = {}
    for r in census_rows:
        sk = tuple(r[s] for s in sensitive)
        sens_marginal[sk] = sens_marginal.get(sk, 0) + r["n"]
        label_marginal[r[label]] = label_marginal.get(r[label], 0) + r["n"]

    out = []
    for r in census_rows:
        sk = tuple(r[s] for s in sensitive)
        w_exp = (sens_marginal[sk] / total) * (label_marginal[r[label]] / total)
        w_obs = r["n"] / total
        target, iters = _simulate_target(r["n"], total, w_exp, round_level, stop)
        d0 = w_exp / w_obs
        out.append(
            {
                **{s: r[s] for s in sensitive},
                label: r[label],
                "n": r["n"],
                "n_total": total,
                "target": target,
                "iters": iters,
                "w_exp": w_exp,
                "w_obs": w_obs,
                "disparity": round(d0, round_level) if round_level else d0,
                "final_disparity": (
                    round(w_exp * total / target, round_level)
                    if round_level and target
                    else (w_exp * total / target if target else 0.0)
                ),
            }
        )
    return out


# ~rows a single ranking task should own before the two-phase salted
# rank takes over (a group-partitioned window sorts each group in ONE
# task; fairness groups are few-and-huge by construction, so at scale
# an unsalted rank serializes a whole demographic group)
AUTO_SALT_GROUP_ROWS = 4_000_000


def resolve_auto_salt(
    group_sizes: Sequence[int], group_rows: int | None = None
) -> int | None:
    """Salting decision from a group-size census: None while every
    group fits one ranking task, else enough buckets that no bucket
    exceeds ``group_rows`` (default: ``AUTO_SALT_GROUP_ROWS``, read
    at call time). The one place every ``"auto"`` skew setting is
    decided: DEMV, ``rebalance`` and the post-processors."""
    if group_rows is None:
        group_rows = AUTO_SALT_GROUP_ROWS
    biggest = max(group_sizes, default=0)
    if biggest <= group_rows:
        return None
    return -(-biggest // group_rows)  # ceil


def rebalance(
    df: DataFrame,
    sensitive: Sequence[str],
    label: str,
    targets: list[dict],
    seed: int = 42,
    skew_salt: int | str | None = "auto",
) -> DataFrame:
    """One-pass exact resample to per-group target sizes.

    Deterministic given (seed, input partitioning): rows are ranked by
    ``rand(seed)`` within each group; exactly ``target`` whole-row
    copies survive per group (D3/D4 closed form).

    ``skew_salt="auto"`` (default): decide from the census already in
    ``targets`` — groups are guaranteed-skewed in fairness workloads,
    so the salted path switches on by itself past
    ``AUTO_SALT_GROUP_ROWS``. ``skew_salt=None``: force the single
    window per group key (one task per group). ``skew_salt=k``:
    force the two-phase skew-safe global rank — rows are ranked
    within (salt, group) partitions and offset by exact per-salt
    prefix counts, so a giant group spreads over k tasks.
    """
    keys = [*sensitive, label]
    if skew_salt == "auto":
        skew_salt = resolve_auto_salt([t["n"] for t in targets])
    joined = _join_targets(df, keys, targets)

    if skew_salt:
        # salt bucket per row, then the exact two-phase rank: a giant
        # group spreads over ``skew_salt`` ranking tasks
        salted = joined.withColumn(
            "__salt", (F.rand(seed + 1) * skew_salt).cast("int")
        )
        rn = bucketed_rank(salted, keys, ["__salt"], [F.rand(seed)])
    else:
        w = Window.partitionBy(*keys).orderBy(F.rand(seed))
        rn = joined.withColumn("__rn", F.row_number().over(w))

    base = F.floor(F.col("__target") / F.col("__n"))
    extra = F.col("__target") % F.col("__n")
    copies = (base + F.when(F.col("__rn") <= extra, 1).otherwise(0)).cast("int")
    exploded = (
        rn.withColumn("__copies", copies)
        .withColumn("__dup", F.explode(F.array_repeat(F.lit(1), F.col("__copies"))))
    )
    # the key join reorders columns — restore the input schema order
    return exploded.select(*df.columns)


def _join_targets(df: DataFrame, keys: list[str], targets: list[dict]) -> DataFrame:
    """Broadcast-join the tiny group→(n, target) map onto the data with
    NULL-SAFE key equality: the census enumerates NULL-keyed groups
    (groupBy treats NULL as a value), so a plain equi-join would
    silently drop every row whose sensitive/label key is NULL.

    The map is an Arrow local relation (``session.local_table``) typed
    from ``df.schema`` for its keys and ``long`` for ``__n``/
    ``__target``, so broadcasting it runs no Python-worker task."""
    schema = StructType(
        [StructField(k, df.schema[k].dataType) for k in keys]
        + [StructField("__n", LongType()), StructField("__target", LongType())]
    )
    tgt = local_table(
        df.sparkSession,
        [(*(t[k] for k in keys), t["n"], t["target"]) for t in targets],
        schema,
    )
    return null_safe_broadcast_join(df, tgt, keys, carry=["__n", "__target"])


class DEMV:
    """Debiaser for Multiple Variables — Spark-native re-implementation.

    API mirrors the reference estimator (demv/demv.py:8-131) adapted
    to the Spark convention: the label is a named column of the
    DataFrame (no separate y vector), and ``fit_transform`` returns a
    DataFrame.

    The replication scripts' extended API (generatemetrics.py:133,
    utils.py:218) adds ``strategy ∈ {uniform, smote, adasyn}`` —
    ``uniform`` is the shipped random duplicate/delete; smote/adasyn
    synthesize interpolated rows (see strategies.py).

    Parameters
    ----------
    sensitive_vars : list[str]
        Sensitive column names (any cardinality — the reference
        hardcodes binary {0,1}, helpers.py:74,85; we generalize).
    label : str
        Label column name (reference fixes "y", demv.py:41).
    round_level : int | None
        Disparity rounding tolerance (demv.py:22, default 1).
    stop : int
        Max balancing iterations per group (demv.py:22, default 10000).
    strategy : str
        'uniform' | 'smote' | 'adasyn'.
    seed : int
        Sampling seed (determinism contract: same seed + same input
        partitioning → identical output).
    shuffle_output : bool
        Reference shuffles the final concat (helpers.py:98,
        sample(frac=1, random_state=2)); row order is meaningless to
        any downstream Spark op and a global sort is the dominant cost
        at scale, so default False.
    skew_salt : int | str | None
        ``"auto"`` (default): choose salting from the census — when
        the largest group exceeds ~4M rows (too big for one ranking
        task), rank within that many salt buckets instead. An int
        forces that many buckets; None forces the single-window path.
    lsh_id_cols : Sequence[str] | None
        When set (smote/adasyn only), synthesis routes through the
        no-UDF LSH scale path (strategies.synthetic_rebalance_lsh)
        keyed on these identity columns — the shape for groups too
        large for one executor's grouped applyInPandas worker.
    """

    def __init__(
        self,
        sensitive_vars: Sequence[str],
        label: str = "y",
        round_level: int | None = 1,
        stop: int = 10000,
        strategy: str = "uniform",
        seed: int = 42,
        shuffle_output: bool = False,
        skew_salt: int | str | None = "auto",
        verbose: bool = False,
        lsh_id_cols: "Sequence[str] | None" = None,
    ):
        if strategy not in ("uniform", "smote", "adasyn"):
            raise ValueError(f"unknown strategy: {strategy}")
        if lsh_id_cols is not None and strategy == "uniform":
            raise ValueError(
                "lsh_id_cols applies to smote/adasyn only: the uniform "
                "strategy has no synthesis step to scale out"
            )
        self.sensitive_vars = list(sensitive_vars)
        self.label = label
        self.round_level = round_level
        self.stop = stop
        self.strategy = strategy
        self.seed = seed
        self.shuffle_output = shuffle_output
        self.skew_salt = skew_salt
        self.debug = verbose
        self.lsh_id_cols = list(lsh_id_cols) if lsh_id_cols is not None else None
        self.iter = 0
        self.disparities: list[dict] = []

    def fit(self, df: DataFrame) -> "DEMV":
        self._targets = group_targets(
            df, self.sensitive_vars, self.label, self.round_level, self.stop
        )
        return self._finish_fit()

    def fit_from_census(self, census) -> "DEMV":
        """Fit from a precomputed (sensitive…, label, n) census — a
        DataFrame (e.g. the output of ``counting.merge_census``) or an
        iterable of row-likes. The incremental re-fit path: no corpus
        scan, only |groups| rows touched."""
        rows = census.collect() if isinstance(census, DataFrame) else census
        self._targets = targets_from_census(
            rows, self.sensitive_vars, self.label, self.round_level, self.stop
        )
        return self._finish_fit()

    def _finish_fit(self) -> "DEMV":
        self.disparities = [
            {k: t[k] for k in (*self.sensitive_vars, self.label,
                               "disparity", "final_disparity", "n", "target")}
            for t in self._targets
        ]
        self.iter = max((t["iters"] for t in self._targets), default=0)
        return self

    def transform(self, df: DataFrame) -> DataFrame:
        if self.strategy == "uniform":
            out = rebalance(
                df, self.sensitive_vars, self.label, self._targets,
                seed=self.seed, skew_salt=self.skew_salt,
            )
        elif self.lsh_id_cols is not None:
            # the NO-UDF scale path: a group never has to fit one
            # executor's applyInPandas worker (strategies.py
            # synthetic_rebalance_lsh — smote and adasyn flavors)
            from demv_spark.operators.strategies import synthetic_rebalance_lsh

            out = synthetic_rebalance_lsh(
                df, self.sensitive_vars, self.label, self._targets,
                id_cols=self.lsh_id_cols, strategy=self.strategy,
                seed=self.seed,
            )
        else:
            from demv_spark.operators.strategies import synthetic_rebalance

            out = synthetic_rebalance(
                df, self.sensitive_vars, self.label, self._targets,
                strategy=self.strategy, seed=self.seed,
            )
        if self.shuffle_output:
            # reference parity: helpers.py:98 sample(frac=1, random_state=2)
            out = out.orderBy(F.rand(2))
        return out

    def fit_transform(self, df: DataFrame) -> DataFrame:
        return self.fit(df).transform(df)

    def get_iters(self) -> int:
        """Max iterations over groups (demv.py:114-121 parity)."""
        return self.iter

    def get_disparities(self) -> list[dict]:
        """Per-group initial/final disparity report (demv.py:123-130).

        The reference returns the full one-step-at-a-time trajectory;
        it is an artifact of single-row sampling (monotone step of 1)
        and reproducible arithmetically — see get_trajectories()."""
        return self.disparities

    def get_trajectories(self) -> list[list[float]]:
        """Reference-parity full disparity trajectories (demv.py:108,
        helpers.py:11-21): one list of per-step rounded disparities per
        group, reconstructed arithmetically from the frozen census."""
        return [
            disparity_trajectory(
                t["n"], t["n_total"], t["w_exp"], self.round_level, self.stop
            )
            for t in self._targets
        ]


def reweighing(
    df: DataFrame,
    sensitive: Sequence[str],
    label: str,
    out: str = "weight",
) -> DataFrame:
    """Kamiran–Calders reweighing: the instance-weight alternative to
    resampling — every row gets w = (P(S=s)·P(y=l)) / P(S=s, y=l),
    i.e. the group's expected/observed frequency ratio, so a weighted
    learner sees a statistically independent (S, y) distribution. The
    classic pre-processing debiaser next to DEMV's resampling, and the
    engine-side hook for reduction methods (every MLlib classifier
    here takes ``weightCol``).

    Plan: the weight is ``w_exp / w_obs`` of ``counting.group_weights``
    (ONE census scan, marginals as window sums over the tiny census),
    broadcast-joined NULL-safely back onto the rows — the base table
    is scanned twice total (census + join), never shuffled on data
    rows.
    """
    keys = [*sensitive, label]
    weights = group_weights(df, sensitive, label, round_level=None).select(
        *keys, (F.col("w_exp") / F.col("w_obs")).alias(out)
    )
    return null_safe_broadcast_join(df, weights, keys, carry=[out])
