"""The two benchmark workloads.

Each workload owns its inputs (generated by ``gen`` from the seed), the
op it repeats in a closed loop with one client, the traced variant of
that op, and the check of every op's output against ``oracle``.

==========  ==============================================  ============
workload    one op                                          rows (1.0)
==========  ==============================================  ============
rebalance   DEMV uniform fit_transform → parquet, then      200 000
            DEMV smote fit_transform → Arrow                + 30 000
cv_debias   run_metrics(uniform, logistic, k=2) + report    30 000
==========  ==============================================  ============

Between them every engine module runs: ``sources`` (read and parquet
write), ``operators.balancer`` (both), ``operators.strategies`` (the
SMOTE half of ``rebalance``), ``functions.metrics`` and ``ml.evaluation``
(``cv_debias``). A run pays ≈ 7 s of JVM launch and a 20-35 s cold
warm-up op before its timed ops, so sizes are set for a run of about a
minute on 4 cores. The engine's ops in ``cv_debias`` are bound by
per-job overhead (≈ 200 ms a job), not rows.

In a traced op every call into an engine module runs inside a span
named after that module, and each span forces the work it stands for
(Spark plans are lazy): ``balancer.resample`` and ``strategies.synth``
checkpoint the debiased table, ``metrics.*`` collect their result, and
in ``cv_debias`` the harness's own calls are wrapped for the duration
of the op.
"""

from __future__ import annotations

import os
from contextlib import ExitStack, contextmanager, nullcontext

import gen
import oracle
from demv_spark import DEMV, cli
from demv_spark.functions import metrics as M
from demv_spark.ml import evaluation as E
from demv_spark.operators import balancer
from demv_spark.sources.readers import read_table
from demv_spark.sources.sinks import write_partitioned


class _NoTrace:
    def span(self, name):
        return nullcontext()


NO_TRACE = _NoTrace()


def _span(tr, name):
    return (tr or NO_TRACE).span(name)


class Workload:
    """Base: the input lives in ``data_dir`` as ``main.parquet``."""

    name = ""
    rows = 0
    folds = 0  # k of the k-fold harness, 0 where there is none
    # at least two: a traced run then has one traced and one untraced op
    min_timed_ops = 2

    def __init__(self, data_dir: str, seed: int, scale: float) -> None:
        self.data_dir = data_dir
        self.seed = seed
        self.scale = scale
        self.n = max(200, int(self.rows * scale))
        self.main = os.path.join(data_dir, "main.parquet")

    def relation(self) -> str:
        return f"read_parquet('{self.main}')"

    def generate(self) -> None:
        gen.write(self.table(self.n, self.seed), self.main)

    def table(self, n: int, seed: int):
        raise NotImplementedError

    def read(self, spark):
        return read_table(spark, self.data_dir, "main")

    def expect(self, con) -> None:
        """Compute the expected outputs once per run (no engine)."""

    def op(self, spark, i: int, tr=None):
        with _span(tr, "sources.read"):
            df = self.read(spark)
        return self.run(df, i, tr)

    def run(self, df, op: int, tr):
        raise NotImplementedError

    def check(self, con, i: int, result) -> list[str]:
        raise NotImplementedError


def _traced_demv(tr, d: DEMV, df):
    """``d.fit_transform(df)`` in spans: ``balancer.fit``, then the
    checkpointed transform as ``balancer.resample`` (uniform) or
    ``strategies.synth`` (synthesis). Notes the rows in, out and
    synthesised."""
    with tr.span("balancer.fit"):
        d.fit(df)
    groups = d.get_disparities()
    tr.note("balancer.rows_in", sum(g["n"] for g in groups))
    tr.note("balancer.rows_out", sum(g["target"] for g in groups))
    if d.strategy == "uniform":
        name = "balancer.resample"
    else:
        name = "strategies.synth"
        tr.note("strategies.synth_rows", sum(max(0, g["target"] - g["n"]) for g in groups))
    with tr.span(name):
        return d.transform(df).localCheckpoint(eager=True)


class Rebalance(Workload):
    """DEMV on two inputs an op: the uniform strategy on ``n_uniform``
    rows, written to parquet, then the SMOTE strategy on ``n_smote``
    rows, collected with Arrow so that every synthetic row is checked."""

    name = "rebalance"
    rows = 200_000
    smote_rows = 30_000
    # one op is 3-5 s and still speeding up after the warm-up op: a
    # fixed count (five fill more than the run's 12 s) keeps the median
    # from depending on how many ops fit
    min_timed_ops = 5

    def __init__(self, *a) -> None:
        super().__init__(*a)
        self.n_uniform = self.n
        self.n_smote = max(200, int(self.smote_rows * self.scale))
        self.n = self.n_uniform + self.n_smote  # input rows an op reads
        self.out = os.path.join(self.data_dir, "out")

    def generate(self) -> None:
        gen.write(gen.biased_table(self.n_uniform, self.seed), self.main)
        # no row id: SMOTE interpolates every numeric column
        self.smote_in = gen.biased_table(self.n_smote, self.seed + 1, rid=False)
        gen.write(self.smote_in, os.path.join(self.data_dir, "smote.parquet"))

    def expect(self, con) -> None:
        census = oracle.census_of(con, self.relation())
        self.targets = oracle.reference_targets(census, 1, self.n_uniform + 1)

    def op(self, spark, i, tr=None):
        with _span(tr, "sources.read"):
            df = self.read(spark)
            small = read_table(spark, self.data_dir, "smote")
        # stop above the row count: at the reference default (10 000)
        # a group changes by at most 10k rows and the op is a near-copy
        d = DEMV(list(gen.SENSITIVE), stop=self.n_uniform + 1, seed=i)
        out = d.fit_transform(df) if tr is None else _traced_demv(tr, d, df)
        with _span(tr, "sources.write"):
            write_partitioned(out, self.out, [])
        d = DEMV(list(gen.SENSITIVE), stop=self.n_smote + 1, seed=i, strategy="smote")
        synth = d.fit_transform(small) if tr is None else _traced_demv(tr, d, small)
        return self.out, synth.toArrow()

    def check(self, con, i, result):
        path, synth = result
        return oracle.check_resample(
            con, f"read_parquet('{path}/*.parquet')", self.relation(), self.targets
        ) + oracle.check_synthetic(con, synth, self.smote_in, self.n_smote + 1)


class CvDebias(Workload):
    """The paper's protocol: k-fold CV where DEMV (uniform) debiases
    each training split, a logistic regression is fitted, and the
    fairness suite is collected per fold. k=2 (the paper uses 10): one
    op is ≈ 60 Spark jobs and 10-17 s on 4 cores, so 10 folds do not
    fit a run; two timed ops always fill the run's 12 s."""

    name = "cv_debias"
    rows = 30_000
    folds = 2
    unpriv = {"s0": 0, "s1": 0}

    def table(self, n, seed):
        return gen.biased_table(n, seed, rid=False)

    def __init__(self, *a) -> None:
        super().__init__(*a)
        self.first = None  # the run's first correct per-fold table

    def run(self, df, op, tr):
        with ExitStack() as stack:
            if tr is not None:
                stack.enter_context(_instrument_harness(tr))
            per_fold = cli.run_metrics(
                df, "uniform", self.unpriv, "y", 1, classifier="logistic",
                k=self.folds, seed=self.seed,
            )
            rows = [r.asDict() for r in per_fold.collect()]
            report = cli.report(per_fold).collect()
        return rows, report

    def check(self, con, i, result):
        rows, report = result
        errors = oracle.check_cv(rows, self.folds, self.first)
        if len(report) != len(oracle.CV_METRICS):
            errors.append(f"report has {len(report)} rows, expected {len(oracle.CV_METRICS)}")
        if not errors and self.first is None:
            self.first = rows
        return errors


@contextmanager
def _instrument_harness(tr):
    """Wrap the k-fold harness's calls into other modules for one op:
    the pipeline fit (``evaluation.fold_fit``), the DEMV debias of each
    training split (``evaluation.fold_debias``, split as in
    ``_traced_demv``) and the per-fold metric queries (``metrics.*``,
    collected inside the span and handed back as a local table)."""
    orig_pipeline = E._pipeline
    orig_ft = balancer.DEMV.fit_transform
    orig_suite, orig_loss = M.fairness_suite, M.zero_one_loss_diff

    def pipeline(*a, **kw):
        pipe = orig_pipeline(*a, **kw)
        fit = pipe.fit

        def traced_fit(*fa, **fkw):
            with tr.span("evaluation.fold_fit"):
                return fit(*fa, **fkw)

        pipe.fit = traced_fit
        return pipe

    def fit_transform(self, df):
        with tr.span("evaluation.fold_debias"):
            return _traced_demv(tr, self, df)

    def collected(name, fn):
        def wrapper(df, *a, **kw):
            with tr.span(name):
                res = fn(df, *a, **kw)
                return df.sparkSession.createDataFrame(res.collect(), res.schema)

        return wrapper

    E._pipeline = pipeline
    balancer.DEMV.fit_transform = fit_transform
    M.fairness_suite = collected("metrics.fairness_suite", orig_suite)
    M.zero_one_loss_diff = collected("metrics.zero_one_loss", orig_loss)
    try:
        yield
    finally:
        E._pipeline = orig_pipeline
        balancer.DEMV.fit_transform = orig_ft
        M.fairness_suite, M.zero_one_loss_diff = orig_suite, orig_loss


WORKLOADS = {w.name: w for w in (Rebalance, CvDebias)}
