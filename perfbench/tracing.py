"""Tracing for the benchmark's traced run (``--trace 1``).

Two sources of per-layer numbers:

- **Spans** recorded by the benchmark around its calls into each engine
  module (name, start, end, parent, op id), kept in memory and written
  out when the run ends. Spark plans are lazy, so every span that must
  own execution forces it (``localCheckpoint`` / ``collect``) inside
  the span.
- **Spark counters** from the session's status store
  (``sparkContext._jsc.sc().statusStore()``), which the Spark driver keeps
  even with the UI disabled: per job its submit/complete time and
  stages, per stage its task count, executor run/CPU/GC time, input,
  output, shuffle-write and spill bytes. Jobs are read after each traced
  op, once the listener bus has drained.

``layer_table`` turns both into the per-layer metrics of BENCHMARK.json.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int


@dataclass
class Job:
    job_id: int
    start: float
    end: float


@dataclass
class Stage:
    stage_id: int
    start: float
    end: float
    tasks: int
    run_s: float
    cpu_s: float
    gc_s: float
    input_bytes: int
    output_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int


class Tracer:
    """Span recorder. ``span`` is a context manager; spans nest through
    an explicit stack, and every span carries the id of the op it
    belongs to. ``note`` adds to a named per-op count."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.notes: dict[int, dict[str, float]] = {}
        self._stack: list[int] = []
        self.op = -1

    def note(self, name: str, value: float) -> None:
        op = self.notes.setdefault(self.op, {})
        op[name] = op.get(name, 0.0) + value

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.time(), 0.0, parent, self.op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def _date_s(opt) -> float | None:
    """Scala ``Option[java.util.Date]`` → epoch seconds."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class SparkCounters:
    """Reads jobs and stages of one session from its status store."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext._jsc.sc()
        self._store = sc.statusStore()
        self._bus = sc.listenerBus()
        self._next_job = self._latest_job_id() + 1

    def _latest_job_id(self) -> int:
        self._bus.waitUntilEmpty()
        jobs = self._store.jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    def new_jobs(self) -> tuple[list[Job], dict[int, Stage]]:
        """Jobs submitted since the previous call, with their stages."""
        last = self._latest_job_id()
        jobs: list[Job] = []
        stages: dict[int, Stage] = {}
        for jid in range(self._next_job, last + 1):
            j = self._store.job(jid)
            start, end = _date_s(j.submissionTime()), _date_s(j.completionTime())
            if start is None or end is None:
                continue
            seq = j.stageIds()  # scala Seq[Int]
            ids = [seq.apply(k) for k in range(seq.size())]
            jobs.append(Job(jid, start, end))
            for sid in ids:
                if sid not in stages:
                    st = self._stage(sid)
                    if st is not None:
                        stages[sid] = st
        self._next_job = last + 1
        return jobs, stages

    def _stage(self, sid: int) -> Stage | None:
        s = self._store.lastStageAttempt(sid)
        if str(s.status()) == "SKIPPED":
            return None
        start, end = _date_s(s.submissionTime()), _date_s(s.completionTime())
        if start is None or end is None:
            return None
        return Stage(
            sid, start, end, s.numTasks(),
            s.executorRunTime() / 1e3, s.executorCpuTime() / 1e9,
            s.jvmGcTime() / 1e3, s.inputBytes(), s.outputBytes(),
            s.shuffleWriteBytes(), s.memoryBytesSpilled() + s.diskBytesSpilled(),
        )


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@dataclass
class OpTrace:
    """Everything recorded for one traced op."""

    op: int
    start: float
    end: float
    jobs: list[Job]
    stages: dict[int, Stage]


def _in(job: Job, span: Span) -> bool:
    return span.start <= job.start <= span.end


# span name → per-layer metric; values are seconds per op, except the
# evaluation layer's, which are per fold (``folds`` is 0 for workloads
# without a k-fold harness, and their evaluation metrics read 0)
SPAN_METRICS = {
    "balancer.fit": "balancer.fit_s",
    "balancer.resample": "balancer.resample_s",
    "sources.write": "sources.write_s",
    "strategies.synth": "strategies.synth_s",
    "metrics.fairness_suite": "metrics.fairness_suite_s",
    "metrics.zero_one_loss": "metrics.zero_one_loss_s",
    "evaluation.fold_fit": "evaluation.fold_fit_s",
    "evaluation.fold_debias": "evaluation.fold_debias_s",
}


def layer_table(
    ops: list[OpTrace], spans: list[Span], notes: dict[int, dict[str, float]], folds: int
) -> dict[str, float]:
    """Per-layer metrics: the median over traced ops of each quantity.

    ``notes`` are the tracer's per-op counts (rows into and out of DEMV,
    rows synthesised). Every metric is present; a layer the workload
    does not call reads 0."""
    per_op: dict[str, list[float]] = {}

    def add(name: str, v: float) -> None:
        per_op.setdefault(name, []).append(v)

    for o in ops:
        mine = [s for s in spans if s.op == o.op]
        st = list(o.stages.values())
        wall = o.end - o.start
        add("session.jobs_per_op", len(o.jobs))
        add("session.tasks_per_op", sum(s.tasks for s in st))
        busy = covered([(s.start, s.end) for s in st], o.start, o.end)
        add("session.driver_idle_s_per_op", max(0.0, wall - busy))
        add("session.driver_idle_share", max(0.0, wall - busy) / wall)
        add("session.executor_run_s_per_op", sum(s.run_s for s in st))
        add("session.executor_cpu_s_per_op", sum(s.cpu_s for s in st))
        add("session.gc_s_per_op", sum(s.gc_s for s in st))
        add("session.shuffle_write_bytes_per_op", sum(s.shuffle_write_bytes for s in st))
        add("session.spill_bytes_per_op", sum(s.spill_bytes for s in st))
        add("sources.input_bytes_per_op", sum(s.input_bytes for s in st))
        add("sources.output_bytes_per_op", sum(s.output_bytes for s in st))
        for span_name, metric in SPAN_METRICS.items():
            t = sum(s.end - s.start for s in mine if s.name == span_name)
            if metric.startswith("evaluation."):
                t = t / folds if folds else 0.0
            add(metric, t)
        # every metrics call of a cv op is a fold's metrics step
        fm = sum(s.end - s.start for s in mine if s.name.startswith("metrics."))
        add("evaluation.fold_metrics_s", fm / folds if folds else 0.0)
        add("evaluation.jobs_per_fold", len(o.jobs) / folds if folds else 0.0)
        # targets: the Python-side part of fit — fit wall minus the
        # time its Spark jobs (the census) were running
        tgt = 0.0
        for s in mine:
            if s.name == "balancer.fit":
                jobs = [(j.start, j.end) for j in o.jobs if _in(j, s)]
                tgt += (s.end - s.start) - covered(jobs, s.start, s.end)
        add("balancer.targets_s", tgt)
        calls = [s for s in mine if s.name.startswith("metrics.")]
        n_jobs = sum(1 for j in o.jobs for s in calls if _in(j, s))
        add("metrics.jobs_per_call", n_jobs / len(calls) if calls else 0.0)
        noted = notes.get(o.op, {})
        rows_in = noted.get("balancer.rows_in", 0.0)
        add("balancer.rows_out_per_row_in",
            noted.get("balancer.rows_out", 0.0) / rows_in if rows_in else 0.0)
        add("strategies.synth_rows_per_op", noted.get("strategies.synth_rows", 0.0))
    return {k: float(statistics.median(v)) for k, v in per_op.items()}
