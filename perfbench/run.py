"""Fairness-engine benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload rebalance --seed 1 \
        --seconds 12 --trace 0

Run from the repository root. The engine (``demv_spark``) is imported
from the root; the inputs are generated here from ``--seed`` into
``.perfbench_work/`` and removed at exit.

A run:

1. generates the inputs (timed apart, not part of set-up) and computes
   every expected output without the engine (``oracle``);
2. sets up once, cold, as a user of the engine does: launch the JVM
   and start the session on ``local[<cores>]`` with shuffle partitions
   = cores, then run one warm-up op (the session's first query; cold
   JIT, codegen and worker caches make it 2-5x slower than the rest).
   ``setup_s`` is the time from launch to the end of the warm-up op.
   A cold set-up costs 20-40 s on 4 cores, so one run holds one; the
   median over runs steadies it;
3. runs timed ops in a closed loop with one client until ``--seconds``
   have passed and at least the workload's ``min_timed_ops`` completed.
   Every op's output is checked, the warm-up's too; an op that raises
   or fails its check counts in ``failed`` (failed_op_ratio = failed /
   attempted);
4. prints one line per metric, then the result JSON as the last line.

``peak_rss_mb`` is the peak resident set of the Spark driver: this
Python process plus the JVM. The JVM runs with a fixed 1 GB heap, not
the engine's default of 8 GB, so the memory figures describe a
1 GB-heap driver.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` traces
every other timed op (spans around each engine-module call plus the status
store's job and stage counters), reports the per-layer metrics, and
``trace.overhead_s``: median traced op minus median untraced op of the
same run. Spans are written to ``.perfbench_out/``.

Exit status is 0 when a result was printed, 2 when the engine cannot be
imported or the run could not finish.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# stop starting ops after this much of the timed phase, so a run ends
# well inside 180 s even when ops are much slower than expected
MAX_TIMED_S = 60.0

END_TO_END_UNITS = {"setup_s": "s", "rows_per_s": "rows/s", "op_s_p50": "s", "peak_rss_mb": "MB"}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--scale", type=float, default=1.0,
        help="input-size multiplier (self-tests run at a small scale)",
    )
    return p.parse_args(argv)


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree() -> list[int]:
    """This process and all its descendants."""
    kids, out = _children(), []
    todo = [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def peak_rss_mb() -> float:
    """Sum of VmHWM (peak resident set) of the Spark driver: this
    Python process and its children, the JVM. The JVM's own children, Python
    workers forked on demand, are left out: how many a run forks
    varies with task timing."""
    me = os.getpid()
    total_kb = 0
    for pid in [me, *_children().get(me, [])]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and the workers write inside the
    run's work directory, and let Python workers import the engine."""
    for sub in ("spark", "tmp", "data", "duck"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)


def start_session(work: str, cores: int):
    from demv_spark import get_spark

    tmp = os.path.join(work, "tmp")
    # a fixed 1 GB heap (-Xms = max): with a growable heap the JVM's
    # resident set follows the collector's sizing decisions and
    # peak_rss_mb varied by ±10% between identical runs
    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions": f"-Xms1g -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.local.dir": os.path.join(work, "spark"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session, then the JVM (it exits when its stdin closes),
    then wait for every process it left (the Python worker daemon)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    before = set(process_tree()) - {os.getpid()}
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 15
    left = [p for p in before if os.path.exists(f"/proc/{p}")]
    while left and time.monotonic() < deadline:
        time.sleep(0.1)
        left = [p for p in left if os.path.exists(f"/proc/{p}")]
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _percent(v: float) -> str:
    return f"{100 * v:.1f}%"


def run(args) -> dict:
    cores = _cores()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _prepare_env(work)
    try:
        import demv_spark  # noqa: F401  (fail fast when the engine is absent)
    except ImportError as e:
        shutil.rmtree(work, ignore_errors=True)
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        raise SystemExit(2)

    import oracle
    import tracing
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        raise SystemExit(2)
    wl = WORKLOADS[args.workload](os.path.join(work, "data"), args.seed, args.scale)
    spark = con = None
    try:
        t0 = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t0
        con = oracle.connect(cores, os.path.join(work, "duck"))
        wl.expect(con)

        t0 = time.perf_counter()
        spark = start_session(work, cores)
        start_s = time.perf_counter() - t0

        tracer = tracing.Tracer() if args.trace else None
        counters = tracing.SparkCounters(spark) if args.trace else None
        times: list[tuple[float, bool]] = []  # (seconds, traced) per op
        op_traces = []
        attempted = failed = 0
        first_error = None
        loop_start = None
        while (
            len(times) < 1 + wl.min_timed_ops
            or time.perf_counter() - loop_start < args.seconds
        ):
            if loop_start is not None and time.perf_counter() - loop_start > MAX_TIMED_S:
                break
            if attempted == 1:  # op 0 was the warm-up
                loop_start = time.perf_counter()
            i = attempted
            tr = tracer if (tracer is not None and i % 2 == 1) else None
            if tr is not None:
                tr.op = i
                counters.new_jobs()  # skip jobs of earlier ops
            wall0 = time.time()
            t0 = time.perf_counter()
            try:
                if tr is not None:
                    with tr.span("op"):
                        result = wl.op(spark, i, tr)
                else:
                    result = wl.op(spark, i)
                dt = time.perf_counter() - t0
                errors = wl.check(con, i, result)
            except Exception as e:  # a failed op is counted, not fatal
                dt = time.perf_counter() - t0
                errors = [f"{type(e).__name__}: {e}"]
            attempted += 1
            times.append((dt, tr is not None))
            if tr is not None:
                jobs, stages = counters.new_jobs()
                op_traces.append(tracing.OpTrace(i, wall0, wall0 + dt, jobs, stages))
            if errors:
                failed += 1
                first_error = first_error or f"op {i}: {errors[0]}"
        rss = peak_rss_mb()
    finally:
        if con is not None:
            con.close()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    warmup_s, timed = times[0][0], times[1:]
    all_times = [t for t, _ in timed]
    traced_times = [t for t, traced in timed if traced]
    if args.trace:
        metrics = tracing.layer_table(op_traces, tracer.spans, tracer.notes, wl.folds)
        metrics["session.start_s"] = start_s
        metrics["bench.gen_s"] = gen_s
        metrics["session.warmup_op_s"] = warmup_s
        metrics["trace.overhead_s"] = statistics.median(traced_times) - statistics.median(
            [t for t, traced in timed if not traced]
        )
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"))
        units = {}
    else:
        metrics = {
            "setup_s": start_s + warmup_s,
            "rows_per_s": wl.n * len(all_times) / sum(all_times),
            "op_s_p50": statistics.median(all_times),
            "peak_rss_mb": rss,
        }
        units = END_TO_END_UNITS
    metrics = {k: {"value": v, "unit": units.get(k) or unit_of(k)} for k, v in sorted(metrics.items())}

    print(f"workload {args.workload}: seed {args.seed}, {wl.n} input rows, "
          f"master local[{cores}], {cores} shuffle partitions, "
          f"inputs generated in {gen_s:.2f} s, {attempted} ops "
          f"(1 warm-up, {len(traced_times)} traced)")
    print(f"set-up: session start {start_s:.2f} s, warm-up op {warmup_s:.2f} s")
    print("timed op times " + " ".join(f"{t:.2f}" for t in all_times))
    print(f"failed_op_ratio {_percent(failed / attempted)} ({failed}/{attempted})"
          + (f" first failure: {first_error}" if first_error else ""))
    for k, m in metrics.items():
        print(f"{k} {m['value']:.6g} {m['unit']}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def unit_of(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    if "bytes" in name:
        return "bytes"
    if name.endswith("_s") or name.endswith("_s_per_op"):
        return "s"
    if name.endswith("_per_row_in") or name.endswith("_share"):
        return "ratio"
    return "count"


def main(argv=None) -> int:
    args = _parse(argv)
    try:
        result = run(args)
    except Exception:
        traceback.print_exc()
        return 2
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
