"""Self-tests for the benchmark.

    python3 -m pytest perfbench -q -p no:cacheprovider

- every check in ``oracle`` passes on a correct output and fails on a
  corrupted one (a dropped row, a foreign id, a moved row, a perturbed
  metric), so no check is vacuous;
- the plain-Python replay of the reference loop agrees with the
  engine's closed-form targets;
- every workload runs end to end at a small scale, with and without
  tracing, reports every metric BENCHMARK.json names with its unit, and
  passes its own checks;
- with only the benchmark's files present, the run fails without
  printing a result.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
WORKLOAD_NAMES = ["rebalance", "cv_debias"]


@pytest.fixture
def con(tmp_path):
    c = oracle.connect(2, str(tmp_path / "duck"))
    yield c
    c.close()


def _input(tmp_path, table) -> str:
    path = str(tmp_path / "in.parquet")
    gen.write(table, path)
    return path


def _resampled(table: pa.Table, targets, rng) -> pa.Table:
    """A correct DEMV output built without the engine: each group's
    rows drawn (with repeats) up to the group's target."""
    keys = np.stack([table[c].to_numpy() for c in oracle.GROUP], axis=1)
    take = []
    for key, t in targets.items():
        idx = np.flatnonzero((keys == np.array(key)).all(axis=1))
        take.append(rng.choice(idx, size=t, replace=t > len(idx)))
    return table.take(np.concatenate(take))


# ------------------------------------------------------------ targets


def test_reference_replay_agrees_with_engine_targets():
    from demv_spark.operators.balancer import targets_from_census

    for seed in range(5):
        t = gen.biased_table(5000, seed, rid=False)
        census = {}
        for k in zip(*(t[c].to_pylist() for c in oracle.GROUP)):
            census[k] = census.get(k, 0) + 1
        for stop in (50, 5001):
            want = oracle.reference_targets(census, 1, stop)
            rows = [dict(zip([*oracle.GROUP, "n"], [*k, n])) for k, n in census.items()]
            got = targets_from_census(rows, list(gen.SENSITIVE), gen.LABEL, 1, stop)
            assert {tuple(r[c] for c in oracle.GROUP): r["target"] for r in got} == want


def test_planted_bias_moves_rows():
    t = gen.biased_table(20000, 1, rid=False)
    census = {}
    for k in zip(*(t[c].to_pylist() for c in oracle.GROUP)):
        census[k] = census.get(k, 0) + 1
    targets = oracle.reference_targets(census, 1, 20001)
    moved = sum(abs(targets[k] - census[k]) for k in census)
    assert moved > 0.05 * 20000


def test_inputs_are_seeded():
    a, b = gen.biased_table(1000, 7), gen.biased_table(1000, 7)
    assert a.equals(b)
    assert not a.equals(gen.biased_table(1000, 8))


# ---------------------------------------------------- resample checks


def test_check_resample_catches_corruption(tmp_path, con):
    table = gen.biased_table(3000, 3)
    src = _input(tmp_path, table)
    targets = oracle.reference_targets(oracle.census_of(con, f"read_parquet('{src}')"), 1, 3001)
    out = _resampled(table, targets, np.random.default_rng(0))

    def errors(t: pa.Table):
        d = tmp_path / "out"
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir()
        pq.write_table(t, str(d / "part-0.parquet"))
        return oracle.check_resample(
            con, f"read_parquet('{d}/*.parquet')", f"read_parquet('{src}')", targets
        )

    assert errors(out) == []
    assert any("expected" in e for e in errors(out.slice(1)))  # dropped row
    rid = out["rid"].to_numpy().copy()
    rid[0] = 10**9
    foreign = out.set_column(0, "rid", pa.array(rid))
    assert any("absent" in e for e in errors(foreign))
    f0 = out["f0"].to_numpy().copy()
    f0[5] += 1.0
    edited = out.set_column(out.schema.get_field_index("f0"), "f0", pa.array(f0))
    assert any("differ" in e for e in errors(edited))


def test_check_synthetic_catches_corruption(con):
    table = gen.biased_table(3000, 4, rid=False)
    census = {}
    for k in zip(*(table[c].to_pylist() for c in oracle.GROUP)):
        census[k] = census.get(k, 0) + 1
    targets = oracle.reference_targets(census, 1, 3001)
    rng = np.random.default_rng(1)
    out = _resampled(table, targets, rng)
    # interpolate every row toward another row of its group: still a
    # valid synthetic row (convex combination inside the group's box)
    keys = np.stack([out[c].to_numpy() for c in oracle.GROUP], axis=1)
    cols = {c: out[c].to_numpy().copy() for c in oracle.FEATURES}
    for key in np.unique(keys, axis=0):
        idx = np.flatnonzero((keys == key).all(axis=1))
        partner = rng.permutation(idx)
        gap = rng.uniform(size=len(idx))
        for c in oracle.FEATURES:
            cols[c][idx] = cols[c][idx] + gap * (cols[c][partner] - cols[c][idx])
    for c, v in cols.items():
        out = out.set_column(out.schema.get_field_index(c), c, pa.array(v))

    def errors(t: pa.Table):
        return oracle.check_synthetic(con, t, table, 3001)

    assert errors(out) == []
    assert any("expected" in e for e in errors(out.slice(1)))  # dropped row
    s0 = out["s0"].to_numpy().copy()
    s0[0] = 1 - s0[0]
    moved = out.set_column(out.schema.get_field_index("s0"), "s0", pa.array(s0))
    assert any("expected" in e for e in errors(moved))
    s1 = out["s1"].to_numpy().copy()
    s1[0] = 7
    foreign = out.set_column(out.schema.get_field_index("s1"), "s1", pa.array(s1))
    assert any("no group" in e for e in errors(foreign))
    f3 = out["f3"].to_numpy().copy()
    f3[7] = 1e6
    far = out.set_column(out.schema.get_field_index("f3"), "f3", pa.array(f3))
    assert any("outside" in e for e in errors(far))


# ---------------------------------------------------------- cv checks


def test_check_cv_catches_corruption():
    rows = [{"fold": f, **{m: 0.1 * (f + 1) for m in oracle.CV_METRICS}} for f in range(2)]
    assert oracle.check_cv(rows, 2, None) == []
    assert oracle.check_cv(rows, 2, rows) == []
    assert oracle.check_cv(rows[:1], 2, None)  # dropped fold
    nan = [dict(rows[0], acc=math.nan), rows[1]]
    assert oracle.check_cv(nan, 2, None)
    drift = [dict(rows[0], stat_par=rows[0]["stat_par"] + 1e-12), rows[1]]
    assert oracle.check_cv(drift, 2, rows)


# -------------------------------------------------------------- smoke


def _run(cwd, workload, trace, scale="0.05"):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "0.1", "--trace", str(trace), "--scale", scale],
        cwd=cwd, capture_output=True, text=True, timeout=180,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOAD_NAMES)
def test_workload_smoke_emits_every_metric(workload, trace):
    p = _run(ROOT, workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, p.stdout
    assert result["attempted"] >= 2 + trace  # warm-up + timed ops
    spec = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec
    }
    for m in spec:
        v = result["metrics"][m["name"]]["value"]
        assert isinstance(v, float) and math.isfinite(v)
        if not trace:
            assert v > 0
    assert not os.listdir(os.path.join(ROOT, ".perfbench_work"))


def test_listed_workloads_exist():
    from workloads import WORKLOADS

    assert {w["name"] for w in BENCH["workloads"]} <= set(WORKLOADS)
    assert set(WORKLOADS) == set(WORKLOAD_NAMES)


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(str(tmp_path), "rebalance", 0)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
