"""Independent output checks for every workload.

Nothing here calls the engine. Targets come from a plain-Python replay
of the reference DEMV loop; counts, lineage and bounds come from DuckDB
over the same parquet file or Arrow table.
Each ``check_*`` returns a list of error strings (empty = correct), so
an op counts as failed when the list is non-empty.
"""

from __future__ import annotations

import math
from collections.abc import Mapping, Sequence

import duckdb
import pyarrow as pa

from gen import LABEL, N_FEATURES, SENSITIVE

FEATURES = [f"f{j}" for j in range(N_FEATURES)]
GROUP = [*SENSITIVE, LABEL]


def connect(threads: int, temp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads = {int(threads)}")
    con.execute(f"SET temp_directory = '{temp_dir}'")
    return con


# --------------------------------------------------------------- DEMV


def reference_targets(
    census: Mapping[tuple, int], round_level: int = 1, stop: int = 10000
) -> dict[tuple, int]:
    """Group → size after the reference balancing loop (demv/helpers.py
    ``_balance_set``): one row added or removed per iteration until
    ``round(w_exp / w_obs, round_level) == 1`` or ``stop`` iterations.
    ``census`` maps (sensitive..., label) → row count."""
    total = sum(census.values())
    sens: dict[tuple, int] = {}
    lab: dict[object, int] = {}
    for key, n in census.items():
        sens[key[:-1]] = sens.get(key[:-1], 0) + n
        lab[key[-1]] = lab.get(key[-1], 0) + n
    out = {}
    for key, n in census.items():
        w_exp = (sens[key[:-1]] / total) * (lab[key[-1]] / total)
        w_obs = n / total
        i = 0
        while round(w_exp / w_obs, round_level) != 1 and i != stop and n > 0:
            n += 1 if w_exp / w_obs > 1 else -1
            w_obs = n / total
            i += 1
        out[key] = n
    return out


def census_of(con, relation: str) -> dict[tuple, int]:
    rows = con.execute(
        f"SELECT {', '.join(GROUP)}, count(*) FROM {relation} GROUP BY ALL"
    ).fetchall()
    return {tuple(r[:-1]): r[-1] for r in rows}


def _count_errors(got: Mapping[tuple, int], want: Mapping[tuple, int]) -> list[str]:
    return [
        f"group {k}: {got.get(k, 0)} rows, expected {want.get(k, 0)}"
        for k in sorted(set(got) | set(want))
        if got.get(k, 0) != want.get(k, 0)
    ]


def check_resample(con, out_rel: str, in_rel: str, targets: Mapping[tuple, int]) -> list[str]:
    """DEMV uniform: per-group counts equal the targets, and every
    output row is a whole-row copy of an input row (matched on rid)."""
    errors = _count_errors(census_of(con, out_rel), targets)
    cols = [*FEATURES, *GROUP]
    orphan, changed = con.execute(
        f"""SELECT count(*) FILTER (WHERE i.rid IS NULL),
                   count(*) FILTER (WHERE i.rid IS NOT NULL AND ({
                       ' OR '.join(f'o.{c} IS DISTINCT FROM i.{c}' for c in cols)}))
            FROM {out_rel} o LEFT JOIN {in_rel} i USING (rid)"""
    ).fetchone()
    if orphan:
        errors.append(f"{orphan} output rows have a rid absent from the input")
    if changed:
        errors.append(f"{changed} output rows differ from their input row")
    return errors


def check_synthetic(con, out: pa.Table, inp: pa.Table, stop: int) -> list[str]:
    """DEMV SMOTE of ``inp``: per-group counts equal the reference
    targets of ``inp``, and every output row keeps a group (sensitive +
    label) of ``inp`` and lies inside that group's per-feature
    [min, max] box."""
    con.register("smote_in", inp)
    con.register("smote_out", out)
    try:
        targets = reference_targets(census_of(con, "smote_in"), 1, stop)
        errors = _count_errors(census_of(con, "smote_out"), targets)
        bounds = ", ".join(
            f"min({c}) AS lo_{c}, max({c}) AS hi_{c}" for c in FEATURES
        )
        outside = " OR ".join(
            f"o.{c} < b.lo_{c} OR o.{c} > b.hi_{c}" for c in FEATURES
        )
        foreign, out_of_box = con.execute(
            f"""WITH b AS (SELECT {', '.join(GROUP)}, true AS known, {bounds}
                           FROM smote_in GROUP BY ALL)
                SELECT count(*) FILTER (WHERE b.known IS NULL),
                       count(*) FILTER (WHERE {outside})
                FROM smote_out o
                LEFT JOIN b ON {' AND '.join(f'o.{c} = b.{c}' for c in GROUP)}"""
        ).fetchone()
    finally:
        con.unregister("smote_in")
        con.unregister("smote_out")
    if foreign:
        errors.append(f"{foreign} output rows belong to no group of the input")
    if out_of_box:
        errors.append(f"{out_of_box} output rows lie outside their group's feature bounds")
    return errors


# ---------------------------------------------------------------- cv


CV_METRICS = ("stat_par", "disp_imp", "eq_odds", "acc", "zero_one_loss")


def check_cv(rows: Sequence[Mapping], k: int, first: Sequence[Mapping] | None) -> list[str]:
    """cv_debias: k per-fold rows, finite metrics, and — for every op
    after the first of a run (same seed) — values identical to the
    first op's."""
    errors = []
    if sorted(r["fold"] for r in rows) != list(range(k)):
        errors.append(f"per-fold table has folds {sorted(r['fold'] for r in rows)}, expected 0..{k - 1}")
    for r in rows:
        for m in CV_METRICS:
            v = r.get(m)
            if v is None or not math.isfinite(v):
                errors.append(f"fold {r.get('fold')} {m} = {v}")
    if first is not None:
        key = lambda r: r["fold"]  # noqa: E731
        a = [tuple(r[m] for m in CV_METRICS) for r in sorted(rows, key=key)]
        b = [tuple(r[m] for m in CV_METRICS) for r in sorted(first, key=key)]
        if a != b:
            errors.append("per-fold metrics differ from the run's first op")
    return errors
