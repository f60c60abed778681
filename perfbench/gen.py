"""Seeded input generator for the benchmark (numpy + pyarrow → parquet).

The engine under test never generates its own inputs: every table the
workloads read is written here from ``--seed`` alone, so the same seed
gives byte-identical parquet files.

Label bias is planted on purpose. The library's own
``make_classification`` draws ``y`` independently of the sensitive
columns, so every group's disparity is ≈ 1 and DEMV has nothing to do;
here the positive rate depends on the sensitive columns, so the
unprivileged groups are far from balance and the resampler moves a
large share of the rows.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_FEATURES = 10
SENSITIVE = ("s0", "s1")
LABEL = "y"


def _sigmoid(x: np.ndarray) -> np.ndarray:
    return 1.0 / (1.0 + np.exp(-x))


def biased_table(n: int, seed: int, rid: bool = True) -> pa.Table:
    """Training-style table: ``rid`` (row id), ``f0..f9`` (double),
    ``s0``, ``s1`` (int 0/1) and ``y`` (int 0/1).

    P(s0=1)=0.45, P(s1=1)=0.35; the label logit carries +1.2·s0 +
    0.9·s1, so the (s0=0, s1=0) group is the unprivileged one with the
    lowest positive rate. With ``rid=False`` the table has no row id
    (the k-fold harness uses every other column as a feature)."""
    rng = np.random.default_rng(seed)
    s0 = (rng.random(n) < 0.45).astype(np.int32)
    s1 = (rng.random(n) < 0.35).astype(np.int32)
    x = rng.standard_normal((n, N_FEATURES))
    w = rng.uniform(-1.0, 1.0, N_FEATURES)
    logit = x @ w + 1.2 * s0 + 0.9 * s1 - 1.0
    y = (rng.random(n) < _sigmoid(logit)).astype(np.int32)
    cols: dict[str, np.ndarray] = {}
    if rid:
        cols["rid"] = np.arange(n, dtype=np.int64)
    for j in range(N_FEATURES):
        cols[f"f{j}"] = x[:, j]
    cols["s0"], cols["s1"], cols[LABEL] = s0, s1, y
    return pa.table(cols)


def write(table: pa.Table, path: str, row_group_rows: int = 128 * 1024) -> None:
    """One parquet file, split into row groups so the scan has more
    than one input split per core at the benchmark sizes."""
    pq.write_table(table, path, row_group_size=row_group_rows)
