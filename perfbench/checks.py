"""Output checks made apart from the program.

Registry ops are compared with their DuckDB oracle SQL over the same
parquet files, by the rules of tools/check_correctness.py: row count,
column names, and order-insensitive canonical values.

k-modes results are recomputed in numpy from the input files, without
ml/kmodes.py: Hamming distances to the returned modes, argmin assignment
(ties to the lowest index) and per-column modes (ties to the smallest
value).
"""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pyarrow.parquet as pq

from tools.check_correctness import rows_key


def oracle(sf_dir: str, tables, sql: str) -> tuple[list[str], list[tuple]]:
    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        rel = con.execute(sql)
        return [d[0] for d in rel.description], rel.fetchall()
    finally:
        con.close()


def compare_rows(cols, rows, ocols, orows, shown: int = 3) -> list[str]:
    """Problems found comparing a result with its oracle; empty if equal."""
    if len(rows) != len(orows):
        return [f"row count {len(rows)} != oracle {len(orows)}"]
    if sorted(cols) != sorted(ocols):
        return [f"columns {sorted(cols)} != oracle {sorted(ocols)}"]
    got, want = rows_key(cols, rows), rows_key(ocols, orows)
    diffs = [f"got {a} want {b}" for a, b in zip(got, want) if a != b]
    return [f"value mismatch in {len(diffs)} rows"] + diffs[:shown] if diffs else []


class Categorical:
    """A categorical table as integer codes over each column's sorted values."""

    def __init__(self, columns: dict[str, np.ndarray]):
        self.cols = tuple(columns)
        self.vocab, codes = [], []
        for c in self.cols:
            v, inv = np.unique(np.asarray(columns[c], dtype=str), return_inverse=True)
            self.vocab.append(v)
            codes.append(inv)
        self.codes = np.stack(codes, axis=1)

    @classmethod
    def read(cls, path: str, cols) -> "Categorical":
        t = pq.read_table(path, columns=list(cols))
        return cls({c: t.column(c).to_numpy(zero_copy_only=False) for c in cols})

    def encode(self, modes) -> np.ndarray:
        """(k, cols) codes of the given modes; a value absent from the data is -1."""
        out = np.full((len(modes), len(self.cols)), -1, dtype=np.int64)
        for i, m in enumerate(modes):
            for j, v in enumerate(m):
                pos = np.searchsorted(self.vocab[j], v)
                if pos < len(self.vocab[j]) and self.vocab[j][pos] == v:
                    out[i, j] = pos
        return out

    def distances(self, modes) -> np.ndarray:
        """(rows, k) Hamming distance of every row to every mode."""
        enc = self.encode(modes)
        return (self.codes[:, None, :] != enc[None, :, :]).sum(axis=2)

    def lloyd_step(self, modes) -> list[tuple[str, ...]]:
        """Assign rows to their nearest mode, then re-take each column's
        most frequent value per cluster; an empty cluster keeps its mode."""
        assign = self.distances(modes).argmin(axis=1)
        out = []
        for i, m in enumerate(modes):
            members = self.codes[assign == i]
            if len(members) == 0:
                out.append(tuple(m))
                continue
            out.append(
                tuple(
                    self.vocab[j][np.bincount(members[:, j], minlength=len(self.vocab[j])).argmax()]
                    for j in range(len(self.cols))
                )
            )
        return out


def check_cost(data: Categorical, modes, cost: float, mean_cost: bool) -> list[str]:
    """The cost must be the total (or mean) distance to the nearest returned mode."""
    nearest = data.distances(modes).min(axis=1)
    want = nearest.mean() if mean_cost else float(nearest.sum())
    if math.isclose(cost, want, rel_tol=1e-12, abs_tol=0.0):
        return []
    return [f"cost {cost!r} != recomputed {want!r}"]


def check_fixed_point(data: Categorical, modes, converged: bool) -> list[str]:
    """A model that reports convergence must be a Lloyd fixed point."""
    if not converged:
        return []
    step = data.lloyd_step(modes)
    moved = [i for i, (a, b) in enumerate(zip(modes, step)) if tuple(a) != tuple(b)]
    if not moved:
        return []
    return [f"reports converged but modes {moved} move: {modes[moved[0]]} -> {step[moved[0]]}"]


def check_model(data: Categorical, modes, cost: float, converged: bool, mean_cost: bool) -> list[str]:
    """Problems with a fitted model: its cost, then its convergence claim."""
    return check_cost(data, modes, cost, mean_cost) + check_fixed_point(data, modes, converged)


def check_counts(data: Categorical, modes, counts: dict[int, int]) -> list[str]:
    """Problems with per-cluster counts of an assignment of `data` to `modes`."""
    want = np.bincount(data.distances(modes).argmin(axis=1), minlength=len(modes))
    expected = {i: int(n) for i, n in enumerate(want) if n}
    return [] if counts == expected else [f"cluster counts {counts} != recomputed {expected}"]
