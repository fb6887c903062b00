"""Seeded input tables for the benchmark.

`write_events` writes the `events` table in the layout the registry
reads (`<dir>/events.parquet`, one file, one row group), with the value
distributions of the test tables described in TESTDATA.md: a 30-day
event stream from 2024-01-01 sorted by `event_id`, five event types and
`props` = `{"k": 0..99}`.

`write_kmodes` writes categorical tables with planted modes, each as
several parquet files, for the k-modes workload.

The same seed always gives byte-identical inputs.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
EVENT_ROWS = 10_000  # the size of `events` in the sf0.01 test tables
EVENT_USERS = 150

_DAY_US = 86_400 * 1_000_000
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _write(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path)


def write_events(out_dir: str, seed: int) -> None:
    """Write `<out_dir>/events.parquet`."""
    os.makedirs(out_dir, exist_ok=True)
    r = np.random.default_rng([seed, 1])
    n = EVENT_ROWS
    ts = _EPOCH_2024 + np.sort(r.integers(0, 30 * _DAY_US, n))
    _write(
        os.path.join(out_dir, "events.parquet"),
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(ts.astype("datetime64[us]"), type=pa.timestamp("us")),
            "user_id": r.integers(0, EVENT_USERS, n),
            "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n)],
            "value": np.round(r.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)],
        },
    )


@dataclass(frozen=True)
class CategoricalSpec:
    """A categorical table with `k` planted modes: each row copies one
    mode and replaces each attribute, with probability `noise`, by a
    uniform draw from that column's `cards[j]` values."""

    name: str
    rows: int
    cards: tuple[int, ...]
    k: int
    noise: float
    files: int

    @property
    def cols(self) -> tuple[str, ...]:
        return tuple(f"c{j}" for j in range(len(self.cards)))


# The planted modes, memberships and noise are drawn from this fixed
# seed, so every run seed poses the same clustering problem: the same
# combo counts, initial modes and Lloyd iteration count (which ranges
# over 2-4 between structure seeds and would move a pass by +-30%). The
# run seed shuffles which rows land in which file, and in what order.
STRUCTURE_SEED = 0


def categorical_codes(spec: CategoricalSpec, seed: int | None) -> np.ndarray:
    """(rows, cols) int array of value codes; value j of column c is `c=vj`.
    With `seed` None the rows keep the order they were drawn in."""
    rng = np.random.default_rng([STRUCTURE_SEED, 2, spec.rows, len(spec.cards)])
    modes = np.stack([rng.integers(0, c, spec.k) for c in spec.cards], axis=1)
    member = rng.integers(0, spec.k, spec.rows)
    codes = modes[member]
    for j, c in enumerate(spec.cards):
        flip = rng.random(spec.rows) < spec.noise
        codes[flip, j] = rng.integers(0, c, int(flip.sum()))
    if seed is None:
        return codes
    return codes[np.random.default_rng([seed, 3]).permutation(spec.rows)]


def decode(spec: CategoricalSpec, codes: np.ndarray) -> dict[str, np.ndarray]:
    return {c: np.char.add(f"{c}=v", codes[:, j].astype(str)) for j, c in enumerate(spec.cols)}


def write_kmodes(out_dir: str, spec: CategoricalSpec, seed: int | None) -> str:
    """Write `spec` as `spec.files` parquet files under `out_dir/name`."""
    path = os.path.join(out_dir, spec.name)
    os.makedirs(path, exist_ok=True)
    cols = decode(spec, categorical_codes(spec, seed))
    for i, idx in enumerate(np.array_split(np.arange(spec.rows), spec.files)):
        _write(os.path.join(path, f"part-{i:05d}.parquet"), {c: v[idx] for c, v in cols.items()})
    return path
