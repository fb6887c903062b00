"""Tests of the benchmark's own checkers and input generator (no Spark).

    python3 -m pytest perfbench/test_checks.py -q
"""

from __future__ import annotations

import dataclasses
import os
import sys
from datetime import datetime

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
from checks import Categorical, check_counts, check_fixed_point, check_model, compare_rows  # noqa: E402

# -- oracle comparison ---------------------------------------------------------

COLS = ["n", "k", "ts"]
ROWS = [(3, "a", datetime(2024, 1, 1)), (5, "b", datetime(2024, 1, 2)), (5, "c", None)]


def test_rows_equal_in_any_row_and_column_order():
    ocols = ["ts", "n", "k"]
    orows = [(r[2], r[0], r[1]) for r in reversed(ROWS)]
    assert compare_rows(COLS, ROWS, ocols, orows) == []


def test_one_changed_value_fails():
    changed = list(ROWS)
    changed[1] = (5, "B", datetime(2024, 1, 2))
    problems = compare_rows(COLS, changed, COLS, ROWS)
    assert problems and problems[0].startswith("value mismatch")
    assert any("'B'" in p for p in problems[1:])  # the differing row is shown


def test_row_count_and_columns_fail():
    assert compare_rows(COLS, ROWS[:2], COLS, ROWS)
    assert compare_rows(["n", "k", "when"], ROWS, COLS, ROWS)


# -- k-modes -------------------------------------------------------------------

# two clear clusters with one noisy attribute each
TABLE = {
    "x": ["a"] * 5 + ["b"] * 5,
    "y": ["a"] * 5 + ["b"] * 5,
    "z": ["a", "a", "a", "a", "b", "b", "b", "b", "b", "a"],
}
MODES = [("a", "a", "a"), ("b", "b", "b")]


@pytest.fixture
def data():
    return Categorical({c: np.array(v) for c, v in TABLE.items()})


def test_correct_model_passes(data):
    assert check_model(data, MODES, 2.0, converged=True, mean_cost=False) == []
    assert check_model(data, MODES, 0.2, converged=True, mean_cost=True) == []
    assert check_counts(data, MODES, {0: 5, 1: 5}) == []


def test_cost_off_by_one_fails(data):
    assert check_model(data, MODES, 3.0, converged=True, mean_cost=False)
    assert check_model(data, MODES, 1.0, converged=False, mean_cost=False)
    assert check_model(data, MODES, 0.3, converged=True, mean_cost=True)


def test_one_changed_mode_fails(data):
    changed = [("a", "a", "b"), MODES[1]]
    # even with the cost recomputed for the changed modes, it is no fixed point
    cost = float(data.distances(changed).min(axis=1).sum())
    problems = check_model(data, changed, cost, converged=True, mean_cost=False)
    assert problems and "converged" in problems[0]
    # and the cost reported for the true modes no longer matches
    assert check_model(data, changed, 2.0, converged=True, mean_cost=False)


def test_unrefined_modes_claiming_convergence_fail(data):
    # the modes are not a fixed point: harmless without a convergence claim
    changed = [("a", "a", "b"), MODES[1]]
    assert check_fixed_point(data, changed, converged=False) == []
    assert check_fixed_point(data, changed, converged=True)
    assert check_fixed_point(data, MODES, converged=True) == []


def test_changed_count_fails(data):
    assert check_counts(data, MODES, {0: 6, 1: 4})
    assert check_counts(data, MODES, {0: 5, 1: 5, 2: 0})


def _lloyd_step_loop(rows, modes):
    """Plain-Python Lloyd step: argmin ties to the lowest index, mode
    ties to the smallest value, empty clusters keep their mode."""
    assign = [min(range(len(modes)), key=lambda i: (sum(a != b for a, b in zip(r, modes[i])), i)) for r in rows]
    out = []
    for i, m in enumerate(modes):
        members = [r for r, a in zip(rows, assign) if a == i]
        if not members:
            out.append(tuple(m))
            continue
        mode = []
        for j in range(len(m)):
            counts: dict = {}
            for r in members:
                counts[r[j]] = counts.get(r[j], 0) + 1
            top = max(counts.values())
            mode.append(min(v for v, c in counts.items() if c == top))
        out.append(tuple(mode))
    return out


@pytest.mark.parametrize("seed", range(5))
def test_lloyd_step_matches_loop(seed):
    rng = np.random.default_rng(seed)
    cols = {f"c{j}": np.array([f"v{x}" for x in rng.integers(0, 4, 60)]) for j in range(3)}
    data = Categorical(cols)
    rows = list(zip(*cols.values()))
    modes = [tuple(r) for r in rng.choice(np.array(rows), 5)]  # duplicates leave clusters empty
    assert data.lloyd_step(modes) == _lloyd_step_loop(rows, modes)


# -- inputs ----------------------------------------------------------------------


def test_inputs_repeat_for_a_seed(tmp_path):
    def digest(seed, sub):
        d = tmp_path / sub
        inputs.write_events(str(d), seed)
        spec = inputs.CategoricalSpec("t", 500, (3, 4), k=2, noise=0.3, files=2)
        inputs.write_kmodes(str(d), spec, seed)
        inputs.write_kmodes(str(d), dataclasses.replace(spec, name="fixed"), None)
        return {p.relative_to(d).as_posix(): p.read_bytes() for p in sorted(d.rglob("*.parquet"))}

    a, b, c = digest(7, "a"), digest(7, "b"), digest(8, "c")
    assert a == b
    assert a.keys() == c.keys() and a != c
    fixed = [k for k in a if k.startswith("fixed/")]
    assert fixed and all(a[k] == c[k] for k in fixed)  # a table written without a seed
