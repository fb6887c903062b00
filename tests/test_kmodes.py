"""K-modes property tests (SURVEY.md §5 layer 3): fixed-seed
determinism, cost sanity, cluster-count invariants, predict parity —
the non-SQL checks standing in for the hash oracle."""

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyspark_distributed_kmodes_spark.ml.kmodes import EnsembleKModes, KModes, KModesModel, hamming_distance_col
from pyspark_distributed_kmodes_spark.sources.tables import table

COLS = ("o_orderstatus", "o_orderpriority")


@pytest.fixture(scope="module")
def orders(spark, sf_dir):
    return table(spark, sf_dir, "orders").select(*COLS).persist()


def test_hamming_distance_matches_python(spark):
    df = spark.createDataFrame([("a", "x"), ("a", "y"), ("b", "y")], ["c1", "c2"])
    d = df.select(hamming_distance_col(["c1", "c2"], ["a", "y"]).alias("d")).collect()
    assert [r.d for r in d] == [1, 0, 1]


def test_fixed_seed_determinism(orders):
    m1 = KModes(n_clusters=4, cols=COLS, max_iter=10, seed=11).fit(orders)
    m2 = KModes(n_clusters=4, cols=COLS, max_iter=10, seed=11).fit(orders)
    assert m1.modes == m2.modes
    assert m1.cost == m2.cost


def test_different_seeds_may_differ_but_run(orders):
    m = KModes(n_clusters=4, cols=COLS, max_iter=10, seed=99).fit(orders)
    assert len(m.modes) == 4


def test_k_clusters_and_assignment_total(orders):
    model = KModes(n_clusters=5, cols=COLS, max_iter=15, seed=42).fit(orders)
    assert len(model.modes) == 5
    assigned = model.transform(orders, "p")
    n = orders.count()
    assert assigned.count() == n
    preds = assigned.select("p").distinct().collect()
    assert all(0 <= r.p < 5 for r in preds)


def test_cost_not_worse_than_init(orders):
    """Lloyd iterations must not increase the objective vs the seeded
    init modes (cost monotonicity, reference fit() convergence loop).
    max_iter=0 returns the init modes themselves with their cost."""
    init_cost = KModes(n_clusters=5, cols=COLS, max_iter=0, seed=42).fit(orders).cost
    fitted = KModes(n_clusters=5, cols=COLS, max_iter=15, seed=42).fit(orders)
    assert fitted.cost <= init_cost


def test_transform_ties_break_to_lowest_index(spark):
    model = KModesModel(cols=("c1",), modes=[("a",), ("a",)])  # identical modes
    df = spark.createDataFrame([("a",), ("b",)], ["c1"])
    out = {r.c1: r.p for r in model.transform(df, "p").collect()}
    assert out == {"a": 0, "b": 0}


# EnsembleKModes(n_partitions=4, n_clusters=3) modes on sf0.001 orders,
# as fitted before its per-partition and meta loops moved onto _lloyd
ENSEMBLE_MODES = {
    3: [("O", "2-HIGH"), ("P", "3-MEDIUM"), ("F", "5-LOW")],
    42: [("O", "3-MEDIUM"), ("F", "4-NOT SPECIFIED"), ("P", "2-HIGH")],
}


def test_ensemble_reference_parity_shape(orders):
    """Two-level ensemble (reference A6/A9): P×k partition modes,
    meta-clustered to k final modes; mean cost exposed. The meta-modes
    are never refined on the data, so the model must not claim
    convergence."""
    for seed, want in ENSEMBLE_MODES.items():
        model = EnsembleKModes(n_partitions=4, n_clusters=3, seed=seed, cols=COLS).fit(orders)
        assert model.modes == want, seed
        assert model.cost >= 0.0
        assert model.converged is False
        assert model.n_iter >= 1
    m2 = EnsembleKModes(n_partitions=4, n_clusters=3, seed=42, cols=COLS).fit(orders)
    assert model.modes == m2.modes  # deterministic


def test_distributed_path_matches_local_path(orders):
    """Forcing the distributed per-iteration Lloyd (COMBO_THRESHOLD=0)
    must converge to an equally-good clustering as the weighted-local
    path — same k, same cost-quality class. (Inits differ: xxhash64 vs
    blake2b seeded hash, so modes may differ; cost must be comparable
    and the invariants identical.)"""
    local_model = KModes(n_clusters=4, cols=COLS, max_iter=15, seed=3).fit(orders)

    est = KModes(n_clusters=4, cols=COLS, max_iter=15, seed=3)
    est.COMBO_THRESHOLD = 0  # force _fit_distributed
    dist_model = est.fit(orders)

    assert len(dist_model.modes) == 4
    assert dist_model.cost >= 0
    # both paths must reach the same objective neighborhood on this
    # low-cardinality data (15 combos; Lloyd converges to a local opt)
    assert abs(dist_model.cost - local_model.cost) / max(local_model.cost, 1) < 0.25
    # distributed path is also deterministic
    est2 = KModes(n_clusters=4, cols=COLS, max_iter=15, seed=3)
    est2.COMBO_THRESHOLD = 0
    assert est2.fit(orders).modes == dist_model.modes


def _blake2b_init(rows, seed, k):
    """The local path's init: the first k combos in seeded blake2b order."""
    def h(t):
        m = hashlib.blake2b(("\x00".join(t) + f"|{seed}").encode(), digest_size=8)
        return int.from_bytes(m.digest(), "big")

    return sorted(rows, key=lambda t: (h(t), t))[:k]


def _reference_lloyd(rows, weights, modes, max_iter, ties):
    """Weighted Lloyd in plain Python over (combo, weight) rows: argmin
    ties → lowest index, mode ties → smallest value, an empty cluster
    keeps its mode, stop when a step leaves the modes unchanged. This
    is the loop the local fit ran before the numpy step replaced it;
    `ties` counts the argmin and mode ties it broke."""
    arr = np.array([list(t) for t in rows], dtype=object)
    weights = np.array(weights, dtype=np.int64)

    def distances(modes):
        return np.array([[sum(a != b for a, b in zip(row, m)) for m in modes] for row in rows])

    n_iter, converged = 0, False
    for it in range(1, max_iter + 1):
        n_iter = it
        dists = distances(modes)
        ties["argmin"] += int(((dists == dists.min(axis=1, keepdims=True)).sum(axis=1) > 1).sum())
        assign = dists.argmin(axis=1)
        new_modes = []
        for ci in range(len(modes)):
            mask = assign == ci
            if not mask.any():
                new_modes.append(tuple(modes[ci]))
                continue
            members, w = arr[mask], weights[mask]
            mode_vals = []
            for j in range(arr.shape[1]):
                tally: dict = {}
                for v, wt in zip(members[:, j], w):
                    tally[v] = tally.get(v, 0) + int(wt)
                top = max(tally.values())
                winners = [v for v, c in tally.items() if c == top]
                ties["mode"] += len(winners) > 1
                mode_vals.append(min(winners))
            new_modes.append(tuple(mode_vals))
        if new_modes == modes:
            converged = True
            break
        modes = new_modes
    cost = float((distances(modes).min(axis=1) * weights).sum())
    return modes, cost, n_iter, converged


def test_local_and_distributed_paths_match_reference_lloyd(spark):
    """Both KModes paths — the numpy step on the collected combo table
    and the Spark step (COMBO_THRESHOLD = 0) — give exactly the
    reference loop's modes, cost, n_iter and converged from their own
    inits, on small weighted tables whose few values force argmin and
    mode ties; a small max_iter also exercises the unconverged exit."""
    ties = {"argmin": 0, "mode": 0}
    values = ("B", "ab", "b")  # byte order and str order agree
    for t in range(20):
        r = np.random.default_rng([20, t])
        n_cols = int(r.integers(1, 4))
        cols = [f"c{j}" for j in range(n_cols)]
        combos = sorted({tuple(values[int(v)] for v in r.integers(0, 3, n_cols)) for _ in range(12)})
        weights = [int(w) for w in r.integers(1, 4, len(combos))]
        k = int(r.integers(2, min(4, len(combos)) + 1))
        max_iter = int(r.integers(1, 6))
        df = spark.createDataFrame([c for c, w in zip(combos, weights) for _ in range(w)], cols)

        local = KModes(k, cols, max_iter=max_iter, seed=t).fit(df)
        want = _reference_lloyd(combos, weights, _blake2b_init(combos, t, k), max_iter, ties)
        assert (local.modes, local.cost, local.n_iter, local.converged) == want, (t, "local")

        est = KModes(k, cols, max_iter=max_iter, seed=t)
        est.COMBO_THRESHOLD = 0
        dist = est.fit(df)
        want = _reference_lloyd(combos, weights, est._init_modes(df.distinct()), max_iter, ties)
        assert (dist.modes, dist.cost, dist.n_iter, dist.converged) == want, (t, "distributed")
    assert ties["argmin"] and ties["mode"], ties


def test_empty_input_raises(spark):
    df = spark.createDataFrame([], "c1 string, c2 string")
    for threshold in (KModes.COMBO_THRESHOLD, 0):
        est = KModes(n_clusters=2, cols=("c1", "c2"))
        est.COMBO_THRESHOLD = threshold
        with pytest.raises(ValueError, match="empty"):
            est.fit(df)
    with pytest.raises(ValueError, match="empty"):
        EnsembleKModes(n_partitions=2, n_clusters=2, cols=("c1", "c2")).fit(df)


def test_pyspark_ml_estimator_facade(orders):
    """KModes as a pyspark.ml Estimator: fit via the ml API, transform
    in a Pipeline-compatible way."""
    from pyspark.ml import Pipeline

    from pyspark_distributed_kmodes_spark.ml.kmodes import SparkKModes

    est = SparkKModes(k=4, inputCols=list(COLS), maxIter=10, seed=11)
    pipe_model = Pipeline(stages=[est]).fit(orders)
    out = pipe_model.transform(orders)
    assert "prediction" in out.columns
    preds = {r.prediction for r in out.select("prediction").distinct().collect()}
    assert preds <= set(range(4))
    assert len(pipe_model.stages[0].clusters) == 4


def test_cao_init_deterministic_and_spread():
    """Cao density init: no RNG, picks the densest point first, never
    repeats a center, and spreads across distinct values."""
    from pyspark_distributed_kmodes_spark.ml.kmodes import _cao_init

    arr = np.array(
        [["a", "x"]] * 5 + [["b", "y"]] * 3 + [["c", "z"]] * 2, dtype=object
    )
    c1 = _cao_init(arr, 3)
    c2 = _cao_init(arr, 3)
    assert (c1 == c2).all()  # deterministic
    assert tuple(c1[0]) == ("a", "x")  # densest point first
    assert len({tuple(r) for r in c1}) == 3  # three distinct centers
