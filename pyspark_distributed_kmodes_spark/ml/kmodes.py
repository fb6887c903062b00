"""Distributed k-modes clustering — the reference's core capability,
re-expressed Spark-first.

Reference (reconstructed, SURVEY.md §2 Part A): an RDD ensemble k-modes
(`pyspark_kmodes/pyspark_kmodes.py:~280-400`): per-partition incremental
k-modes via `rdd.mapPartitionsWithIndex` + closure-pickled Cluster
objects, then a driver-local meta-clustering of the P×k partition modes.

Every fit here runs the same convergence loop, `_lloyd`: repeat one
batch Lloyd step (assign each row to its nearest mode, then re-take
each column's most frequent value per cluster) until the modes stop
moving or `max_iter` steps have run. Two steps plug into it:

- `_numpy_step` — weighted, over per-column sorted dictionary codes on
  the driver or in a Python worker.
- `KModes._recompute_modes` on `KModesModel.transform` — one Spark job
  per step (broadcast-literal assign, melt → weighted count → argmax
  re-mode), for inputs too large to collect.

This module provides BOTH:

- `KModes` — a global Lloyd-style k-modes on DataFrames. The objective
  depends only on the distinct value combinations and their counts, so
  `fit` aggregates the input once to a persisted weighted combo table
  and runs the numpy step on it when it has at most `COMBO_THRESHOLD`
  rows, else the Spark step. Replaces the reference's incremental
  per-partition bookkeeping (A3/A5) with batch assign (A1/A4) and
  batch re-mode (A2).
- `EnsembleKModes` — reference-parity two-level ensemble: independent
  local k-modes per partition group (applyInPandas, numpy step inside),
  modes collected (provably tiny: P×k rows) and meta-clustered on the
  driver, exactly the reference's fit() shape (A6/A9) with Arrow
  instead of closure pickling.

Determinism: seeded init (blake2b over the combos on the numpy path,
`xxhash64(features, seed)` on the Spark path), argmin ties → lowest
cluster index, mode ties → smallest value, an empty cluster keeps its
mode. Fixed seed ⇒ identical model on any cluster size.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["KModes", "KModesModel", "EnsembleKModes", "hamming_distance_col"]

# NULL categorical values are folded to this sentinel string everywhere
# (fit AND transform): a raw (col != lit(v)) comparison yields SQL NULL
# for null inputs — silently dropping the attribute from the Hamming
# distance — and driver-side tuple hashing would crash on None.
NULL_SENTINEL = "\x00null"


def _feat(c: str):
    return F.coalesce(F.col(c).cast("string"), F.lit(NULL_SENTINEL))


def hamming_distance_col(cols: Sequence[str], mode_values: Sequence[str]):
    """Simple-matching (Hamming) dissimilarity of a row to one mode:
    sum over attributes of (value != mode_value). Reference A1
    (`matching_dissim`, pyspark_kmodes.py:~20, reconstructed).
    Null-safe on both sides via the sentinel fold."""
    terms = [
        (_feat(c) != F.lit(NULL_SENTINEL if v is None else v)).cast("int")
        for c, v in zip(cols, mode_values)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


@dataclass
class KModesModel:
    """Fitted model: final modes + assignment transform (reference A10)."""

    cols: tuple[str, ...]
    modes: list[tuple[str, ...]]  # modes[c] = tuple of attribute values
    cost: float = float("nan")
    n_iter: int = 0
    converged: bool = False

    def _dist_array(self):
        return F.array(
            *[
                F.struct(
                    hamming_distance_col(self.cols, m).alias("dist"),
                    F.lit(i).alias("idx"),
                )
                for i, m in enumerate(self.modes)
            ]
        )

    def transform(self, df: DataFrame, prediction_col: str = "prediction") -> DataFrame:
        """Assign each row to its nearest mode (argmin Hamming; ties →
        lowest index). Pure JVM expression: array_min over (dist, idx)
        structs — no shuffle, no Python."""
        return df.withColumn(prediction_col, F.array_min(self._dist_array()).getField("idx"))

    # ---- reference API parity (README usage, reconstructed) ----------
    def predict(self, df: DataFrame) -> DataFrame:
        """Reference `model.predict(rdd)` equivalent (A10): DataFrame in,
        assignments out."""
        return self.transform(df)

    @property
    def clusters(self) -> list[tuple[str, ...]]:
        """Reference `model.clusters`: the final modes."""
        return self.modes

    @property
    def mean_cost(self) -> float:
        """Reference `.mean_cost` exposes the MEAN distance; `cost` here
        stores whichever the fitter computed (KModes: total;
        EnsembleKModes: mean, matching the reference)."""
        return self.cost

    def distance_col(self):
        """Min distance to any mode (for cost/outlier scoring)."""
        return F.array_min(self._dist_array()).getField("dist")

    # ---- persistence (model state is provably tiny: k modes × n_cols
    # strings — a JSON document, not a distributed dataset) -----------
    def save(self, path: str) -> None:
        import json
        import os

        os.makedirs(os.path.dirname(os.path.abspath(path)) or ".", exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {
                    "cols": list(self.cols),
                    "modes": [list(m) for m in self.modes],
                    "cost": self.cost,
                    "n_iter": self.n_iter,
                    "converged": self.converged,
                },
                f,
            )

    @classmethod
    def load(cls, path: str) -> "KModesModel":
        import json

        with open(path) as f:
            d = json.load(f)
        return cls(
            cols=tuple(d["cols"]),
            modes=[tuple(m) for m in d["modes"]],
            cost=d["cost"],
            n_iter=d["n_iter"],
            converged=d["converged"],
        )


def _lloyd(step, modes: list, max_iter: int) -> tuple[list, int, bool]:
    """The convergence loop of every fit: apply `step` (modes → next
    modes) until it returns its input unchanged, or `max_iter` times.
    Returns (modes, steps run, whether a fixed point was reached)."""
    n_iter = 0
    for n_iter in range(1, max_iter + 1):
        new_modes = step(modes)
        if new_modes == modes:
            return modes, n_iter, True
        modes = new_modes
    return modes, n_iter, False


def _encode(columns) -> tuple[list[np.ndarray], np.ndarray]:
    """Dictionary-encode each column over its sorted distinct values:
    (per-column vocabularies, (rows, cols) int codes). Code order is
    value order, so "lowest code" means "smallest value"."""
    vocab, codes = [], []
    for col in columns:
        values, inverse = np.unique(np.asarray(col, dtype=object), return_inverse=True)
        vocab.append(values)
        codes.append(inverse.reshape(-1))
    return vocab, np.stack(codes, axis=1)


def _tuples(codes: np.ndarray) -> list[tuple[int, ...]]:
    """Modes as `_lloyd` compares them: a list of code tuples."""
    return [tuple(m) for m in codes.tolist()]


def _decode(vocab: list[np.ndarray], modes: list) -> list[tuple[str, ...]]:
    return [tuple(vocab[j][c] for j, c in enumerate(m)) for m in modes]


def _distances(codes: np.ndarray, modes) -> np.ndarray:
    """(rows, k) Hamming distance of every coded row to every mode."""
    return (codes[:, None, :] != np.asarray(modes)[None, :, :]).sum(axis=2)


def _numpy_step(codes: np.ndarray, weights: np.ndarray | None = None):
    """Weighted Lloyd step over dictionary codes; modes are lists of
    code tuples. Assign: argmin Hamming, ties → lowest cluster index.
    Re-mode: per (cluster, column) argmax of summed weight (one
    bincount per column), ties → lowest code; an empty cluster keeps
    its mode. `weights` None counts each row once."""
    sizes = codes.max(axis=0) + 1

    def step(modes: list) -> list:
        k = len(modes)
        assign = _distances(codes, modes).argmin(axis=1)
        new = np.array(modes)
        filled = np.bincount(assign, minlength=k) > 0
        for j, size in enumerate(sizes):
            tally = np.bincount(assign * size + codes[:, j], weights=weights, minlength=k * size)
            new[filled, j] = tally.reshape(k, size)[filled].argmax(axis=1)
        return _tuples(new)

    return step


class KModes:
    """Global Lloyd k-modes estimator on a DataFrame of categorical cols.

    Scale design: the input is aggregated once (one map-side-combined
    shuffle) to a weighted combo table, which is persisted for the fit.
    Up to COMBO_THRESHOLD combos it is collected through Arrow and the
    numpy step iterates on the driver with no Spark job per iteration.
    Beyond that each iteration is one Spark job over the combo table:
    assign is a broadcast-style literal expression (k modes × n_cols
    comparisons, no join shuffle), re-mode melts to (cluster, col,
    value) and sums the weights (single shuffle of size ≤ k × n_cols ×
    distinct_values after map-side combine).
    """

    # Above this many distinct value-combinations the weighted local
    # Lloyd loop stops being "provably tiny" and we fall back to the
    # fully distributed iteration. 100k combos × few cols ≈ megabytes.
    COMBO_THRESHOLD = 100_000

    def __init__(self, n_clusters: int, cols: Sequence[str], max_iter: int = 20, seed: int = 42):
        self.k = int(n_clusters)
        self.cols = tuple(cols)
        self.max_iter = int(max_iter)
        self.seed = int(seed)

    def _init_modes(self, combos: DataFrame) -> list[tuple[str, ...]]:
        """Seeded deterministic init: the first k of the (distinct) combos
        ordered by a seeded hash (the reference uses rdd.takeSample —
        fit():~300; hash-sort is its deterministic equivalent)."""
        rows = (
            combos.orderBy(F.xxhash64(*[F.col(c) for c in self.cols], F.lit(self.seed)), *self.cols)
            .limit(self.k)
            .collect()
        )
        modes = [tuple(r[c] for c in self.cols) for r in rows]
        if len(modes) < self.k:
            raise ValueError(f"only {len(modes)} distinct rows for k={self.k}")
        return modes

    def fit(self, df: DataFrame) -> KModesModel:
        """Key scale property of k-modes over CATEGORICAL data: the
        objective depends only on the distinct value-combination counts,
        not the raw rows. So fit aggregates the input to a weighted
        combo table (`_w` = rows per combo) in ONE shuffle, persists it,
        and counts its rows to pick the path: up to COMBO_THRESHOLD
        combos are collected and iterated with the numpy step; more are
        iterated in Spark, one job per iteration (the reference's
        barrier structure, SURVEY.md §3.1 E1), over the combos rather
        than the raw rows. Both paths run `_lloyd` and minimise the
        same weighted objective."""
        feats = df.select(*[_feat(c).alias(c) for c in self.cols])
        combos = feats.groupBy(*self.cols).agg(F.count(F.lit(1)).alias("_w")).persist()
        try:
            n_combos = combos.count()
            if not n_combos:
                raise ValueError("KModes.fit: input DataFrame is empty")
            if n_combos <= self.COMBO_THRESHOLD:
                return self._fit_local(combos)
            return self._fit_distributed(combos)
        finally:
            combos.unpersist()

    def _fit_local(self, combos: DataFrame) -> KModesModel:
        """Exact weighted Lloyd on the collected combo table, with a
        seeded blake2b hash order over the combos as init (xxhash64
        isn't available driver-side; blake2b is an equally
        deterministic stand-in for `_init_modes`' order)."""
        import hashlib

        table = combos.toArrow()
        values = [table.column(c).to_numpy(zero_copy_only=False) for c in self.cols]
        weights = table.column("_w").to_numpy()
        rows = list(zip(*values))
        if len(rows) < self.k:
            raise ValueError(f"only {len(rows)} distinct rows for k={self.k}")

        def h(t):
            m = hashlib.blake2b(("\x00".join(t) + f"|{self.seed}").encode(), digest_size=8)
            return int.from_bytes(m.digest(), "big")

        order = sorted(range(len(rows)), key=lambda i: (h(rows[i]), rows[i]))
        vocab, codes = _encode(values)
        init = _tuples(codes[order[: self.k]])
        modes, n_iter, converged = _lloyd(_numpy_step(codes, weights), init, self.max_iter)
        cost = float(_distances(codes, modes).min(axis=1) @ weights)
        return KModesModel(self.cols, _decode(vocab, modes), cost, n_iter, converged)

    def _fit_distributed(self, combos: DataFrame) -> KModesModel:
        """Lloyd with one Spark job per iteration over the persisted
        combo table — the path for combo cardinality beyond driver
        memory."""

        def step(modes):
            return self._recompute_modes(KModesModel(self.cols, modes).transform(combos, "cluster"), modes)

        modes, n_iter, converged = _lloyd(step, self._init_modes(combos), self.max_iter)
        model = KModesModel(cols=self.cols, modes=modes, n_iter=n_iter, converged=converged)
        cost = combos.agg(F.sum(model.distance_col() * F.col("_w")).cast("double")).first()[0]
        model.cost = cost or 0.0
        return model

    def _recompute_modes(self, assigned: DataFrame, old_modes: list) -> list[tuple[str, ...]]:
        """New mode of each cluster = per-attribute argmax of value
        weight (reference A2/A3 `get_max_value_key` /
        `Cluster.update_mode`, batch form): `assigned` carries the
        feature columns, `cluster` and the row weight `_w`. Melt all
        columns into one (cluster, col, value) weight sum so every
        attribute's mode comes out of a single shuffle; ties → smallest
        value (deterministic)."""
        melted = assigned.select(
            "cluster",
            "_w",
            F.explode(
                F.array(*[F.struct(F.lit(c).alias("col"), F.col(c).alias("value")) for c in self.cols])
            ).alias("cv"),
        ).select("cluster", "_w", "cv.col", "cv.value")
        counts = melted.groupBy("cluster", "col", "value").agg(F.sum("_w").alias("n"))
        w = Window.partitionBy("cluster", "col").orderBy(F.col("n").desc(), F.col("value").asc())
        winners = counts.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).collect()
        by_cluster: dict[int, dict[str, str]] = {}
        for r in winners:
            by_cluster.setdefault(r["cluster"], {})[r["col"]] = r["value"]
        out = []
        for i in range(self.k):
            if i in by_cluster:  # empty clusters keep their old mode
                out.append(tuple(by_cluster[i][c] for c in self.cols))
            else:
                out.append(tuple(old_modes[i]))
        return out


# ---------------------------------------------------------------------------
# Reference-parity ensemble (SURVEY.md §2 A6/A9)
# ---------------------------------------------------------------------------


def _cao_init(arr: np.ndarray, k: int) -> np.ndarray:
    """Cao et al. (2009) density init, the reference meta-step's default
    (`nicodv/kmodes` KModes init='Cao', SURVEY A9): first center = the
    highest-density point (mean matching similarity to all points);
    each next center maximizes density × Hamming distance to its
    nearest chosen center. Fully deterministic — no RNG — with ties
    broken by row order. O(n²) in the candidate count, used only where
    that count is provably small (P×k collected partition modes)."""
    n, d = arr.shape
    sim = (arr[:, None, :] == arr[None, :, :]).sum(axis=2)  # matching attrs
    dens = sim.sum(axis=1).astype(np.float64) / (n * d)
    centers = [int(dens.argmax())]
    for _ in range(1, min(k, n)):
        dist = (arr[:, None, :] != arr[None, centers, :]).sum(axis=2).min(axis=1)
        score = dens * dist  # zero at already-chosen points (dist 0)
        centers.append(int(score.argmax()))
    return arr[centers].copy()


@dataclass
class EnsembleKModes:
    """Two-level ensemble k-modes with the reference's API shape
    (EnsembleKModes.__init__ params, pyspark_kmodes.py:~250-280,
    reconstructed): independent k-modes per partition group, then
    meta-clustering of the collected partition modes on the driver.

    Spark-first re-expression: the per-partition loop (A5/A6,
    `rdd.mapPartitionsWithIndex(iter_k_modes)`) becomes ONE
    `groupBy(pid).applyInPandas` — Arrow-batched, no closure pickling,
    no per-iteration job storm; the meta step stays driver-local
    because its input is provably tiny (n_partitions × n_clusters rows).
    Both levels run `_lloyd` with the unweighted numpy step: a group
    starts from `rng.choice` rows (the reference's per-partition
    takeSample), the meta step from `_cao_init` (its nicodv default).

    The meta-modes are not refined on the data, as in the reference, so
    the model reports the meta step's `n_iter` and `converged=False`.

    `n_partitions`: None or 0 → derived from the input row count so each
    applyInPandas group holds ≤ MAX_GROUP_ROWS rows. A fixed partition
    count would make group size grow with the corpus — an executor OOM
    at 100 TB; the derived count keeps the per-group pandas frame
    bounded no matter the input size.
    """

    n_partitions: int | None
    n_clusters: int
    max_dist_iter: int = 10
    local_kmodes_iter: int = 10
    seed: int = 42
    cols: tuple = field(default_factory=tuple)

    # target upper bound on rows materialized per applyInPandas group
    MAX_GROUP_ROWS = 1_000_000

    def fit(self, df: DataFrame) -> KModesModel:
        cols = tuple(self.cols) or tuple(df.columns)
        k, seed = self.n_clusters, self.seed
        local_iter = self.local_kmodes_iter
        feats = df.select(*[_feat(c).alias(c) for c in cols])
        n_parts = self.n_partitions
        if not n_parts:
            n_rows = feats.count()
            n_parts = max(1, -(-n_rows // self.MAX_GROUP_ROWS))  # ceil
        # deterministic partition assignment (reference repartitions
        # round-robin, fit():~290 — hash of content is reproducible)
        pid = (F.xxhash64(*[F.col(c) for c in cols], F.lit(seed)) % n_parts + n_parts) % n_parts
        feats = feats.withColumn("pid", pid.cast("int"))

        import pyspark.sql.types as T

        schema = T.StructType(
            [T.StructField("pid", T.IntegerType())]
            + [T.StructField(c, T.StringType()) for c in cols]
        )

        def run_group(pdf: pd.DataFrame) -> pd.DataFrame:
            group_pid = int(pdf["pid"].iloc[0])
            vocab, codes = _encode(pdf[c] for c in cols)
            rng = np.random.default_rng(seed + group_pid)
            init = codes[rng.choice(len(codes), size=min(k, len(codes)), replace=False)]
            modes, _, _ = _lloyd(_numpy_step(codes), _tuples(init), local_iter)
            out = pd.DataFrame(_decode(vocab, modes), columns=list(cols))
            out.insert(0, "pid", group_pid)
            return out

        partition_modes = feats.groupBy("pid").applyInPandas(run_group, schema)
        collected = partition_modes.orderBy("pid", *cols).collect()  # ≤ P×k rows
        # dedup identical partition modes before meta-clustering
        # (reference A7 `get_unique_modes_*`, reconstructed)
        uniq = sorted(set(tuple(r[c] for c in cols) for r in collected))
        if not uniq:
            raise ValueError("EnsembleKModes.fit: input DataFrame is empty")
        vocab, codes = _encode(zip(*uniq))
        metamodes, n_iter, _ = _lloyd(_numpy_step(codes), _tuples(_cao_init(codes, k)), self.max_dist_iter)
        model = KModesModel(cols=cols, modes=_decode(vocab, metamodes), n_iter=n_iter, converged=False)
        scored = model.transform(feats.drop("pid"), "cluster").select(model.distance_col().alias("d"))
        agg = scored.agg(F.sum("d").cast("double"), F.count(F.lit(1))).first()
        model.cost = (agg[0] or 0.0) / max(agg[1], 1)  # reference exposes MEAN cost (fit():~390)
        # reference `.predictions`: training-set assignments (lazy DF);
        # `.indexes` (A9): the bare cluster-index column of the same
        self.predictions = model.transform(feats.drop("pid"))
        self.indexes = self.predictions.select("prediction")
        return model


# ---------------------------------------------------------------------------
# pyspark.ml pipeline integration (SURVEY.md §1.1: Estimator/Model with
# params via pyspark.ml.param — lets k-modes sit inside ml Pipelines)
# ---------------------------------------------------------------------------

try:  # pyspark.ml is part of pyspark; guarded for minimal builds
    from pyspark.ml import Estimator, Model
    from pyspark.ml.param import Param, Params, TypeConverters

    class SparkKModes(Estimator):
        """pyspark.ml Estimator facade over KModes: fits on the
        configured input columns, yields a SparkKModesModel whose
        transform() appends `predictionCol`."""

        k = Param(Params._dummy(), "k", "number of clusters", TypeConverters.toInt)
        inputCols = Param(Params._dummy(), "inputCols", "categorical feature columns", TypeConverters.toListString)
        maxIter = Param(Params._dummy(), "maxIter", "max Lloyd iterations", TypeConverters.toInt)
        seed = Param(Params._dummy(), "seed", "deterministic init seed", TypeConverters.toInt)
        predictionCol = Param(Params._dummy(), "predictionCol", "output column", TypeConverters.toString)

        def __init__(self, k=8, inputCols=None, maxIter=20, seed=42, predictionCol="prediction"):
            super().__init__()
            self._setDefault(k=8, maxIter=20, seed=42, predictionCol="prediction")
            self._set(k=k, maxIter=maxIter, seed=seed, predictionCol=predictionCol)
            if inputCols is not None:
                self._set(inputCols=inputCols)

        def _fit(self, dataset: DataFrame) -> "SparkKModesModel":
            cols = self.getOrDefault(self.inputCols)
            inner = KModes(
                n_clusters=self.getOrDefault(self.k),
                cols=cols,
                max_iter=self.getOrDefault(self.maxIter),
                seed=self.getOrDefault(self.seed),
            ).fit(dataset)
            model = SparkKModesModel(inner=inner, prediction_col=self.getOrDefault(self.predictionCol))
            return model

    class SparkKModesModel(Model):
        def __init__(self, inner: KModesModel = None, prediction_col: str = "prediction"):
            super().__init__()
            self.inner = inner
            self.prediction_col = prediction_col

        def _transform(self, dataset: DataFrame) -> DataFrame:
            return self.inner.transform(dataset, self.prediction_col)

        @property
        def clusters(self):
            return self.inner.clusters

        def save(self, path: str) -> None:
            import json
            import os

            os.makedirs(path, exist_ok=True)
            self.inner.save(os.path.join(path, "model.json"))
            with open(os.path.join(path, "meta.json"), "w") as f:
                json.dump({"prediction_col": self.prediction_col}, f)

        @classmethod
        def load(cls, path: str) -> "SparkKModesModel":
            import json
            import os

            inner = KModesModel.load(os.path.join(path, "model.json"))
            with open(os.path.join(path, "meta.json")) as f:
                meta = json.load(f)
            return cls(inner=inner, prediction_col=meta["prediction_col"])

except ImportError:  # pragma: no cover
    SparkKModes = None
    SparkKModesModel = None
