"""Connected components over an edge list — the clustering step that
turns near-duplicate PAIRS into dedup GROUPS (keep one doc per
component). Two execution strategies behind one function:

1. **Driver union-find** (edge list ≤ `driver_edge_limit`): the edge
   list is the OUTPUT of pair detection — orders of magnitude smaller
   than the corpus (a 100 TB corpus with 1% near-dup rate yields
   ~10⁸ edges ≈ a few GB; the default limit stays well under that).
   One bounded collect + union-by-min with path compression + one
   parallelize back replaces O(log diameter) distributed rounds.

2. **Distributed pointer-doubling label propagation** (larger lists):
   iterative min-label propagation PLUS pointer doubling:

       label(v) ← min(label(v),                 # keep
                      min over neighbors u of label(u),   # propagate 1 hop
                      label(label(v)))          # pointer doubling

   repeated until fixpoint. Plain propagation needs O(diameter) rounds;
   the label(label(v)) term halves remaining path length each round,
   giving O(log diameter) — the same convergence class as the
   large-star/small-star map-reduce CC algorithm (Kiveris et al.).

Scale notes (distributed path): round 0 takes each vertex's label
straight from the symmetrized edge aggregation. Each later round is
ONE join — the symmetrized edges plus the label map itself as extra
edges v → label(v), joined to the current labels — and ONE min
aggregate per vertex, which yields both the neighbor term and the
doubled term. Every round's labels are cut with `cut_lineage_lazy`,
so the plan never embeds the previous round's plan (no exponential
Catalyst growth) and recovery lineage stays bounded. The fixpoint test
is the label SUM: labels only decrease, so the round whose exact
DECIMAL sum equals the previous one's has converged; that one tiny
aggregate is also the action that fills the round's lazy cut.

Both paths are deterministic and produce IDENTICAL labels: component =
min vertex id in the set (union-by-min keeps the set root at the
minimum; propagation converges to the same minimum).
"""

from __future__ import annotations

from pyspark_distributed_kmodes_spark.functions.lineage import cut_lineage, cut_lineage_lazy

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _driver_union_find(rows, vertex_type) -> list:
    """Union-find with union-by-min + path compression over collected
    (a, b) edge rows. Returns [(vertex, min-id component)]."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    verts = set()
    for r in rows:
        a, b = r[0], r[1]
        verts.add(a)
        verts.add(b)
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            # attach the larger root under the smaller: the root of any
            # set is therefore always its minimum vertex id
            parent[rb] = ra
    return [(v, find(v)) for v in sorted(verts)]


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    driver_edge_limit: int = 4_000_000,
) -> DataFrame:
    """(vertex, component) for every vertex appearing in `edges`;
    component = min vertex id reachable. Undirected (edges symmetrized
    internally). Edge lists within `driver_edge_limit` run as a single
    bounded-collect union-find (see module docstring); larger ones use
    the distributed loop, converging in O(log diameter) rounds via
    pointer doubling; `max_iter` is a safety bound, not the expected
    count. Set ``driver_edge_limit=0`` to force the distributed path."""
    proj = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    if driver_edge_limit > 0:
        # Materialize the (a, b) projection ONCE: the driver path needs
        # it twice (count + collect) and the distributed fallback once
        # more; without the cut the upstream pair-generation plan would
        # re-execute per consumer. Never use limit().collect() to probe
        # size — Spark's CollectLimit runs the child in incremental
        # partition waves through a single-partition pull, re-running
        # the expensive upstream and buffering through one task
        # (measured: OOM on a default-heap driver where the
        # full-parallel count + collect path is fine).
        proj = proj.transform(cut_lineage)
        if proj.count() <= driver_edge_limit:
            vt = edges.schema[src].dataType
            out_schema = T.StructType(
                [T.StructField("vertex", vt), T.StructField("component", vt)]
            )
            spark = edges.sparkSession
            return spark.createDataFrame(
                _driver_union_find(proj.collect(), vt), out_schema
            )
    # Symmetrize in ONE pass over proj (explode of the 2-element
    # [(a,b),(b,a)] array) instead of union-of-two-scans — with
    # driver_edge_limit=0 this makes proj single-consumer, removing its
    # standalone materialization job (r14). The .distinct() stays: a
    # generic edge list may carry duplicates / both orientations, and
    # the in-bucket doc pairs feeding the dedup callers are distinct
    # per (a,b) but a<b-ordered, so the symmetrized rows stay distinct
    # through the union — the exchange also establishes the hash
    # partitioning the round-0 aggregation reuses.
    sym = (
        proj.select(
            F.explode(
                F.array(
                    F.struct(F.col("a"), F.col("b")),
                    F.struct(F.col("b").alias("a"), F.col("a").alias("b")),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .distinct()
        .transform(cut_lineage)
    )
    # fused round 0: label(v) = min(v, min neighbor) straight from the
    # edge aggregation — one shuffle replaces a full propagate round
    # (identity-label round 1 would also make pointer doubling a no-op).
    # Lazy cut (r14): the convergence aggregate below is the first
    # action anyway — it materializes AND pins the labels in one job,
    # where the eager form paid a separate checkpoint job per round.
    labels = (
        sym.groupBy("a")
        .agg(F.least(F.col("a"), F.min("b")).alias("label"))
        .select(F.col("a").alias("v"), "label")
        .transform(cut_lineage_lazy)
    )
    # Convergence check: labels only ever DECREASE (both update terms
    # are ≤ the current label set's minima), so the label sum is a
    # strictly decreasing monotone of progress and the fixpoint is
    # exactly "sum unchanged". One tiny aggregate over the freshly
    # checkpointed labels replaces the former new⋈old join + count
    # action (2 exchanges + 1 join per round). DECIMAL(38,0) sum: exact
    # and overflow-free at any vertex-id/count scale.
    def _label_sum(lab: DataFrame):
        return lab.agg(F.sum(F.col("label").cast("decimal(38,0)"))).collect()[0][0]

    prev_sum = _label_sum(labels)
    for _ in range(max_iter):
        # ONE join per round (r14; was two + a union): treat the label
        # map itself as extra edges v → label(v) and look up label(b)
        # over (sym ∪ label-edges). The sym rows contribute
        # min-over-neighbors label(u); the label-edge rows contribute
        # label(label(v)) — exactly the former neighbor_min ∪ doubled
        # terms, and every v still appears (its label-edge always
        # joins: a label is itself a vertex). Pointer doubling: both
        # terms are ≤ the current label, so monotonicity (and the
        # sum-fixpoint test) is preserved unchanged.
        cand = sym.unionByName(
            labels.select(F.col("v").alias("a"), F.col("label").alias("b"))
        )
        labels = (
            cand.join(labels.select(F.col("v").alias("b"), "label"), "b")
            .select(F.col("a").alias("v"), "label")
            .groupBy("v")
            .agg(F.min("label").alias("label"))
            .transform(cut_lineage_lazy)
        )
        new_sum = _label_sum(labels)
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return labels.select(F.col("v").alias("vertex"), F.col("label").alias("component"))
