"""Connected components over an edge list via iterative DataFrame
self-joins (SURVEY.md §7.2 step 3 — the canonicalization substrate).

Algorithm: iterative minimum-label propagation — each round every node
takes the min label over itself and its neighbors; converges in
O(component diameter) rounds. Alias/near-dup clusters have tiny
diameters (2-4), so 3-6 rounds suffice in practice; ``MAX_ITER`` guards
the loop and convergence is detected with a cheap count of changed
labels.

Scale notes (10^12-node framing):
- each round = one shuffle on node id (join) + one groupBy; lineage is
  cut with localCheckpoint so the plan does not grow per round;
- for planet-scale graphs the standard refinement is large-star/
  small-star (Kiveris et al., "Connected Components in MapReduce and
  Beyond", SoCC'14), which bounds rounds by O(log^2 n) rather than
  diameter; for LSH-blocked entity graphs the diameter IS tiny, so
  min-label propagation does strictly fewer shuffles per round (no
  star-splitting duplication) and wins — documented trade-off;
- partition-local pre-clustering (union-find inside mapInPandas)
  contracts each partition's edge set to a star forest before the
  global loop: the loop's input shrinks from |E| edges to at most one
  edge per node per partition, and intra-partition chains collapse to
  diameter 2 — at planet scale edges >> nodes, so this is the lever
  that keeps the iterative joins cheap.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# iterative-loop round cap; alias/near-dup graphs converge in 3-6
MAX_ITER = 25
# label results at or under this many edges carry a broadcast hint
BROADCAST_THRESHOLD = 100_000


def _union_find(node_col: str, root_col: str):
    """mapInPandas body: union-find over every (a, b) edge the iterator
    yields (Arrow-batched; the iterator spans the whole partition, so
    state accumulates across batches), emitting each node once with its
    root — the component's MIN id under python's ``<``, which matches
    Spark's ordering for the id types used here (strings compare as
    code points == UTF-8 bytes; ints/longs are ints)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for pdf in batches:
            for a, b in zip(pdf["a"], pdf["b"]):
                if a not in parent:
                    parent[a] = a
                if b not in parent:
                    parent[b] = b
                ra, rb = find(a), find(b)
                if ra != rb:
                    # root at the smaller id: keeps the forest deterministic
                    lo, hi = (ra, rb) if ra < rb else (rb, ra)
                    parent[hi] = lo
        nodes = list(parent)
        yield pd.DataFrame({node_col: nodes, root_col: [find(n) for n in nodes]})

    return run


def _local_contract(sym: DataFrame) -> DataFrame:
    """Union-find within each partition: every node maps to its
    partition-local root, emitted as a star forest. Connectivity is
    exactly preserved — star edges reproduce each partition's
    components, and cross-partition edges still share their endpoint
    nodes."""
    # schema-preserving: node ids keep whatever type the caller uses
    return sym.mapInPandas(_union_find("a", "b"), sym.schema).filter(
        F.col("a") != F.col("b")
    )


def _gather_components(sym: DataFrame) -> DataFrame:
    """Exact single-task union-find over a (small, already-contracted)
    symmetric edge list: (node, component = min id). One executor task,
    ONE job when consumed — versus 2 + 2*rounds driver-synchronized jobs
    for the iterative loop, which dominated the canonicalization query's
    wall time at bench scale (the loop's per-round work was milliseconds
    of data on 32 partitions)."""
    t = sym.schema["a"].dataType
    schema = T.StructType(
        [T.StructField("node", t), T.StructField("component", t)]
    )
    return sym.coalesce(1).mapInPandas(_union_find("node", "component"), schema)


def _symmetrize(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """(a, b) and (b, a) for every edge, self-loops dropped, deduplicated.
    One explode over the two orientations (the ``graph.mentions`` idiom),
    not a union of two selects: a union evaluates ``edges``' whole
    upstream plan once per branch."""
    both = F.array(
        F.struct(F.col(src).alias("a"), F.col(dst).alias("b")),
        F.struct(F.col(dst).alias("a"), F.col(src).alias("b")),
    )
    return (
        edges.select(F.explode(both).alias("e"))
        .select("e.a", "e.b")
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    gather_threshold: int = 2_000_000,
) -> DataFrame:
    """edges(src, dst) -> (node, component) where component is the
    minimum node id in the connected component. Nodes appear iff they
    occur in the edge list. Deterministic.

    The symmetric edge count is checked once (a cheap job on the
    just-materialized list): at or under ``gather_threshold`` edges the
    components are finished with a single-task union-find
    (``_gather_components``) — exact, one job, no driver-synchronized
    rounds. Above it the edges are contracted per partition
    (``_local_contract``) and the iterative min-label loop runs for at
    most ``MAX_ITER`` rounds. Entity-linking bridge graphs are tiny by
    construction (LSH-verified near-dup pairs between exact-group
    reps), so production corpora take the gather path. Results under
    ``BROADCAST_THRESHOLD`` edges additionally carry a broadcast hint
    so the caller's label join skips its shuffle."""
    # materialize the symmetric edge list ONCE: every consumer (size
    # probe, loop rounds, gather) would otherwise re-evaluate the whole
    # upstream pair-generation plan (LSH banding included). With the
    # single-pass ``_symmetrize`` the lazy checkpoint + count runs that
    # upstream plan exactly once. On the LARGE-graph path this costs
    # one local-disk write of the 2|E| list — the price of the size
    # probe that buys the gather short-circuit.
    sym = _symmetrize(edges, src, dst).localCheckpoint(eager=False)
    n_edges = sym.count()
    if n_edges <= gather_threshold:
        # tiny graph: the per-partition contraction machinery (a python
        # stage + another distinct round) costs more than the problem —
        # gather the raw edges straight into one union-find task
        labels = _gather_components(sym)
        if n_edges <= BROADCAST_THRESHOLD:
            labels = labels.hint("broadcast")
        return labels
    star = _local_contract(sym)
    sym = _symmetrize(star, "a", "b").localCheckpoint(eager=True)
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(MAX_ITER):
        # neighbor labels: for edge (a,b), b's current label is a candidate for a
        neighbor = (
            sym.join(labels.withColumnRenamed("node", "b"), "b")
            .select(F.col("a").alias("node"), "component")
        )
        new_labels = (
            labels.unionByName(neighbor)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.join(labels.withColumnRenamed("component", "old"), "node")
            .filter(F.col("component") != F.col("old"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels
