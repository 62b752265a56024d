"""Connected components over an edge list (SURVEY.md §7.2 step 3 — the
canonicalization substrate).

One lazy stage: the symmetric edge list is gathered into ONE task that
runs a union-find over it (``_union_find``, a mapInPandas body), so the
labels are exact — no round cap, no convergence test.

The size limit is that one task: it streams the edges in Arrow batches
but holds every node, so its memory grows with |V|, not |E| (measured
in the ``connected_components`` comment). ``gather_threshold`` bounds
it: past it the task stops inserting, counts on and raises, so the
consuming action fails; nothing is ever labelled partially. Every node
has at least one symmetric edge, so the threshold is also a bound on
|V|. Past one task, the Spark-native route is large-star/small-star
(Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC'14).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _union_find(node_col: str, root_col: str, gather_threshold: int):
    """mapInPandas body: union-find over every (a, b) edge the iterator
    yields (Arrow-batched; the iterator spans the whole partition, so
    state accumulates across batches), emitting each node once with its
    root — the component's MIN id under python's ``<``, which matches
    Spark's ordering for the id types used here (strings compare as
    code points == UTF-8 bytes; ints/longs are ints). Batches past
    ``gather_threshold`` edges are only counted, then it raises."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parent: dict = {}
        n_edges = 0

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for pdf in batches:
            n_edges += len(pdf)
            if n_edges > gather_threshold:
                continue
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
        if n_edges > gather_threshold:
            raise ValueError(
                f"connected_components: {n_edges} symmetric edges exceed "
                f"gather_threshold={gather_threshold}; the one union-find task "
                "holds every node, so raise the threshold only if its Python "
                "worker has the memory"
            )
        nodes = list(parent)
        yield pd.DataFrame({node_col: nodes, root_col: [find(n) for n in nodes]})

    return run


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
    # Peak RSS of the one union-find worker (local[4], 8 partitions,
    # string ids; the worker starts at 114 MB). From 4M / 8M symmetric
    # edges: chains of 2M / 4M nodes 454 / 713 MB, 20-node cliques of
    # 210k / 421k nodes 157 / 193 MB, 200-node cliques of 20k / 40k
    # nodes 122 / 126 MB: 150-200 B per node from 200k nodes up, nothing
    # per edge. So the default admits at most 2M nodes, the chain's
    # 340 MB of union-find state.
    gather_threshold: int = 2_000_000,
) -> DataFrame:
    """edges(src, dst) -> (node, component) where component is the
    minimum node id in the connected component. Nodes appear iff they
    occur in the edge list. Deterministic and exact.

    Lazy: nothing runs until the labels are consumed. Above
    ``gather_threshold`` symmetric edges the union-find task raises
    ``ValueError`` and the consuming action fails. The labels carry no
    join hint: AQE's runtime join selection broadcasts them from their
    measured size (entity-linking bridge graphs are tiny)."""
    sym = _symmetrize(edges, src, dst)
    t = sym.schema["a"].dataType
    schema = T.StructType([T.StructField("node", t), T.StructField("component", t)])
    return sym.coalesce(1).mapInPandas(
        _union_find("node", "component", gather_threshold), schema
    )
