"""Distributed connected components in two phases: partial, then exact.

Phase 1 contracts the edge set inside each partition: one ``mapInArrow``
pass runs union-find over the partition's ``(u, v)`` edges and emits,
for every node it touched that is not its local component minimum, the
edge ``(node, local minimum)``.  Each local component becomes a star, so
the output is a forest of at most Σ distinct-nodes-per-partition edges
with exactly the connectivity of the input.

Phase 2 merges the forest exactly.  When it fits under
``_DRIVER_FINISH_EDGES`` (one bounded collect) the same union-find
finishes it on the driver and the labels come back as a broadcast
relation — one data pass and no iteration at all.  A larger forest runs
large-star/small-star rounds instead (public Kiveris et al. "Connected
Components in MapReduce and Beyond", SoCC'14: O(log² n) rounds whatever
the component diameter), on the forest rather than the raw edges, so
driver memory never scales with input size.  This is the
composable-coreset shape (partial results per partition, then an exact
merge of the small union) that the t13 fold and the Lloyd kernel use.

Node ids may be any orderable type the engine hands in: int64 doc ids
(l18/l40/l114) or strings (er1).  The cluster id is the component's
minimum id, and Python's ordering of the collected ids agrees with
Spark's: integers numerically, strings by code point, which is the
order of their UTF-8 bytes.

Used by llm_dedup.l18_dedup_clusters and fuzzy_join.er1; verified
exactly against DuckDB recursive-reachability oracles there and against
a pure-Python union-find in tests/test_llm.py.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ._cache import ephemeral_cache

# Largest phase-1 forest finished on the driver: two ids per edge, a few
# hundred MB of Python objects at most.  Beyond it the star rounds run
# distributed, so the driver holds at most this many edges at any input
# size.
_DRIVER_FINISH_EDGES = 2_000_000


def _forest_fn():
    """mapInArrow kernel: union-find over a partition's (u, v) batches,
    emitting (node, component minimum) for every non-minimum node.
    Self-contained so it pickles by value to the Python workers; phase 2
    runs the same function over the collected forest on the driver."""

    def fn(batches):
        import pyarrow as pa

        parent: dict = {}

        def root(x):
            p = parent.setdefault(x, x)
            while p != x:  # path halving
                gp = parent[p]
                parent[x] = gp
                x, p = gp, parent[gp]
            return x

        schema = None
        for batch in batches:
            schema = batch.schema
            for a, b in zip(
                batch.column(0).to_pylist(), batch.column(1).to_pylist()
            ):
                ra, rb = root(a), root(b)
                if ra != rb:  # the smaller root wins: roots are minima
                    if rb < ra:
                        ra, rb = rb, ra
                    parent[rb] = ra
        links = [(x, r) for x in parent if (r := root(x)) != x]
        if links:
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([x for x, _ in links], type=schema.field(0).type),
                    pa.array([r for _, r in links], type=schema.field(1).type),
                ],
                schema=schema,
            )

    return fn


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect every strictly-larger neighbor to
    min(Γ(u) ∪ {u}).  Input/output: undirected edge set as (u, v)."""
    nbr = edges.select("u", "v").unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = (
        nbr.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least("mn", "u").alias("m"))
    )
    return (
        nbr.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges toward the smaller endpoint; for each center u,
    connect all smaller neighbors (and u itself) to the minimum."""
    nbr = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    mins = nbr.groupBy("u").agg(F.min("v").alias("m"))
    linked = nbr.join(mins, "u")
    reattach = linked.select(F.col("v").alias("u"), F.col("m").alias("v"))
    center = mins.select("u", F.col("m").alias("v"))
    return (
        reattach.unionByName(center)
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _star_rounds(edges: DataFrame, max_rounds: int) -> DataFrame:
    """Large-star/small-star alternation to the fixed point (a union of
    stars centered on component minima); returns (u, m) with m the
    component minimum of every non-minimum node u."""
    edges = ephemeral_cache(edges.distinct(), required=True)
    n_edges = edges.count()
    for _ in range(max_rounds):
        after = ephemeral_cache(
            _small_star(_large_star(edges)), required=True
        )
        n_after = after.count()
        # fixed point ⇔ same edge set. Both sides are DISTINCT sets, so
        # equal counts + an empty anti-join ⇔ equality, exactly; with
        # unequal counts the sets cannot be equal and the join is
        # skipped. Last round's after.count() is this round's n_edges.
        if n_after == n_edges and after.join(
            edges, ["u", "v"], "left_anti"
        ).isEmpty():
            return after.groupBy("u").agg(F.min("v").alias("m"))
        edges = after
        n_edges = n_after
    raise RuntimeError(
        f"connected-components did not converge in {max_rounds} "
        "large/small-star rounds"
    )


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_rounds: int = 50
) -> DataFrame:
    """Connected components of an undirected graph.

    ``nodes``: one column ``id`` (every vertex, including isolated
    ones).  ``edges``: columns ``u``, ``v``; self-loops and edges with
    a null endpoint are ignored.  Returns ``(doc_id, cluster_id)``, one
    row per ``nodes`` row, with cluster_id = min node id in the
    component.

    Phase 1 contracts the edges per partition (see the module
    docstring); phase 2 finishes a forest of at most
    ``_DRIVER_FINISH_EDGES`` edges on the driver, else runs at most
    ``max_rounds`` large-star/small-star rounds on it."""
    spark = nodes.sparkSession
    # least/greatest give u and v one common type for the kernel's
    # output schema; the orientation itself is irrelevant to union-find.
    oriented = edges.filter(F.col("u") != F.col("v")).select(
        F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
    )
    id_type = oriented.schema["u"].dataType
    schema = StructType(
        [StructField("u", id_type), StructField("v", id_type)]
    )
    forest = oriented.mapInArrow(_forest_fn(), schema)
    head = forest.limit(_DRIVER_FINISH_EDGES + 1).toArrow()
    if head.num_rows <= _DRIVER_FINISH_EDGES:
        links = pa.Table.from_batches(
            list(_forest_fn()(head.to_batches())), schema=head.schema
        )
        roots = F.broadcast(spark.createDataFrame(links).toDF("u", "m"))
    else:
        # the bounded head is dropped and phase 1 re-runs once, into the
        # fallback's pin: pinning up front would cost every small forest
        # an extra job and forest-sized storage.
        roots = _star_rounds(forest, max_rounds)
    # Every non-minimum node carries one (u, m) row; minima and
    # isolated nodes label themselves.
    return (
        nodes.join(roots, nodes["id"] == roots["u"], "left")
        .select(
            F.col("id").alias("doc_id"),
            F.coalesce(F.col("m"), F.col("id")).alias("cluster_id"),
        )
    )
