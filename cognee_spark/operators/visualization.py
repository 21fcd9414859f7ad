"""Bounded subgraph selection for graph visualization — the reference's
``fetch_visualization_graph_data`` (cognee/modules/visualization/
subgraph_data.py:28-262) re-expressed as joins.

The reference resolves seed nodes by priority (explicit ids → recall
provenance → query vector hits → highest-degree fallback), expands a
``get_neighborhood`` BFS around them, and caps the result at ``max_nodes``
by hop distance. Two of those steps are driver-side whole-graph work there:
the degree fallback calls ``get_graph_data()`` and counts degrees in a dict
(subgraph_data.py:117-137), and the truncation BFS builds a Python
adjacency map over every fetched edge (subgraph_data.py:169-209). Here
both are dataflow:

- degree fallback  → one groupBy over the edge table +
                     ``TakeOrderedAndProject`` top-k;
- hop distances    → the BFS frontier loop already used by
                     :func:`~cognee_spark.operators.retrieval.k_hop_subgraph`
                     (broadcast frontier semi-joins), keeping the hop at
                     which each node first appears;
- truncation       → rank by (hop, node id) + ``limit`` (again
                     ``TakeOrderedAndProject``), then edges semi-join the
                     kept set on both endpoints so no dangling edges remain.

Deviation, documented: the reference breaks hop ties by the adapter's node
list order (subgraph_data.py:200-204) — an ordering a distributed engine
does not have; ties break on node id instead, which is deterministic under
any partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cognee_spark.session import row_frame

DEFAULT_NEIGHBORHOOD_DEPTH = 2  # subgraph_data.py:22
DEFAULT_SEED_TOP_K = 10  # subgraph_data.py:23
DEFAULT_MAX_NODES = 500  # subgraph_data.py:24


def degree_seed_ids(
    edges: DataFrame,
    top_k: int = DEFAULT_SEED_TOP_K,
    src: str = "source_node_id",
    dst: str = "target_node_id",
) -> DataFrame:
    """Highest-degree nodes as seeds (resolve_seeds_by_degree,
    subgraph_data.py:117-137) — the no-seed default view.

    The reference loads the whole graph to the driver and counts in a dict;
    this is one explode + groupBy + top-k. Ties rank by node id (the
    reference's dict order is insertion order — adapter-dependent)."""
    return (
        edges.select(F.explode(F.array(F.col(src), F.col(dst))).alias("node_id"))
        .groupBy("node_id")
        .agg(F.count(F.lit(1)).alias("degree"))
        .orderBy(F.desc("degree"), F.asc("node_id"))
        .limit(top_k)
        .select("node_id")
    )


def resolve_seed_ids(
    edges: DataFrame,
    seed_node_ids: list[str] | None = None,
    recall: DataFrame | None = None,
    query_hits: DataFrame | None = None,
    seed_top_k: int = DEFAULT_SEED_TOP_K,
    src: str = "source_node_id",
    dst: str = "target_node_id",
) -> tuple[DataFrame, str]:
    """Seed ids by the reference's priority: explicit > recall > query >
    degree (resolve_seed_node_ids, subgraph_data.py:143-165). Returns
    (seed frame with one ``node_id`` column, source label).

    ``recall`` is a search-result frame carrying a ``node_ids`` array column
    (the provenance shape search results persist —
    resolve_seeds_from_recall, subgraph_data.py:58-84); first-occurrence
    order is kept via the minimum row position. ``query_hits`` is a scored
    frame (``item_id``, ``score``) from the vector machinery
    (:mod:`~cognee_spark.operators.similarity_search`), ranked nearest-first
    like resolve_seeds_from_query (subgraph_data.py:87-114)."""
    spark = edges.sparkSession
    if seed_node_ids:
        seen: list[str] = []
        for node_id in seed_node_ids:
            if str(node_id) not in seen:
                seen.append(str(node_id))
        frame = row_frame(spark, [(s,) for s in seen[:seed_top_k]], "node_id string")
        return frame, "explicit"
    if recall is not None and "node_ids" in recall.columns:
        exploded = recall.select(
            F.posexplode_outer(F.col("node_ids")).alias("pos", "node_id")
        ).where(F.col("node_id").isNotNull())
        frame = (
            exploded.groupBy("node_id")
            .agg(F.min("pos").alias("first_pos"))
            .orderBy("first_pos", "node_id")
            .limit(seed_top_k)
            .select("node_id")
        )
        if frame.limit(1).count() > 0:
            return frame, "recall"
    if query_hits is not None:
        frame = (
            query_hits.orderBy(F.asc("score"), F.asc("item_id"))
            .limit(seed_top_k)
            .select(F.col("item_id").alias("node_id"))
        )
        if frame.limit(1).count() > 0:
            return frame, "query"
    return degree_seed_ids(edges, seed_top_k, src=src, dst=dst), "degree"


def hop_distances(
    edges: DataFrame,
    seeds: DataFrame,
    depth: int = DEFAULT_NEIGHBORHOOD_DEPTH,
    src: str = "source_node_id",
    dst: str = "target_node_id",
) -> DataFrame:
    """(node_id, hop) for every node within ``depth`` undirected hops of the
    seed set — the hop at which BFS first reaches it (truncate_subgraph's
    BFS, subgraph_data.py:186-198, as frontier semi-joins).

    The frontier is broadcast each round: seed neighborhoods are tiny
    relative to the graph (same argument as ``k_hop_subgraph``)."""
    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    visited = seeds.select(F.col("node_id"), F.lit(0).alias("hop")).distinct()
    frontier = visited.select("node_id")
    for level in range(1, depth + 1):
        neighbors = (
            sym.join(F.broadcast(frontier), sym["a"] == frontier["node_id"])
            .select(F.col("b").alias("node_id"))
            .union(
                sym.join(
                    F.broadcast(frontier), sym["b"] == frontier["node_id"]
                ).select(F.col("a").alias("node_id"))
            )
            .distinct()
        )
        fresh = neighbors.join(
            visited.select("node_id"), "node_id", "left_anti"
        ).localCheckpoint(eager=True)
        visited = visited.union(
            fresh.select("node_id", F.lit(level).alias("hop"))
        ).localCheckpoint(eager=True)
        frontier = fresh
    return visited


def bounded_subgraph(
    nodes: DataFrame,
    edges: DataFrame,
    seeds: DataFrame,
    depth: int = DEFAULT_NEIGHBORHOOD_DEPTH,
    max_nodes: int = DEFAULT_MAX_NODES,
    node_id: str = "entity_id",
    src: str = "source_node_id",
    dst: str = "target_node_id",
) -> dict[str, DataFrame]:
    """The visualization subgraph: seed neighborhood capped at ``max_nodes``
    (fetch_visualization_graph_data + truncate_subgraph,
    subgraph_data.py:169-262).

    Nodes rank by (hop, id) — seeds first, then nearer rings — and the cap
    is a ``TakeOrderedAndProject`` limit, not a driver sort. Edges keep only
    pairs whose BOTH endpoints survive. Returns ``{"nodes": nodes+hop,
    "edges": edges}``."""
    if depth < 1:
        raise ValueError("depth must be >= 1")
    if max_nodes < 1:
        raise ValueError("max_nodes must be >= 1")
    hops = hop_distances(edges, seeds, depth=depth, src=src, dst=dst)
    kept = (
        hops.orderBy(F.asc("hop"), F.asc("node_id"))
        .limit(max_nodes)
        .localCheckpoint(eager=True)  # consumed by three joins below
    )
    kept_nodes = nodes.join(
        F.broadcast(kept), nodes[node_id] == kept["node_id"]
    ).drop("node_id")
    kept_ids = kept.select("node_id")
    kept_edges = (
        edges.join(
            F.broadcast(kept_ids.withColumnRenamed("node_id", src)), src, "semi"
        ).join(
            F.broadcast(kept_ids.withColumnRenamed("node_id", dst)), dst, "semi"
        )
    )
    return {"nodes": kept_nodes, "edges": kept_edges}
