"""Bounded-subgraph visualization selection (operators/visualization.py) vs
the reference semantics of cognee/modules/visualization/subgraph_data.py."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cognee_spark.operators import visualization as V


def _graph(spark):
    """A path 'a-b-c-d-e' plus a hub 'h' touching a and x1..x4."""
    edges = spark.createDataFrame(
        [
            ("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"),
            ("h", "a"), ("h", "x1"), ("h", "x2"), ("h", "x3"), ("h", "x4"),
        ],
        "source_node_id string, target_node_id string",
    )
    nodes = edges.select(F.col("source_node_id").alias("entity_id")).union(
        edges.select("target_node_id")
    ).distinct().withColumn("name", F.upper("entity_id"))
    return nodes, edges


def test_hop_distances_bfs_first_reach(spark):
    nodes, edges = _graph(spark)
    seeds = spark.createDataFrame([("a",)], "node_id string")
    hops = {r.node_id: r.hop for r in V.hop_distances(edges, seeds, depth=2).collect()}
    assert hops == {"a": 0, "b": 1, "h": 1, "c": 2, "x1": 2, "x2": 2, "x3": 2, "x4": 2}


def test_bounded_subgraph_caps_by_hop_then_id_and_drops_dangling_edges(spark):
    nodes, edges = _graph(spark)
    seeds = spark.createDataFrame([("a",)], "node_id string")
    out = V.bounded_subgraph(nodes, edges, seeds, depth=2, max_nodes=4)
    kept = sorted((r.entity_id, r.hop) for r in out["nodes"].collect())
    # rank by (hop, id): a(0) < b(1) < h(1) < c(2) — x1..x4 lose the id tie at hop 2
    assert kept == [("a", 0), ("b", 1), ("c", 2), ("h", 1)]
    kept_edges = sorted(
        (r.source_node_id, r.target_node_id) for r in out["edges"].collect()
    )
    # h-x* and c-d dangle (one endpoint cut) and must not appear
    assert kept_edges == [("a", "b"), ("b", "c"), ("h", "a")]


def test_degree_fallback_picks_hub_first(spark):
    nodes, edges = _graph(spark)
    seeds, source = V.resolve_seed_ids(edges)
    assert source == "degree"
    top = [r.node_id for r in seeds.collect()]
    assert top[0] == "h"  # degree 5
    assert set(top[1:3]) <= {"a", "b", "c", "d"}  # degree-3/2 band


def test_seed_priority_explicit_beats_recall_beats_query(spark):
    nodes, edges = _graph(spark)
    recall = spark.createDataFrame(
        [(["b", "c", "b"],)], "node_ids array<string>"
    )
    hits = spark.createDataFrame(
        [("d", 0.1), ("e", 0.2)], "item_id string, score double"
    )
    seeds, source = V.resolve_seed_ids(
        edges, seed_node_ids=["e", "e", "a"], recall=recall, query_hits=hits
    )
    assert source == "explicit"
    assert [r.node_id for r in seeds.collect()] == ["e", "a"]  # order kept, deduped

    seeds, source = V.resolve_seed_ids(edges, recall=recall, query_hits=hits)
    assert source == "recall"
    assert [r.node_id for r in seeds.collect()] == ["b", "c"]  # first occurrence

    seeds, source = V.resolve_seed_ids(edges, query_hits=hits)
    assert source == "query"
    assert [r.node_id for r in seeds.collect()] == ["d", "e"]  # nearest first


def test_empty_recall_falls_through_to_degree(spark):
    nodes, edges = _graph(spark)
    recall = spark.createDataFrame([], "node_ids array<string>")
    seeds, source = V.resolve_seed_ids(edges, recall=recall)
    assert source == "degree"


def test_bounded_subgraph_validates_params(spark):
    nodes, edges = _graph(spark)
    seeds = spark.createDataFrame([("a",)], "node_id string")
    with pytest.raises(ValueError):
        V.bounded_subgraph(nodes, edges, seeds, depth=0)
    with pytest.raises(ValueError):
        V.bounded_subgraph(nodes, edges, seeds, max_nodes=0)
