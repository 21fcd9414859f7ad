"""Vector-index construction over the materialized graph — the reference's
``index_data_points`` / ``index_graph_edges`` stage.

The reference walks every added DataPoint, groups indexable fields into
per-(type, field) collections, embeds the field text, and upserts
(id, text, vector) rows into the vector store (cognee/tasks/storage/
index_data_points.py:10-68); edge relationship names get the same treatment
as EdgeType points (cognee/tasks/storage/index_graph_edges.py:39-52).

Spark re-expression: one tall ``embeddings`` table
(collection, item_id, text, embedding) built with select/union over the
committed nodes / triples / summaries / chunks tables and the entity_types
frame derived from nodes. Its collections:

- ``Entity_name``                 — node names (nodes.entity_id);
- ``EntityType_name``             — node kinds (entity_types.type_id);
- ``EdgeType_relationship_name``  — distinct predicates;
- ``Triplet_text``                — one ``subj-›pred-›obj`` row per distinct
  triple (build_triplet_index's projection, the memify collection);
- ``DocumentChunk_text``          — chunk texts (chunks.chunk_id);
- ``TextSummary_text``            — chunk summaries, when given.

The embedding itself is a deterministic hash embedding computed in codegen
(functions/embeddings.py — the pluggable encoder seam), applied once over
the union. Dedup is a dropDuplicates on (collection, item_id) —
deterministic ids make the upsert a merge by construction. Retrieval (R1/R6)
then runs similarity_search.brute_force_topk / ivf_topk over a collection
slice, which is a partition-pruned scan because the table is written
partitioned by collection; every vector search type reads that slice and
embeds on the fly only when a store has no index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cognee_spark.functions.embeddings import DEFAULT_DIM, hash_embedding_col
from cognee_spark.functions.ids import id_for_col, node_id_col


def triplet_id_col(subj, pred, obj):
    """The ``Triplet_text`` item id: generate_node_id(start_id +
    relationship_name + end_id) over the endpoints' Entity ids
    (get_triplet_datapoints.py:100-167). The one copy of the rule — the
    index build, the GC sweep and the ACL scoping all derive it here."""
    return node_id_col(
        F.concat(id_for_col("Entity", subj), pred, id_for_col("Entity", obj))
    )


def _triplet_rows(triples: DataFrame) -> DataFrame:
    """(collection, item_id, text) rows of the ``Triplet_text`` collection."""
    return triples.select(
        F.lit("Triplet_text").alias("collection"),
        triplet_id_col(F.col("subj"), F.col("pred"), F.col("obj")).alias("item_id"),
        F.concat_ws("-›", "subj", "pred", "obj").alias("text"),
    )


def _embedded(rows: DataFrame, dim: int) -> DataFrame:
    """Upsert-by-deterministic-id, then embed each surviving row once."""
    return rows.dropDuplicates(["collection", "item_id"]).withColumn(
        "embedding", hash_embedding_col(F.col("text"), dim=dim)
    )


def build_index(
    nodes: DataFrame,
    entity_types: DataFrame,
    triples: DataFrame,
    chunks: DataFrame,
    summaries: DataFrame | None = None,
    dim: int = DEFAULT_DIM,
) -> DataFrame:
    """(collection, item_id, text, embedding) rows for every indexable field.

    Collections mirror index_data_points.py naming: ``{Type}_{field}``.
    ``TextSummary_text`` is built only when ``summaries`` are given.
    """
    entity_name = nodes.select(
        F.lit("Entity_name").alias("collection"),
        F.col("entity_id").alias("item_id"),
        F.col("name").alias("text"),
    )
    type_name = entity_types.select(
        F.lit("EntityType_name").alias("collection"),
        F.col("type_id").alias("item_id"),
        F.col("name").alias("text"),
    )
    edge_types = (
        triples.select(F.col("pred").alias("text"))
        .distinct()
        .select(
            F.lit("EdgeType_relationship_name").alias("collection"),
            id_for_col("EdgeType", F.col("text")).alias("item_id"),
            "text",
        )
    )
    out = (
        entity_name.unionByName(type_name)
        .unionByName(edge_types)
        .unionByName(_triplet_rows(triples))
        .unionByName(
            chunks.select(
                F.lit("DocumentChunk_text").alias("collection"),
                F.col("chunk_id").alias("item_id"),
                F.col("text"),
            )
        )
    )
    if summaries is not None:
        out = out.unionByName(
            summaries.select(
                F.lit("TextSummary_text").alias("collection"),
                F.col("summary_id").alias("item_id"),
                F.col("summary").alias("text"),
            )
        )
    return _embedded(out, dim)


def build_triplet_index(triples: DataFrame, dim: int = DEFAULT_DIM) -> DataFrame:
    """Triplet-embedding collection — the memify create_triplet_embeddings
    pipeline (cognee/memify_pipelines/create_triplet_embeddings.py +
    cognee/tasks/memify/get_triplet_datapoints.py:100-167): each graph edge
    becomes a Triplet datapoint whose embeddable text is
    ``{start_text}-›{rel_text}-›{end_text}`` (node texts from their
    index_fields — Entity.name here — relationship text from the edge) and
    whose id is :func:`triplet_id_col`; Triplet.metadata.index_fields =
    ["text"], so the collection is ``Triplet_text``. The reference pages the
    graph through the driver in batches of 100 (get_triplets_batch
    offset/limit) — here the whole build is one narrow projection over the
    triples table; dedup by item_id is the same upsert-by-deterministic-id
    the other collections use.

    The cognify ``embeddings`` stage commits the same rows inside
    :func:`build_index`, so search reads them from the committed index;
    this standalone build serves memify and stores without an index."""
    return _embedded(_triplet_rows(triples), dim)


GRAPHITI_INDEX_FIELDS = ("name", "summary", "content")  # GraphitiNode metadata


def reindex_graphiti_objects(
    nodes: DataFrame, edges: DataFrame, dim: int = DEFAULT_DIM
) -> dict[str, DataFrame]:
    """Post-import Graphiti normalize + re-index — the reference's
    ``index_and_transform_graphiti_nodes_and_edges`` (cognee/tasks/
    temporal_awareness/index_graphiti_objects.py:12-100), which rewrites a
    Graphiti-written graph into the engine's conventions (node.id := uuid,
    edge gets source_node_id/target_node_id/relationship_name := type(r),
    node.text := coalesce(summary, content)) and then builds vector index
    points: one GraphitiNode collection per index field (name, summary,
    content — graphiti_model.py:22) for nodes whose field is non-null, plus
    an EdgeType point per distinct relationship name with its edge count.

    The reference does this with three whole-graph Cypher UPDATE passes and
    a driver loop over every node; here each pass is a projection and the
    EdgeType counter is one groupBy — no graph mutation, no driver
    iteration, linear scans all the way.

    ``nodes``: (uuid and/or id, name?, summary?, content?); ``edges``:
    (source, target, and relationship_name or type). Returns
    {"nodes", "edges", "index", "edge_types"} — ``index`` in the engine's
    (collection, item_id, text, embedding) shape so it unions straight into
    the committed index table.
    """
    cols = set(nodes.columns)
    node_id = (
        F.coalesce(F.col("id"), F.col("uuid")) if {"id", "uuid"} <= cols
        else F.col("uuid") if "uuid" in cols else F.col("id")
    )

    def _opt(name: str):
        return F.col(name) if name in cols else F.lit(None).cast("string")

    norm_nodes = nodes.select(
        node_id.cast("string").alias("id"),
        _opt("name").alias("name"),
        _opt("summary").alias("summary"),
        _opt("content").alias("content"),
    ).withColumn("text", F.coalesce("summary", "content"))

    ecols = set(edges.columns)
    rel = F.col("relationship_name") if "relationship_name" in ecols else F.col("type")
    norm_edges = edges.select(
        F.col("source").cast("string").alias("source_node_id"),
        F.col("target").cast("string").alias("target_node_id"),
        rel.cast("string").alias("relationship_name"),
    )

    node_points = None
    for field in GRAPHITI_INDEX_FIELDS:
        part = norm_nodes.where(F.col(field).isNotNull()).select(
            F.lit(f"GraphitiNode_{field}").alias("collection"),
            F.col("id").alias("item_id"),
            F.col(field).alias("text"),
        )
        node_points = part if node_points is None else node_points.unionByName(part)

    edge_types = norm_edges.groupBy("relationship_name").agg(
        F.count(F.lit(1)).alias("number_of_edges")
    )
    edge_points = edge_types.select(
        F.lit("EdgeType_relationship_name").alias("collection"),
        id_for_col("EdgeType", F.col("relationship_name")).alias("item_id"),
        F.col("relationship_name").alias("text"),
    )
    index = _embedded(node_points.unionByName(edge_points), dim)
    return {
        "nodes": norm_nodes,
        "edges": norm_edges,
        "index": index,
        "edge_types": edge_types,
    }
