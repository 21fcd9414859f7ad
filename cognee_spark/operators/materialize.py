"""Graph materialization — L5-L8, A1, A2 of SURVEY.md §2.4/§2.5.

Builds the persisted graph tables from triples + mentions:
- nodes: entities with deterministic ids (Entity.id_for semantics,
  DataPoint.py:159-176) and kinds
- entity_types + is_a edges (expand_with_nodes_and_edges.py:116-174)
- edges: content triples + structural edges (contains / is_a), with
  edge_object_id (generate_edge_object_id.py:5-17) and the reference's
  default edge properties: feedback_weight 0.5, synthesized edge_text
  (prepare_edges_for_storage.py:38-130)
- edge-type histogram (index_graph_edges.py:39-52)
- graph metrics: nodes, edges, mean degree 2E/N, density E/(N(N-1)),
  connected-component count/sizes (neo4j_driver/adapter.py:2261-2301)

Everything is select/groupBy over the triples table — whole-stage codegen,
no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cognee_spark.functions.ids import (
    edge_object_id_col,
    id_for_col,
    normalize_identity_col,
)
from cognee_spark.functions.narrow import SHA, UUID
from cognee_spark.operators.components import connected_components


def build_nodes(triples: DataFrame, mentions_kinds: DataFrame | None = None) -> DataFrame:
    """Distinct canonical entities from triple endpoints.

    Kind is joined back from mentions when available (subjects/objects that
    survived linking keep their extraction kind; unknown → 'entity')."""
    # Every triple endpoint is already identity-normalized by construction
    # (code_triples / nl_triples / ontology_is_a_triples all emit
    # normalize_identity_col output), so entity_id = uuid5(normalize(name))
    # is injective over distinct names and ONE aggregation both dedups and
    # (for out-of-contract callers) collapses un-normalized variants onto
    # their id key deterministically (min name wins). The previous
    # distinct-then-dropDuplicates(entity_id) form paid a second full
    # shuffle of the nodes table for the same result.
    endpoints = triples.select(F.col("subj").alias("name")).union(
        triples.select(F.col("obj").alias("name"))
    )
    names = (
        endpoints.groupBy(normalize_identity_col(F.col("name")).alias("_id_key"))
        .agg(F.min("name").alias("name"))
    )
    if mentions_kinds is not None:
        # kinds table = one row per distinct canonical entity — grows with the
        # corpus, so it must NOT broadcast (sort-merge spills; AQE skew-splits).
        # Joining on the normalized key reuses the groupBy's exchange (kind
        # names are canonical = already normalized).
        names = names.join(
            mentions_kinds.hint("merge").withColumnRenamed("name", "_id_key"),
            "_id_key",
            "left",
        )
    else:
        names = names.withColumn("kind", F.lit(None).cast("string"))
    return names.select(
        id_for_col("Entity", F.col("name")).alias("entity_id"),
        "name",
        F.coalesce("kind", F.lit("entity")).alias("kind"),
    )


def build_entity_types(nodes: DataFrame) -> DataFrame:
    """One EntityType node per kind (EntityType.id_for semantics)."""
    return nodes.select("kind").distinct().select(
        id_for_col("EntityType", F.col("kind")).alias("type_id"),
        F.col("kind").alias("name"),
    )


def build_structural_edges(mentions: DataFrame) -> DataFrame:
    """The reference's remaining two structural edge families
    (retrieve_existing_edges.py:44-73): container → EntityType ``exists_in``
    and container → Entity ``mentioned_in`` (the third family, Entity →
    EntityType ``is_a``, is emitted by build_edges from the nodes table).

    Containers are DocumentChunk DataPoints — the reference builds these
    families per data_chunk, so they apply to chunk-scoped (NL) mentions;
    file-level code mentions are covered by the `contains` edges. The chunk_id
    is already the chunk's deterministic DataPoint id, and dedup runs on the
    narrow natural keys BEFORE any uuid5 derivation.
    """
    sha_bin, sha_raw = SHA.narrow(F.col("content_sha"))
    cid_bin, cid_raw = UUID.narrow(F.col("chunk_id"))
    base = mentions.where(F.col("chunk_id").isNotNull()).select(
        cid_bin.alias(UUID.bin),
        cid_raw.alias(UUID.raw),
        F.col("canonical_name").alias("entity_name"),
        F.col("kind").alias("kind"),
        sha_bin.alias(SHA.bin),
        sha_raw.alias(SHA.raw),
    )
    # ONE full-width exchange shared by both families: pre-reduce on the
    # finest key (container, entity, kind) — map-side combine collapses
    # repeated mentions before the shuffle, and the two family groupBys below
    # re-aggregate the REDUCED rows, so their exchanges are small. Both
    # branches hang off the same subplan, so the big exchange is computed
    # once per job (ReuseExchange). min-of-min == min keeps provenance exact.
    # Trade-off: the shared exchange only wins while mentions repeat per
    # (container, entity, kind) — measured net-negative bytes on this
    # engine's corpora, where a symbol is mentioned many times per chunk; a
    # fully pre-deduped mention stream would shuffle ~N rows three times
    # instead of twice (the upstream scan/extraction reuse still holds).
    # Both the provenance sha AND the container id cross every exchange in
    # narrowed binary form (32 + 16 bytes instead of 64 + 36 chars);
    # grouping on the (bin, raw) pair equals grouping on the original
    # strings because the narrowing is injective.
    pre = base.groupBy(UUID.bin, UUID.raw, "entity_name", "kind").agg(*SHA.min_agg())
    container_id = UUID.widen(F.col(UUID.bin), F.col(UUID.raw))
    exists_in = (
        pre.groupBy(UUID.bin, UUID.raw, "kind")
        .agg(*SHA.min_agg())
        .select(
            container_id.alias("source_node_id"),
            id_for_col("EntityType", F.col("kind")).alias("target_node_id"),
            F.lit("exists_in").alias("relationship_name"),
            F.lit(0.5).alias("feedback_weight"),
            F.concat(F.col("kind"), F.lit(" exists in "), container_id, F.lit("."))
            .alias("edge_text"),
            F.lit("structural").alias("edge_kind"),
            SHA.min(F.col(SHA.bin), F.col(SHA.raw)).alias("content_sha"),
        )
    )
    mentioned_in = (
        pre.groupBy(UUID.bin, UUID.raw, "entity_name")
        .agg(*SHA.min_agg())
        .select(
            container_id.alias("source_node_id"),
            id_for_col("Entity", F.col("entity_name")).alias("target_node_id"),
            F.lit("mentioned_in").alias("relationship_name"),
            F.lit(0.5).alias("feedback_weight"),
            F.concat(
                F.col("entity_name"), F.lit(" mentioned in "), container_id, F.lit(".")
            ).alias("edge_text"),
            F.lit("structural").alias("edge_kind"),
            SHA.min(F.col(SHA.bin), F.col(SHA.raw)).alias("content_sha"),
        )
    )
    out = exists_in.unionByName(mentioned_in)
    return out.withColumn(
        "edge_object_id",
        edge_object_id_col(
            F.col("source_node_id"), F.col("relationship_name"), F.col("target_node_id")
        ),
    )


def build_edges(triples: DataFrame, nodes: DataFrame) -> DataFrame:
    """Content edges with stable edge_object_id + reference default props.

    Parity (prepare_edges_for_storage.py:84-130 + generate_edge_object_id.py:
    5-17): edge_object_id = uuid5 over the NODE UUIDS
    (source_node_id + relationship_name + target_node_id, normalized), and
    the fallback edge_text is "<src label> <relationship phrase> <dst
    label>." — so a store produced here is id-compatible with one produced
    by the reference over the same nodes.
    """
    # Dedup FIRST on the narrow (subj, pred, obj) key, then derive ids: the
    # triples table keeps one row per (s,p,o,source-file), so deduping after
    # id derivation would run the uuid5 sha1 chains on every duplicate and
    # shuffle the derived wide rows. min(content_sha) keeps the surviving
    # provenance deterministic (dropDuplicates picks an arbitrary row); the
    # sha crosses the exchange as a 32-byte digest, not 64-char hex.
    sha_bin, sha_raw = SHA.narrow(F.col("content_sha"))
    content = (
        triples.select("subj", "pred", "obj", sha_bin.alias(SHA.bin), sha_raw.alias(SHA.raw))
        .groupBy("subj", "pred", "obj")
        .agg(*SHA.min_agg())
        .select(
            id_for_col("Entity", F.col("subj")).alias("source_node_id"),
            id_for_col("Entity", F.col("obj")).alias("target_node_id"),
            F.col("pred").alias("relationship_name"),
            F.lit(0.5).alias("feedback_weight"),
            F.concat(
                F.col("subj"), F.lit(" "), F.regexp_replace("pred", "_", " "),
                F.lit(" "), F.col("obj"), F.lit("."),
            ).alias("edge_text"),
            F.lit("content").alias("edge_kind"),
            SHA.min(F.col(SHA.bin), F.col(SHA.raw)).alias("content_sha"),
        )
        .withColumn(
            "edge_object_id",
            edge_object_id_col(
                F.col("source_node_id"),
                F.col("relationship_name"),
                F.col("target_node_id"),
            ),
        )
    )
    is_a = (
        nodes.select(
            F.col("entity_id").alias("source_node_id"),
            id_for_col("EntityType", F.col("kind")).alias("target_node_id"),
            F.lit("is_a").alias("relationship_name"),
            F.lit(0.5).alias("feedback_weight"),
            F.concat(F.col("name"), F.lit(" is a "), F.col("kind"), F.lit(".")).alias("edge_text"),
            F.lit("structural").alias("edge_kind"),
            F.lit(None).cast("string").alias("content_sha"),
        )
        .withColumn(
            "edge_object_id",
            edge_object_id_col(
                F.col("source_node_id"),
                F.col("relationship_name"),
                F.col("target_node_id"),
            ),
        )
    )
    # no post-union dropDuplicates shuffle needed: content rows are unique by
    # the (s,p,o) groupBy, is_a rows by node entity_id, and the two families
    # cannot collide (Entity vs EntityType uuid5 namespaces); uniqueness is
    # pinned by tests/test_pipeline.py::test_no_duplicate_ids
    return content.unionByName(is_a)


def build_contains_edges(mentions: DataFrame) -> DataFrame:
    """chunk/document → entity `contains` edges (DocumentChunk.contains,
    expand_with_nodes_and_edges.py:285-303). Source is the chunk for NL
    mentions and the document (path) for file-level code mentions.

    Dedup happens on the narrow natural key BEFORE id derivation — the uuid5
    sha1 chain runs once per surviving edge, not once per mention row — and
    both the sha and the container id cross the dedup exchange in narrowed
    binary form (chunk-id containers as 16-byte digests; repo:path
    containers ride the overflow string)."""
    src = F.coalesce(F.col("chunk_id"), F.concat_ws(":", "repo", "path"))
    sha_bin, sha_raw = SHA.narrow(F.col("content_sha"))
    cid_bin, cid_raw = UUID.narrow(src)
    return (
        mentions.select(
            cid_bin.alias(UUID.bin),
            cid_raw.alias(UUID.raw),
            F.col("canonical_name").alias("entity_name"),
            sha_bin.alias(SHA.bin),
            sha_raw.alias(SHA.raw),
        )
        .distinct()
        .select(
            UUID.widen(F.col(UUID.bin), F.col(UUID.raw)).alias("container_id"),
            id_for_col("Entity", F.col("entity_name")).alias("entity_id"),
            "entity_name",
            F.lit("contains").alias("relationship_name"),
            SHA.widen(F.col(SHA.bin), F.col(SHA.raw)).alias("content_sha"),
        )
    )


def edge_type_histogram(triples: DataFrame) -> DataFrame:
    """EdgeType counts (index_graph_edges.py:39-52)."""
    return (
        triples.groupBy(F.col("pred").alias("relationship_name"))
        .agg(F.count(F.lit(1)).alias("number_of_edges"))
        .orderBy(F.desc("number_of_edges"), "relationship_name")
    )


def graph_metrics(triples: DataFrame, include_components: bool = True) -> dict:
    """Scalar graph metrics (adapter.py:2261-2301 formulas)."""
    agg = triples.agg(F.count(F.lit(1)).alias("num_edges")).first()
    nodes = (
        triples.select(F.col("subj").alias("n"))
        .union(triples.select(F.col("obj").alias("n")))
        .distinct()
        .count()
    )
    num_edges = int(agg.num_edges)
    metrics = {
        "num_nodes": nodes,
        "num_edges": num_edges,
        "mean_degree": (2.0 * num_edges / nodes) if nodes else 0.0,
        "edge_density": (num_edges / (nodes * (nodes - 1))) if nodes > 1 else 0.0,
    }
    if include_components and num_edges:
        comp = connected_components(
            triples.select(F.col("subj").alias("u"), F.col("obj").alias("v"))
        )
        sizes = comp.groupBy("component").count()
        row = sizes.agg(
            F.count(F.lit(1)).alias("n_components"), F.max("count").alias("largest")
        ).first()
        metrics["num_connected_components"] = int(row.n_components)
        metrics["largest_component_size"] = int(row.largest)
    return metrics
