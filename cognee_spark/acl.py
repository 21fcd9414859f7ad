"""Dataset-scoped authorization — the reference's access-control search path
(cognee/modules/search/methods/search.py:153-310 ``authorized_search`` /
``search_in_datasets_context``, cognee/modules/users/permissions/methods/
get_document_ids_for_user.py:11-52) re-expressed as semi-joins.

The reference loops datasets and swaps a per-dataset database context for
each (``set_database_global_context_variables``) because every dataset owns
its own graph/vector store. In a lakehouse all datasets share tables with
document provenance columns, so authorization IS a dataflow:

- readable datasets  → ACL filter (principal, permission='read') semi-join
                       the datasets table, intersected with the caller's
                       requested ids (get_document_ids_for_user's
                       ``readable ∩ requested``);
- permitted docs     → dataset membership semi-join readable datasets;
- table scoping      → every content table narrows by ONE semi-join on its
                       provenance key (document_id, or (repo, path) lineage
                       for graph tables), and graph/vector tables derive
                       their scope from the scoped triples.

At 100 TB this is the design you want anyway: with tables partitioned (or
bucketed) by dataset, the permission predicate reaches the scan as a
partition filter — row-level security as partition pruning, not a
per-dataset query loop. The reference's per-dataset result blocks collapse
into one frame over the union scope; per-dataset attribution stays
available because every scoped row keeps its provenance columns.

Authorization fails CLOSED: a table whose provenance this module does not
recognize is dropped from the scoped dict, never passed through. (The GC
sweep in operators/cleanup.py makes the opposite choice — unknown
collections pass through — because deleting data is the unsafe direction
there; leaking it is the unsafe direction here.)
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cognee_spark.functions.ids import id_for_col
from cognee_spark.operators.indexing import triplet_id_col

_log = logging.getLogger("cognee_spark.acl")

# collections whose rows are corpus-wide dictionaries (kinds, relationship
# vocabularies) — dataset-agnostic by construction, so they survive scoping
DICTIONARY_COLLECTIONS = ("EntityType_name", "EdgeType_relationship_name")


def readable_dataset_ids(
    acl: DataFrame,
    datasets: DataFrame,
    principal_id: str,
    dataset_ids: list[str] | None = None,
    permission: str = "read",
) -> DataFrame:
    """Datasets ``principal_id`` may ``permission`` — the reference's
    get_authorized_existing_datasets / the readable-datasets half of
    get_document_ids_for_user.py:28-46.

    ``acl`` rows are (principal_id, dataset_id, permission) — the reference's
    ACL⋈Permission join pre-flattened. ``dataset_ids`` is the caller's
    requested subset (a request parameter, dictionary-sized by definition) —
    the result is readable ∩ requested, never requested alone."""
    grants = (
        acl.where(
            (F.col("principal_id") == principal_id)
            & (F.col("permission") == permission)
        )
        .select("dataset_id")
        .distinct()
    )
    out = datasets.join(grants, "dataset_id", "semi")
    if dataset_ids is not None:
        out = out.where(F.col("dataset_id").isin([str(d) for d in dataset_ids]))
    return out


def permitted_documents(
    acl: DataFrame,
    datasets: DataFrame,
    dataset_data: DataFrame,
    principal_id: str,
    dataset_ids: list[str] | None = None,
) -> DataFrame:
    """(dataset_id, document_id) the principal may read —
    get_document_ids_for_user.py:11-52 with the per-dataset
    ``get_dataset_data`` loop collapsed into one membership semi-join.

    ``dataset_data`` is the dataset-membership table
    (dataset_id, document_id) — the reference's dataset_data rows."""
    readable = readable_dataset_ids(acl, datasets, principal_id, dataset_ids)
    # one principal reads few datasets; the readable side is broadcastable
    return dataset_data.join(
        F.broadcast(readable.select("dataset_id")), "dataset_id", "semi"
    )


def scope_tables(
    tables: dict[str, DataFrame], permitted: DataFrame
) -> dict[str, DataFrame]:
    """Narrow every pipeline table to the permitted document set — the
    lakehouse replacement for the reference's per-dataset database context
    (search.py:261-270 ``set_database_global_context_variables``).

    Scoping rules, by provenance:

    - ``document_id`` column      → semi-join permitted document ids
      (documents, chunks, summaries);
    - ``(repo, path)`` columns    → semi-join the scoped documents' file
      lineage (triples, mentions, extractions — their rows cite the source
      file, not the document row);
    - nodes                       → names surviving in scoped triples;
    - edges                       → both endpoints surviving, where the
      live set is scoped entities ∪ their kind-dictionary nodes ∪ scoped
      chunk containers (``is_a`` targets, ``exists_in``/``mentioned_in``
      sources);
    - embeddings                  → per-collection: Entity_name from scoped
      nodes, TextSummary_text from scoped summaries, DocumentChunk_text from
      scoped chunks, Triplet_text re-derived from scoped triples, dictionary
      collections pass through, unknown collections are DROPPED (fail
      closed);
    - anything unrecognized       → dropped from the result dict.
    """
    out: dict[str, DataFrame] = {}
    doc_ids = permitted.select("document_id").distinct()

    docs = tables.get("documents")
    if docs is not None:
        docs = docs.join(doc_ids, "document_id", "semi")
        out["documents"] = docs

    files = (
        docs.select("repo", "path").distinct()
        if docs is not None and {"repo", "path"} <= set(docs.columns)
        else None
    )

    for name, df in tables.items():
        if name in out or df is None:
            continue
        cols = set(df.columns)
        if "document_id" in cols:
            out[name] = df.join(doc_ids, "document_id", "semi")
        elif {"repo", "path"} <= cols and files is not None:
            out[name] = df.join(files, ["repo", "path"], "semi")

    triples = out.get("triples")
    nodes, edges, embeddings = (
        tables.get("nodes"), tables.get("edges"), tables.get("embeddings")
    )
    if triples is not None and nodes is not None:
        names = (
            triples.select(F.col("subj").alias("name"))
            .union(triples.select("obj"))
            .distinct()
        )
        out["nodes"] = nodes.join(names, "name", "semi")
        if edges is not None:
            ids = out["nodes"].select(F.col("entity_id").alias("_id"))
            type_ids = out["nodes"].select(
                id_for_col("EntityType", F.col("kind")).alias("_id")
            )
            live = ids.union(type_ids)
            if out.get("chunks") is not None:
                # container → exists_in/mentioned_in edges source from the
                # chunk DataPoint id (materialize.build_structural_edges)
                live = live.union(out["chunks"].select(F.col("chunk_id").alias("_id")))
            live = live.distinct()
            out["edges"] = edges.join(
                live.withColumnRenamed("_id", "source_node_id"),
                "source_node_id", "semi",
            ).join(
                live.withColumnRenamed("_id", "target_node_id"),
                "target_node_id", "semi",
            )
        if embeddings is not None:
            entity_ids = out["nodes"].select(F.col("entity_id").alias("item_id"))
            summary_ids = (
                out["summaries"].select(F.col("summary_id").alias("item_id"))
                if out.get("summaries") is not None
                else None
            )
            triplet_ids = triples.select(
                triplet_id_col(F.col("subj"), F.col("pred"), F.col("obj")).alias(
                    "item_id"
                )
            )
            live_items = entity_ids.union(triplet_ids)
            if summary_ids is not None:
                live_items = live_items.union(summary_ids)
            if out.get("chunks") is not None:
                # DocumentChunk_text vectors of the scoped chunks
                live_items = live_items.union(
                    out["chunks"].select(F.col("chunk_id").alias("item_id"))
                )
            scoped_emb = embeddings.where(
                ~F.col("collection").isin(*DICTIONARY_COLLECTIONS)
            ).join(live_items.distinct(), "item_id", "semi")
            out["embeddings"] = scoped_emb.unionByName(
                embeddings.where(F.col("collection").isin(*DICTIONARY_COLLECTIONS))
            )
    return out


def authorized_search(
    spark,
    tables: dict[str, DataFrame],
    search_type: str,
    query: str,
    *,
    acl: DataFrame,
    datasets: DataFrame,
    dataset_data: DataFrame,
    principal_id: str,
    dataset_ids: list[str] | None = None,
    **search_kwargs,
) -> dict[str, DataFrame]:
    """Permission-checked search — authorized_search (search.py:153-211).

    Resolves the readable datasets, narrows every table to their documents,
    and runs the normal :func:`cognee_spark.search.search` dispatch over the
    union scope. Returns ``{"results": <search result frame>, "datasets":
    <searched datasets frame>}`` — the reference's per-dataset result blocks
    collapsed into one frame (one lakehouse, not one database per dataset);
    provenance columns on the scoped rows preserve per-dataset attribution.

    Mirrors the reference's empty-graph warning (search.py:271-289): data
    present but no graph rows logs a cognify hint instead of failing."""
    from cognee_spark.search import search as dispatch

    readable = readable_dataset_ids(acl, datasets, principal_id, dataset_ids)
    permitted = dataset_data.join(
        F.broadcast(readable.select("dataset_id")), "dataset_id", "semi"
    )
    scoped = scope_tables(tables, permitted)
    triples = scoped.get("triples")
    if triples is not None and triples.limit(1).count() == 0:
        if permitted.limit(1).count() > 0:
            _log.warning(
                "authorized_search: permitted documents exist but the scoped "
                "graph is empty — run cognify before searching."
            )
        else:
            _log.warning(
                "authorized_search: no data in the readable datasets."
            )
    results = dispatch(spark, scoped, search_type, query, **search_kwargs)
    return {"results": results, "datasets": readable}
