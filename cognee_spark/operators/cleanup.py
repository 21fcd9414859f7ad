"""Cleanup / retention GC — the reference's cleanup task
(cognee/tasks/cleanup/cleanup_unused_data.py:27-172): find documents whose
last_accessed is older than the cutoff (or never set), delete them in "hard"
mode — which also removes the graph/vector elements that are no longer
referenced by ANY remaining document — with a dry-run mode that only counts.

Spark re-expression: the whole sweep is a cascade of semi/anti joins rooted
at the live-document set, so it runs as ordinary shuffles (or broadcasts,
when the live set is small) with no driver iteration — the reference loops
``cognee.delete()`` per document, which is exactly the shape that cannot
survive a 100 TB store. Deletes are NEW table commits through the store
(run_stage writes a fresh stage table + checkpoint row), never in-place
mutation, so store.rollback_to(<pre-GC stage>) undoes a sweep — the
parquet-store analog of Iceberg snapshot-expire semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cognee_spark.operators.indexing import triplet_id_col


def unused_documents(
    data: DataFrame,
    cutoff: str,
    id_col: str = "document_id",
    last_accessed_col: str = "last_accessed",
) -> DataFrame:
    """Documents unused since ``cutoff`` — the _cleanup_via_sql query
    (cleanup_unused_data.py:117-123): last_accessed < cutoff OR never
    accessed (NULL). Returns the id column only (the delete driver set)."""
    la = F.col(last_accessed_col)
    return data.where(
        la.isNull() | (la < F.to_timestamp(F.lit(cutoff)))
    ).select(F.col(id_col))


def gc_graph(
    live_docs: DataFrame,
    chunks: DataFrame,
    mentions: DataFrame,
    nodes: DataFrame,
    triples: DataFrame,
    embeddings: DataFrame | None = None,
    summaries: DataFrame | None = None,
    doc_col: str = "content_sha",
    chunk_doc_col: str | None = None,
) -> dict[str, DataFrame]:
    """Hard-delete cascade: everything not reachable from a live document is
    an orphan (cognee.delete mode="hard" — "also remove orphaned entities").

    Reachability, each step one semi-join:
      live docs → their chunks → the mentions in those chunks → the entity
      NAMES still referenced → live nodes → live triples (BOTH endpoints
      live) → live embeddings (item_id still among its collection's live
      ids: node/type/predicate/triplet ids, kept summaries and kept
      chunks — a collection whose item vanished is swept with it).

    Returns {"chunks", "mentions", "nodes", "triples", "embeddings"} → the
    KEPT frames; orphans are (table minus kept), materialized by the caller
    if it wants them (cleanup_report counts both sides). Shuffles are keyed
    on the same id columns the pipeline already uses; at a 100 TB store the
    live-name/live-id dictionaries are the small side and broadcast.
    """
    chunk_doc = chunk_doc_col or doc_col
    live = live_docs.select(F.col(doc_col)).distinct()
    # semi-joins move the key column to the front; every kept frame re-selects
    # the ORIGINAL column order so a sweep is row-removal only, bit-for-bit
    kept_chunks = chunks.join(
        live.withColumnRenamed(doc_col, chunk_doc), chunk_doc, "left_semi"
    ).select(*chunks.columns)
    kept_mentions = mentions.join(
        kept_chunks.select("chunk_id").distinct(), "chunk_id", "left_semi"
    ).select(*mentions.columns)
    live_names = kept_mentions.select(
        F.col("canonical_name").alias("name")
    ).distinct()
    kept_nodes = nodes.join(live_names, "name", "left_semi").select(*nodes.columns)
    kept_node_names = kept_nodes.select("name").distinct()
    kept_triples = (
        triples.join(kept_node_names.withColumnRenamed("name", "subj"), "subj", "left_semi")
        .join(kept_node_names.withColumnRenamed("name", "obj"), "obj", "left_semi")
        .select(*triples.columns)
    )
    out = {
        "chunks": kept_chunks,
        "mentions": kept_mentions,
        "nodes": kept_nodes,
        "triples": kept_triples,
    }
    if summaries is not None:
        out["summaries"] = summaries.join(
            kept_chunks.select("chunk_id").distinct(), "chunk_id", "left_semi"
        ).select(*summaries.columns)
    if embeddings is not None:
        # liveness is scoped PER COLLECTION: a (collection, item_id) pair is
        # live only if that collection's own source row survived. Collections
        # this sweep doesn't know how to derive liveness for (plug-in
        # indexes) pass through UNCHANGED — sweeping them wholesale as
        # orphans would delete live data (round-4 ADVICE)
        live_pairs = (
            kept_nodes.select(
                F.lit("Entity_name").alias("collection"),
                F.col("entity_id").alias("item_id"),
            )
            .union(
                kept_nodes.select(F.col("kind")).distinct().select(
                    F.lit("EntityType_name").alias("collection"),
                    _type_id(F.col("kind")).alias("item_id"),
                )
            )
            .union(
                kept_triples.select(F.col("pred")).distinct().select(
                    F.lit("EdgeType_relationship_name").alias("collection"),
                    _edge_type_id(F.col("pred")).alias("item_id"),
                )
            )
            .union(
                kept_triples.select("subj", "pred", "obj").distinct().select(
                    F.lit("Triplet_text").alias("collection"),
                    triplet_id_col(F.col("subj"), F.col("pred"), F.col("obj")).alias(
                        "item_id"
                    ),
                )
            )
            .union(
                kept_chunks.select(
                    F.lit("DocumentChunk_text").alias("collection"),
                    F.col("chunk_id").alias("item_id"),
                )
            )
        )
        if "summaries" in out:
            live_pairs = live_pairs.union(
                out["summaries"].select(
                    F.lit("TextSummary_text").alias("collection"),
                    F.col("summary_id").alias("item_id"),
                )
            )
        known = [
            "Entity_name", "EntityType_name", "EdgeType_relationship_name",
            "Triplet_text", "TextSummary_text", "DocumentChunk_text",
        ]
        swept = embeddings.where(F.col("collection").isin(known)).join(
            live_pairs.distinct(), ["collection", "item_id"], "left_semi"
        )
        passthrough = embeddings.where(~F.col("collection").isin(known))
        out["embeddings"] = swept.unionByName(passthrough).select(*embeddings.columns)
    return out


def _type_id(kind):
    from cognee_spark.functions.ids import id_for_col

    return id_for_col("EntityType", kind)


def _edge_type_id(pred):
    from cognee_spark.functions.ids import id_for_col

    return id_for_col("EdgeType", pred)


def cleanup_report(
    originals: dict[str, DataFrame], kept: dict[str, DataFrame]
) -> DataFrame:
    """(table_name, n_total, n_kept, n_orphaned) — the dry_run=True preview
    (cleanup_unused_data.py:138-146) as one frame; counts are distributed
    aggregates unioned driver-side (one tiny row per table)."""
    rows = None
    for name, df in sorted(originals.items()):
        total = df.select(F.count(F.lit(1)).alias("n_total"))
        kept_n = kept[name].select(F.count(F.lit(1)).alias("n_kept"))
        row = (
            total.crossJoin(kept_n)
            .select(
                F.lit(name).alias("table_name"),
                "n_total",
                "n_kept",
                (F.col("n_total") - F.col("n_kept")).alias("n_orphaned"),
            )
        )
        rows = row if rows is None else rows.unionByName(row)
    return rows


def cleanup_unused_data(
    store,
    spark,
    tables: dict[str, DataFrame],
    data: DataFrame,
    cutoff: str,
    dry_run: bool = True,
    signature: str | None = None,
    doc_col: str = "content_sha",
) -> dict:
    """Store-integrated sweep: compute the kept frames, and (unless dry_run)
    commit each as a NEW ``gc_<table>`` stage through run_stage — deletes are
    a new commit, never in-place, so store.rollback_to(...) undoes the sweep.
    The live documents frame itself is committed alongside the derived
    tables (``gc_documents``) so a hard sweep shrinks the root table too.

    ``data`` must carry (doc_col, last_accessed). Returns
    {"report": DataFrame, "kept": {...}, "committed": [stage names]}.

    The default ``signature`` is derived from the cutoff AND a fingerprint
    of the input document set — run_stage skips (stage, signature) pairs it
    has already committed, so a constant signature would make a second
    sweep with a different cutoff silently return the previous sweep's
    stale tables (round-4 ADVICE). One narrow count+xor aggregate, the
    same content-derived-signature rule sessions.persist_sessions uses.
    """
    from cognee_spark.store import run_stage

    la = F.col("last_accessed")
    live_docs = data.where(la.isNotNull() & (la >= F.to_timestamp(F.lit(cutoff))))
    if signature is None:
        fp = (
            data.select(
                F.xxhash64(F.col(doc_col), la.cast("string")).alias("h")
            )
            .agg(F.count(F.lit(1)).alias("n"), F.expr("bit_xor(h)").alias("s"))
            .first()
        )
        signature = f"gc:{cutoff}:{fp.n}:{fp.s}"
    kept = gc_graph(
        live_docs,
        tables["chunks"],
        tables["mentions"],
        tables["nodes"],
        tables["triples"],
        embeddings=tables.get("embeddings"),
        summaries=tables.get("summaries"),
        doc_col=doc_col,
    )
    if "documents" in tables:
        kept["documents"] = tables["documents"].join(
            live_docs.select(F.col(doc_col)).distinct(), doc_col, "left_semi"
        ).select(*tables["documents"].columns)
    originals = {k: tables[k] for k in kept}
    report = cleanup_report(originals, kept)
    committed: list[str] = []
    if not dry_run:
        for name, frame in kept.items():
            stage = f"gc_{name}"
            run_stage(store, spark, stage, signature, lambda frame=frame: frame)
            committed.append(stage)
    return {"report": report, "kept": kept, "committed": committed}


def forget(
    store,
    spark,
    tables: dict[str, DataFrame],
    *,
    data_ids: list[str] | None = None,
    dataset_id: str | None = None,
    dataset_data: DataFrame | None = None,
    everything: bool = False,
    memory_only: bool = False,
    dry_run: bool = False,
    doc_col: str = "content_sha",
) -> dict:
    """Unified targeted deletion — the reference's ``cognee.forget`` verb
    (api/v1/forget/forget.py:16-157), which replaced the separate
    prune/delete/empty_dataset APIs with one mental model:

    - ``forget(data_ids=[...], dataset_id=..., dataset_data=...)`` — drop
      those items from that dataset;
    - ``forget(dataset_id=..., dataset_data=...)`` — drop the dataset's
      documents and everything derived from them;
    - ``forget(everything=True)`` — drop the whole store's content;
    - ``memory_only=True`` — keep the documents table (raw data) and drop
      only the derived graph/vector rows, invalidating the derived stages'
      checkpoints so the next run re-cognifies (the reference's
      "reset pipeline status" branch, forget.py:235-260).

    The reference deletes per item with ``datasets.delete_data`` loops; here
    every mode reduces to ONE anti-join defining the surviving documents and
    the same reachability cascade :func:`gc_graph` uses — deletes are new
    ``gc_*`` commits, so ``store.rollback_to`` undoes a forget too.

    Returns {"target": str, "items_removed": int, "report": DataFrame,
    "kept": {...}, "committed": [...], "invalidated": [...]}.
    """
    from cognee_spark.store import run_stage

    if dataset_id is not None and dataset_data is None:
        raise ValueError("dataset_id requires the dataset_data membership frame")
    if data_ids is not None and dataset_id is None and not everything:
        # the reference requires a dataset with data_id (forget.py:48-52)
        raise ValueError("data_ids requires dataset_id (or everything=True)")
    if not everything and dataset_id is None:
        raise ValueError("nothing to forget: pass data_ids+dataset_id, dataset_id, or everything=True")

    documents = tables["documents"]
    if everything:
        target_docs = documents.select("document_id")
        target = "everything"
    else:
        target_docs = dataset_data.where(
            F.col("dataset_id") == dataset_id
        ).select("document_id")
        target = "dataset"
        if data_ids is not None:
            target_docs = target_docs.where(
                F.col("document_id").isin([str(d) for d in data_ids])
            )
            target = "data_item"
    if memory_only:
        target += "_memory_only"

    items_removed = target_docs.count()
    live_docs = documents.join(target_docs, "document_id", "left_anti")
    # one narrow fingerprint so repeated forgets with different targets never
    # reuse a stale (stage, signature) commit — same rule as cleanup_unused_data
    fp = (
        live_docs.select(F.xxhash64(F.col(doc_col)).alias("h"))
        .agg(F.count(F.lit(1)).alias("n"), F.expr("bit_xor(h)").alias("s"))
        .first()
    )
    signature = f"forget:{target}:{fp.n}:{fp.s}"

    kept = gc_graph(
        live_docs,
        tables["chunks"],
        tables["mentions"],
        tables["nodes"],
        tables["triples"],
        embeddings=tables.get("embeddings"),
        summaries=tables.get("summaries"),
        doc_col=doc_col,
    )
    if not memory_only:
        kept["documents"] = live_docs.select(*documents.columns)
    originals = {k: tables[k] for k in kept}
    report = cleanup_report(originals, kept)
    committed: list[str] = []
    invalidated: list[str] = []
    if not dry_run:
        for name, frame in kept.items():
            stage = f"gc_{name}"
            run_stage(store, spark, stage, signature, lambda frame=frame: frame)
            committed.append(stage)
        if memory_only:
            for name in kept:
                store.invalidate(name)
                invalidated.append(name)
    return {
        "target": target,
        "items_removed": items_removed,
        "report": report,
        "kept": kept,
        "committed": committed,
        "invalidated": invalidated,
    }
