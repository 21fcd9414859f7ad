"""Unified search dispatch — the reference's SearchType → retriever factory
(cognee/modules/search/types/SearchType.py + methods/
get_search_type_retriever_instance.py:40-200 + methods/search.py): one
``search(spark, tables, search_type, query)`` entry point that routes a
query to the retriever implementing that search type. Every handler is a
thin composition of operators that already carry their own tests/oracles;
this module adds ONLY the routing, the reference's enum surface, and the
FEELING_LUCKY type-selection seam.

``tables`` is the pipeline's output dict (run_pipeline(...)["tables"]):
documents/chunks/summaries/nodes/triples/embeddings, plus optionally
``events`` (temporal datapoints) for SearchType.TEMPORAL.

AGENTIC_COMPLETION is a declared non-goal (SURVEY §7.4): serving-side agent
orchestration over these same retrievers — it raises UnsupportedSearchType
like the reference's UnsupportedSearchTypeError for unregistered types.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cognee_spark.session import row_frame

_log = logging.getLogger("cognee_spark.search")

# FEELING_LUCKY llm-selection failures that fell back to the heuristic —
# counted like llm.py counts its drops, so a misconfigured transport is
# visible instead of silently degrading to the heuristic
SELECT_FALLBACKS = {"count": 0}

SEARCH_TYPES = (
    "SUMMARIES", "CHUNKS", "RAG_COMPLETION", "HYBRID_COMPLETION",
    "TRIPLET_COMPLETION", "GRAPH_COMPLETION", "GRAPH_COMPLETION_DECOMPOSITION",
    "GRAPH_SUMMARY_COMPLETION", "CYPHER", "NATURAL_LANGUAGE",
    "GRAPH_COMPLETION_COT", "GRAPH_COMPLETION_CONTEXT_EXTENSION",
    "FEELING_LUCKY", "TEMPORAL", "CHUNKS_LEXICAL", "CODE", "CODING_RULES",
)


class UnsupportedSearchType(ValueError):
    """UnsupportedSearchTypeError twin (search/exceptions)."""


def _cosine_distance_col(text_col, query: str):
    """1 - cosine(hash_embedding(text), hash_embedding(query)) — the default
    query-embedding seam as a pure codegen column."""
    from cognee_spark.functions.embeddings import hash_embedding_col, hash_embedding_py

    q = F.array(*[F.lit(x) for x in hash_embedding_py(query)])
    v = hash_embedding_col(text_col)
    dot = F.aggregate(F.zip_with(v, q, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x)
    norm = lambda c: F.sqrt(F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x))
    return 1.0 - dot / (norm(v) * norm(q))


def hash_node_distances(nodes: DataFrame, query: str) -> DataFrame:
    """(name, distance) for triplet scoring when no external encoder is
    plugged in. Pure codegen — no shuffle."""
    return nodes.select(
        "name", _cosine_distance_col(F.col("name"), query).alias("distance")
    )


def _index_slice(tables, collection: str):
    """The committed vector index's slice for ``collection`` (item_id, text,
    embedding), or None when the tables dict carries no index or the index
    has no rows for that collection. The committed index is written
    partitioned by collection (operators/indexing.py), so its file listing,
    driver metadata, answers without a job; an in-memory index is probed."""
    emb = tables.get("embeddings")
    if emb is None:
        return None
    sliced = emb.where(F.col("collection") == collection).select(
        F.col("item_id"), "text", "embedding"
    )
    files = emb.inputFiles()
    if any("/collection=" in f for f in files):
        return sliced if any(f"/collection={collection}/" in f for f in files) else None
    return sliced if sliced.take(1) else None


def _query_frame(spark, query: str) -> DataFrame:
    """The one-row (query_id, query_vec) frame of the hash-embedded query."""
    from cognee_spark.functions.embeddings import hash_embedding_py

    return row_frame(
        spark,
        [("q0", hash_embedding_py(query))],
        "query_id string, query_vec array<double>",
    )


def _query_topk(spark, emb: DataFrame, query: str, k: int) -> DataFrame:
    """Exact top-k rows of ``emb`` (item_id, text, embedding) by cosine to
    ``query`` in one scan: (query_id, vec_id, cosine, text, rank)."""
    from cognee_spark.operators.similarity_search import brute_force_topk

    return brute_force_topk(
        emb, _query_frame(spark, query), k, "item_id", "embedding", keep=("text",)
    )


def _vector_topk(spark, frame, query, k, id_col, text_col, index=None, ivf=None):
    """R1 for the dispatch: probe the committed index when one is present,
    hash-embed on the fly only when not.

    Priority: ``ivf`` (a {"assigned", "centroids", "nprobe"?} dict —
    similarity_search.ivf_topk over the prebuilt cell-assigned index, the
    scale path) → ``index`` (brute-force cosine over the committed
    embeddings slice, no re-embedding) → on-the-fly hash embedding of
    ``frame`` (the fallback for stores without an index — the only path
    that re-embeds the corpus per query), one scan to TakeOrderedAndProject.

    The cognify ``embeddings`` stage commits every collection the dispatch
    reads (TextSummary_text, DocumentChunk_text, Triplet_text, Entity_name),
    so on a store built with ``with_index=True`` every vector search type
    takes the ``index`` path."""
    from cognee_spark.functions.embeddings import hash_embedding_col
    from cognee_spark.operators.similarity_search import ivf_topk

    if ivf is not None:
        assigned = ivf["assigned"]
        top = ivf_topk(
            assigned, ivf["centroids"], _query_frame(spark, query), k=k,
            nprobe=ivf.get("nprobe", 4), id_col="item_id", vec_col="embedding",
        ).join(assigned.select(F.col("item_id").alias("vec_id"), "text"), "vec_id")
    else:
        emb = index if index is not None else frame.select(
            F.col(id_col).alias("item_id"),
            F.col(text_col).alias("text"),
            hash_embedding_col(F.col(text_col)).alias("embedding"),
        )
        top = _query_topk(spark, emb, query, k)
    return top.select("rank", F.col("vec_id").alias("item_id"), "text")


def select_search_type(query: str, llm=None) -> str:
    """FEELING_LUCKY — the reference asks an LLM to pick the search type
    (search/operations/select_search_type). Seam-with-fallback like
    nlsearch/temporal: an llm(prompt) returning a SearchType name wins if
    valid; otherwise a deterministic heuristic: time-worded questions →
    TEMPORAL, count/list questions → NATURAL_LANGUAGE, everything else →
    GRAPH_COMPLETION (the reference's workhorse default)."""
    if llm is not None:
        try:
            picked = llm(
                "select_search_type", f"Pick a search type for: `{query}`"
            ).strip().upper()
            if picked in SEARCH_TYPES:
                return picked
        except Exception as err:  # seam-with-fallback, but never silent
            SELECT_FALLBACKS["count"] += 1
            _log.warning("FEELING_LUCKY llm selection failed open: %r", err)
    import re

    if re.search(r"\b(since|until|before|after|during|from \d{4}|in \d{4}|\d{4}-\d{2})\b", query, re.I):
        return "TEMPORAL"
    if re.search(r"\b(how many|count|list all|number of)\b", query, re.I):
        return "NATURAL_LANGUAGE"
    return "GRAPH_COMPLETION"


def search(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    search_type: str,
    query: str,
    top_k: int = 5,
    llm=None,
    distances_of=None,
    fragment_m: int = 256,
    **kwargs,
):
    """Route ``query`` through the retriever for ``search_type``.

    DataFrame-shaped results (rank lists) come back as DataFrames; completion
    flows return their operator's prompt string / dict. ``llm`` is the one
    generation seam shared by every handler that has one; ``distances_of``
    overrides the query-embedding seam.

    Default node distances for the graph-completion family: when the tables
    dict carries a committed ``Entity_name`` index, the memory fragment is
    bounded FIRST — the ``fragment_m`` nearest entities by the index (the
    reference's get_memory_fragment, brute_force_triplet_search.py:50-117 —
    it never scores all nodes) — and only triples inside that fragment are
    scored. Distance values for fragment members are identical to the
    unbounded path (same encoder, same arithmetic), so with ``fragment_m``
    >= the entity count the two paths return the same ranking. Without an
    index, the bootstrap fallback scores every distinct endpoint name
    (hash_node_distances).

    Truncation: with an ``Entity_name`` index, the default ``fragment_m=256``
    restricts GRAPH_COMPLETION and the rest of the graph-completion family
    to the 256 entities nearest the query on stores with more entities; only
    triples with both endpoints inside that fragment are ranked.
    Callers that need the exhaustive ranking pass ``fragment_m`` >= the
    entity count (``tables["nodes"].count()``).
    """
    st = search_type.upper()
    if st == "FEELING_LUCKY":
        st = select_search_type(query, llm=llm)

    def _default_dist(q):
        idx = _index_slice(tables, "Entity_name")
        if idx is not None:
            return _query_topk(spark, idx, q, fragment_m).select(
                F.col("text").alias("name"),
                (1.0 - F.col("cosine")).alias("distance"),
            )
        return hash_node_distances(
            tables["triples"].select(F.col("subj").alias("name"))
            .union(tables["triples"].select(F.col("obj").alias("name"))).distinct(), q
        )

    dist = distances_of or _default_dist

    # an IVF cell index in the caller's tables serves its own collection
    # (_vector_topk); every other vector search reads the committed index
    ivf = tables.get("ivf")

    if st == "SUMMARIES":
        return _vector_topk(
            spark, tables["summaries"], query, top_k, "summary_id", "summary",
            index=_index_slice(tables, "TextSummary_text"),
            ivf=ivf if ivf and ivf.get("collection") == "TextSummary_text" else None,
        )
    if st == "CHUNKS":
        return _vector_topk(
            spark, tables["chunks"], query, top_k, "chunk_id", "text",
            index=_index_slice(tables, "DocumentChunk_text"),
            ivf=ivf if ivf and ivf.get("collection") == "DocumentChunk_text" else None,
        )
    if st == "CHUNKS_LEXICAL":
        from cognee_spark.operators.retrieval import lexical_topk

        return lexical_topk(
            tables["chunks"], query, top_k=top_k, text_col="text", id_col="chunk_id"
        )
    if st == "RAG_COMPLETION":
        from cognee_spark.operators.retrieval import COMPLETION_PROMPT_TEMPLATE

        top = _vector_topk(
            spark, tables["chunks"], query, top_k, "chunk_id", "text",
            index=_index_slice(tables, "DocumentChunk_text"),
        )
        rows = top.select("rank", "text").orderBy("rank").collect()
        context = "\n---\n".join(r.text for r in rows)
        prompt = COMPLETION_PROMPT_TEMPLATE.format(question=query, context=context)
        return llm("completion", prompt) if llm is not None else prompt
    if st == "HYBRID_COMPLETION":
        from cognee_spark.operators.retrieval import bm25_score, rrf_fuse

        terms = [t for t in query.lower().split() if t]
        lex = bm25_score(
            tables["chunks"], terms, text_col="text", id_col="chunk_id", k=max(top_k * 3, 10)
        ).select(F.col("doc_id").alias("chunk_id"), "rank")
        vec = _vector_topk(
            spark, tables["chunks"], query, max(top_k * 3, 10), "chunk_id", "text",
            index=_index_slice(tables, "DocumentChunk_text"),
        ).select(F.col("item_id").alias("chunk_id"), "rank")
        # truth-subspace weighting (hybrid/ranking.py:43-46): when the tables
        # dict carries chunk truth coordinates and the caller supplies the
        # current epoch, project the query onto the slots and blend the
        # factor; absent any of the three → plain RRF (neutrality contract)
        truth = tables.get("truth")
        q_coords = kwargs.get("q_coords")
        truth_epoch = kwargs.get("truth_epoch")
        if truth is not None and q_coords is None and kwargs.get("truth_slots"):
            from cognee_spark.functions.embeddings import hash_embedding_py
            from cognee_spark.operators.truth import query_coords

            q_coords = query_coords(hash_embedding_py(query), kwargs["truth_slots"])
        if truth is not None:
            truth = truth.withColumnRenamed("node_id", "chunk_id")
        return rrf_fuse(
            [lex, vec], top_k=top_k, id_col="chunk_id",
            truth=truth, q_coords=q_coords, truth_epoch=truth_epoch,
        )
    if st == "TRIPLET_COMPLETION":
        index = _index_slice(tables, "Triplet_text")
        if index is None:
            # no committed index (with_index=False, or a store whose index
            # predates the collection): embed the triples for this query
            from cognee_spark.operators.indexing import build_triplet_index

            index = build_triplet_index(tables["triples"].select("subj", "pred", "obj"))
        return _vector_topk(spark, None, query, top_k, "item_id", "text", index=index)
    if st == "GRAPH_COMPLETION":
        from cognee_spark.operators.retrieval import graph_completion_context

        return graph_completion_context(
            tables["triples"], dist(query), query, k=top_k
        )
    if st == "GRAPH_SUMMARY_COMPLETION":
        from cognee_spark.operators.retrieval import graph_summary_completion_context

        return graph_summary_completion_context(
            tables["triples"], dist(query), query, k=top_k, llm=llm
        )
    if st == "GRAPH_COMPLETION_COT":
        from cognee_spark.operators.retrieval import cot_completion_rounds

        return cot_completion_rounds(tables["triples"], dist, query, llm, k=top_k)
    if st == "GRAPH_COMPLETION_DECOMPOSITION":
        from cognee_spark.operators.retrieval import decomposition_completion

        return decomposition_completion(tables["triples"], dist, query, llm, k=top_k)
    if st == "GRAPH_COMPLETION_CONTEXT_EXTENSION":
        from cognee_spark.operators.retrieval import context_extension_completion

        return context_extension_completion(tables["triples"], dist, query, llm, k=top_k)
    if st in ("NATURAL_LANGUAGE", "CYPHER"):
        from cognee_spark.operators.nlsearch import (
            natural_language_search,
            template_sql_generator,
        )

        views = {
            name: tables[name]
            for name in ("nodes", "triples")
            if name in tables
        }
        # every llm seam in this module is kind-tagged; nlsearch's contract
        # is llm(prompt) -> sql, so adapt
        generator = (
            (lambda prompt: llm("generate_sql", prompt))
            if llm is not None
            else template_sql_generator()
        )
        return natural_language_search(spark, views, query, generator)
    if st == "TEMPORAL":
        from cognee_spark.operators.temporal import temporal_completion

        events = tables.get("events")
        if events is None:
            raise UnsupportedSearchType(
                "TEMPORAL search needs an 'events' table (operators/temporal "
                "extraction output) in the tables dict"
            )
        scores = kwargs.get("event_scores")
        if scores is None:
            # cosine DISTANCE of each event description vs the query — a
            # narrow projection (no window/shuffle), ranked by the operator
            scores = events.select(
                "event_id",
                _cosine_distance_col(F.col("description"), query).alias("score"),
            )
        return temporal_completion(
            events, scores, query, k=top_k,
            # seam adapters: search's contract is llm(kind, prompt), the
            # temporal operator expects llm(prompt) — adapt like the
            # NATURAL_LANGUAGE branch instead of discarding the caller's llm
            llm=(lambda p: llm("extract_time", p)) if llm is not None else None,
            triplet_fallback=lambda: search(
                spark, tables, "GRAPH_COMPLETION", query, top_k=top_k,
                distances_of=distances_of,
            ),
        )
    if st == "CODING_RULES":
        from cognee_spark.operators.coding_rules import RULES_NODESET, existing_rules

        rules = tables.get("rules")
        if rules is None:
            raise UnsupportedSearchType(
                "CODING_RULES search needs a 'rules' table "
                "(operators/coding_rules.extract_rules output) in the tables dict"
            )
        # the reference retriever returns every rule in the nodeset(s) and
        # ignores the query text (coding_rules_retriever.py:24-31)
        return existing_rules(rules, kwargs.get("rules_nodeset") or [RULES_NODESET])
    if st == "CODE":
        needle = kwargs.get("needle", query)
        return tables["nodes"].where(
            F.col("kind").isin("function", "class", "method", "module")
            & F.col("name").contains(needle)
        ).select("entity_id", "name", "kind")
    raise UnsupportedSearchType(f"search type {search_type!r} is not supported")


# --- search history (modules/search/operations) -----------------------------

def get_history(
    queries: DataFrame, results: DataFrame, user_id: str, limit: int = 10
) -> DataFrame:
    """The user's interleaved query/answer history
    (operations/get_history.py:12-31): queries label ``user``, results label
    ``system``, merged by created_at, first ``limit`` rows (limit<=0 =
    everything, the reference's ``if limit > 0`` branch).

    Deviation, documented: the reference orders by created_at alone, leaving
    equal-timestamp rows in database order; id breaks ties here so the frame
    is deterministic under any partitioning."""
    q = queries.where(F.col("user_id") == user_id).select(
        "id", "text", "created_at", F.lit("user").alias("user")
    )
    r = results.where(F.col("user_id") == user_id).select(
        "id", F.col("value").alias("text"), "created_at", F.lit("system").alias("user")
    )
    hist = q.unionByName(r).orderBy("created_at", "id")
    return hist.limit(limit) if limit > 0 else hist
