"""Unified SearchType dispatch (get_search_type_retriever_instance +
search.py semantics): routing, seams, FEELING_LUCKY selection, unsupported
types."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cognee_spark.search import (
    UnsupportedSearchType,
    search,
    select_search_type,
)


@pytest.fixture(scope="module")
def tables(spark):
    chunks = spark.createDataFrame(
        [("c1", "spark runs the query engine"), ("c2", "maple syrup recipe")],
        ["chunk_id", "text"],
    )
    summaries = spark.createDataFrame(
        [("sm1", "spark query engine summary."), ("sm2", "cooking summary.")],
        ["summary_id", "summary"],
    )
    nodes = spark.createDataFrame(
        [("n1", "pkg.mod.fn_query", "function"), ("n2", "zephyr", "entity")],
        ["entity_id", "name", "kind"],
    )
    triples = spark.createDataFrame(
        [("zephyr", "uses", "quokka"), ("maple", "extends", "quokka")],
        ["subj", "pred", "obj"],
    )
    events = spark.createDataFrame(
        [("e1", "launch event", "2020-02-01 00:00:00")],
        "event_id string, description string, time_from string",
    ).selectExpr("event_id", "description", "to_timestamp(time_from) AS time_from")
    return {
        "chunks": chunks, "summaries": summaries, "nodes": nodes,
        "triples": triples, "events": events,
    }


def test_rank_list_types_route_to_their_retrievers(spark, tables):
    top = search(spark, tables, "CHUNKS_LEXICAL", "spark query", top_k=5)
    assert top.first().doc_id == "c1"  # lexical overlap picks the spark chunk
    top = search(spark, tables, "SUMMARIES", "spark query engine summary.", top_k=1)
    assert top.first().item_id == "sm1"  # exact text → cosine 1.0
    top = search(spark, tables, "CHUNKS", "spark runs the query engine", top_k=1)
    assert top.first().item_id == "c1"
    top = search(spark, tables, "TRIPLET_COMPLETION", "zephyr-›uses-›quokka", top_k=1)
    assert top.first().text == "zephyr-›uses-›quokka"
    hybrid = search(spark, tables, "HYBRID_COMPLETION", "spark query", top_k=2)
    assert "fuse_rank" in hybrid.columns and hybrid.count() >= 1
    code = search(spark, tables, "CODE", "q", needle="fn_query")
    assert [r.name for r in code.collect()] == ["pkg.mod.fn_query"]


def test_completion_types_return_prompts_and_use_seams(spark, tables):
    prompt = search(spark, tables, "GRAPH_COMPLETION", "what uses quokka?", top_k=2)
    assert "what uses quokka?" in prompt and "--[" in prompt
    prompt = search(spark, tables, "RAG_COMPLETION", "spark?", top_k=1)
    assert "spark?" in prompt  # no llm → the assembled prompt comes back
    out = search(
        spark, tables, "RAG_COMPLETION", "spark?", top_k=1,
        llm=lambda kind, p: f"[{kind}]",
    )
    assert out == "[completion]"
    out = search(spark, tables, "NATURAL_LANGUAGE", "how many function nodes")
    assert out.first().n == 1  # template generator answers over kg_nodes


def test_temporal_routes_through_window_and_falls_back(spark, tables):
    out = search(spark, tables, "TEMPORAL", "what happened in 2020?", top_k=3)
    assert not out["used_fallback"]
    assert out["context"] == "launch event"
    # no window in the question → the GRAPH_COMPLETION fallback string
    out = search(spark, tables, "TEMPORAL", "who uses quokka?", top_k=2)
    assert out["used_fallback"] and "who uses quokka?" in out["context"]


def test_feeling_lucky_selection_and_unsupported(spark, tables):
    assert select_search_type("what changed since 2023?") == "TEMPORAL"
    assert select_search_type("how many nodes are there?") == "NATURAL_LANGUAGE"
    assert select_search_type("tell me about zephyr") == "GRAPH_COMPLETION"
    # llm seam wins when it names a valid type; garbage falls back
    assert select_search_type("x", llm=lambda k, p: "CHUNKS") == "CHUNKS"
    assert select_search_type("x", llm=lambda k, p: "NOT_A_TYPE") == "GRAPH_COMPLETION"
    with pytest.raises(UnsupportedSearchType):
        search(spark, tables, "AGENTIC_COMPLETION", "q")
    with pytest.raises(UnsupportedSearchType):
        search(spark, {"triples": tables["triples"]}, "TEMPORAL", "in 2020?")


def test_temporal_passes_llm_seam_through_adapter(spark, tables):
    """Round-4 ADVICE: the TEMPORAL handler must adapt the caller's
    llm(kind, prompt) to the temporal operator's llm(prompt) contract for
    query-interval extraction, not discard it."""
    kinds = []

    def llm(kind, prompt):
        kinds.append(kind)
        return '{"starts_at": "2020-01-01 00:00:00", "ends_at": "2020-12-31 23:59:59"}'

    out = search(spark, tables, "TEMPORAL", "what happened recently?", top_k=3, llm=llm)
    assert "extract_time" in kinds  # the seam reached interval extraction
    assert not out["used_fallback"]  # the llm-provided window matched the event
    assert out["context"] == "launch event"


def test_dispatch_probes_committed_index_when_present(spark, tables):
    """Round-4 verdict: CHUNKS/SUMMARIES must route through a committed
    embeddings index when the tables dict carries one — identical results to
    the on-the-fly path on the same corpus, and provably the index (an
    index-only row is reachable; no re-embedding of the chunks table)."""
    from cognee_spark.functions.embeddings import hash_embedding_col

    baseline = search(spark, tables, "CHUNKS", "spark runs the query engine", top_k=2)
    base_rows = [(r.rank, r.item_id) for r in baseline.orderBy("rank").collect()]

    index = (
        spark.createDataFrame(
            [("c1", "spark runs the query engine"), ("c2", "maple syrup recipe"),
             ("sm1", "spark query engine summary."), ("sm2", "cooking summary.")],
            ["item_id", "text"],
        )
        .withColumn(
            "collection",
            F.when(F.col("item_id").startswith("sm"), "TextSummary_text")
            .otherwise("DocumentChunk_text"),
        )
        .withColumn("embedding", hash_embedding_col(F.col("text")))
        .select("collection", "item_id", "text", "embedding")
    )
    with_idx = dict(tables, embeddings=index)

    via_index = search(spark, with_idx, "CHUNKS", "spark runs the query engine", top_k=2)
    assert [(r.rank, r.item_id) for r in via_index.orderBy("rank").collect()] == base_rows

    via_index_sm = search(spark, with_idx, "SUMMARIES", "spark query engine summary.", top_k=1)
    assert via_index_sm.first().item_id == "sm1"

    # routing proof: a row that exists ONLY in the index is retrievable
    extra = index.unionByName(
        spark.createDataFrame(
            [("ghost", "phantom chunk only in the index")], ["item_id", "text"]
        )
        .withColumn("collection", F.lit("DocumentChunk_text"))
        .withColumn("embedding", hash_embedding_col(F.col("text")))
        .select("collection", "item_id", "text", "embedding")
    )
    got = search(
        spark, dict(tables, embeddings=extra), "CHUNKS",
        "phantom chunk only in the index", top_k=1,
    )
    assert got.first().item_id == "ghost"


def test_dispatch_probes_ivf_index_when_present(spark, tables):
    """An ivf entry ({collection, assigned, centroids}) wins over brute force
    for its collection; with nprobe = n_cells the results match brute force
    exactly on the test corpus."""
    from cognee_spark.functions.embeddings import hash_embedding_col
    from cognee_spark.operators.similarity_search import (
        deterministic_centroids,
        ivf_assign,
    )
    from cognee_spark.functions.embeddings import DEFAULT_DIM

    emb = (
        tables["chunks"]
        .select(
            F.col("chunk_id").alias("item_id"),
            F.col("text"),
            hash_embedding_col(F.col("text")).alias("embedding"),
        )
    )
    cents = deterministic_centroids(2, DEFAULT_DIM)
    assigned = ivf_assign(emb, cents)
    ivf = {"collection": "DocumentChunk_text", "assigned": assigned,
           "centroids": cents, "nprobe": 2}
    got = search(
        spark, dict(tables, ivf=ivf), "CHUNKS", "spark runs the query engine", top_k=1
    )
    assert got.first().item_id == "c1"


def test_hybrid_dispatch_blends_truth_factor_when_present(spark, tables):
    """HYBRID_COMPLETION applies the truth-subspace factor when the tables
    dict carries coordinates + the caller passes the epoch (ranking.py:43-46);
    without them the scores are the plain-RRF baseline (neutrality)."""
    from cognee_spark.operators.truth import extend_slots, node_coords_col
    from cognee_spark.functions.embeddings import hash_embedding_col

    # query = the learning text so its slot projection is POSITIVE (hash
    # embeddings are signed; a negative q_coord clamps to weight 0 → neutral)
    q = "spark runs the query engine"
    base = search(spark, tables, "HYBRID_COMPLETION", q, top_k=2)
    base_rows = {r.chunk_id: r.final_score for r in base.collect()}

    from cognee_spark.functions.embeddings import hash_embedding_py

    # learnings embedded in the SAME space as the chunks (full dimension)
    slots = extend_slots(
        [], [("l1", hash_embedding_py(q))], k=8
    )
    truth = tables["chunks"].select(
        F.col("chunk_id").alias("node_id"),
        node_coords_col(hash_embedding_col(F.col("text")),
                        [s["centroid"] for s in slots]).alias("truth_alignment"),
        F.lit(7).alias("truth_epoch"),
    )
    with_truth = search(
        spark, dict(tables, truth=truth), "HYBRID_COMPLETION", q,
        top_k=2, truth_slots=slots, truth_epoch=7,
    )
    rows = {r.chunk_id: r.final_score for r in with_truth.collect()}
    assert set(rows) == set(base_rows)
    assert any(rows[c] != base_rows[c] for c in rows)  # factor applied
    # epoch mismatch → neutral, identical scores
    stale = search(
        spark, dict(tables, truth=truth), "HYBRID_COMPLETION", q,
        top_k=2, truth_slots=slots, truth_epoch=99,
    )
    assert {r.chunk_id: r.final_score for r in stale.collect()} == base_rows


def test_graph_completion_fragment_seeded_from_index(spark, tables):
    """With a committed Entity_name index, the default node distances come
    from the index's top-m fragment (the reference's get_memory_fragment:
    bound BEFORE scoring), never from a corpus-wide distance table. With
    fragment_m covering every entity the ranking equals the index-less path;
    with a tight fragment_m only in-fragment triples are scored."""
    from cognee_spark.functions.embeddings import hash_embedding_col

    names = (
        tables["triples"].select(F.col("subj").alias("name"))
        .union(tables["triples"].select(F.col("obj").alias("name"))).distinct()
    )
    index = names.select(
        F.lit("Entity_name").alias("collection"),
        F.col("name").alias("item_id"),
        F.col("name").alias("text"),
        hash_embedding_col(F.col("name")).alias("embedding"),
    )
    without_idx = search(spark, tables, "GRAPH_COMPLETION", "what uses quokka?", top_k=2)
    with_idx = search(
        spark, dict(tables, embeddings=index), "GRAPH_COMPLETION",
        "what uses quokka?", top_k=2, fragment_m=100,
    )
    assert with_idx == without_idx  # full fragment → identical prompt

    tight = search(
        spark, dict(tables, embeddings=index), "GRAPH_COMPLETION",
        "what uses quokka?", top_k=2, fragment_m=1,
    )
    # a 1-entity fragment cannot cover both endpoints of any triple
    assert "--[" not in tight


@pytest.fixture(scope="module")
def store_tables(spark, tmp_path_factory):
    """A cognify store over a small synthetic corpus, index committed."""
    from cognee_spark.pipeline import run_pipeline
    from cognee_spark.sources.corpus import build_repos_df

    out = run_pipeline(
        spark, build_repos_df(spark, 40), str(tmp_path_factory.mktemp("kg") / "store"),
        "search-index", compute_metrics=False, with_index=True,
    )
    return out["tables"]


def test_embeddings_stage_commits_triplet_and_chunk_collections(spark, store_tables):
    """The embeddings stage holds one Triplet_text row per distinct triplet id
    and one DocumentChunk_text row per chunk, so vector search never has to
    embed the triples or chunks per query."""
    from cognee_spark.operators.indexing import triplet_id_col

    emb = store_tables["embeddings"]
    triplet_ids = {
        r.item_id
        for r in store_tables["triples"].select(
            triplet_id_col(F.col("subj"), F.col("pred"), F.col("obj")).alias("item_id")
        ).distinct().collect()
    }
    committed = [
        r.item_id for r in emb.where(F.col("collection") == "Triplet_text").collect()
    ]
    assert triplet_ids and len(committed) == len(triplet_ids)
    assert set(committed) == triplet_ids

    chunk_ids = [r.chunk_id for r in store_tables["chunks"].select("chunk_id").collect()]
    committed = [
        r.item_id
        for r in emb.where(F.col("collection") == "DocumentChunk_text").collect()
    ]
    assert chunk_ids and sorted(committed) == sorted(chunk_ids)


@pytest.mark.parametrize(
    "query", ["ZephyrService uses QuokkaRegistry", "maple hub depends on onyx daemon"]
)
def test_committed_index_answers_equal_on_the_fly(spark, store_tables, query):
    """Every vector search type returns the same rows from the committed index
    as from the on-the-fly embedding of a tables dict without one."""
    bare = {k: v for k, v in store_tables.items() if k != "embeddings"}

    def rows(tables, search_type):
        out = search(spark, tables, search_type, query, top_k=5)
        if isinstance(out, str):
            return out
        return sorted(tuple(r) for r in out.collect())

    for search_type in (
        "SUMMARIES", "CHUNKS", "RAG_COMPLETION", "HYBRID_COMPLETION",
        "TRIPLET_COMPLETION",
    ):
        via_index = rows(store_tables, search_type)
        assert via_index, search_type
        assert via_index == rows(bare, search_type), search_type


# Spark jobs per search type over store_tables, result collected: the vector
# types scan once to TakeOrderedAndProject, with no probe or re-join
MAX_SEARCH_JOBS = {
    "CHUNKS": 2, "SUMMARIES": 2, "TRIPLET_COMPLETION": 2, "GRAPH_COMPLETION": 3,
    "HYBRID_COMPLETION": 7, "CHUNKS_LEXICAL": 3, "CODE": 1,
}


@pytest.mark.parametrize("search_type", sorted(MAX_SEARCH_JOBS))
def test_search_jobs_per_type(spark, store_tables, search_type):
    """No search type spends a job on probing or re-joining its own plan."""
    sc = spark.sparkContext
    group = f"test-search-{search_type}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        query = "fn_" if search_type == "CODE" else "ZephyrService uses QuokkaRegistry"
        out = search(spark, store_tables, search_type, query)
        rows = out if isinstance(out, str) else out.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    assert rows
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= MAX_SEARCH_JOBS[search_type]
