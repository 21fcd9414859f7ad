"""Retrieval operators — R1-R5 of SURVEY.md §2.6 (cognee's "SELECT" side).

- vector top-k lives in similarity_search.py (R1/R6)
- k_hop_subgraph: seed-bounded graph projection (R2,
  brute_force_triplet_search.py:50-117, graph_db_interface.py:599) —
  iterative semi-join expansion, depth-bounded, seeds broadcast
- score_triplets + top_k_triplets: the reference's triplet scoring
  score = Σ (2 - importance_weight) · distance over (src, dst, edge),
  feedback-blended (CogneeGraph.py:470-540), as a join + ranked top-k
- ranked_topk: every ranked top-k of the read path — TakeOrderedAndProject,
  then a rank over the <= k survivors
- resolve_edges_to_text: triples → "A --[rel]--> B (edge_text)" context
  lines (resolve_edges_to_text.py:12-107)
- bm25_score: lexical retrieval (bm25_retriever.py:9-57) — per-document
  length and query-term counts in one groupBy, corpus constants in one
  broadcast 1-row frame
"""

from __future__ import annotations

import re
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def k_hop_subgraph(
    edges: DataFrame,
    seeds: DataFrame,
    k: int = 2,
    src: str = "subj",
    dst: str = "obj",
    seed_col: str = "name",
) -> DataFrame:
    """Edges reachable within k undirected hops of the seed set.

    Frontier expansion by semi-join; the frontier is broadcast each round
    only while a row-count probe proves it dictionary-sized (seed
    neighborhoods usually are — the reference's wide-search pre-filter,
    SURVEY O12 — but a 2-hop frontier on a hub-heavy graph can exceed the
    broadcast envelope, at which point the join falls back to AQE's
    choice)."""
    from cognee_spark.functions.broadcast import bounded_broadcast

    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    visited = seeds.select(F.col(seed_col).alias("node")).distinct()
    frontier = visited.localCheckpoint(eager=True)
    for _ in range(k):
        f = bounded_broadcast(frontier, materialize=False)
        neighbors = (
            sym.join(f, sym["a"] == f["node"])
            .select(F.col("b").alias("node"))
            .union(
                sym.join(f, sym["b"] == f["node"]).select(F.col("a").alias("node"))
            )
            .distinct()
        )
        frontier = neighbors.join(visited, "node", "left_anti").localCheckpoint(eager=True)
        visited = visited.union(frontier).distinct().localCheckpoint(eager=True)
    v = bounded_broadcast(visited, materialize=False)
    return (
        edges.join(v.withColumnRenamed("node", src), src)
        .join(v.withColumnRenamed("node", dst), dst)
    )


def score_triplets(
    triples: DataFrame,
    node_distances: DataFrame,
    importance_weight: float = 1.0,
    feedback_weight: float = 0.5,
    feedback_blend: float = 0.0,
    feedback_weights: DataFrame | None = None,
) -> DataFrame:
    """Score = Σ over {subj, obj} of (2 - importance) · distance, blended with
    feedback (CogneeGraph.py:470-540). node_distances: (name, distance).

    ``feedback_weights`` closes the memify loop (operators/feedback.py): a
    (subj, pred, obj, feedback_weight) frame of per-edge learned weights —
    edges without one fall back to the scalar ``feedback_weight`` default.
    Higher weight (positive feedback) lowers the blended score, ranking the
    edge earlier (lowest-score-first top-k).

    ``node_distances`` is broadcast only while a row-count probe proves it
    bounded: the default search path feeds this a frame derived from ALL
    distinct node names (corpus-sized at scale — the reference bounds the
    fragment via vector search before scoring, get_memory_fragment), and an
    unconditional hint would force that through a driver hash build.
    Unbounded frames join unhinted and AQE picks the strategy."""
    from cognee_spark.functions.broadcast import bounded_broadcast

    d = bounded_broadcast(node_distances)
    subj_d = d.select(F.col("name").alias("subj"), F.col("distance").alias("subj_distance"))
    obj_d = d.select(F.col("name").alias("obj"), F.col("distance").alias("obj_distance"))
    base = (2.0 - importance_weight) * (F.col("subj_distance") + F.col("obj_distance"))
    scored = triples.join(subj_d, "subj").join(obj_d, "obj")
    if feedback_weights is not None:
        fw = feedback_weights.select(
            "subj", "pred", "obj", F.col("feedback_weight").alias("_fw")
        )
        scored = scored.join(fw, ["subj", "pred", "obj"], "left").withColumn(
            "_fw", F.coalesce("_fw", F.lit(float(feedback_weight)))
        )
        wf = F.col("_fw")
    else:
        wf = F.lit(float(feedback_weight))
    blended = (1.0 - feedback_blend) * base + feedback_blend * (1.0 - wf)
    return scored.withColumn("score", F.round(blended, 9)).drop("_fw")


def ranked_topk(
    df: DataFrame, order: Sequence[Column], k: int, rank_col: str = "rank"
) -> DataFrame:
    """The first ``k`` rows of ``df`` by ``order``, ranked 1..k in a
    ``rank_col`` column.

    orderBy + limit compiles to TakeOrderedAndProject — each partition keeps
    its local k, only k rows per partition reach the single-partition merge.
    A global row_number window would instead move EVERY row to one task.
    The rank is a row_number over the <= k survivors, in a window
    partitioned by their partition id: the limit's output is one partition,
    which already satisfies that window, so no Exchange is added (and the
    unpartitioned window's warning is not logged per query)."""
    w = Window.partitionBy(F.spark_partition_id()).orderBy(*order)
    return df.orderBy(*order).limit(k).withColumn(rank_col, F.row_number().over(w))


def top_k_triplets(scored: DataFrame, k: int = 10) -> DataFrame:
    """Lowest-score-first top-k (the reference's heapq.nsmallest)."""
    return ranked_topk(
        scored, [F.asc("score"), F.asc("subj"), F.asc("pred"), F.asc("obj")], k
    )


def resolve_edges_to_text(triples: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    """Context lines: 'subj --[pred]--> obj' (resolve_edges_to_text.py:78-96).

    ``keep`` carries passenger columns (e.g. the retrieval ``rank``) through,
    so downstream prompt assembly can preserve retrieval order."""
    return triples.select(
        *keep,
        F.concat(
            F.col("subj"), F.lit(" --["), F.col("pred"), F.lit("]--> "), F.col("obj")
        ).alias("context_line"),
    )


COMPLETION_PROMPT_TEMPLATE = (
    "The question is: `{question}`\n"
    "and here is the context provided with a set of relationships from a "
    "knowledge graph separated by \\n---\\n each represented as node1 -- "
    "relation -- node2 triplet: `{context}`"
)


def completion_prompt(
    context: DataFrame, question: str, context_col: str = "context_line"
) -> str:
    """R7 minus the LLM call: assemble the graph-completion user prompt
    (graph_completion_retriever.get_completion_from_context +
    prompts/graph_context_for_question.txt). The context frame is the
    already-top-k'd retrieval output — k rows, so the collect is bounded by
    construction; the LLM invocation itself is the pluggable serving seam.

    Lines are presented in RETRIEVAL order (by the ``rank`` column when the
    context frame carries one — the reference's graph-completion prompt keeps
    the top-k score order, graph_completion_retriever.py); without a rank the
    lines are sorted for determinism.
    """
    if "rank" in context.columns:
        rows = context.select("rank", context_col).orderBy("rank").collect()
        lines = [r[1] for r in rows]
    else:
        lines = sorted(r[0] for r in context.select(context_col).collect())
    return COMPLETION_PROMPT_TEMPLATE.format(
        question=question, context="\n---\n".join(lines)
    )


def graph_completion_context(
    triples: DataFrame,
    node_distances: DataFrame,
    question: str,
    k: int = 5,
) -> str:
    """End-to-end R1→R4→R7 context construction: score triplets against the
    query's node distances, keep top-k, resolve to text, render the prompt.
    The rank column rides along so the prompt preserves retrieval order."""
    top = top_k_triplets(score_triplets(triples, node_distances), k=k)
    return completion_prompt(resolve_edges_to_text(top, keep=("rank",)), question)


# --- R7 variants: chain-of-thought + question decomposition ---------------------
#
# The reference's CoT retriever (graph_completion_cot_retriever.py:181-213)
# loops: completion → validation reasoning → ONE follow-up question → fetch
# that question's triplets → MERGE (dedup) into the state → re-resolve
# context → re-complete. The decomposition retriever
# (graph_completion_decomposition_retriever.py:88-190) first splits the query
# into subqueries, fetches each subquery's triplets, merges deduplicated
# edges, then answers. All loops are deterministic; only the inner LLM calls
# are a seam — here a callable ``llm(kind, prompt) -> str`` with kinds
# ("completion" | "validation" | "followup" | "decompose"), mirroring the
# reference's distinct prompt templates per call site.

COT_VALIDATION_PROMPT_TEMPLATE = (
    "<QUESTION>\n`{query}`\n</QUESTION>\n\n"
    "<ANSWER>\n`{answer}`\n</ANSWER>\n\n"
    "<CONTEXT>\n`{context}`\n</CONTEXT>"
)

COT_FOLLOWUP_PROMPT_TEMPLATE = (
    "Based on the following, ask exactly one question that would directly "
    "resolve the gap identified in the validation reasoning and allow a "
    "valid answer.\n\n"
    "<QUERY>\n`{query}`\n</QUERY>\n\n"
    "<ANSWER>\n`{answer}`\n</ANSWER>\n\n"
    "<REASONING>\n`{reasoning}`\n</REASONING>"
)


def _merged_top_k(triples, distances, k):
    top = top_k_triplets(score_triplets(triples, distances), k=k)
    return top.select("subj", "pred", "obj", "score", "rank")


def cot_completion_rounds(
    triples: DataFrame,
    distances_of,
    question: str,
    llm,
    k: int = 5,
    max_iter: int = 1,
) -> dict:
    """Chain-of-thought graph completion (cot_retriever._run_cot_completion).

    ``distances_of(question) -> (name, distance) DataFrame`` is the
    query-embedding seam (the reference embeds the query and scores node
    distances); ``llm(kind, prompt)`` the generation seam. Returns the final
    answer, the rank-ordered context lines, the merged triplet frame, and the
    full prompt transcript (each round's validation/follow-up/completion
    prompts in order — pinned by tests against the reference template flow).
    """
    state = _merged_top_k(triples, distances_of(question), k)
    transcript: list[tuple[str, str]] = []

    def complete():
        ctx = resolve_edges_to_text(state.orderBy("score", "subj", "pred", "obj"),
                                    keep=())
        lines = [r.context_line for r in ctx.collect()]
        prompt = COMPLETION_PROMPT_TEMPLATE.format(
            question=question, context="\n---\n".join(lines)
        )
        transcript.append(("completion", prompt))
        return llm("completion", prompt), lines

    answer, context_lines = complete()
    for _ in range(max_iter):
        validation_prompt = COT_VALIDATION_PROMPT_TEMPLATE.format(
            query=question, answer=answer, context="\n---\n".join(context_lines)
        )
        transcript.append(("validation", validation_prompt))
        reasoning = llm("validation", validation_prompt)
        followup_prompt = COT_FOLLOWUP_PROMPT_TEMPLATE.format(
            query=question, answer=answer, reasoning=reasoning
        )
        transcript.append(("followup", followup_prompt))
        followup_question = llm("followup", followup_prompt)
        new = _merged_top_k(triples, distances_of(followup_question), k)
        # merge_deduplicated_edges semantics: union, one row per (s, p, o),
        # keeping the best (lowest) score/rank for re-ordering
        state = (
            state.unionByName(new)
            .groupBy("subj", "pred", "obj")
            .agg(F.min("score").alias("score"), F.min("rank").alias("rank"))
        )
        answer, context_lines = complete()
    return {
        "answer": answer,
        "context_lines": context_lines,
        "triplets": state,
        "transcript": transcript,
    }


def context_extension_completion(
    triples: DataFrame,
    distances_of,
    question: str,
    llm,
    k: int = 5,
    max_rounds: int = 4,
) -> dict:
    """Context-extension graph completion
    (graph_completion_context_extension_retriever.py:59-130): each round uses
    the CURRENT COMPLETION TEXT as the next retrieval query, merges the newly
    found triplets into the state, and stops early once a round adds no new
    triplets (convergence) or after ``max_rounds``."""
    state = _merged_top_k(triples, distances_of(question), k)
    n_triplets = state.count()
    rounds_run = 0

    def lines_of(frame):
        ctx = resolve_edges_to_text(frame.orderBy("score", "subj", "pred", "obj"))
        return [r.context_line for r in ctx.collect()]

    context_lines = lines_of(state)
    completion = None
    for _ in range(max_rounds):
        rounds_run += 1
        prompt = COMPLETION_PROMPT_TEMPLATE.format(
            question=question, context="\n---\n".join(context_lines)
        )
        completion = llm("completion", prompt)
        new = _merged_top_k(triples, distances_of(completion), k)
        state = (
            state.unionByName(new)
            .groupBy("subj", "pred", "obj")
            .agg(F.min("score").alias("score"), F.min("rank").alias("rank"))
        )
        new_count = state.count()
        context_lines = lines_of(state)
        if new_count == n_triplets:
            break  # converged: the round added nothing new
        n_triplets = new_count
    return {
        "answer": completion,
        "context_lines": context_lines,
        "triplets": state,
        "rounds": rounds_run,
    }


def decomposition_completion(
    triples: DataFrame,
    distances_of,
    question: str,
    llm,
    k: int = 5,
) -> dict:
    """Question-decomposition graph completion
    (graph_completion_decomposition_retriever.py, ANSWER_PER_SUBQUERY mode):
    decompose → per-subquery top-k → merge deduplicated edges → one answer
    per subquery over the merged context + the aggregate answer. The
    decomposition LLM call falls back to the original query on failure
    (reference _decompose_query fallback)."""
    try:
        raw = llm("decompose", question)
        subqueries = [q.strip() for q in raw.splitlines() if q.strip()] or [question]
    except Exception:
        subqueries = [question]
    per_sub = {q: _merged_top_k(triples, distances_of(q), k) for q in subqueries}
    merged = None
    for frame in per_sub.values():
        merged = frame if merged is None else merged.unionByName(frame)
    merged = (
        merged.groupBy("subj", "pred", "obj")
        .agg(F.min("score").alias("score"), F.min("rank").alias("rank"))
    )
    ctx = resolve_edges_to_text(merged.orderBy("score", "subj", "pred", "obj"))
    lines = [r.context_line for r in ctx.collect()]
    answers = {}
    for q in subqueries:
        prompt = COMPLETION_PROMPT_TEMPLATE.format(
            question=q, context="\n---\n".join(lines)
        )
        answers[q] = llm("completion", prompt)
    final_prompt = COMPLETION_PROMPT_TEMPLATE.format(
        question=question, context="\n---\n".join(lines)
    )
    return {
        "subqueries": subqueries,
        "answers": answers,
        "answer": llm("completion", final_prompt),
        "context_lines": lines,
        "triplets": merged,
    }


LEXICAL_STOP_WORDS: frozenset[str] = frozenset()  # reference default: None


def lexical_topk(
    docs: DataFrame,
    query: str,
    top_k: int = 15,
    text_col: str = "text",
    id_col: str = "doc_id",
    stop_words: frozenset[str] | set[str] = LEXICAL_STOP_WORDS,
    scorer: str = "jaccard",
) -> DataFrame:
    """Lexical retriever (lexical_retriever.py:15-135): tokenize_words both
    sides (lowercase ``\\w+`` tokens minus stop words), score each document's
    token set against the query's, keep the top_k HIGHEST scores
    (heapq.nlargest). Scorers (the reference injects one; these are the two
    obvious set scorers): 'jaccard' = |D∩Q| / |D∪Q|, 'overlap' = |D∩Q|.

    The reference materializes every chunk's tokens into a driver dict and
    loops; here tokenization is explode+distinct, the intersection size is a
    semi-joined aggregate, and the top-k is TakeOrderedAndProject — no state
    grows with the corpus. Ties break (score desc, doc_id asc); zero-score
    documents are dropped (never ranked above missing)."""
    q_tokens = sorted(set(re.findall(r"\w+", query.lower())) - set(stop_words))
    tokens = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.split(F.lower(F.col(text_col)), r"\W+")).alias("term"),
        )
        .where(F.col("term") != "")
    )
    if stop_words:
        tokens = tokens.where(~F.col("term").isin(*sorted(stop_words)))
    tokens = tokens.distinct()
    q = F.array(*[F.lit(t) for t in q_tokens])
    per_doc = tokens.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.array_contains(q, F.col("term")).cast("int")).alias("n_matched"),
    )
    if scorer == "jaccard":
        score = F.col("n_matched") / (
            F.col("n_tokens") + F.lit(len(q_tokens)) - F.col("n_matched")
        )
    elif scorer == "overlap":
        score = F.col("n_matched").cast("double")
    else:
        raise ValueError(f"unknown scorer {scorer!r}")
    scored = per_doc.select(
        "doc_id", F.round(score, 9).alias("score")
    ).where(F.col("score") > 0)
    return ranked_topk(scored, [F.desc("score"), F.asc("doc_id")], top_k)


def summarize_text_py(text: str, max_len: int = 160) -> str:
    """Deterministic extractive stand-in for the reference's summarize_text
    LLM call (modules/retrieval/utils/completion.py) — first sentence,
    truncated; the SAME rule enrich.summarize_chunks applies, so summary
    semantics are uniform across the engine. The LLM swap is the ``llm``
    parameter on graph_summary_completion_context."""
    m = re.match(r"^(.*?[.;!?…。！？])", text, re.S)
    summary = m.group(1) if m else text[:max_len]
    return summary[:max_len]


def graph_summary_completion_context(
    triples: DataFrame,
    node_distances: DataFrame,
    question: str,
    k: int = 5,
    llm=None,
) -> str:
    """Graph-summary completion (graph_summary_completion_retriever.py:55-73):
    identical retrieval to R7 (score → top-k → resolve_edges_to_text), but the
    context lines are SUMMARIZED before prompt assembly — the parent's
    resolve_edges_to_text output goes through summarize_text. ``llm(kind,
    prompt) -> str`` with kind='summarize' is the serving seam; default is
    the deterministic extractive rule (summarize_text_py)."""
    top = top_k_triplets(score_triplets(triples, node_distances), k=k)
    ctx = resolve_edges_to_text(top, keep=("rank",))
    rows = ctx.select("rank", "context_line").orderBy("rank").collect()
    direct_text = "\n---\n".join(r.context_line for r in rows)
    if llm is not None:
        summary = llm("summarize", direct_text)
    else:
        summary = summarize_text_py(direct_text)
    return COMPLETION_PROMPT_TEMPLATE.format(question=question, context=summary)


def rrf_fuse(
    rankings: list[DataFrame],
    top_k: int = 10,
    id_col: str = "doc_id",
    importance: DataFrame | None = None,
    truth: DataFrame | None = None,
    q_coords: list[float] | None = None,
    truth_epoch: int | None = None,
) -> DataFrame:
    """Reciprocal-rank fusion of retrieval rank lists — the hybrid
    retriever's ranking core (hybrid/ranking.py:7-57): each input frame
    carries (id, rank) with 1-based ranks; a document's score is
    Σ 1/(rrf_k + rank) over the lists that ranked it, with
    rrf_k = max(30, min(60, 20 + 2·top_k)); the optional importance frame
    (id, importance_weight) multiplies by 0.75 + 0.5·clip01(w). Ties break
    by (rrf desc, best single-list rank asc, id asc) — the reference sort.
    All arithmetic is codegen; the final top-k is TakeOrderedAndProject.

    Truth weighting (ranking.py:43-46 + truth_subspace/align.py): when
    ``truth`` (id, truth_alignment array, truth_epoch) AND ``q_coords`` AND
    ``truth_epoch`` are all provided, the score is further multiplied by
    ``truth_factor(truth_alignment, q_coords)`` — but ONLY for rows whose
    stamped epoch equals ``truth_epoch``; stale/missing state is NEUTRAL
    (factor 1.0), and with no coordinates at all scores are unchanged — the
    reference's explicit neutrality contract. The truth side joins on the
    id (broadcast when slot-coordinate tables are dictionary-sized; at
    corpus scale the join shuffles on the same id the fusion already keys)."""
    rrf_k = max(30, min(60, 20 + 2 * top_k))
    joined = None
    for i, frame in enumerate(rankings):
        side = frame.select(
            F.col(id_col), F.col("rank").alias(f"_rank_{i}")
        )
        joined = side if joined is None else joined.join(side, id_col, "full_outer")
    rank_cols = [F.col(f"_rank_{i}") for i in range(len(rankings))]
    term = lambda r: F.when(r.isNotNull(), 1.0 / (F.lit(float(rrf_k)) + r)).otherwise(
        F.lit(0.0)
    )
    rrf = sum((term(r) for r in rank_cols), F.lit(0.0))
    best = F.least(*rank_cols) if len(rank_cols) > 1 else rank_cols[0]
    out = joined.select(
        id_col, F.round(rrf, 9).alias("rrf_score"), best.alias("best_rank")
    )
    factor = None
    if importance is not None:
        imp = importance.select(
            id_col,
            (
                0.75
                + 0.5
                * F.least(F.greatest(F.col("importance_weight"), F.lit(0.0)), F.lit(1.0))
            ).alias("_imp_factor"),
        )
        out = out.join(imp, id_col, "left")
        factor = F.coalesce("_imp_factor", F.lit(1.0))
    if truth is not None and q_coords and truth_epoch is not None:
        from cognee_spark.operators.truth import truth_factor_col

        tr = truth.select(
            id_col,
            F.when(
                F.col("truth_epoch") == F.lit(int(truth_epoch)),
                truth_factor_col(F.col("truth_alignment"), q_coords),
            ).alias("_truth_factor"),  # stale epoch → NULL → neutral
        )
        out = out.join(tr, id_col, "left")
        tf = F.coalesce("_truth_factor", F.lit(1.0))
        factor = tf if factor is None else factor * tf
    if factor is not None:
        out = out.withColumn(
            "final_score", F.round(F.col("rrf_score") * factor, 9)
        ).drop("_imp_factor", "_truth_factor")
    else:
        out = out.withColumn("final_score", F.col("rrf_score"))
    order = [F.desc("final_score"), F.desc("rrf_score"), F.asc("best_rank"), F.asc(id_col)]
    return ranked_topk(out, order, top_k, rank_col="fuse_rank")


def bm25_score(
    docs: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.5,
    b: float = 0.75,
    k: int = 10,
) -> DataFrame:
    """BM25 top-k documents for a bag of query terms, all native ops.

    One aggregate per document gives its length and the count of each query
    term; one 1-row frame of corpus constants (N, avgdl, each term's df) is
    crossed into the scoring plan, so the whole score is one lazy plan with
    no driver action. idf uses the standard ln(1 + (N - df + 0.5)/(df + 0.5))
    form (bm25_retriever.py semantics); documents holding no query term are
    not scored."""
    terms = list(dict.fromkeys(query_terms))
    tokens = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("term"),
    ).where(F.col("term") != "")
    per_doc = tokens.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("dl"),
        F.array(*[F.count(F.when(F.col("term") == t, 1)) for t in terms]).alias("tf"),
    )
    stats = per_doc.agg(
        F.avg("dl").alias("avgdl"),
        F.array(*[F.count(F.when(F.col("tf")[i] > 0, 1)) for i in range(len(terms))])
        .alias("df"),
    ).crossJoin(docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs")))

    def term_score(acc, x):
        idf = F.log(1.0 + (F.col("n_docs") - x["df"] + 0.5) / (x["df"] + 0.5))
        norm = k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
        # a term the document lacks scores exactly 0.0 (tf = 0, idf > 0)
        return acc + idf * (x["tf"] * (k1 + 1)) / (x["tf"] + norm)

    scored = (
        per_doc.where(F.exists("tf", lambda n: n > 0))
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.round(
                F.aggregate(F.arrays_zip("tf", "df"), F.lit(0.0), term_score), 9
            ).alias("bm25"),
        )
    )
    return ranked_topk(scored, [F.desc("bm25"), F.asc("doc_id")], k)
