"""Dry-run cost estimation — A5 of SURVEY.md §2.5.

The reference's ``cognify(dry_run=True)`` estimates the two LLM-heavy stages
(graph extraction + summarization) without calling an LLM, by running the
real classifier + chunker and applying per-chunk token heuristics
(cognee/modules/cognify/estimator.py: SUMMARY_OUTPUT_TOKENS_PER_CHUNK=150,
GRAPH_OUTPUT_TOKEN_RATIO=0.5, MIN_GRAPH_OUTPUT_TOKENS_PER_CHUNK=256).

Spark re-expression: one distributed pass — classify, chunk with the real
chunker, aggregate (chunk count, token sums) — then apply the same output
heuristics and price table on the driver. The estimate costs one narrow scan
of the corpus, never an LLM call or a table write, and re-runs are upper
bounds for incremental loads exactly as the reference documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cognee_spark.operators.chunking import chunk_documents
from cognee_spark.operators.extraction import CODE_LANGS

# reference heuristics (estimator.py:59-62)
SUMMARY_OUTPUT_TOKENS_PER_CHUNK = 150
GRAPH_OUTPUT_TOKEN_RATIO = 0.5
MIN_GRAPH_OUTPUT_TOKENS_PER_CHUNK = 256
# deterministic stand-ins for the prompt templates' fixed overhead
GRAPH_PROMPT_OVERHEAD_TOKENS = 350
SUMMARY_PROMPT_OVERHEAD_TOKENS = 60


def estimate_dry_run(
    repos: DataFrame,
    max_chunk_size: int = 512,
    price_per_1k_input: float = 0.00025,
    price_per_1k_output: float = 0.001,
) -> dict:
    """Estimate chunk/call/token/cost totals for a cognify run over ``repos``.

    Returns the reference estimate shape: per-stage token counts and USD.
    """
    docs = repos.select(
        "repo", "path", "lang", "content",
        F.concat_ws(":", "repo", "path").alias("document_id"),
    )
    text_docs = docs.where(~F.col("lang").isin(*CODE_LANGS))
    chunks = chunk_documents(text_docs, max_chunk_size=max_chunk_size)
    # graph output = Σ max(MIN, ratio·chunk_size) computed EXACTLY in the same
    # distributed pass (per-chunk max, then sum) — the mean-chunk shortcut is a
    # lower bound on skewed chunk sizes (Jensen), which would under-estimate cost
    per_chunk_graph_out = F.greatest(
        F.lit(float(MIN_GRAPH_OUTPUT_TOKENS_PER_CHUNK)),
        F.lit(GRAPH_OUTPUT_TOKEN_RATIO) * F.col("chunk_size").cast("double"),
    )
    stats = chunks.agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.coalesce(F.sum("chunk_size"), F.lit(0)).alias("chunk_tokens"),
        F.coalesce(F.sum(per_chunk_graph_out), F.lit(0.0)).alias("graph_output"),
    ).first()
    n_docs_row = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((~F.col("lang").isin(*CODE_LANGS)).cast("int")).alias("n_text_docs"),
    ).first()

    n_chunks = int(stats.n_chunks)
    chunk_tokens = int(stats.chunk_tokens)
    graph_input = chunk_tokens + n_chunks * GRAPH_PROMPT_OVERHEAD_TOKENS
    graph_output = int(stats.graph_output)
    summary_input = chunk_tokens + n_chunks * SUMMARY_PROMPT_OVERHEAD_TOKENS
    summary_output = n_chunks * SUMMARY_OUTPUT_TOKENS_PER_CHUNK

    input_tokens = graph_input + summary_input
    output_tokens = graph_output + summary_output
    return {
        "n_documents": int(n_docs_row.n_docs),
        "n_text_documents": int(n_docs_row.n_text_docs or 0),
        "n_chunks": n_chunks,
        "n_llm_calls": 2 * n_chunks,  # one extraction + one summary per chunk
        "input_tokens": input_tokens,
        "output_tokens": output_tokens,
        "estimated_cost_usd": round(
            input_tokens / 1000 * price_per_1k_input
            + output_tokens / 1000 * price_per_1k_output,
            6,
        ),
    }
