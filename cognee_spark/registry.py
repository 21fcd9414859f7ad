"""Pluggable kernel registry — §2.9 of SURVEY.md.

The reference swaps implementations through its config/DI layer (custom
chunkers per document type, extract_graph_from_data vs _v2, LLM gateway
models). Spark re-expression: every Python kernel in the pipeline is a
DataFrame-in/DataFrame-out function with a fixed schema, so "configuration"
is a name → function registry. `run_pipeline(nl_extractor="cascade")`
switches the NL extraction stage to the cascade kernel without touching any
downstream stage — both emit EXTRACTION_SCHEMA rows.

Registering a custom kernel:

    from cognee_spark.registry import NL_EXTRACTORS
    NL_EXTRACTORS["my_llm"] = my_batched_extractor   # (chunks_df) -> df
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

from cognee_spark.operators.cascade import cascade_extract_from_chunks
from cognee_spark.operators.chunking import chunk_documents, chunk_rows_documents
from cognee_spark.operators.enrich import summarize_chunks
from cognee_spark.operators.extraction import extract_from_chunks

from cognee_spark.operators.llm import (
    LLMExtractor,
    TransientFaultTransport,
    reference_transport,
)

NL_EXTRACTORS: dict[str, Callable[[DataFrame], DataFrame]] = {
    "default": extract_from_chunks,          # single-pass (extract_graph_from_data)
    "cascade": cascade_extract_from_chunks,  # 3-phase v2 (extract_graph_from_data_v2)
    # E10 gateway path: full batching/retry/validation machinery against the
    # deterministic serving double, with transient faults injected so the
    # retry path runs in production shape (production = same class, HTTP
    # transport)
    "llm_mock": LLMExtractor(
        TransientFaultTransport(reference_transport, every_n=3), batch_size=32
    ),
}


# Named tasks for run_custom_pipeline's `List[str]` form (the reference
# resolves task names through its DI layer) — each is DataFrame -> DataFrame
# with engine defaults; register custom ones the same way as kernels.
def _associate_chunks(df: DataFrame) -> DataFrame:
    """create_chunk_associations (L11) as a one-frame task — the reference
    runs it as a pipeline task over chunks backed by the vector index
    (create_chunk_associations.py:103). Input carries (chunk_id, text,
    embedding) — the committed chunk-index slice joined to chunk text;
    output is the weighted ``associated_with`` edges frame."""
    from cognee_spark.operators.associations import create_chunk_associations

    return create_chunk_associations(
        df.select("chunk_id", "text"),
        df.select("chunk_id", "embedding"),
    )["edges"]


CUSTOM_TASKS: dict[str, Callable[[DataFrame], DataFrame]] = {
    "chunk": chunk_documents,
    "chunk_rows": chunk_rows_documents,
    "extract": extract_from_chunks,
    "extract_cascade": cascade_extract_from_chunks,
    "summarize": summarize_chunks,
    "associate": _associate_chunks,
}


def resolve(registry: dict, name_or_fn):
    """Accept either a registered name or a direct callable."""
    if callable(name_or_fn):
        return name_or_fn
    try:
        return registry[name_or_fn]
    except KeyError:
        raise ValueError(
            f"unknown kernel {name_or_fn!r}; registered: {sorted(registry)}"
        ) from None
