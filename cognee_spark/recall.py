"""Normalized search results — the reference's recall envelope
(cognee/modules/recall/methods/normalize_search_payload.py:1-163 +
types/SearchResultItem.py) re-expressed as one projection.

Retrievers produce heterogeneous shapes (rank-list DataFrames, completion
strings, context dicts). The reference walks each payload element in Python
and builds pydantic ``SearchResultItem`` objects; here the uniform wire
shape is a DataFrame schema and the normalization is whole-stage codegen:

- ``text``     → the first present, non-empty of the reference's preferred
                 keys (text/completion/summary/name/content/answer —
                 ``_text_from_dict``), else the row rendered as JSON (the
                 ``json.dumps`` fallback);
- ``score``    → the ``score`` column when the frame carries a numeric one
                 (``_score_from``);
- ``metadata`` → the provenance keys actually present
                 (``_provenance_metadata``): data_id (from document_id /
                 doc_id), chunk_id (from id / chunk_id), chunk_index,
                 document_name — a ``map<string,string>`` with absent keys
                 filtered out;
- ``raw``      → the full original row as JSON text (the reference carries
                 the original dict; a DataFrame column must be one type, so
                 JSON text is the faithful shape).

``STRUCTURED`` (a pydantic response_model supplied to the retriever) has no
counterpart here — this engine returns DataFrames, not parsed models — so
that kind never occurs; noted per SearchResultKind docs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cognee_spark.session import row_frame

# _KIND_BY_SEARCH_TYPE (normalize_search_payload.py:22-41), over this
# engine's SEARCH_TYPES surface (search.py).
KIND_BY_SEARCH_TYPE: dict[str, str] = {
    "GRAPH_COMPLETION": "graph_completion",
    "GRAPH_COMPLETION_COT": "graph_completion",
    "GRAPH_COMPLETION_DECOMPOSITION": "graph_completion",
    "GRAPH_COMPLETION_CONTEXT_EXTENSION": "graph_completion",
    "GRAPH_SUMMARY_COMPLETION": "graph_completion",
    "HYBRID_COMPLETION": "graph_completion",
    "RAG_COMPLETION": "rag_completion",
    "TRIPLET_COMPLETION": "triplet_completion",
    "CYPHER": "cypher",
    "NATURAL_LANGUAGE": "natural_language",
    "TEMPORAL": "temporal",
    "CODING_RULES": "coding_rule",
    "CODE": "code",
    "CHUNKS": "chunk",
    "CHUNKS_LEXICAL": "chunk",
    "SUMMARIES": "summary",
}

# _text_from_dict's key preference order (normalize_search_payload.py:61-66).
_TEXT_KEYS = ("text", "completion", "summary", "name", "content", "answer")

# _provenance_metadata source→output key pairs; doc_id/chunk_id are this
# engine's spellings of the reference's document_id/id payload keys.
_PROVENANCE = (
    ("document_id", "data_id"),
    ("doc_id", "data_id"),
    ("id", "chunk_id"),
    ("chunk_id", "chunk_id"),
    ("chunk_index", "chunk_index"),
    ("document_name", "document_name"),
)


def _nonempty(col):
    return F.when(col.cast("string") != "", col.cast("string"))


def normalize_search_results(
    search_type: str,
    result,
    dataset_name: str | None = None,
    dataset_id: str | None = None,
    spark: SparkSession | None = None,
) -> DataFrame:
    """One retriever payload → the uniform SearchResultItem frame
    (normalize_search_payload, :1-163).

    ``result`` is a retriever DataFrame (normalized as a projection), a
    completion string, or a list of strings (each becomes one row with
    ``raw = {"value": ...}``, as ``_build_item`` does for strings)."""
    st = search_type.upper()
    kind = KIND_BY_SEARCH_TYPE.get(st, "unknown")

    if isinstance(result, str):
        result = [result]
    if isinstance(result, dict):
        # one dict payload (a completion prompt bundle): text from the
        # preferred keys, raw = the dict as JSON (_build_item, :112-115)
        import json as _json

        if spark is None:
            raise ValueError("spark is required to normalize non-DataFrame payloads")
        text_val = next(
            (
                result[k]
                for k in _TEXT_KEYS
                if isinstance(result.get(k), str) and result[k]
            ),
            None,
        ) or _json.dumps(result, default=str, ensure_ascii=False)
        raw_val = _json.dumps(result, default=str, ensure_ascii=False)
        return row_frame(
            spark,
            [(kind, st, text_val, None, dataset_id, dataset_name, {}, raw_val)],
            "kind string, search_type string, text string, score double, "
            "dataset_id string, dataset_name string, "
            "metadata map<string,string>, raw string",
        )
    if isinstance(result, (list, tuple)):
        if spark is None:
            raise ValueError("spark is required to normalize non-DataFrame payloads")
        result = row_frame(
            spark, [(str(v),) for v in result], "text string"
        ).withColumn("_is_scalar", F.lit(True))
    if not isinstance(result, DataFrame):
        raise TypeError(f"Cannot normalize payload of type {type(result).__name__}")

    cols = result.columns
    scalar = "_is_scalar" in cols
    data_cols = [c for c in cols if c != "_is_scalar"]

    text_candidates = [
        _nonempty(F.col(c)) for c in _TEXT_KEYS if c in data_cols
    ]
    row_json = F.to_json(F.struct(*[F.col(c) for c in data_cols]))
    text = F.coalesce(*text_candidates, row_json) if text_candidates else row_json

    score = (
        F.col("score").cast("double")
        if "score" in data_cols
        and result.schema["score"].dataType.simpleString()
        in ("tinyint", "smallint", "int", "bigint", "float", "double")
        else F.lit(None).cast("double")
    )

    meta_entries = []
    claimed: set[str] = set()
    for source, target in _PROVENANCE:
        if source in data_cols and target not in claimed:
            meta_entries.extend([F.lit(target), F.col(source).cast("string")])
            claimed.add(target)
    metadata = (
        F.map_filter(F.create_map(*meta_entries), lambda k, v: v.isNotNull())
        if meta_entries
        else F.create_map().cast("map<string,string>")
    )

    # strings round-trip as {"value": s} (_build_item, :108-110)
    raw = (
        F.to_json(F.struct(F.col("text").alias("value")))
        if scalar
        else row_json
    )

    return result.select(
        F.lit(kind).alias("kind"),
        F.lit(st).alias("search_type"),
        text.alias("text"),
        score.alias("score"),
        F.lit(dataset_id).cast("string").alias("dataset_id"),
        F.lit(dataset_name).cast("string").alias("dataset_name"),
        metadata.alias("metadata"),
        raw.alias("raw"),
    )


def recall(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    search_type: str,
    query: str,
    dataset_name: str | None = None,
    **kwargs,
) -> DataFrame:
    """``cognee.search`` + normalization in one call: route through the
    search dispatch, then converge on the SearchResultItem frame — the
    SearchResponse's item list (SearchResultItem.py:46-71); the response's
    ``total`` is the frame's count."""
    from cognee_spark.search import search

    out = search(spark, tables, search_type, query, **kwargs)
    return normalize_search_results(
        search_type, out, dataset_name=dataset_name, spark=spark
    )
