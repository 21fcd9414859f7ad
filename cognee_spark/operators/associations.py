"""Chunk-association edges — the reference's ``create_chunk_associations``
task (cognee/tasks/chunks/create_chunk_associations.py:103-232, edge shape
:74-101), which vector-searches candidate chunk pairs, asks an LLM for a
structured similarity verdict per pair, and persists pairs that clear the
threshold as weighted ``associated_with`` graph edges.

Spark re-expression (L11, second half):

- the reference's per-chunk vector-search loop (one driver round-trip per
  chunk, pair dedup in a Python set) becomes ONE distributed candidate
  generation over the chunk-embedding table —
  :func:`~cognee_spark.operators.dedup.embedding_duplicates`'s
  hyperplane-LSH-blocked self-join, which is what the loop's n index probes
  compute, without n driver round-trips and without the all-pairs blowup;
- the per-pair ``_compare_chunks`` LLM call becomes one Arrow-batched
  ``mapInPandas`` pass over the pair table through the same batched,
  retrying transport seam E10 established (operators/llm.py), with the
  reference's fallback verdict (are_similar=False, score 0.0, "LLM error",
  :68-71) on a batch that still fails after retries;
- the edge build (:74-101 ``_create_edge``) is a pure projection: weight =
  similarity_score, association_type/reasoning carried, ontology_valid
  False, plus the engine's deterministic ``edge_object_id`` so a replayed
  association run upserts instead of duplicating.

At 100 TB the only superlinear step is candidate generation, and that is
already Σ bucket² LSH blocking (selectivity math at dedup.py:175-183); the
verdict pass is linear in surviving pairs and the projection is codegen.
"""

from __future__ import annotations

import json
import re
import time
from typing import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cognee_spark.functions.ids import edge_object_id_col

ASSOCIATION_RELATIONSHIP = "associated_with"

# ChunkSimilarity (create_chunk_associations.py:25-33): the structured
# verdict the LLM returns per pair
_VERDICT_SCHEMA = (
    "a string, b string, are_similar boolean, similarity_score double, "
    "reasoning string, association_type string"
)

# RE2's \s class ([\t\n\f\r ]), NOT Python's Unicode \s: the DuckDB oracle
# tokenizes with string_split_regex('\s+') (RE2), so a Python-\s split would
# diverge on NBSP/U+2028-bearing chunks — the same cross-path hazard
# truth.py:59 pins for normalize_statement (there against Java \s, which
# additionally matches \x0b)
_WS = re.compile(r"[ \t\n\f\r]+")


def _tokens(text: str) -> set[str]:
    return {t for t in _WS.split(str(text).lower()) if t}


def reference_association_transport(request: str) -> str:
    """Deterministic double of the chunk-association LLM: similarity is the
    token-set Jaccard of the two chunks (lowercased, whitespace-split),
    are_similar when any token overlaps, association_type 'topical' for
    strong overlap else 'contextual'. A pure function of the prompt, and
    replayable in the DuckDB oracle (list_filter/list_contains over
    string_split_regex) — so the full candidate→verdict→threshold→edge path
    is value-checked end to end."""
    req = json.loads(request)
    results = []
    for item in req["batch"]:
        ta, tb = _tokens(item["chunk_1"]), _tokens(item["chunk_2"])
        union = ta | tb
        score = round(len(ta & tb) / len(union), 9) if union else 0.0
        results.append(
            {
                "pair_id": item["pair_id"],
                "are_similar": score > 0.0,
                "similarity_score": score,
                "reasoning": "token-overlap heuristic",
                "association_type": "topical" if score >= 0.5 else "contextual",
            }
        )
    return json.dumps({"results": results})


def _fallback(pair_id: str) -> dict:
    # the reference's on-error verdict (create_chunk_associations.py:68-71)
    return {
        "pair_id": pair_id,
        "are_similar": False,
        "similarity_score": 0.0,
        "reasoning": "LLM error",
        "association_type": None,
    }


def compare_chunk_pairs(
    pairs: DataFrame,
    transport: Callable[[str], str],
    model: str = "chunk-associator",
    batch_size: int = 100,
    max_retries: int = 3,
    backoff_sec: float = 0.05,
) -> DataFrame:
    """``(a, b, text_a, text_b)`` pairs → one ChunkSimilarity verdict row
    per pair, through a batched retrying transport (the E10 seam shape).

    Verdict hygiene mirrors the reference's pydantic validation: a response
    row with an unknown pair id is dropped; a pair the response missed, or
    whose score is non-numeric / outside [0, 1], gets the fallback verdict
    — one bad pair never kills the batch, one failed batch never kills the
    job (create_chunk_associations.py:44-71)."""
    src = pairs.select(
        F.col("a").cast("string").alias("a"),
        F.col("b").cast("string").alias("b"),
        "text_a", "text_b",
    )
    # pair volume is post-LSH (bounded), but never trust one parquet split
    if src.rdd.getNumPartitions() < 8:
        src = src.repartition(8)

    def run(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[dict] = []
            for start in range(0, len(pdf), batch_size):
                sub = pdf.iloc[start : start + batch_size]
                # positional pair ids: chunk ids are arbitrary caller strings,
                # so any content-derived id (e.g. "a|b") can collide and
                # silently cross-wire two pairs' verdicts
                ids = {
                    str(i): (rec.a, rec.b)
                    for i, rec in enumerate(sub.itertuples(index=False))
                }
                request = json.dumps(
                    {
                        "model": model,
                        "batch": [
                            {
                                "pair_id": str(i),
                                "chunk_1": rec.text_a,
                                "chunk_2": rec.text_b,
                            }
                            for i, rec in enumerate(sub.itertuples(index=False))
                        ],
                    }
                )
                response = None
                for attempt in range(max_retries + 1):
                    try:
                        response = transport(request)
                        break
                    except Exception:
                        if attempt < max_retries:
                            time.sleep(backoff_sec * (2**attempt))
                verdicts: dict[str, dict] = {}
                if response is not None:
                    try:
                        rows = json.loads(response).get("results", [])
                    except Exception:
                        rows = []
                    for r in rows:
                        pid = r.get("pair_id")
                        if pid not in ids:
                            continue  # hallucinated pair → no row
                        score = r.get("similarity_score")
                        if not isinstance(score, (int, float)) or not (
                            0.0 <= float(score) <= 1.0
                        ):
                            verdicts[pid] = _fallback(pid)
                            continue
                        verdicts[pid] = {
                            "pair_id": pid,
                            "are_similar": bool(r.get("are_similar")),
                            "similarity_score": float(score),
                            "reasoning": str(r.get("reasoning") or ""),
                            "association_type": r.get("association_type"),
                        }
                for pid, (a, b) in ids.items():
                    v = verdicts.get(pid) or _fallback(pid)
                    out.append(
                        {
                            "a": a,
                            "b": b,
                            "are_similar": v["are_similar"],
                            "similarity_score": v["similarity_score"],
                            "reasoning": v["reasoning"],
                            "association_type": v["association_type"],
                        }
                    )
            yield pd.DataFrame(
                out,
                columns=[
                    "a", "b", "are_similar", "similarity_score",
                    "reasoning", "association_type",
                ],
            )

    return src.mapInPandas(run, _VERDICT_SCHEMA)


def create_chunk_associations(
    chunks: DataFrame,
    embeddings: DataFrame,
    transport: Callable[[str], str] | None = None,
    similarity_threshold: float = 0.7,
    min_chunk_length: int = 10,
    top_k_candidates: int | None = None,
    candidate_threshold: float = 0.3,
    chunk_id_col: str = "chunk_id",
    text_col: str = "text",
    vec_col: str = "embedding",
    dim: int | None = None,
    unroll: bool | None = None,
    **transport_kwargs,
) -> dict[str, DataFrame]:
    """Candidate pairs → LLM verdicts → weighted ``associated_with`` edges.

    ``chunks``: (chunk_id, text); ``embeddings``: (chunk_id, embedding) —
    the DocumentChunk_text index slice the reference's vector searches
    probe. ``candidate_threshold`` is the index-side cosine floor (the
    reference's search ranking implicitly applies one via top-k);
    ``similarity_threshold`` gates the LLM score exactly as
    create_chunk_associations.py:205-209 does. ``top_k_candidates`` keeps a
    pair only if each side ranks in the other's top-k by cosine OR vice
    versa (the reference admits a pair found from EITHER endpoint's
    search, :180-199). Chunks shorter than ``min_chunk_length`` chars are
    skipped (:146-150).

    Returns ``{"edges", "verdicts", "pairs"}``; edges carry the reference's
    property set (:87-100) — weight = similarity_score, association_type,
    reasoning, ontology_valid=false — plus the engine's deterministic
    edge_object_id (L2/L6: replays upsert).
    """
    from cognee_spark.operators.dedup import embedding_duplicates

    valid = chunks.where(
        F.col(text_col).isNotNull()
        & (F.length(text_col) >= min_chunk_length)
    ).select(
        F.col(chunk_id_col).cast("string").alias("chunk_id"),
        F.col(text_col).alias("text"),
    )
    # probe dim/unroll on the RAW embeddings input: on the semi-joined frame
    # below, embedding_duplicates' count()/first() probes would each run a
    # full join job instead of a metadata-only scan. The raw count upper-
    # bounds the valid count, so the unroll gate can only flip toward the
    # codegen path — a perf heuristic, never a semantics change.
    if dim is None:
        from cognee_spark.operators.dedup import probe_vector_dim

        dim = probe_vector_dim(embeddings, vec_col)
    if unroll is None:
        from cognee_spark.operators.dedup import UNROLL_MIN_ROWS

        unroll = embeddings.count() >= UNROLL_MIN_ROWS
    emb = embeddings.select(
        F.col(chunk_id_col).cast("string").alias("chunk_id"), vec_col
    ).join(valid.select("chunk_id"), "chunk_id", "semi")
    pairs = embedding_duplicates(
        emb,
        id_col="chunk_id",
        vec_col=vec_col,
        threshold=candidate_threshold,
        dim=dim,
        unroll=unroll,
    )
    if top_k_candidates is not None:
        both = pairs.select("a", "b", "cosine").unionByName(
            pairs.select(
                F.col("b").alias("a"), F.col("a").alias("b"), "cosine"
            )
        )
        w = Window.partitionBy("a").orderBy(F.desc("cosine"), "b")
        ranked = both.withColumn("_rk", F.row_number().over(w)).where(
            F.col("_rk") <= top_k_candidates
        )
        pairs = (
            ranked.select(
                F.least("a", "b").alias("a"),
                F.greatest("a", "b").alias("b"),
            )
            .distinct()
            .join(pairs, ["a", "b"], "inner")
        )

    ta = valid.select(F.col("chunk_id").alias("a"), F.col("text").alias("text_a"))
    tb = valid.select(F.col("chunk_id").alias("b"), F.col("text").alias("text_b"))
    with_text = pairs.join(ta, "a").join(tb, "b")
    verdicts = compare_chunk_pairs(
        with_text,
        transport or reference_association_transport,
        **transport_kwargs,
    )
    edges = verdicts.where(
        F.col("are_similar")
        & (F.col("similarity_score") >= similarity_threshold)
    ).select(
        F.col("a").alias("source_node_id"),
        F.lit(ASSOCIATION_RELATIONSHIP).alias("relationship_name"),
        F.col("b").alias("target_node_id"),
        F.col("similarity_score").alias("weight"),
        "association_type",
        "reasoning",
        F.lit(False).alias("ontology_valid"),
    ).withColumn(
        "edge_object_id",
        edge_object_id_col(
            F.col("source_node_id"),
            F.col("relationship_name"),
            F.col("target_node_id"),
        ),
    )
    return {"edges": edges, "verdicts": verdicts, "pairs": pairs}
