"""Cascade graph extraction — E3 of SURVEY.md §2.3.

The reference's v2 extractor (cognee/tasks/graph/extract_graph_from_data_v2.py
:21-64 + cascade_extract/utils/*) replaces the single LLM call with a
three-phase cascade per chunk, each phase running ``n_rounds`` passes:

  1. extract candidate NODES from the text
  2. extract content nodes + RELATIONSHIP NAMES, conditioned on phase 1
  3. extract EDGE TRIPLETS constrained to the discovered nodes/relationships

then integrates the per-chunk graphs through the same
KnowledgeGraph→DataPoint path as v1.

Spark re-expression: all three phases are per-chunk (no cross-chunk state),
so they compose into ONE narrow Arrow-batched stage — the cascade is a
kernel pipeline, not three cluster stages; what the reference gains from
cascading (recall via progressive relaxation, precision via constraining
triplets to known nodes/relations) is preserved in the deterministic
stand-in kernels below, each independently testable and each an LLM seam
(swap is config, batch signature identical). Output rows use the standard
extraction schema, so cascade output feeds the SAME linking/canonicalization
stages as the v1 extractor.
"""

from __future__ import annotations

import re
from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame

from cognee_spark.operators.extraction import EXTRACTION_SCHEMA, _append_rows, _columnar, _widen

_CAMEL = re.compile(r"\b[A-Z][a-z0-9]+(?:[A-Z][a-z0-9]+)+\b")
_CAPSEQ = re.compile(r"\b[A-Z][a-z0-9]+(?: [A-Z][a-z0-9]+)+\b")
_HYPHEN = re.compile(r"\b[A-Za-z][\w]*(?:-[A-Za-z][\w]*)+\b")
_REL_ALTERNATION = "uses|depends on|calls into|extends|implements|replaces"
_STATEMENT = re.compile(
    rf"([A-Za-z][\w' -]*?)\s+({_REL_ALTERNATION})\s+([A-Za-z][\w' -]*?)[.!?]"
)


def extract_candidate_nodes(text: str, n_rounds: int = 2) -> list[str]:
    """Phase 1 (cascade_extract/utils/extract_nodes.py semantics): candidate
    entity surface forms, one extra relaxation per round.

    Round 1: CamelCase identifiers + Capitalized multi-word sequences.
    Round 2: hyphenated names + the noun phrases flanking a relationship
    verb (the 'looked again, found more' pass — this is where lowercase
    surface forms the round-1 patterns can't see are recovered).
    """
    found: list[str] = []
    seen: set[str] = set()

    def add(name: str) -> None:
        if name not in seen:
            seen.add(name)
            found.append(name)

    for m in _CAMEL.finditer(text):
        add(m.group(0))
    for m in _CAPSEQ.finditer(text):
        add(m.group(0))
    if n_rounds >= 2:
        for m in _HYPHEN.finditer(text):
            add(m.group(0))
        for subj, _rel, obj in _iter_statements(text):
            add(subj)
            add(obj)
    return found


def extract_relationship_names(text: str, nodes: list[str], n_rounds: int = 2) -> list[str]:
    """Phase 2: relationship names that actually connect two candidate nodes
    in the text (extract_content_nodes_and_relationship_names.py semantics)."""
    rels: list[str] = []
    seen: set[str] = set()
    for a, rel, b in _iter_statements(text):
        if a in nodes and b in nodes:
            name = rel.replace(" ", "_")
            if name not in seen:
                seen.add(name)
                rels.append(name)
    return rels


def _iter_statements(text: str) -> Iterator[tuple[str, str, str]]:
    """(subj_surface, rel_phrase, obj_surface) occurrences."""
    for m in _STATEMENT.finditer(text):
        yield m.group(1).strip(), m.group(2), m.group(3).strip()


def extract_edge_triplets(
    text: str, nodes: list[str], relationships: list[str]
) -> list[tuple[str, str, str]]:
    """Phase 3: triplets CONSTRAINED to discovered nodes + relationship names
    (extract_edge_triplets.py semantics — the precision pass)."""
    node_set = set(nodes)
    rel_set = set(relationships)
    out: list[tuple[str, str, str]] = []
    for a, rel, b in _iter_statements(text):
        pred = rel.replace(" ", "_")
        if a in node_set and b in node_set and pred in rel_set:
            out.append((a, pred, b))
    return out


def cascade_extract(text: str, n_rounds: int = 2) -> list[dict]:
    """Full per-chunk cascade → standard extraction rows (mention/edge)."""
    from cognee_spark.operators.extraction import _edge, _mention

    nodes = extract_candidate_nodes(text, n_rounds)
    rels = extract_relationship_names(text, nodes, n_rounds)
    triplets = extract_edge_triplets(text, nodes, rels)
    rows: list[dict] = []
    mentioned: set[str] = set()
    for a, pred, b in triplets:
        for name in (a, b):
            if name not in mentioned:
                mentioned.add(name)
                rows.append(_mention(name, "entity"))
        rows.append(_edge(a, pred, b))
    return rows


def cascade_extract_from_chunks(chunks: DataFrame, n_rounds: int = 2) -> DataFrame:
    """NL cascade extraction over chunk rows — drop-in replacement for
    extraction.extract_from_chunks (same schema, same downstream linking)."""
    src = _widen(chunks.select("chunk_id", "text", "content_sha", "repo", "path", "lang"))

    def run(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cols = _columnar()
            for rec in pdf.itertuples(index=False):
                rows = cascade_extract(rec.text, n_rounds)
                _append_rows(
                    cols, rows, "nl", rec.repo, rec.path, rec.lang, rec.chunk_id, rec.content_sha
                )
            yield pd.DataFrame(cols)

    return src.mapInPandas(run, EXTRACTION_SCHEMA)
