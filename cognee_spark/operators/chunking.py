"""Chunking operators — C1-C7 of SURVEY.md §2.2.

Behavioral parity targets (re-expressed, not ported):
- word tokenization with whitespace preservation:
  cognee/tasks/chunks/chunk_by_word.py:47-90 (endings regexes :5-6)
- sentence grouping with maximum-size enforcement:
  cognee/tasks/chunks/chunk_by_sentence.py:32-102
- paragraph packing with exact reconstruction + uuid5(text) chunk ids:
  cognee/tasks/chunks/chunk_by_paragraph.py:7-96
- document-level greedy packing with uuid5(f"{doc_id}-{chunk_index}") ids:
  cognee/modules/chunking/TextChunker.py:13-91
- deterministic token counting (1 token per word, the reference's
  no-tokenizer fallback): chunk_by_sentence.py:7-29

Invariants (pinned in tests/test_chunking.py, mirroring the reference's
cognee/tests/unit/processing/chunks/*):
- ``"".join(piece.text) == input`` at the paragraph-packing level
- every chunk_size <= max_chunk_size
- cut_type ∈ {paragraph_end, sentence_end, sentence_cut, word, default}
- deterministic ids ⇒ identical output across re-runs and partitionings

Scale design: the kernels are pure per-document Python, executed via
``mapInPandas`` over Arrow batches — one serialization per ~10k documents, not
per row. Chunking is embarrassingly parallel (no shuffle); output carries the
document's lineage columns so downstream stages never re-join to recover
provenance.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

import uuid

SENTENCE_END_CHARS = ".;!?…。！？"
PARAGRAPH_END_CHARS = "\n\r"


def count_tokens(word: str) -> int:
    """Deterministic token count: 1 token per word-piece.

    The reference consults the embedding tokenizer when present and falls back
    to 1 (chunk_by_sentence.py:7-29). We fix the fallback as the rule so the
    pipeline and every oracle agree byte-for-byte.
    """
    return 1


def iter_words(text: str) -> Iterator[tuple[str, str]]:
    """Split ``text`` into whitespace-preserving pieces.

    Yields ``(piece, kind)`` with kind ∈ {word, sentence_end, paragraph_end}.
    ``"".join(piece for piece, _ in iter_words(t)) == t`` always holds.

    A piece ends at a space (space attached to the piece) or at a sentence
    ending char; sentence endings swallow any following run of spaces, and are
    classified paragraph_end when the first character after that run is a
    newline. (Parity: chunk_by_word.py:47-90.)
    """
    n = len(text)
    start = 0
    i = 0
    while i < n:
        ch = text[i]
        if ch == " ":
            yield text[start : i + 1], "word"
            i += 1
            start = i
        elif ch in SENTENCE_END_CHARS:
            j = i + 1
            while j < n and text[j] == " ":
                j += 1
            kind = (
                "paragraph_end"
                if j < n and text[j] in PARAGRAPH_END_CHARS
                else "sentence_end"
            )
            yield text[start:j], kind
            i = j
            start = j
        else:
            i += 1
    if start < n:
        yield text[start:], "word"


def iter_sentences(
    text: str,
    maximum_size: int | None = None,
    token_counter=count_tokens,
) -> Iterator[tuple[int, str, int, str | None]]:
    """Group word pieces into sentences; yield (paragraph_seq, text, size, cut).

    paragraph_seq is a deterministic integer (the reference uses uuid4 — a
    random id whose only role is grouping; a per-document counter carries the
    same information reproducibly). Size is in deterministic tokens
    (:func:`count_tokens`). Raises ValueError when a single word exceeds
    ``maximum_size``. (Parity: chunk_by_sentence.py:32-102.)
    """
    pending = ""
    pending_size = 0
    paragraph_seq = 0
    state: str | None = None
    word = ""

    for word, kind in iter_words(text):
        size = token_counter(word)
        if kind in ("paragraph_end", "sentence_end"):
            state = kind
        elif any(c.isalpha() for c in word):
            state = kind

        if maximum_size and pending_size + size > maximum_size:
            cut = "sentence_cut" if state == "word" else state
            yield paragraph_seq, pending, pending_size, cut
            pending = word
            pending_size = size
        elif kind in ("paragraph_end", "sentence_end"):
            pending += word
            pending_size += size
            if kind == "paragraph_end":
                paragraph_seq += 1
            yield paragraph_seq, pending, pending_size, state
            pending = ""
            pending_size = 0
        else:
            pending += word
            pending_size += size

    if pending:
        if maximum_size and pending_size > maximum_size:
            raise ValueError(f"Input word {word} longer than chunking size {maximum_size}.")
        yield paragraph_seq, pending, pending_size, "sentence_cut" if state == "word" else state


@dataclass
class ParagraphChunk:
    text: str
    chunk_size: int
    chunk_id: str
    chunk_index: int
    cut_type: str
    paragraph_seqs: list[int]


def chunk_paragraphs(
    text: str, max_chunk_size: int, batch_paragraphs: bool = True
) -> Iterator[ParagraphChunk]:
    """Pack sentences into chunks of <= max_chunk_size tokens.

    Exact reconstruction: concatenating the emitted texts reproduces the
    input. chunk_id = uuid5(NAMESPACE_OID, text). With
    ``batch_paragraphs=False`` every paragraph is flushed on its own.
    (Parity: chunk_by_paragraph.py:7-96.)
    """
    buf: list[str] = []
    buf_size = 0
    seqs: list[int] = []
    index = 0
    last_cut = "default"

    def flush(cut: str) -> ParagraphChunk:
        nonlocal buf, buf_size, seqs, index
        body = "".join(buf)
        chunk = ParagraphChunk(
            text=body,
            chunk_size=buf_size,
            chunk_id=_uuid5_text(body),
            chunk_index=index,
            cut_type=cut,
            paragraph_seqs=seqs,
        )
        buf, buf_size, seqs = [], 0, []
        index += 1
        return chunk

    for seq, sentence, size, end_type in iter_sentences(text, maximum_size=max_chunk_size):
        if buf_size > 0 and buf_size + size > max_chunk_size:
            yield flush(last_cut)
        seqs.append(seq)
        buf.append(sentence)
        buf_size += size
        if not batch_paragraphs and end_type in ("paragraph_end", "sentence_cut"):
            yield flush(end_type)
        last_cut = end_type or "default"

    if buf:
        yield flush("sentence_cut" if last_cut == "word" else last_cut)


def _uuid5_text(text: str) -> str:
    return str(uuid.uuid5(uuid.NAMESPACE_OID, text))


def chunk_document(
    document_id: str, text: str, max_chunk_size: int
) -> Iterator[dict]:
    """Greedy document-level packer → DocumentChunk rows.

    Accumulates paragraph chunks while the running token total fits in
    ``max_chunk_size``; a flushed group is joined with a single space and gets
    the deterministic id uuid5(f"{document_id}-{chunk_index}"). A paragraph
    chunk that alone overflows keeps its own uuid5(text) id. (Parity:
    TextChunker.py:13-91.)
    """
    group: list[ParagraphChunk] = []
    group_size = 0
    chunk_index = 0

    def emit(pieces: list[ParagraphChunk], size: int, index: int) -> dict:
        return {
            "chunk_id": _uuid5_text(f"{document_id}-{index}"),
            "text": " ".join(p.text for p in pieces),
            "chunk_size": size,
            "chunk_index": index,
            "cut_type": pieces[-1].cut_type,
            "document_id": document_id,
        }

    for piece in chunk_paragraphs(text, max_chunk_size, batch_paragraphs=True):
        if group_size + piece.chunk_size <= max_chunk_size:
            group.append(piece)
            group_size += piece.chunk_size
        else:
            if not group:
                yield {
                    "chunk_id": piece.chunk_id,
                    "text": piece.text,
                    "chunk_size": piece.chunk_size,
                    "chunk_index": chunk_index,
                    "cut_type": piece.cut_type,
                    "document_id": document_id,
                }
            else:
                yield emit(group, group_size, chunk_index)
                group = [piece]
                group_size = piece.chunk_size
            chunk_index += 1

    if group:
        yield emit(group, group_size, chunk_index)


PAIR_TOKEN_SIZE = 3  # the reference's no-tokenizer fallback (chunk_by_row.py:29)


def chunk_rows(
    document_id: str, text: str, max_chunk_size: int
) -> Iterator[dict]:
    """C4 structured-row chunking (parity: chunk_by_row.py:32-101).

    Rows are blank-line-separated records; each row splits into ", "
    key:value pairs of fixed PAIR_TOKEN_SIZE tokens. Pairs pack greedily up
    to max_chunk_size but never across rows: mid-row flushes are cut_type
    'row_cut', the row's final chunk is 'row_end'. chunk_id =
    uuid5(NAMESPACE_OID, text), chunk_index is document-global.

    Deliberate divergence: an empty row yields nothing AND resets the buffer
    (the reference leaves the empty pair in its accumulator, prefixing the
    next row's first chunk with ", " — an artifact of its reset placement,
    not a semantic).
    """
    chunk_index = 0
    for row in text.split("\n\n"):
        if row == "":
            continue
        pairs = row.split(", ")
        buf: list[str] = []
        buf_size = 0
        for pair in pairs:
            if buf_size > 0 and buf_size + PAIR_TOKEN_SIZE > max_chunk_size:
                body = ", ".join(buf)
                yield {
                    "chunk_id": _uuid5_text(body),
                    "text": body,
                    "chunk_size": buf_size,
                    "chunk_index": chunk_index,
                    "cut_type": "row_cut",
                    "document_id": document_id,
                }
                chunk_index += 1
                buf, buf_size = [], 0
            buf.append(pair)
            buf_size += PAIR_TOKEN_SIZE
        body = ", ".join(buf)
        if body:
            yield {
                "chunk_id": _uuid5_text(body),
                "text": body,
                "chunk_size": buf_size,
                "chunk_index": chunk_index,
                "cut_type": "row_end",
                "document_id": document_id,
            }
            chunk_index += 1


# --- Spark stage -------------------------------------------------------------

CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("chunk_id", T.StringType(), False),
        T.StructField("document_id", T.StringType(), False),
        T.StructField("chunk_index", T.IntegerType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("chunk_size", T.IntegerType(), False),
        T.StructField("cut_type", T.StringType(), True),
        T.StructField("content_sha", T.StringType(), True),
        T.StructField("repo", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("path", T.StringType(), True),
    ]
)


def chunk_documents(
    documents: DataFrame,
    max_chunk_size: int = 1024,
    id_col: str = "document_id",
    text_col: str = "content",
) -> DataFrame:
    """documents(document_id, content, content_sha, repo, lang, path) → chunks.

    Narrow (shuffle-free) mapInPandas stage; lineage columns ride along. The
    stage boundary mirrors extract_chunks_from_documents
    (cognee/tasks/documents/extract_chunks_from_documents.py).
    """
    lineage = [c for c in ("content_sha", "repo", "lang", "path") if c in documents.columns]
    src = documents.select(
        F.col(id_col).alias("document_id"), F.col(text_col).alias("text"), *lineage
    )
    # width probe via the scan's file listing, never rdd.getNumPartitions()
    # (the RDD conversion re-analyzes the plan per invocation — a driver
    # stall at 100 TB); see extraction._widen for the full rationale
    from cognee_spark.operators.extraction import _widen

    src = _widen(src)

    out_fields = [
        f
        for f in CHUNK_SCHEMA.fields
        if f.name
        in {"chunk_id", "document_id", "chunk_index", "text", "chunk_size", "cut_type", *lineage}
    ]
    out_names = [f.name for f in out_fields]

    def run(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict] = []
            for rec in pdf.itertuples(index=False):
                for chunk in chunk_document(rec.document_id, rec.text, max_chunk_size):
                    for col in lineage:
                        chunk[col] = getattr(rec, col)
                    rows.append(chunk)
            yield pd.DataFrame(rows, columns=out_names)

    return src.mapInPandas(run, T.StructType(out_fields))


ROW_CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("chunk_id", T.StringType(), False),
        T.StructField("document_id", T.StringType(), False),
        T.StructField("chunk_index", T.IntegerType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("chunk_size", T.IntegerType(), False),
        T.StructField("cut_type", T.StringType(), True),
    ]
)


def chunk_rows_documents(
    documents: DataFrame,
    max_chunk_size: int = 12,
    id_col: str = "document_id",
    text_col: str = "content",
) -> DataFrame:
    """C4 over a DataFrame: one narrow mapInPandas stage, same shape as
    chunk_documents. Structured (CSV/dlt-shaped) corpora chunk per record."""
    src = documents.select(
        F.col(id_col).cast("string").alias("document_id"),
        F.col(text_col).alias("text"),
    )

    def run(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict] = []
            for rec in pdf.itertuples(index=False):
                rows.extend(chunk_rows(rec.document_id, rec.text, max_chunk_size))
            yield pd.DataFrame(
                rows, columns=[f.name for f in ROW_CHUNK_SCHEMA]
            )

    return src.mapInPandas(run, ROW_CHUNK_SCHEMA)
