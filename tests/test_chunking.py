"""Chunker invariants, mirroring cognee/tests/unit/processing/chunks/*.

- exact reconstruction: "".join over word pieces and over paragraph chunks
- every chunk_size <= max_chunk_size
- cut_type vocabulary
- deterministic ids (uuid5 of text / of f"{doc_id}-{index}")
- single-word-over-max raises (chunk_by_sentence.py:96-99 semantics)
"""

from __future__ import annotations

import uuid

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from cognee_spark.operators.chunking import (
    chunk_document,
    chunk_paragraphs,
    iter_sentences,
    iter_words,
)

TEXTS = [
    "Hello world. Foo bar!\nNew para here. End",
    "one two three",
    "A.  B.\n\nC!",
    "no endings at all just words " * 10,
    "trailing space ",
    ".",
    "",
    "multi\nline\nwithout sentence ends",
    "unicode… ends。 here！\nnext",
]

# every cut_type the chunker emits
CUT_TYPES = {"paragraph_end", "sentence_end", "sentence_cut", "word", "default"}


@pytest.mark.parametrize("text", TEXTS)
def test_word_reconstruction(text):
    assert "".join(w for w, _ in iter_words(text)) == text


@pytest.mark.parametrize("text", TEXTS)
@pytest.mark.parametrize("max_size", [3, 5, 64])
def test_paragraph_reconstruction_and_caps(text, max_size):
    chunks = list(chunk_paragraphs(text, max_size))
    assert "".join(c.text for c in chunks) == text
    for c in chunks:
        assert c.chunk_size <= max_size
        assert c.cut_type in CUT_TYPES
        assert c.chunk_id == str(uuid.uuid5(uuid.NAMESPACE_OID, c.text))
    assert [c.chunk_index for c in chunks] == list(range(len(chunks)))


def test_golden_example_hand_derived():
    """Hand-traced expected output of the reference algorithm at max=5."""
    text = "Hello world. Foo bar!\nNew para here. End"
    sentences = list(iter_sentences(text, maximum_size=5))
    assert [(s[1], s[2], s[3]) for s in sentences] == [
        ("Hello world. ", 2, "sentence_end"),
        ("Foo bar!", 2, "paragraph_end"),
        ("\nNew para here. ", 3, "sentence_end"),
        ("End", 1, "sentence_cut"),
    ]
    chunks = list(chunk_paragraphs(text, 5))
    assert [(c.text, c.chunk_size, c.cut_type) for c in chunks] == [
        ("Hello world. Foo bar!", 4, "paragraph_end"),
        ("\nNew para here. End", 4, "sentence_cut"),
    ]


def test_word_longer_than_max_raises():
    # with a character-level token counter a single long word can overflow
    with pytest.raises(ValueError):
        list(iter_sentences("supercalifragilistic", maximum_size=5, token_counter=len))


def test_document_chunker_ids_and_packing():
    text = "Hello world. Foo bar!\nNew para here. End"
    doc_id = "doc-1"
    out = list(chunk_document(doc_id, text, 5))
    # paragraph pieces are 4+4 tokens; greedy packing at max=5 keeps them apart
    assert len(out) == 2
    assert out[0]["chunk_id"] == str(uuid.uuid5(uuid.NAMESPACE_OID, f"{doc_id}-0"))
    assert out[1]["chunk_id"] == str(uuid.uuid5(uuid.NAMESPACE_OID, f"{doc_id}-1"))
    assert [c["chunk_index"] for c in out] == [0, 1]
    # grouped pieces are joined with a single space (TextChunker.py:46,77)
    big = list(chunk_document(doc_id, text, 100))
    assert len(big) == 1
    assert big[0]["text"] == text  # single paragraph-chunk group of 1


@settings(max_examples=150, deadline=None)
@given(st.text(alphabet=st.characters(codec="utf-8"), max_size=200), st.integers(2, 30))
def test_reconstruction_property(text, max_size):
    assert "".join(w for w, _ in iter_words(text)) == text
    chunks = list(chunk_paragraphs(text, max_size))
    assert "".join(c.text for c in chunks) == text
    assert all(c.chunk_size <= max_size for c in chunks)


def test_spark_chunk_documents_stage(spark):
    from cognee_spark.operators.chunking import chunk_documents

    docs = spark.createDataFrame(
        [
            ("d1", "Hello world. Foo bar!\nNew para here. End", "sha1", "r1", "md", "a.md"),
            ("d2", "one two three. four five six.", "sha2", "r2", "md", "b.md"),
        ],
        ["document_id", "content", "content_sha", "repo", "lang", "path"],
    )
    chunks = chunk_documents(docs, max_chunk_size=5).collect()
    by_doc: dict[str, list] = {}
    for row in sorted(chunks, key=lambda r: (r.document_id, r.chunk_index)):
        by_doc.setdefault(row.document_id, []).append(row)
    local = {r["chunk_id"] for r in chunk_document("d1", "Hello world. Foo bar!\nNew para here. End", 5)}
    assert {r.chunk_id for r in by_doc["d1"]} == local
    # lineage rides along
    assert all(r.content_sha in ("sha1", "sha2") for r in chunks)
    assert all(r.chunk_size <= 5 for r in chunks)


# --- C4 chunk_by_row (parity: chunk_by_row.py:32-101) -------------------------

ROW_TEXTS = [
    "k1:v1, k2:v2, k3:v3\n\nk4:v4, k5:v5",
    "a:1, b:2, c:3, d:4, e:5, f:6, g:7, h:8, i:9",
    "single:pair",
    "",
    "row1:a\n\n\n\nrow2:b",  # empty rows in between
    "x:1, y:2\n\nlong, row, with, many, comma, separated, pairs, here, now",
]


@pytest.mark.parametrize("text", ROW_TEXTS)
def test_chunk_rows_invariants(text):
    from cognee_spark.operators.chunking import PAIR_TOKEN_SIZE, chunk_rows

    max_size = 12
    chunks = list(chunk_rows("doc", text, max_size))
    # sizes bounded (a lone pair may equal PAIR_TOKEN_SIZE even if max < 3)
    assert all(c["chunk_size"] <= max(max_size, PAIR_TOKEN_SIZE) for c in chunks)
    assert all(c["cut_type"] in ("row_cut", "row_end") for c in chunks)
    # chunk_index dense and monotone
    assert [c["chunk_index"] for c in chunks] == list(range(len(chunks)))
    # per-row reconstruction: joining a row's chunk texts with ", " gives the row
    rows = [r for r in text.split("\n\n") if r != ""]
    rebuilt, buf = [], []
    for c in chunks:
        buf.append(c["text"])
        if c["cut_type"] == "row_end":
            rebuilt.append(", ".join(buf))
            buf = []
    assert rebuilt == rows
    # deterministic ids
    assert all(c["chunk_id"] == str(uuid.uuid5(uuid.NAMESPACE_OID, c["text"])) for c in chunks)


def test_chunk_rows_dataframe_matches_kernel(spark):
    from cognee_spark.operators.chunking import chunk_rows, chunk_rows_documents

    rows = [(i, ROW_TEXTS[i % len(ROW_TEXTS)]) for i in range(20)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r.document_id, r.chunk_index): (r.text, r.chunk_size, r.cut_type)
        for r in chunk_rows_documents(df, max_chunk_size=12, id_col="doc_id", text_col="text").collect()
    }
    expected = {}
    for i, text in rows:
        for c in chunk_rows(str(i), text, 12):
            expected[(str(i), c["chunk_index"])] = (c["text"], c["chunk_size"], c["cut_type"])
    assert got == expected
