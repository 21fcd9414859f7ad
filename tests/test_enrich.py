"""Enrichment operators: summaries and titles."""

from __future__ import annotations

import uuid

from cognee_spark.operators.enrich import summarize_chunks, synthesize_titles


def test_summarize_chunks(spark):
    chunks = spark.createDataFrame(
        [("c1", "First sentence. Second sentence.", "sha", "d1"),
         ("c2", "no sentence ending here just words", "sha2", "d1")],
        ["chunk_id", "text", "content_sha", "document_id"],
    )
    rows = {r.chunk_id: r for r in summarize_chunks(chunks).collect()}
    assert rows["c1"].summary == "First sentence."
    assert rows["c2"].summary == "no sentence ending here just words"
    assert rows["c1"].summary_id == str(uuid.uuid5(uuid.NAMESPACE_OID, "c1-TextSummary"))


def test_synthesize_titles(spark):
    docs = spark.createDataFrame(
        [("d1", "alpha beta gamma delta epsilon zeta eta theta alpha alpha beta beta")],
        ["document_id", "text"],
    )
    row = synthesize_titles(docs).first()
    assert row.title.startswith("alpha beta gamma delta epsilon zeta eta | ")
    assert "alpha" in row.title.split(" | ")[1]
