"""Enrichment operators — E4 summarization and title synthesis.

- summarize_chunks: per-chunk TextSummary rows with deterministic ids
  (uuid5(f"{chunk_id}-TextSummary"), cognee/tasks/summarization/
  summarize_text.py:18-87 / models.py:23-38). The summary itself is a
  deterministic extractive stand-in (first sentence + top terms) for the LLM
  call — same batch seam, swap is config.
- synthesize_titles: first-7-words + top-3 frequent words title
  (resolve_edges_to_text.py:12-45)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cognee_spark.functions.ids import uuid5_col


def summarize_chunks(chunks: DataFrame, max_len: int = 160) -> DataFrame:
    """chunks(chunk_id, text, ...) → (summary_id, chunk_id, summary)."""
    first_sentence = F.regexp_extract("text", r"^(.*?[.;!?…。！？])", 1)
    summary = F.when(first_sentence != "", first_sentence).otherwise(
        F.substring("text", 1, max_len)
    )
    return chunks.select(
        uuid5_col(F.concat_ws("-", "chunk_id", F.lit("TextSummary"))).alias("summary_id"),
        "chunk_id",
        F.substring(summary, 1, max_len).alias("summary"),
        *(c for c in ("content_sha", "document_id") if c in chunks.columns),
    )


def synthesize_titles(docs: DataFrame, text_col: str = "text", id_col: str = "document_id") -> DataFrame:
    """Title = first 7 words + ' | ' + top-3 frequent words (len>3)."""
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    first7 = F.concat_ws(" ", F.slice(words, 1, 7))
    exploded = docs.select(F.col(id_col).alias("document_id"), F.explode(words).alias("w"))
    top3 = (
        exploded.where(F.length("w") > 3)
        .groupBy("document_id", F.lower("w").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "rnk",
            F.row_number().over(
                __import__("pyspark").sql.window.Window.partitionBy("document_id").orderBy(
                    F.desc("n"), F.asc("w")
                )
            ),
        )
        .where(F.col("rnk") <= 3)
        .groupBy("document_id")
        .agg(F.concat_ws(" ", F.sort_array(F.collect_list(F.struct("rnk", "w"))).getField("w")).alias("top_words"))
    )
    base = docs.select(F.col(id_col).alias("document_id"), first7.alias("first_words"))
    return base.join(top3, "document_id", "left").select(
        "document_id",
        F.concat_ws(" | ", "first_words", "top_words").alias("title"),
    )
