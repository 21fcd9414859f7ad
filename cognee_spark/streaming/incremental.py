"""Incremental / streaming ingestion — SURVEY §2.8.

The reference is batch-with-checkpoints: skip data items whose pipeline_status
is COMPLETED (run_tasks_data_item.py:86-103), detect changed content by hash
(ingest_data.py:173-186). Structured Streaming gives the same semantics with
exactly-once file-source tracking:

- `stream_repos`: readStream over a repos parquet directory — new files are
  discovered incrementally; the stream checkpoint IS the pipeline_status
  ledger.
- `incremental_cognify`: each micro-batch is staged with `Cognee.add`, and
  the drain ends in one `Cognee.cognify` — the same spine, ledger and tables
  as a batch cognify. A replayed micro-batch re-adds identical rows, which
  last-batch-wins makes a no-op on the staged corpus; a crash between drain
  and cognify is repaired by the next call, which cognifies the whole staged
  corpus under its content signature (an unchanged corpus resumes every
  stage).
- `windowed_event_counts`: watermarked sliding-window aggregation — the
  streaming-analytics operator shape (late data handled by the watermark).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cognee_spark.sources.corpus import REPOS_SCHEMA


def stream_repos(spark: SparkSession, input_dir: str, max_files_per_trigger: int = 64) -> DataFrame:
    return (
        spark.readStream.schema(REPOS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def incremental_cognify(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
) -> dict | None:
    """Stage newly arrived repo files into the ``Cognee`` store at
    ``output_dir``, then cognify the whole staged corpus once.

    Runs with availableNow and cognifies after the backlog is drained — once
    per drain, not per micro-batch, which would recompute the graph for
    every ``maxFilesPerTrigger`` files. Returns the ``Cognee.cognify`` dict
    (tables at ``output_dir/<name>``, e.g. ``triples``, each with its ledger
    row), or None when nothing was ever staged.
    """
    from cognee_spark.api import Cognee

    engine = Cognee(spark, output_dir)
    query = (
        stream_repos(spark, input_dir)
        .writeStream.foreachBatch(lambda batch_df, _batch_id: engine.add(batch_df))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return engine.cognify() if engine._staged() else None


def windowed_event_counts(
    events_stream: DataFrame,
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "15 minutes",
) -> DataFrame:
    """Watermarked sliding-window counts per event type."""
    return (
        events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
