"""Structured Streaming incremental ingest through the one cognify spine,
late-data windowed aggregation."""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cognee_spark.pipeline import run_pipeline
from cognee_spark.sources.corpus import build_repos_df
from cognee_spark.streaming.incremental import incremental_cognify, windowed_event_counts

N = 120


def _write_slice(spark, repos, lo, hi, input_dir):
    # deterministic slice of the corpus "arriving" as new files
    repos.where((F.col("_idx") >= lo) & (F.col("_idx") < hi)).drop("_idx").coalesce(
        2
    ).write.mode("append").parquet(input_dir)


def _rows(df):
    cols = sorted(df.columns)
    return cols, sorted((tuple(r) for r in df.select(*cols).collect()), key=repr)


def _ledger_ts(out):
    return {c["stage"]: c["ts"] for c in out["metrics"]["stages"]}


def test_incremental_matches_batch(spark, tmp_path):
    input_dir = str(tmp_path / "incoming")
    output_dir = str(tmp_path / "out")
    checkpoint = str(tmp_path / "ckpt")
    os.makedirs(input_dir, exist_ok=True)

    repos = build_repos_df(spark, N).withColumn(
        "_idx", F.row_number().over(Window.orderBy("repo", "path"))
    ).localCheckpoint()

    # nothing has arrived yet: nothing is staged, nothing is cognified
    assert incremental_cognify(spark, input_dir, output_dir, checkpoint) is None

    # two arrivals
    _write_slice(spark, repos, 1, 61, input_dir)
    incremental_cognify(spark, input_dir, output_dir, checkpoint)
    _write_slice(spark, repos, 61, N + 1, input_dir)
    got = incremental_cognify(spark, input_dir, output_dir, checkpoint)

    # every table equals a from-scratch cognify over the final corpus
    expected = run_pipeline(
        spark, repos.drop("_idx"), str(tmp_path / "batch"), f"batch:{N}",
        compute_metrics=False,
    )
    assert set(got["tables"]) == set(expected["tables"])
    for name, table in expected["tables"].items():
        assert _rows(got["tables"][name]) == _rows(table), name
    # the triples are a committed store table with their ledger row
    assert spark.read.parquet(f"{output_dir}/triples").count() == (
        expected["tables"]["triples"].count()
    )
    assert "triples" in _ledger_ts(got)

    # re-run with no new data: no stage is recomputed (exactly-once)
    again = incremental_cognify(spark, input_dir, output_dir, checkpoint)
    assert _ledger_ts(again) == _ledger_ts(got)


def test_windowed_event_counts_schema(spark, tmp_path):
    src = str(tmp_path / "events_src")
    spark.read.parquet("/root/testdata/sf0.001/events.parquet").coalesce(1).write.parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    )
    out = windowed_event_counts(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("wincounts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "wc_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # append mode emits only watermark-closed windows; verify schema + run
    table = spark.sql("select * from wincounts")
    assert table.columns == ["window_start", "window_end", "event_type", "n_events", "total_value"]
