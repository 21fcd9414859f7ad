"""Global context index — the memify hierarchical summary index
(cognee/memify_pipelines/global_context_index.py:46-78 +
cognee/tasks/memify/global_context_index/{build,update,ids,summarize}.py):
level-0 items are the TextSummary datapoints; they are grouped into buckets
of at most ``max_bucket_size`` semantically-similar members; each bucket
gets a generated summary; bucket summaries become the items of the next
level; the loop repeats until one root GlobalContextSummary covers the
dataset. Bucket identity is uuid5("GlobalContextSummary:{dataset}:{level}:
{sorted child ids}") (ids.py:6-9), the root uuid5("...:{dataset}:root"),
and bucket texts live in the GlobalContextSummary_text collection.

Spark re-expression: the reference's vector bucketing places items ONE AT A
TIME into the nearest non-full bucket via vector-store top-k lookups
(bucketing/vector/placement.py:103-130) — a greedy, order-dependent driver
loop that cannot distribute. Here each level is ONE k-means pass
(train_centroids, the IVF coarse quantizer) with k = ceil(n/max_bucket_size),
followed by a per-cell rank split that enforces the capacity bound exactly;
both produce the same artifact the reference defines (capacity-bounded
similarity buckets), but the placement is a single distributed job per level
and the level count is log_{max_bucket_size}(n). Bucket summarization is the
same seam as everywhere else: a deterministic extractive rule (the enrich
summary rule) in pure codegen by default, swappable for a batched LLM
transport (operators/llm.py pattern) at the ``llm`` parameter — at 100 TB
the LLM call is the bottleneck, the placement never is.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cognee_spark.functions.embeddings import DEFAULT_DIM, hash_embedding_col
from cognee_spark.functions.ids import uuid5_col
from cognee_spark.session import row_frame

GLOBAL_CONTEXT_SUMMARY_COLLECTION = "GlobalContextSummary_text"
DEFAULT_MAX_BUCKET_SIZE = 20  # global_context_index.py:17 default


def _extractive_summary(text_col, max_len: int = 160):
    """The engine-wide deterministic summary rule (enrich.summarize_chunks /
    retrieval.summarize_text_py): first sentence, else truncation."""
    first = F.regexp_extract(text_col, r"^(.*?[.;!?…。！？])", 1)
    return F.substring(
        F.when(first != "", first).otherwise(F.substring(text_col, 1, max_len)),
        1,
        max_len,
    )


def bucketize_level(
    spark: SparkSession,
    items: DataFrame,
    level: int,
    dataset_id: str,
    max_bucket_size: int,
    n_items: int,
    llm=None,
) -> tuple[DataFrame, DataFrame]:
    """One index level: items(item_id, text, embedding) → (assignments,
    buckets).

    k-means with k = ceil(n/max_bucket_size) groups similar items; a rank
    split inside each cell enforces the hard capacity bound (the reference
    skips full buckets during placement — same constraint, distributed
    enforcement). Returns assignments(level, bucket_id, child_id) and
    buckets(level, bucket_id, text) where bucket_id is the reference's
    uuid5-of-sorted-children identity — so the SAME membership yields the
    SAME bucket id regardless of how placement found it."""
    from cognee_spark.operators.similarity_search import ivf_assign, train_centroids

    k = max(1, math.ceil(n_items / max_bucket_size))
    if k > 1:
        centroids = train_centroids(spark, items, n_cells=k, iterations=3)
        assigned = ivf_assign(items, centroids)
    else:
        assigned = items.withColumn("cell", F.lit(1))
    # capacity: deterministic rank split inside each cell (cells are
    # max_bucket_size-scale on average; the window sorts only cell members)
    w = Window.partitionBy("cell").orderBy("item_id")
    assigned = assigned.withColumn(
        "_bkey",
        F.concat_ws(
            "_",
            F.col("cell").cast("string"),
            F.floor((F.row_number().over(w) - 1) / max_bucket_size).cast("string"),
        ),
    )
    grouped = assigned.groupBy("_bkey").agg(
        F.array_sort(F.collect_list("item_id")).alias("child_ids"),
        F.array_sort(F.collect_list(F.struct("item_id", "text"))).alias("_members"),
    )
    bucket_id = uuid5_col(
        F.concat(
            F.lit(f"GlobalContextSummary:{dataset_id}:{level}:"),
            F.concat_ws(",", "child_ids"),
        )
    )
    # the reference renders children sorted by id as "Input i:\n{text}" and
    # asks the LLM for a joint summary (summarize.py:15-28); the
    # deterministic double applies the engine's extractive rule to that
    # SAME rendering
    rendered = F.array_join(
        F.transform(
            F.col("_members"),
            lambda m, i: F.concat(
                F.lit("Input "), (i + 1).cast("string"), F.lit(":\n"), m["text"]
            ),
        ),
        "\n\n",
    )
    buckets = grouped.select(
        bucket_id.alias("bucket_id"),
        "child_ids",
        rendered.alias("_rendered"),
    )
    if llm is not None:
        # batched executor-side transport (the operators/llm.py shape): each
        # Arrow batch of buckets is summarized inside its Python worker and
        # only (bucket_id, text) rows come back — level 0 of a 1B-summary
        # corpus has ~50M buckets, so collecting them to the driver for a
        # per-row loop (the round-4 shape) is a scale-killer; the llm
        # callable ships in the closure exactly like LLMExtractor.transport
        import pandas as pd

        def _summarize(batches):
            for pdf in batches:
                yield pd.DataFrame(
                    {
                        "bucket_id": pdf["bucket_id"],
                        "text": [llm("bucket_summary", r) for r in pdf["_rendered"]],
                    }
                )

        summarized = buckets.select("bucket_id", "_rendered").mapInPandas(
            _summarize, "bucket_id string, text string"
        )
        buckets = buckets.join(summarized, "bucket_id")
    else:
        buckets = buckets.withColumn("text", _extractive_summary(F.col("_rendered")))
    assignments = buckets.select(
        F.lit(level).alias("level"),
        "bucket_id",
        F.explode("child_ids").alias("child_id"),
    )
    out_buckets = buckets.select(F.lit(level).alias("level"), "bucket_id", "text")
    return assignments, out_buckets


def build_context_index(
    spark: SparkSession,
    summaries: DataFrame,
    dataset_id: str = "main_dataset",
    max_bucket_size: int = DEFAULT_MAX_BUCKET_SIZE,
    dim: int = DEFAULT_DIM,
    llm=None,
    id_col: str = "summary_id",
    text_col: str = "summary",
) -> dict:
    """Full index build (rebuild=True semantics — update.py's incremental
    path reduces to re-running this over changed levels; deterministic
    bucket ids make unchanged buckets re-derive identically).

    Returns {"assignments": (level, bucket_id, child_id),
             "buckets": (level, bucket_id, text, is_root),
             "embeddings": GlobalContextSummary_text collection rows,
             "levels": n}.
    Each level is materialized with an eager localCheckpoint — the loop's
    driver state is one row count per level, never the items."""
    items = summaries.select(
        F.col(id_col).cast("string").alias("item_id"),
        F.col(text_col).alias("text"),
    ).withColumn("embedding", hash_embedding_col(F.col("text"), dim=dim))
    n = items.count()
    all_assignments = None
    all_buckets = None
    level = 0
    while n > max_bucket_size:
        assignments, buckets = bucketize_level(
            spark, items, level, dataset_id, max_bucket_size, n, llm=llm
        )
        buckets = buckets.localCheckpoint(eager=True)
        assignments = assignments.localCheckpoint(eager=True)
        all_assignments = (
            assignments if all_assignments is None
            else all_assignments.unionByName(assignments)
        )
        lvl_buckets = buckets.withColumn("is_root", F.lit(False))
        all_buckets = (
            lvl_buckets if all_buckets is None else all_buckets.unionByName(lvl_buckets)
        )
        items = buckets.select(
            F.col("bucket_id").alias("item_id"), "text"
        ).withColumn("embedding", hash_embedding_col(F.col("text"), dim=dim))
        n = items.count()
        level += 1
    # root GlobalContextSummary over the surviving items (ids.py:11-12)
    root_id = uuid5_col(F.lit(f"GlobalContextSummary:{dataset_id}:root"))
    root_members = items.select(
        F.lit(level).alias("level"),
        root_id.alias("bucket_id"),
        F.col("item_id").alias("child_id"),
    )
    root_text = items.select(F.struct("item_id", "text").alias("m")).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list("m")),
                lambda m, i: F.concat(
                    F.lit("Input "), (i + 1).cast("string"), F.lit(":\n"), m["text"]
                ),
            ),
            "\n\n",
        ).alias("_rendered")
    )
    if llm is not None:
        rendered = root_text.first()._rendered
        root_summary_text = llm("root_summary", rendered)
        root_bucket = row_frame(
            spark, [(level, root_summary_text, True)], "level int, text string, is_root boolean"
        ).select("level", root_id.alias("bucket_id"), "text", "is_root")
    else:
        root_bucket = root_text.select(
            F.lit(level).alias("level"),
            root_id.alias("bucket_id"),
            _extractive_summary(F.col("_rendered")).alias("text"),
            F.lit(True).alias("is_root"),
        )
    all_assignments = (
        root_members if all_assignments is None
        else all_assignments.unionByName(root_members)
    )
    all_buckets = (
        root_bucket if all_buckets is None else all_buckets.unionByName(root_bucket)
    )
    embeddings = all_buckets.select(
        F.lit(GLOBAL_CONTEXT_SUMMARY_COLLECTION).alias("collection"),
        F.col("bucket_id").alias("item_id"),
        "text",
    ).withColumn("embedding", hash_embedding_col(F.col("text"), dim=dim))
    return {
        "assignments": all_assignments,
        "buckets": all_buckets,
        "embeddings": embeddings,
        "levels": level + 1,
    }
