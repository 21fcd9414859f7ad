"""The cognify pipeline — chunk → summarize → extract → link → canonicalize →
materialize → index.

Spark re-expression of cognee's default pipeline
(cognee/api/v1/cognify/cognify.py:350-376: classify_documents →
extract_chunks_from_documents → extract_graph_and_summarize →
add_data_points, then index_data_points/index_graph_edges): every resume
point is a checkpointed table commit, every row carries lineage columns
(source_pipeline / source_task / content_sha — run_tasks_base.py:33-117
provenance stamping), and a killed run resumes from the last committed stage.

Stage order and write ordering (nodes before edges) follow SURVEY §7.1/O9.

Scheduling: stages run one at a time, in one fixed order, on the caller's
thread. The stage DAG is wider than a chain — summarization is independent
of extraction (the reference runs them as parallel tasks over the same
chunks, extract_graph_and_summarize.py:12-37), triples and mentions both
depend only on aliases+extractions, and the graph leaf tables depend only on
nodes/triples/mentions — but overlapping stages buys nothing: co-scheduling
two shuffle-heavy jobs lets their tasks evict each other's cache/allocator
working sets — event-log attribution at 3.2M files measured the overlapped
triples∥mentions pair at 1.79x the CPU and 2x the wall of the same stages
run back-to-back (BENCH/attrib_4exec_3200000*.txt), and sequential leaf
writes were measured faster the same way in round 4. A saturated executor
gains nothing from a second concurrent job; an idle one is better fed by
AQE-sized partitions of the one running stage.

Only resume points are committed: documents, chunks, summaries, extractions,
entity_aliases, triples, mentions and nodes, plus the leaf tables edges,
contains_edges and embeddings. ``entity_types`` and ``edge_type_histogram``
are one-pass derivations of a committed table (nodes, triples) that nothing
resumes from, so they are returned as lazy frames and recomputed by whoever
reads them.

Run via spark-submit:
    spark-submit --py-files cognee_spark.zip -m cognee_spark.pipeline ...
or python -m cognee_spark.pipeline --n-files 5000 --out /tmp/kg
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cognee_spark.functions.ids import normalize_identity_col
from cognee_spark.operators.chunking import chunk_documents
from cognee_spark.operators.enrich import summarize_chunks
from cognee_spark.operators.extraction import (
    CODE_LANGS,
    extract_from_files,
    mentions_of,
    raw_edges_of,
)
from cognee_spark.operators.indexing import build_index
from cognee_spark.operators.linking import (
    alias_map,
    code_triples,
    nl_triples,
    resolve_code_edges,
)
from cognee_spark.operators.materialize import (
    build_contains_edges,
    build_edges,
    build_entity_types,
    build_nodes,
    build_structural_edges,
    edge_type_histogram,
    graph_metrics,
)
from cognee_spark.store import TableStore, run_stage

PIPELINE_NAME = "cognify_spark"


def _stamp(df: DataFrame, task: str) -> DataFrame:
    """Provenance stamping (run_tasks_base.py:150-229 analog)."""
    return df.withColumn("source_pipeline", F.lit(PIPELINE_NAME)).withColumn(
        "source_task", F.lit(task)
    )


def _ontology_fingerprint(ontology: DataFrame | None) -> str:
    """Content fingerprint of the ontology frame for the stage signature:
    re-running against the same store with a DIFFERENT ontology must
    recompute, not reuse stale alias/triple tables. The ontology is
    dictionary-sized by contract, so the two tiny aggregates are negligible
    next to any stage."""
    return "0" if ontology is None else content_signature(ontology, "ont")


def run_pipeline(
    spark: SparkSession,
    repos: DataFrame,
    store_root: str,
    signature: str,
    max_chunk_size: int = 512,
    compute_metrics: bool = True,
    force: bool = False,
    dedupe_documents: bool = False,
    with_summaries: bool = True,
    with_index: bool = True,
    ontology: DataFrame | None = None,
    nl_extractor: str = "default",
) -> dict:
    """Execute all stages over a repos(repo,path,commit,lang,content) frame.

    Returns {"tables": {name: DataFrame}, "metrics": {...}}. Stages committed
    under a matching signature are skipped (resume semantics). The signature
    folds in every output-affecting parameter, so re-running with e.g. a
    different max_chunk_size against the same store root recomputes instead
    of silently reusing stale tables.
    """
    store = TableStore(store_root)
    t0 = time.time()

    # output-affecting config → stage signatures (coarse but safe: any config
    # change invalidates the whole run; deterministic ids keep that idempotent)
    sig_docs = f"{signature}|v2|dd={int(dedupe_documents)}"
    sig = (
        f"{sig_docs}|mcs={max_chunk_size}|ont={_ontology_fingerprint(ontology)}"
        f"|nlx={nl_extractor if isinstance(nl_extractor, str) else 'custom'}"
    )

    def stage(name, build, *, signature=sig, partition_by=None, extra_metrics=None):
        return run_stage(
            store, spark, name, signature, build,
            partition_by=partition_by, force=force, extra_metrics=extra_metrics,
        )

    # S1-S4 ingest/identify/classify: content identity via sha256 (the per-row
    # invariant of input_hint), deterministic document id, document type.
    def build_documents() -> DataFrame:
        base = repos.select(
            "repo", "path", "commit", "lang", "content",
            F.sha2("content", 256).alias("content_sha"),
            F.concat_ws(":", "repo", "path").alias("document_id"),
            F.when(F.col("lang").isin(*CODE_LANGS), F.lit("code"))
            .otherwise(F.lit("text"))
            .alias("document_type"),
        )
        if dedupe_documents:
            # dedup without shuffling content: find duplicate ids on a thin
            # projection, resolve only those rows by window rank. The
            # duplicate-id set is usually tiny but corpus-sized under a bulk
            # re-ingest where most ids collide, so the broadcast is
            # probe-guarded (materialized once, reused by both joins).
            from cognee_spark.functions.broadcast import bounded_broadcast

            dup_ids = bounded_broadcast(
                base.groupBy("document_id")
                .count()
                .where(F.col("count") > 1)
                .select("document_id")
            )
            from pyspark.sql.window import Window

            dups = (
                base.join(dup_ids, "document_id")
                .withColumn(
                    "_r",
                    F.row_number().over(
                        Window.partitionBy("document_id").orderBy("content_sha")
                    ),
                )
                .where(F.col("_r") == 1)
                .drop("_r")
            )
            base = base.join(dup_ids, "document_id", "left_anti").unionByName(dups)
        return _stamp(base, "ingest")

    documents = stage(
        "documents", build_documents, signature=sig_docs, partition_by=["lang"]
    )

    # C1-C6 chunking. Only text-mode documents are chunked: code facts are
    # extracted from whole files (enola semantics), so chunking them would
    # burn 90% of the chunker budget producing rows nothing reads. The filter
    # hits the documents table's lang partitioning → partition-pruned scan.
    def build_chunks() -> DataFrame:
        text_docs = documents.where(~F.col("lang").isin(*CODE_LANGS))
        return _stamp(chunk_documents(text_docs, max_chunk_size=max_chunk_size), "chunk")

    chunks = stage("chunks", build_chunks, partition_by=["lang"])

    # E4/E5 summarization: the reference runs it as a parallel task beside
    # extraction (extract_graph_and_summarize.py:12-37); here it is a
    # shuffle-free projection of the committed chunks, run in turn
    summaries = None
    if with_summaries:
        summaries = stage(
            "summaries", lambda: _stamp(summarize_chunks(chunks), "summarize")
        )

    # E1/E6/E8 extraction — one tall table, parsed once. The code and NL
    # branches are independent inputs of one union write job, so Spark
    # already runs their stages concurrently inside that job.
    from cognee_spark.registry import NL_EXTRACTORS, resolve

    extract_nl_stage = resolve(NL_EXTRACTORS, nl_extractor)

    def build_extractions() -> DataFrame:
        code = extract_from_files(documents)
        nl = extract_nl_stage(chunks.where(~F.col("lang").isin(*CODE_LANGS)))
        return _stamp(code.unionByName(nl), "extract")

    extractions = stage(
        "extractions", build_extractions, partition_by=["mode"],
        # kernels with side counters (e.g. the LLM extractor's skipped-row
        # accumulators) surface them into the stage checkpoint row
        extra_metrics=getattr(extract_nl_stage, "stage_metrics", None),
    )
    mentions = mentions_of(extractions)
    raw_edges = raw_edges_of(extractions)

    # L1-L9 linking + canonicalization
    def build_aliases() -> DataFrame:
        return _stamp(
            alias_map(mentions.where(F.col("mode") == "nl"), ontology=ontology),
            "link",
        )

    aliases = stage("entity_aliases", build_aliases).select("name", "canonical")

    def build_triples() -> DataFrame:
        ct = code_triples(resolve_code_edges(mentions, raw_edges))
        nt = nl_triples(raw_edges, aliases)
        out = ct.unionByName(nt)
        if ontology is not None:
            from cognee_spark.operators.linking import ontology_is_a_triples

            out = out.unionByName(ontology_is_a_triples(nt, ontology))
        return _stamp(out, "materialize_triples")

    # canonical mention names (for contains edges + node kinds)
    def build_canonical_mentions() -> DataFrame:
        code_m = mentions.where(F.col("mode") == "code").withColumn(
            "canonical_name",
            F.when(
                F.col("kind").isin("dependency", "route"),
                normalize_identity_col(F.col("name")),
            ).otherwise(normalize_identity_col(F.concat_ws(":", "repo", "name"))),
        )
        nl_m = (
            mentions.where(F.col("mode") == "nl")
            .join(F.broadcast(aliases), "name", "left")
            .withColumn(
                "canonical_name",
                F.coalesce("canonical", normalize_identity_col(F.col("name"))),
            )
            .drop("canonical")
        )
        return _stamp(code_m.unionByName(nl_m), "canonicalize")

    # triples and mentions share only `aliases`, so they COULD overlap —
    # but two concurrent shuffle-heavy jobs thrash each other's working
    # sets: event-log attribution at 3.2M files / 4 executors measured
    # the overlapped pair at 1,310 CPU core-s vs 733 run back-to-back
    # (1.79x), combined wall 209s vs 105s (BENCH/attrib_4exec_*.txt).
    # Sequential is also never slower at low parallelism (2 cores have
    # no idle slots for a second job to fill).
    triples = stage("triples", build_triples, partition_by=["pred"])
    canonical_mentions = stage(
        "mentions", build_canonical_mentions, partition_by=["mode"]
    )

    # K1-K4 materialize: nodes BEFORE edges (O9 write ordering)
    mention_kinds = (
        canonical_mentions.groupBy(F.col("canonical_name").alias("name"))
        .agg(F.min("kind").alias("kind"))
    )

    nodes = stage("nodes", lambda: _stamp(build_nodes(triples, mention_kinds), "nodes"))

    # one-pass derivations of a committed table that nothing resumes from:
    # returned lazily, never committed
    entity_types = _stamp(build_entity_types(nodes), "entity_types")
    edge_types = _stamp(edge_type_histogram(triples), "edge_types")

    # terminal leaf tables, largest first: each is a wide allocation-heavy
    # write that saturates the cluster alone, and running them concurrently
    # inflates their combined task CPU (event-log measured at 3.2M files /
    # local[16]: edges 468→1158 core-s, contains 420→703 when co-scheduled
    # — GC/allocator contention, zero spill). Sequential leaves are faster
    # at every measured size ≥800k files.
    leaves = {
        "edges": stage(
            "edges",
            # content + is_a + the exists_in/mentioned_in structural
            # families (retrieve_existing_edges.py) in one edge table
            lambda: _stamp(
                build_edges(triples, nodes).unionByName(
                    build_structural_edges(canonical_mentions)
                ),
                "edges",
            ),
        ),
        "contains_edges": stage(
            "contains_edges",
            lambda: _stamp(build_contains_edges(canonical_mentions), "contains"),
        ),
    }
    if with_index:
        # index stage (index_data_points.py:10-68): per-(type,field)
        # embedding collections over the committed graph tables, including
        # Triplet_text and DocumentChunk_text, so every vector search reads
        # the committed vectors instead of embedding per query. The stage
        # has its own signature: a store whose index predates those two
        # collections rebuilds it instead of resuming it.
        leaves["embeddings"] = stage(
            "embeddings",
            lambda: _stamp(
                build_index(nodes, entity_types, triples, chunks, summaries=summaries),
                "index",
            ),
            signature=f"{sig}|idx=2",
            partition_by=["collection"],
        )

    metrics: dict = {"wall_sec": round(time.time() - t0, 3), "stages": store.checkpoints()}
    if compute_metrics:
        metrics["graph"] = graph_metrics(triples)

    tables = {
        "documents": documents,
        "chunks": chunks,
        "extractions": extractions,
        "entity_aliases": aliases,
        "triples": triples,
        "mentions": canonical_mentions,
        "nodes": nodes,
        "entity_types": entity_types,
        "edge_type_histogram": edge_types,
        **leaves,
    }
    if summaries is not None:
        tables["summaries"] = summaries
    return {"tables": tables, "metrics": metrics}


def run_custom_pipeline(
    spark: SparkSession,
    tasks: list,
    data: DataFrame,
    store_root: str,
    pipeline_name: str = "custom_pipeline",
    signature: str = "",
    use_pipeline_cache: bool = True,
    force: bool = False,
) -> dict:
    """User-supplied task chain over the engine's commit/resume machinery —
    the reference's ``run_custom_pipeline`` (modules/run_custom_pipeline/
    run_custom_pipeline.py:14-86): arrange caller Tasks into a pipeline,
    forward ``data`` to the first task, feed each task's output to the next,
    and skip pipelines already completed under the same id when
    ``use_pipeline_cache`` is set.

    Spark re-expression: a Task is a ``DataFrame -> DataFrame`` callable
    (or a ``(name, callable)`` pair, or a name registered in
    ``cognee_spark.registry.CUSTOM_TASKS``); every task boundary is a
    checkpointed table commit, so the pipeline-cache rule IS the store's
    stage-resume rule — a re-run with the same (pipeline, task list,
    signature) reads committed tables instead of recomputing, and a killed
    run resumes mid-chain. The reference's ``data_per_batch`` knob
    dissolves into Spark partitioning; ``run_in_background`` into the
    caller's own thread (stage commits are concurrency-safe, test_store).

    Returns ``{"tables": {stage: df}, "result": last_df, "metrics": [...]}``.
    """
    from cognee_spark.registry import CUSTOM_TASKS, resolve

    if not tasks:
        raise ValueError("run_custom_pipeline requires at least one task")
    named = []
    for i, task in enumerate(tasks):
        if isinstance(task, tuple):
            name, fn = task
        elif isinstance(task, str):
            name, fn = task, resolve(CUSTOM_TASKS, task)
        else:
            name = getattr(task, "__name__", f"task{i}")
            fn = task
        named.append((f"{i:02d}_{name}", fn))

    store = TableStore(store_root)
    # the pipeline id folds in the ORDERED task names (generate_pipeline_id
    # parity: same tasks + same signature → cache hit; any reorder/rename
    # recomputes) — callers fold data identity into `signature`.
    chain_sig = f"{signature}|{'>'.join(n for n, _ in named)}"
    tables: dict[str, DataFrame] = {}
    current = data
    for stage_name, fn in named:
        stage = f"{pipeline_name}.{stage_name}"
        prev = current

        def _build(prev=prev, fn=fn, stage_name=stage_name):
            return (
                fn(prev)
                .withColumn("source_pipeline", F.lit(pipeline_name))
                .withColumn("source_task", F.lit(stage_name))
            )

        current = run_stage(
            store, spark, stage, chain_sig, _build,
            force=force or not use_pipeline_cache,
        )
        tables[stage] = current
    return {"tables": tables, "result": current, "metrics": store.checkpoints()}


def content_signature(df: DataFrame, prefix: str = "content") -> str:
    """Order-free, MULTIPLICITY-SENSITIVE content fingerprint of a frame —
    the one signature every content-keyed stage (and the ontology part of the
    cognify signature) derives from.

    - A plain xor of per-row hashes cancels duplicate rows pairwise ({A,A}
      and {B,B} both collapse to 0), so the xor runs over hash(row_hash,
      per-row count) after a groupBy.
    - xxhash64 SKIPS nulls, so hashing the values alone would collide when a
      value moves between a null column and a non-null one (("x", NULL) vs
      (NULL, "x")); one isNull flag per column pins which column is null.
    - Columns hash in name order, so the fingerprint does not depend on
      the frame's column order.

    The prefix is part of the identity ONLY when two verbs must not share
    commits. Every way data comes in (``Cognee.cognify``, ``Cognee.update``,
    ``incremental_cognify``) cognifies the staged corpus under the default,
    so an unchanged corpus resumes whichever verb committed it."""
    cols = sorted(df.columns)
    row_hash = F.xxhash64(*cols, *[F.col(c).isNull() for c in cols])
    agg = (
        df.select(row_hash.alias("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum("c").alias("n"), F.expr("bit_xor(xxhash64(h, c))").alias("x"))
        .first()
    )
    return f"{prefix}:{agg.n or 0}:{agg.x}"


def main() -> None:
    parser = argparse.ArgumentParser(description="cognee_spark cognify pipeline")
    parser.add_argument("--n-files", type=int, default=1000, help="synthetic corpus size")
    parser.add_argument("--input", help="parquet path of an existing repos table")
    parser.add_argument("--out", required=True, help="output table store root")
    parser.add_argument("--max-chunk-size", type=int, default=512)
    parser.add_argument("--master", default=None)
    parser.add_argument("--no-metrics", action="store_true")
    parser.add_argument("--force", action="store_true", help="ignore checkpoints")
    args = parser.parse_args()

    from cognee_spark.session import get_spark
    from cognee_spark.sources.corpus import build_repos_df

    spark = get_spark(app_name="cognify", master=args.master)
    if args.input:
        repos = spark.read.parquet(args.input)
        signature = f"input:{args.input}"
    else:
        repos = build_repos_df(spark, args.n_files)
        signature = f"synthetic:{args.n_files}"
    result = run_pipeline(
        spark,
        repos,
        args.out,
        signature,
        max_chunk_size=args.max_chunk_size,
        compute_metrics=not args.no_metrics,
        force=args.force,
    )
    print(json.dumps(result["metrics"], indent=2, default=str))
    spark.stop()


if __name__ == "__main__":
    main()
