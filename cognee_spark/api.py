"""The top-level verb surface — cognee's module-level API
(``import cognee; cognee.add / cognify / search / remember / forget /
update / improve``, cognee/api/v1/*) bound to one SparkSession and one
store root, so a user of the reference can drive this engine with the
same mental model.

Every verb delegates to the engine's tested dataflows; this module holds
NO dataflow of its own. State is durable and Spark-shaped: ``add`` appends
corpus rows to a staging parquet under the store root (the reference's
ingest tables), ``cognify`` re-derives under a content-derived signature
(so an unchanged corpus resumes committed stages), and the graph tables a
verb needs are the last cognify's committed outputs.

``add`` is the one way data comes in: ``update`` is add + cognify (a
re-added ``(repo, path)`` replaces the staged row, last batch wins), and
``streaming.incremental.incremental_cognify`` adds each micro-batch and
cognifies once per drain.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cognee_spark.session import row_frame

CORPUS_SCHEMA = "repo string, path string, commit string, lang string, content string"


class Cognee:
    """One engine instance over one store root (the reference's global
    default-user/default-dataset context, made explicit)."""

    def __init__(
        self,
        spark: SparkSession,
        store_root: str,
        dataset_id: str = "main_dataset",
    ):
        self.spark = spark
        self.root = store_root
        self.dataset_id = dataset_id
        self.tables: dict[str, DataFrame] | None = None
        self._staging = os.path.join(store_root, "_added")

    # --- ingestion (api/v1/add) ---------------------------------------------

    def add(self, data, repo: str = "adhoc", lang: str = "md") -> int:
        """Stage data for the next cognify — ``cognee.add``.

        ``data`` is either a corpus-shaped DataFrame
        (repo, path, commit, lang, content) or a list of raw text strings
        (each becomes one markdown document, the reference's plain-text
        ingest). Appends to the staging table; returns rows added."""
        if isinstance(data, DataFrame):
            rows = data.select("repo", "path", "commit", "lang", "content")
        else:
            texts = [data] if isinstance(data, str) else list(data)
            rows = row_frame(
                self.spark,
                [(repo, "", "adhoc", lang, t) for t in texts],
                CORPUS_SCHEMA,
            )
            # deterministic paths per content so re-adding the same text
            # upserts instead of duplicating (the reference's content-hash
            # dedup, ingest_data.py)
            rows = rows.withColumn(
                "path",
                F.concat(
                    F.lit("doc_"),
                    F.substring(F.sha2(F.col("content"), 256), 1, 16),
                    F.lit(".md"),
                ),
            )
        n = rows.count()
        # each add is one staging batch; corpus() resolves re-adds of the
        # same (repo, path) to the LATEST batch deterministically — a plain
        # dropDuplicates would keep whichever row a partition scan surfaced
        # first, silently serving stale content
        rows.withColumn("_batch", F.lit(self._next_batch())).write.mode(
            "append"
        ).parquet(self._staging)
        return n

    def _staged(self) -> bool:
        """Whether anything was ever added under this store root."""
        return os.path.isdir(self._staging)

    def _next_batch(self) -> int:
        # a read error of an existing staging table must raise: restarting
        # the numbering at 1 would make new rows lose last-batch-wins to
        # older batches and serve stale content with no error
        if not self._staged():
            return 1
        staged = self.spark.read.schema(CORPUS_SCHEMA + ", _batch long").parquet(
            self._staging
        )
        return int(staged.agg(F.max("_batch")).first()[0] or 0) + 1

    def corpus(self) -> DataFrame:
        """Everything added so far; re-adds resolve last-batch-wins.

        Two rows of one ``(repo, path)`` in the same batch tie on
        ``_batch``; the tie goes to the smallest ``(commit, lang, content)``,
        so the winner (and ``content_signature`` of the corpus) does not
        depend on scan order."""
        from pyspark.sql.window import Window

        docs = self.spark.read.schema(CORPUS_SCHEMA + ", _batch long").parquet(
            self._staging
        )
        w = Window.partitionBy("repo", "path").orderBy(
            F.desc("_batch"), "commit", "lang", "content"
        )
        return (
            docs.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("repo", "path", "commit", "lang", "content")
        )

    # --- construction (api/v1/cognify) ---------------------------------------

    def cognify(self, **pipeline_kwargs) -> dict:
        """Build/refresh the knowledge graph over everything added —
        ``cognee.cognify``. Content-derived signature: an unchanged corpus
        resumes committed stages (the reference's pipeline-cache rule)."""
        from cognee_spark.pipeline import content_signature, run_pipeline

        corpus = self.corpus()
        # content-keyed signature: a cognify of an identical corpus (after a
        # no-op update, or a drain with no new files) resumes instead of
        # rebuilding byte-identical tables
        out = run_pipeline(
            self.spark, corpus, self.root, content_signature(corpus),
            compute_metrics=False, **pipeline_kwargs,
        )
        self.tables = out["tables"]
        return out

    def _graph(self) -> dict[str, DataFrame]:
        if self.tables is None:
            raise RuntimeError("no graph yet — call cognify() first")
        return self.tables

    # --- query (api/v1/search) ------------------------------------------------

    def search(
        self, query: str, query_type: str = "GRAPH_COMPLETION", **kwargs
    ):
        """``cognee.search`` — the unified SearchType dispatch."""
        from cognee_spark.search import search as _search

        return _search(self.spark, self._graph(), query_type, query, **kwargs)

    # --- memory verbs ----------------------------------------------------------

    def remember(self, entries: DataFrame) -> dict[str, DataFrame]:
        """``cognee.remember`` — typed memory-entry routing."""
        from cognee_spark.operators.remember import route_memory_entries

        return route_memory_entries(entries)

    def forget(self, **kwargs) -> dict:
        """``cognee.forget`` — targeted deletion over the current graph."""
        from cognee_spark.operators.cleanup import forget as _forget
        from cognee_spark.store import TableStore

        return _forget(
            TableStore(self.root), self.spark, self._graph(), **kwargs
        )

    def update(self, new_rows: DataFrame, **pipeline_kwargs) -> dict:
        """``cognee.update`` (api/v1/update/update.py:12-108: delete → add →
        cognify) — replace matching items and re-derive.

        ``new_rows`` carries the corpus schema; rows whose ``(repo, path)``
        is already staged replace it (last batch wins), the rest are plain
        adds. Returns the ``cognify`` dict plus ``replaced`` (staged rows
        whose key was among ``new_rows``') and ``corpus``."""
        replaced = 0
        if self._staged():
            keys = new_rows.select("repo", "path").distinct()
            replaced = self.corpus().join(keys, ["repo", "path"], "left_semi").count()
        self.add(new_rows)
        out = self.cognify(**pipeline_kwargs)
        out["replaced"] = replaced
        out["corpus"] = self.corpus()
        return out

    def improve(self, **kwargs) -> dict:
        """``cognee.improve`` — the staged session bridge + enrichment."""
        from cognee_spark.improve import improve as _improve

        return _improve(self.spark, self.root, self._graph(), **kwargs)

    def run_custom_pipeline(self, tasks, data: DataFrame, **kwargs) -> dict:
        """``cognee.run_custom_pipeline`` — caller task chains."""
        from cognee_spark.pipeline import run_custom_pipeline as _rcp

        return _rcp(self.spark, tasks, data, self.root, **kwargs)

    def memify(
        self,
        extraction_tasks=None,
        enrichment_tasks=None,
        data: DataFrame | None = None,
        node_name: list[str] | None = None,
        **kwargs,
    ) -> dict:
        """``cognee.memify`` (modules/memify/memify.py:25-115) — enrichment
        over the EXISTING graph: when no data is given, the input is the
        graph fragment (node_name-filtered triples, the reference's
        get_memory_fragment); default tasks are the reference's defaults —
        extraction = triplet datapoints, enrichment = index the datapoints
        (memify_default_tasks.py:8-17; here the stage commit IS the vector
        sink write, so the enrichment default commits the collection)."""
        from cognee_spark.operators.indexing import build_triplet_index

        if data is None:
            data = self._graph()["triples"]
            if node_name:
                data = data.where(
                    F.col("subj").isin(*node_name) | F.col("obj").isin(*node_name)
                )
        tasks = list(
            extraction_tasks
            or [("get_triplet_datapoints", build_triplet_index)]
        ) + list(enrichment_tasks or [("index_data_points", lambda df: df)])
        return self.run_custom_pipeline(
            tasks, data, pipeline_name="memify", **kwargs
        )
