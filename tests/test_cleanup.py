"""Cleanup/retention GC (cleanup_unused_data.py:27-172 semantics): cutoff
selection, hard-delete orphan cascade, dry-run report, and delete-as-commit
store integration."""

from __future__ import annotations

from pyspark.sql import functions as F

from cognee_spark.operators.cleanup import (
    cleanup_report,
    cleanup_unused_data,
    gc_graph,
    unused_documents,
)


def test_unused_documents_cutoff_and_null(spark):
    data = spark.createDataFrame(
        [("d1", "2024-01-05 00:00:00"), ("d2", "2024-01-20 00:00:00"), ("d3", None)],
        "document_id string, last_accessed string",
    ).withColumn("last_accessed", F.to_timestamp("last_accessed"))
    got = {r.document_id for r in unused_documents(data, "2024-01-10 00:00:00").collect()}
    assert got == {"d1", "d3"}  # stale AND never-accessed (reference or_ clause)


def _pipeline_tables(spark, tmp_path):
    from cognee_spark.pipeline import run_pipeline

    repos = spark.createDataFrame(
        [
            ("org0/a", "docs/a.md", "c0", "md",
             "ZephyrService uses QuokkaRegistry.\nZephyrService extends QuokkaRegistry.\n"),
            ("org0/b", "docs/b.md", "c0", "md",
             "ZephyrService uses MapleHub.\nMapleHub extends OrchidStore.\n"),
        ],
        ["repo", "path", "commit", "lang", "content"],
    )
    out = run_pipeline(
        spark, repos, str(tmp_path / "store"), "gc-fixture",
        compute_metrics=False, with_summaries=True, with_index=True,
    )
    return out["tables"]


def test_hard_delete_cascade_removes_orphans_and_only_orphans(spark, tmp_path):
    """Doc B goes stale: entities mentioned ONLY by B (maplehub, orchidstore)
    and their triples/embeddings are swept; the shared entity (zephyrservice)
    and everything reachable from doc A survive untouched."""
    tables = _pipeline_tables(spark, tmp_path)
    live_docs = tables["documents"].where(F.col("path") == "docs/a.md")

    kept = gc_graph(
        live_docs,
        tables["chunks"],
        tables["mentions"],
        tables["nodes"],
        tables["triples"],
        embeddings=tables["embeddings"],
        summaries=tables["summaries"],
        doc_col="content_sha",
    )
    names = {r.name for r in kept["nodes"].collect()}
    assert "zephyrservice" in names and "quokkaregistry" in names
    assert "maplehub" not in names and "orchidstore" not in names

    trips = {(r.subj, r.pred, r.obj) for r in kept["triples"].collect()}
    assert ("zephyrservice", "uses", "quokkaregistry") in trips
    assert not any("maplehub" in t for t in trips)

    # only-orphans: doc A's rows are ALL still there, bit-for-bit
    a_sha = live_docs.select("content_sha").first().content_sha
    before = {
        tuple(r) for r in tables["chunks"].where(F.col("content_sha") == a_sha).collect()
    }
    after = {tuple(r) for r in kept["chunks"].collect()}
    assert before == after

    # embeddings: swept entity vectors gone, survivor + type/edge-type/summary kept
    kept_items = {
        (r.collection, r.text)
        for r in kept["embeddings"].select("collection", "text").collect()
    }
    assert ("Entity_name", "zephyrservice") in kept_items
    assert ("Entity_name", "maplehub") not in kept_items
    assert any(c == "EdgeType_relationship_name" for c, _ in kept_items)
    assert any(c == "TextSummary_text" for c, _ in kept_items)

    # chunk vectors are live exactly while their chunk is: B's go, A's stay
    def chunk_vectors(emb):
        return {
            r.item_id
            for r in emb.where(F.col("collection") == "DocumentChunk_text").collect()
        }

    all_chunks = {r.chunk_id for r in tables["chunks"].collect()}
    kept_chunks = {r.chunk_id for r in kept["chunks"].collect()}
    assert chunk_vectors(tables["embeddings"]) == all_chunks
    assert kept_chunks and kept_chunks < all_chunks
    assert chunk_vectors(kept["embeddings"]) == kept_chunks


def test_report_counts_totals_kept_orphaned(spark, tmp_path):
    tables = _pipeline_tables(spark, tmp_path)
    live_docs = tables["documents"].where(F.col("path") == "docs/a.md")
    kept = gc_graph(
        live_docs, tables["chunks"], tables["mentions"], tables["nodes"],
        tables["triples"], doc_col="content_sha",
    )
    rep = {
        r.table_name: (r.n_total, r.n_kept, r.n_orphaned)
        for r in cleanup_report({k: tables[k] for k in kept}, kept).collect()
    }
    for total, kept_n, orphaned in rep.values():
        assert total == kept_n + orphaned
    assert rep["nodes"][2] >= 2  # maplehub + orchidstore swept
    assert rep["triples"][2] >= 2


def test_store_integration_deletes_are_new_commits_and_roll_back(spark, tmp_path):
    from cognee_spark.store import TableStore

    tables = _pipeline_tables(spark, tmp_path)
    store = TableStore(str(tmp_path / "store"))
    b_sha = (
        tables["documents"].where(F.col("path") == "docs/b.md")
        .select("content_sha").first().content_sha
    )
    data = tables["documents"].select(
        "content_sha",
        F.to_timestamp(
            F.when(F.col("content_sha") == b_sha, F.lit("2024-01-01 00:00:00"))
            .otherwise(F.lit("2024-02-01 00:00:00"))
        ).alias("last_accessed"),
    )
    # dry run: report only, nothing committed
    out = cleanup_unused_data(
        store, spark, tables, data, cutoff="2024-01-15 00:00:00", dry_run=True
    )
    assert out["committed"] == []
    assert store.read_checkpoint("gc_nodes") is None

    out = cleanup_unused_data(
        store, spark, tables, data, cutoff="2024-01-15 00:00:00", dry_run=False
    )
    assert "gc_nodes" in out["committed"] and "gc_triples" in out["committed"]
    # the sweep is a NEW commit: original tables untouched, gc tables smaller
    assert store.read_checkpoint("gc_nodes") is not None
    orig_nodes = tables["nodes"].count()
    gc_nodes = spark.read.parquet(store.path("gc_nodes")).count()
    assert gc_nodes < orig_nodes
    assert tables["nodes"].count() == orig_nodes  # not mutated in place

    # and rollback_to a pre-GC stage undoes the sweep commits
    rolled = store.rollback_to("triples")
    assert any(s.startswith("gc_") for s in rolled)
    assert store.read_checkpoint("gc_nodes") is None


def test_unknown_embedding_collections_pass_through(spark, tmp_path):
    """Round-4 ADVICE: the embeddings sweep is scoped per collection — rows
    of a collection gc_graph can't derive liveness for (a plug-in index)
    must survive untouched, and Triplet_text rows are swept by their own id
    rule, not as blanket orphans."""
    from cognee_spark.operators.indexing import build_triplet_index

    tables = _pipeline_tables(spark, tmp_path)
    triplet_idx = build_triplet_index(tables["triples"])
    plugin = spark.createDataFrame(
        [("Custom_plugin", "x1", "plugin row")], ["collection", "item_id", "text"]
    ).withColumn("embedding", F.expr("array(1.0d, 2.0d)"))
    core = tables["embeddings"].select("collection", "item_id", "text", "embedding")
    emb = (
        core
        .unionByName(triplet_idx.select(*core.columns))
        .unionByName(plugin.select(*core.columns))
    )
    live_docs = tables["documents"].where(F.col("path") == "docs/a.md")
    kept = gc_graph(
        live_docs, tables["chunks"], tables["mentions"], tables["nodes"],
        tables["triples"], embeddings=emb, summaries=tables["summaries"],
        doc_col="content_sha",
    )
    by_coll = {
        r.collection: r.n
        for r in kept["embeddings"].groupBy("collection").agg(F.count("*").alias("n")).collect()
    }
    assert by_coll.get("Custom_plugin") == 1  # unknown collection untouched
    # live triplets keep their index rows; doc-B-only triplets lose theirs
    kept_trip_texts = {
        r.text for r in kept["embeddings"].where(F.col("collection") == "Triplet_text").collect()
    }
    assert "zephyrservice-›uses-›quokkaregistry" in kept_trip_texts
    assert not any("maplehub" in t for t in kept_trip_texts)


def test_second_sweep_with_different_cutoff_recomputes(spark, tmp_path):
    """Round-4 ADVICE: the default run_stage signature derives from the
    cutoff + input fingerprint, so a later sweep with a different cutoff
    commits fresh gc_* tables instead of silently reusing the old ones."""
    from cognee_spark.store import TableStore

    tables = _pipeline_tables(spark, tmp_path)
    store = TableStore(str(tmp_path / "store"))
    b_sha = (
        tables["documents"].where(F.col("path") == "docs/b.md")
        .select("content_sha").first().content_sha
    )
    data = tables["documents"].select(
        "content_sha",
        F.to_timestamp(
            F.when(F.col("content_sha") == b_sha, F.lit("2024-01-01 00:00:00"))
            .otherwise(F.lit("2024-02-01 00:00:00"))
        ).alias("last_accessed"),
    )
    # sweep 1: cutoff strands doc B → gc_nodes loses B-only entities
    cleanup_unused_data(store, spark, tables, data, cutoff="2024-01-15 00:00:00", dry_run=False)
    n_after_first = spark.read.parquet(store.path("gc_nodes")).count()
    # sweep 2: cutoff keeps EVERYTHING live → gc_nodes must equal the full set
    cleanup_unused_data(store, spark, tables, data, cutoff="2023-12-01 00:00:00", dry_run=False)
    n_after_second = spark.read.parquet(store.path("gc_nodes")).count()
    assert n_after_first < tables["nodes"].count()
    assert n_after_second == tables["nodes"].count()  # not the stale sweep-1 table


def test_hard_sweep_commits_live_documents_table(spark, tmp_path):
    from cognee_spark.store import TableStore

    tables = _pipeline_tables(spark, tmp_path)
    store = TableStore(str(tmp_path / "store"))
    b_sha = (
        tables["documents"].where(F.col("path") == "docs/b.md")
        .select("content_sha").first().content_sha
    )
    data = tables["documents"].select(
        "content_sha",
        F.to_timestamp(
            F.when(F.col("content_sha") == b_sha, F.lit("2024-01-01 00:00:00"))
            .otherwise(F.lit("2024-02-01 00:00:00"))
        ).alias("last_accessed"),
    )
    out = cleanup_unused_data(store, spark, tables, data, cutoff="2024-01-15 00:00:00", dry_run=False)
    assert "gc_documents" in out["committed"]
    gc_docs = spark.read.parquet(store.path("gc_documents"))
    assert gc_docs.count() == tables["documents"].count() - 1
    assert b_sha not in {r.content_sha for r in gc_docs.select("content_sha").collect()}


# --- forget (api/v1/forget/forget.py unified deletion) -----------------------


def _dataset_data_for(tables, spark):
    docs = tables["documents"]
    return docs.select(
        F.when(F.col("path") == "docs/a.md", "ds_a").otherwise("ds_b").alias("dataset_id"),
        "document_id",
    )


def test_forget_validates_target_selection(spark, tmp_path):
    import pytest as _pytest

    from cognee_spark.operators.cleanup import forget
    from cognee_spark.store import TableStore

    tables = _pipeline_tables(spark, tmp_path)
    store = TableStore(str(tmp_path / "fstore"))
    with _pytest.raises(ValueError):
        forget(store, spark, tables)  # nothing selected
    with _pytest.raises(ValueError):
        forget(store, spark, tables, data_ids=["x"])  # data_ids needs a dataset
    with _pytest.raises(ValueError):
        forget(store, spark, tables, dataset_id="ds_a")  # needs membership frame


def test_forget_dataset_drops_its_documents_and_derived_rows(spark, tmp_path):
    from cognee_spark.operators.cleanup import forget
    from cognee_spark.store import TableStore

    tables = _pipeline_tables(spark, tmp_path)
    store = TableStore(str(tmp_path / "fstore2"))
    out = forget(
        store, spark, tables,
        dataset_id="ds_b", dataset_data=_dataset_data_for(tables, spark),
    )
    assert out["target"] == "dataset" and out["items_removed"] == 1
    kept = out["kept"]
    assert {r.path for r in kept["documents"].collect()} == {"docs/a.md"}
    names = {r.name for r in kept["nodes"].collect()}
    assert "zephyrservice" in names and "quokkaregistry" in names
    assert "maplehub" not in names and "orchidstore" not in names
    # committed as gc_* stages → rollback-able like a GC sweep
    assert "gc_documents" in out["committed"]
    assert store.read(spark, "gc_documents").count() == 1


def test_forget_memory_only_keeps_documents_and_invalidates_stages(spark, tmp_path):
    from cognee_spark.operators.cleanup import forget
    from cognee_spark.store import TableStore

    tables = _pipeline_tables(spark, tmp_path)
    store = TableStore(str(tmp_path / "fstore3"))
    # pretend the derived stages are committed so invalidation is observable
    for name in ["chunks", "mentions", "nodes", "triples"]:
        store.checkpoint(name, "sig")
    out = forget(
        store, spark, tables,
        dataset_id="ds_b", dataset_data=_dataset_data_for(tables, spark),
        memory_only=True,
    )
    assert out["target"] == "dataset_memory_only"
    assert "documents" not in out["kept"]  # raw data preserved
    assert "nodes" in out["invalidated"]
    assert not store.is_complete("nodes", "sig")  # re-cognify will rebuild


def test_forget_everything_and_data_item_modes(spark, tmp_path):
    from cognee_spark.operators.cleanup import forget
    from cognee_spark.store import TableStore

    tables = _pipeline_tables(spark, tmp_path)
    store = TableStore(str(tmp_path / "fstore4"))
    dd = _dataset_data_for(tables, spark)
    target_doc = dd.where(F.col("dataset_id") == "ds_a").first().document_id
    item = forget(
        store, spark, tables,
        data_ids=[target_doc], dataset_id="ds_a", dataset_data=dd, dry_run=True,
    )
    assert item["target"] == "data_item" and item["items_removed"] == 1
    assert {r.path for r in item["kept"]["documents"].collect()} == {"docs/b.md"}
    allgone = forget(store, spark, tables, everything=True, dry_run=True)
    assert allgone["target"] == "everything"
    for name in ["documents", "chunks", "nodes", "triples"]:
        assert allgone["kept"][name].count() == 0, name
