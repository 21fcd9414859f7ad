"""Top-level verb facade (cognee_spark/api.py) vs cognee's module-level
API shape: add → cognify → search → remember → update → forget over one
store root."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from cognee_spark.api import CORPUS_SCHEMA, Cognee


def test_add_cognify_search_roundtrip(spark, tmp_path):
    engine = Cognee(spark, str(tmp_path / "kg"))
    n = engine.add([
        "spark depends on catalyst.",
        "catalyst optimizes plans.",
    ])
    assert n == 2
    # re-adding the same text dedups at corpus() (content-hash path identity)
    engine.add(["spark depends on catalyst."])
    assert engine.corpus().count() == 2

    out = engine.cognify(with_index=False)
    assert out["tables"]["triples"].count() > 0
    triples = {(r.subj, r.pred, r.obj) for r in out["tables"]["triples"].collect()}
    assert ("spark", "depends_on", "catalyst") in triples

    hits = engine.search("spark", query_type="TRIPLET_COMPLETION", top_k=3)
    assert hits.count() > 0 and "text" in hits.columns

    # unchanged corpus → second cognify resumes (same content signature)
    ts1 = {c["stage"]: c["ts"] for c in out["metrics"]["stages"]}
    ts2 = {
        c["stage"]: c["ts"]
        for c in engine.cognify(with_index=False)["metrics"]["stages"]
    }
    assert ts1["triples"] == ts2["triples"]


def test_search_before_cognify_raises(spark, tmp_path):
    engine = Cognee(spark, str(tmp_path / "kg"))
    engine.add(["text"])
    with pytest.raises(RuntimeError, match="cognify"):
        engine.search("anything")


def test_remember_update_forget(spark, tmp_path):
    engine = Cognee(spark, str(tmp_path / "kg"))
    engine.add(["alpha depends on beta.", "gamma depends on delta."])
    engine.cognify(with_summaries=False, with_index=False)

    routed = engine.remember(spark.createDataFrame(
        [(None, "u1", "s1", 0, "a note")],
        "entry_type string, user_id string, session_id string, seq long, payload string",
    ))
    assert routed["qa"].count() == 1

    # update: replace one document's content, graph re-derives
    target = engine.corpus().first()
    new_rows = engine.corpus().where(
        (F.col("repo") == target.repo) & (F.col("path") == target.path)
    ).withColumn("content", F.lit("epsilon depends on zeta."))
    out = engine.update(
        new_rows, with_summaries=False, with_index=False
    )
    assert out["replaced"] == 1
    after = {(r.subj, r.pred, r.obj) for r in engine.tables["triples"].collect()}
    assert ("epsilon", "depends_on", "zeta") in after

    # forget everything in memory-only mode keeps documents, drops the graph
    result = engine.forget(everything=True, memory_only=True)
    assert result["items_removed"] == engine.corpus().count()


def test_memify_defaults_build_triplet_collection(spark, tmp_path):
    engine = Cognee(spark, str(tmp_path / "kg"))
    engine.add(["alpha depends on beta.", "gamma depends on delta."])
    engine.cognify(with_summaries=False, with_index=False)
    out = engine.memify(signature="v1")
    rows = out["result"].collect()
    assert rows and all(r.collection == "Triplet_text" for r in rows)
    texts = {r.text for r in rows}
    assert "alpha-›depends_on-›beta" in texts
    assert set(out["tables"]) == {
        "memify.00_get_triplet_datapoints", "memify.01_index_data_points"
    }
    # node_name filters the fragment (memify.py:33 node_name=)
    scoped = engine.memify(node_name=["gamma"], signature="v2")
    assert {r.text for r in scoped["result"].collect()} == {
        "gamma-›depends_on-›delta"
    }


def test_add_raises_on_an_unreadable_staging_table(spark, tmp_path):
    # restarting the batch numbering at 1 would let older batches win
    # last-batch-wins over the new rows: a read error must surface
    engine = Cognee(spark, str(tmp_path / "kg"))
    os.makedirs(engine._staging)
    with open(os.path.join(engine._staging, "part-0.txt"), "w") as f:
        f.write("not parquet")
    with pytest.raises(Exception, match="(?i)parquet"):
        engine.add(["text"])


def test_corpus_breaks_same_batch_ties_on_the_row(spark, tmp_path):
    # two rows of one (repo, path) in ONE add tie on the batch: the smallest
    # (commit, lang, content) wins, however the batch is partitioned
    rows = [
        ("r", "a.md", "c2", "md", "newer commit"),
        ("r", "a.md", "c1", "md", "zeta"),
        ("r", "a.md", "c1", "md", "alpha"),
        ("r", "b.md", "c0", "md", "other"),
    ]
    for n in (1, 8):
        engine = Cognee(spark, str(tmp_path / f"kg{n}"))
        engine.add(spark.createDataFrame(rows, CORPUS_SCHEMA).repartition(n))
        got = {(r.path, r.commit, r.content) for r in engine.corpus().collect()}
        assert got == {("a.md", "c1", "alpha"), ("b.md", "c0", "other")}
