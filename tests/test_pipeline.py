"""End-to-end pipeline: triple P/R vs oracle, lineage, checkpoint/resume.

FIXTURES.md F5 (P/R >= 0.95 gate — our design target is exactly 1.0),
F1 invariant (content sha256 propagated to every downstream row), and
F6 (kill/resume reproduces identical output without recomputing committed
stages).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cognee_spark.functions.ids import id_for_py
from cognee_spark.operators.materialize import graph_metrics
from cognee_spark.pipeline import run_pipeline
from cognee_spark.sources.corpus import build_repos_df
from cognee_spark.sources.golden import (
    golden_edge_type_histogram,
    golden_nodes,
    golden_triples,
)
from cognee_spark.store import TableStore

N = 210

# the committed resume points; entity_types and edge_type_histogram are
# derived frames and never reach the ledger
SPINE_STAGES = {
    "documents", "chunks", "extractions", "entity_aliases", "triples",
    "mentions", "nodes", "edges", "contains_edges",
}


@pytest.fixture(scope="module")
def result(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("kgstore"))
    repos = build_repos_df(spark, N)
    out = run_pipeline(spark, repos, root, f"synthetic:{N}", compute_metrics=False)
    out["root"] = root
    return out


def _triple_set(triples_df) -> set[tuple[str, str, str]]:
    return {(r.subj, r.pred, r.obj) for r in triples_df.select("subj", "pred", "obj").collect()}


def test_triples_match_oracle_exactly(result):
    got = _triple_set(result["tables"]["triples"])
    expected = golden_triples(N)
    inter = got & expected
    precision = len(inter) / len(got)
    recall = len(inter) / len(expected)
    assert precision >= 0.95 and recall >= 0.95, (precision, recall)
    # the design target: deterministic extractor + shared linking ⇒ exact
    assert got == expected


def test_content_sha_lineage(result, spark):
    docs = result["tables"]["documents"].select("content_sha", F.sha2("content", 256).alias("recomputed"))
    assert docs.where(F.col("content_sha") != F.col("recomputed")).count() == 0
    doc_shas = docs.select("content_sha").distinct()
    for name in ("chunks", "extractions", "triples"):
        table = result["tables"][name]
        dangling = table.where(F.col("content_sha").isNotNull()).join(
            doc_shas, "content_sha", "left_anti"
        )
        assert dangling.count() == 0, name
        assert table.where(F.col("content_sha").isNull()).count() == 0, name


def test_no_duplicate_ids(result):
    nodes = result["tables"]["nodes"]
    edges = result["tables"]["edges"]
    assert nodes.count() == nodes.select("entity_id").distinct().count()
    assert edges.count() == edges.select("edge_object_id").distinct().count()


def test_ledger_lists_resume_points_with_rows_and_partitions(result, spark, tmp_path):
    store = TableStore(result["root"])
    ledger = store.checkpoints()
    assert {c["stage"] for c in ledger} == SPINE_STAGES | {"summaries", "embeddings"}
    # every commit observes its row count on the write job, leaves included
    for c in ledger:
        assert c["rows"] == store.read(spark, c["stage"]).count(), c["stage"]
        assert c["partitions"] >= 1, c["stage"]
    assert result["metrics"]["stages"] == ledger

    spine = run_pipeline(
        spark, build_repos_df(spark, N), str(tmp_path / "spine"), f"synthetic:{N}",
        compute_metrics=False, with_summaries=False, with_index=False,
    )
    assert {c["stage"] for c in spine["metrics"]["stages"]} == SPINE_STAGES
    assert "summaries" not in spine["tables"] and "embeddings" not in spine["tables"]


def test_derived_frames_match_oracle(result):
    tables = result["tables"]
    hist = tables["edge_type_histogram"]
    assert hist.columns == [
        "relationship_name", "number_of_edges", "source_pipeline", "source_task"
    ]
    rows = hist.collect()
    assert [
        (r.relationship_name, r.number_of_edges) for r in rows
    ] == golden_edge_type_histogram(N)
    assert {r.source_task for r in rows} == {"edge_types"}

    types = tables["entity_types"]
    assert types.columns == ["type_id", "name", "source_pipeline", "source_task"]
    kinds = {kind for _id, _name, kind in golden_nodes(N)}
    assert sorted((r.type_id, r.name) for r in types.collect()) == sorted(
        (id_for_py("EntityType", k), k) for k in kinds
    )


def test_graph_metrics_match_python_over_golden_triples(result):
    triples = golden_triples(N)
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, _p, o in triples:
        parent[find(s)] = find(o)
    sizes: dict[str, int] = {}
    for node in list(parent):
        root = find(node)
        sizes[root] = sizes.get(root, 0) + 1

    got = graph_metrics(result["tables"]["triples"])
    assert got["num_nodes"] == len(parent)
    assert got["num_edges"] == len(triples)
    assert got["num_connected_components"] == len(sizes)
    assert got["largest_component_size"] == max(sizes.values())


def test_resume_skips_committed_stages(result, spark):
    root = result["root"]
    store = TableStore(root)
    before = {c["stage"]: c["ts"] for c in store.checkpoints()}
    repos = build_repos_df(spark, N)
    run_pipeline(spark, repos, root, f"synthetic:{N}", compute_metrics=False)
    after = {c["stage"]: c["ts"] for c in store.checkpoints()}
    assert before == after  # nothing recomputed


def test_invalidate_and_rebuild_identical(result, spark):
    root = result["root"]
    store = TableStore(root)
    baseline = _triple_set(result["tables"]["triples"])
    # simulate a kill after extraction commit: downstream stages lost
    for stage in ("entity_aliases", "triples", "mentions", "nodes", "edges",
                  "contains_edges"):
        store.invalidate(stage)
    repos = build_repos_df(spark, N)
    out = run_pipeline(spark, repos, root, f"synthetic:{N}", compute_metrics=False)
    assert _triple_set(out["tables"]["triples"]) == baseline


def test_signature_change_invalidates(result, spark):
    store = TableStore(result["root"])
    assert not store.is_complete("documents", "synthetic:999|v2|dd=0")
    # stage signatures fold in output-affecting config (dedupe flag,
    # max_chunk_size) so a config change forces recompute
    assert store.is_complete("documents", f"synthetic:{N}|v2|dd=0")
    assert store.is_complete("chunks", f"synthetic:{N}|v2|dd=0|mcs=512|ont=0|nlx=default")
    assert not store.is_complete("chunks", f"synthetic:{N}|v2|dd=0|mcs=256|ont=0|nlx=default")


def test_structural_edge_families(result, spark):
    """The three structural families of retrieve_existing_edges.py:44-73 all
    materialize: is_a (entity→type), exists_in (container→type),
    mentioned_in (container→entity)."""
    # re-read from the store: an earlier test overwrites the edges parquet,
    # so the fixture's DataFrame holds a stale file listing
    edges = TableStore(result["root"]).read(spark, "edges")
    kinds = {
        r.relationship_name
        for r in edges.where(F.col("edge_kind") == "structural")
        .select("relationship_name").distinct().collect()
    }
    assert kinds == {"is_a", "exists_in", "mentioned_in"}
