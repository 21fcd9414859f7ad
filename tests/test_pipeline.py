"""End-to-end pipeline: triple P/R vs oracle, lineage, checkpoint/resume.

FIXTURES.md F5 (P/R >= 0.95 gate — our design target is exactly 1.0),
F1 invariant (content sha256 propagated to every downstream row), and
F6 (kill/resume reproduces identical output without recomputing committed
stages).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cognee_spark.pipeline import run_pipeline
from cognee_spark.sources.corpus import build_repos_df
from cognee_spark.sources.golden import golden_triples
from cognee_spark.store import TableStore

N = 210


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
    for stage in ("entity_aliases", "triples", "mentions", "nodes", "entity_types",
                  "edges", "contains_edges", "edge_type_histogram"):
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


def test_salted_resolution_joins_identical_output(spark, tmp_path):
    """Explicit skew salting of the resolution joins (skew_salts=4) spreads
    hot (repo, name) keys without changing a single emitted triple — over the
    SKEWED corpus where the hot key actually exists."""
    repos = build_repos_df(spark, N, skew="mega")
    plain = run_pipeline(
        spark, repos, str(tmp_path / "plain"), f"sk:{N}",
        compute_metrics=False, with_summaries=False, with_index=False,
    )
    salted = run_pipeline(
        spark, repos, str(tmp_path / "salted"), f"sk:{N}",
        compute_metrics=False, with_summaries=False, with_index=False,
        skew_salts=4,
    )
    assert _triple_set(plain["tables"]["triples"]) == _triple_set(
        salted["tables"]["triples"]
    )
