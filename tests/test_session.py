"""The session's codegen cache holds one cognify's working set, and driver
rows cross into the JVM through Arrow.

``get_spark`` sizes ``spark.sql.codegen.cache.maxEntries`` above the ~351
classes one cognify + search cycle generates (session.py). At Spark's
default of 100 the cache evicted every class before its reuse, and a second
identical cognify in the same session recompiled ~270 classes; with the
working set cached it compiles a handful.

Every site that builds a frame from driver-side rows goes through
``session.row_frame``, so its plan is a ``LocalRelation``. A ``LogicalRDD``
in the optimized plan means a Python RDD ships the rows instead.
"""

from __future__ import annotations

import pytest

from cognee_spark.pipeline import run_pipeline
from cognee_spark.session import row_frame
from cognee_spark.sources.corpus import build_repos_df

N = 40
# measured: 2-12 compiles on a warm rerun at 2,000 entries, 265-275 at 100
MAX_WARM_COMPILES = 40
# entity_aliases: the names collect and the alias write
MAX_ALIAS_JOBS = 4


def test_codegen_cache_holds_the_working_set(spark):
    entries = spark.sparkContext.getConf().get("spark.sql.codegen.cache.maxEntries")
    assert int(entries) >= 400


def test_second_identical_cognify_compiles_almost_nothing(spark, tmp_path):
    corpus = str(tmp_path / "corpus")
    build_repos_df(spark, N).write.parquet(corpus)
    repos = spark.read.parquet(corpus)

    def cognify(name: str) -> list[dict]:
        out = run_pipeline(
            spark, repos, str(tmp_path / name), f"synthetic:{N}",
            compute_metrics=False, force=True,
        )
        return out["metrics"]["stages"]

    cold = cognify("first")
    assert all("codegen_compiles" in c for c in cold)
    warm = cognify("second")
    assert {c["stage"] for c in warm} == {c["stage"] for c in cold}
    assert all(c["codegen_compiles"] >= 0 for c in warm)
    assert sum(c["codegen_compiles"] for c in warm) <= MAX_WARM_COMPILES
    aliases = next(c for c in warm if c["stage"] == "entity_aliases")
    # one collect of the names and the write: nothing left to compile
    assert aliases["codegen_compiles"] == 0
    assert all(c["spark_jobs"] >= 1 for c in cold + warm)
    assert aliases["spark_jobs"] <= MAX_ALIAS_JOBS


def _recall_dict(spark):
    from cognee_spark.recall import normalize_search_results

    return normalize_search_results("GRAPH_COMPLETION", {"answer": "a"}, spark=spark)


def _recall_list(spark):
    from cognee_spark.recall import normalize_search_results

    return normalize_search_results("GRAPH_COMPLETION", ["a", "b"], spark=spark)


def _context_index_root(spark):
    from cognee_spark.operators.context_index import build_context_index

    summaries = row_frame(spark, [("s1", "alpha"), ("s2", "beta")], "summary_id string, summary string")
    out = build_context_index(spark, summaries, llm=lambda kind, rendered: "root")
    return out["buckets"]


def _visualization_seeds(spark):
    from cognee_spark.operators.visualization import resolve_seed_ids

    edges = row_frame(spark, [("a", "b")], "source_node_id string, target_node_id string")
    frame, source = resolve_seed_ids(edges, seed_node_ids=["b", "a", "b"])
    assert source == "explicit"
    return frame


def _truth_centroids(spark):
    from cognee_spark.operators.truth import build_truth_subspace

    learnings = row_frame(spark, [("Always batch LLM calls.",)], "statement string")
    nodes = row_frame(spark, [("n1", "batch the llm calls")], "node_id string, text string")
    return build_truth_subspace(spark, learnings, nodes, dataset_id="d")["centroid_rows"]


def _schema_frames(spark):
    from cognee_spark.sources.relational import ingest_database_schema

    schema = {
        "orders": {"columns": {"id": "int"}, "primary_key": "id", "foreign_keys": [
            {"column": "cust", "ref_table": "customers", "ref_column": "id"}
        ]},
        "customers": {"columns": {"id": "int"}, "primary_key": "id"},
    }
    out = ingest_database_schema(spark, schema)
    empty = ingest_database_schema(spark, {"t": {"columns": {}}})["relationships"]
    return [out["database_schema"], out["schema_tables"], out["relationships"], empty]


def _alias_map(spark):
    from cognee_spark.operators.linking import alias_map

    names = row_frame(spark, [("Maple Hub",), ("maple-hub",), ("MapleHb",)], "name string")
    return alias_map(names)


def _entry_row_frames(spark, query):
    """The frames an ``__spark_entry__`` query builds through row_frame."""
    import __spark_entry__ as entry
    from test_entry_oracle import SF_DIR

    import cognee_spark.session as session

    frames = []

    def recording(*args):
        frames.append(row_frame(*args))
        return frames[-1]

    with pytest.MonkeyPatch.context() as patch:
        patch.setattr(session, "row_frame", recording)
        getattr(entry, query)(spark, SF_DIR)
    assert frames, query
    return frames


def _khop_seeds(spark):
    return _entry_row_frames(spark, "khop_words")


def _kg_search_query(spark):
    return _entry_row_frames(spark, "kg_search")


def _triplet_search_query(spark):
    return _entry_row_frames(spark, "triplet_embedding_topk")


def _distill_qa(spark):
    return _entry_row_frames(spark, "distilled_lessons")


def _cypher_edges(spark):
    return _entry_row_frames(spark, "graph_export_cypher")


def _query_frame(spark):
    from cognee_spark.search import _query_frame

    return _query_frame(spark, "who calls the parser?")


@pytest.mark.parametrize(
    "site",
    [
        _recall_dict, _recall_list, _context_index_root, _visualization_seeds,
        _truth_centroids, _schema_frames, _alias_map, _query_frame, _khop_seeds,
        _kg_search_query, _triplet_search_query, _distill_qa, _cypher_edges,
    ],
    ids=lambda f: f.__name__.lstrip("_"),
)
def test_driver_rows_ship_as_local_relation(spark, site):
    frames = site(spark)
    for df in frames if isinstance(frames, list) else [frames]:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" not in plan, plan
        assert "LocalRelation" in plan, plan
