"""Chunk-association edges (operators/associations.py) vs the reference's
create_chunk_associations task (cognee/tasks/chunks/
create_chunk_associations.py:74-232)."""

from __future__ import annotations

import json

import pytest

from cognee_spark.operators.associations import (
    compare_chunk_pairs,
    create_chunk_associations,
    reference_association_transport,
)


def _corpus(spark):
    # two near-identical vectors (c1, c2), one orthogonal (c3), one too
    # short to qualify (c4 shares c1's vector but fails min_chunk_length)
    chunks = spark.createDataFrame(
        [
            ("c1", "spark joins shuffle data across partitions"),
            ("c2", "spark joins shuffle data across executors"),
            ("c3", "completely unrelated words about gardening"),
            ("c4", "tiny"),
        ],
        "chunk_id string, text string",
    )
    emb = spark.createDataFrame(
        [
            ("c1", [1.0, 0.05, 0.0, 0.0]),
            ("c2", [1.0, 0.0, 0.05, 0.0]),
            ("c3", [0.0, 0.0, 0.0, 1.0]),
            ("c4", [1.0, 0.05, 0.0, 0.0]),
        ],
        "chunk_id string, embedding array<double>",
    )
    return chunks, emb


def test_associated_with_edges_carry_reference_properties(spark):
    chunks, emb = _corpus(spark)
    out = create_chunk_associations(
        chunks, emb, similarity_threshold=0.5, candidate_threshold=0.9, dim=4
    )
    edges = out["edges"].collect()
    # only (c1, c2) passes: cosine ~1 (candidate), 5/7 tokens shared
    # (verdict); c4 is filtered by min_chunk_length BEFORE candidates
    assert len(edges) == 1
    e = edges[0]
    assert (e.source_node_id, e.target_node_id) == ("c1", "c2")
    assert e.relationship_name == "associated_with"
    assert e.weight == pytest.approx(5 / 7, abs=1e-9)  # = similarity_score
    assert e.association_type == "topical"
    assert e.ontology_valid is False
    assert e.reasoning == "token-overlap heuristic"
    # deterministic edge id: replays produce the same id (upsert, L2/L6)
    again = create_chunk_associations(
        chunks, emb, similarity_threshold=0.5, candidate_threshold=0.9, dim=4
    )["edges"].first()
    assert again.edge_object_id == e.edge_object_id


def test_similarity_threshold_gates_edges(spark):
    chunks, emb = _corpus(spark)
    out = create_chunk_associations(
        chunks, emb, similarity_threshold=0.9, candidate_threshold=0.9, dim=4
    )
    # the pair still surfaces as a candidate + verdict but no edge clears 0.9
    assert out["pairs"].count() == 1
    assert out["edges"].count() == 0


def test_transport_failure_yields_reference_fallback(spark):
    chunks, emb = _corpus(spark)

    def broken(request: str) -> str:
        raise RuntimeError("LLM down")

    out = create_chunk_associations(
        chunks, emb, transport=broken,
        similarity_threshold=0.5, candidate_threshold=0.9, dim=4,
        max_retries=1, backoff_sec=0.0,
    )
    v = out["verdicts"].first()
    # create_chunk_associations.py:68-71 — are_similar False, score 0.0
    assert v.are_similar is False and v.similarity_score == 0.0
    assert v.reasoning == "LLM error"
    assert out["edges"].count() == 0


def test_bad_scores_and_missing_pairs_fall_back(spark):
    pairs = spark.createDataFrame(
        [("a1", "b1", "x y", "x z"), ("a2", "b2", "p q", "p r")],
        "a string, b string, text_a string, text_b string",
    )

    def partial(request: str) -> str:
        batch = json.loads(request)["batch"]
        results = []
        for item in batch:
            if item["chunk_1"] == "x y":
                results.append({
                    "pair_id": item["pair_id"], "are_similar": True,
                    "similarity_score": 7.5,  # out of [0,1] → pydantic reject
                    "reasoning": "bad", "association_type": "topical",
                })
            # the (a2, b2) pair omitted → fallback; plus one hallucinated
            # id (never issued) → dropped
        results.append({
            "pair_id": "999", "are_similar": True,
            "similarity_score": 1.0, "reasoning": "?", "association_type": "t",
        })
        return json.dumps({"results": results})

    got = {(r.a, r.b): r for r in compare_chunk_pairs(pairs, partial).collect()}
    assert set(got) == {("a1", "b1"), ("a2", "b2")}  # hallucinated id gone
    assert all(not v.are_similar and v.similarity_score == 0.0
               and v.reasoning == "LLM error" for v in got.values())


def test_top_k_restricts_to_each_sides_best(spark):
    # hub h is near x, y, z; x/y/z are not near each other. k=1 keeps only
    # each side's best pair — but a pair survives if EITHER endpoint ranks
    # it (reference admits pairs found from either search, :180-199)
    chunks = spark.createDataFrame(
        [(i, f"text body {i} with words") for i in ("h", "x", "y", "z")],
        "chunk_id string, text string",
    )
    # x/y/z each deviate from the hub on a DIFFERENT axis, so every spoke
    # is closer to h (cos ~0.989) than to any other spoke (cos ~0.978)
    emb = spark.createDataFrame(
        [
            ("h", [1.0, 0.0, 0.0, 0.0]),
            ("x", [1.0, 0.15, 0.0, 0.0]),
            ("y", [1.0, 0.0, 0.15, 0.0]),
            ("z", [1.0, 0.0, 0.0, 0.15]),
        ],
        "chunk_id string, embedding array<double>",
    )
    base = create_chunk_associations(
        chunks, emb, similarity_threshold=2.0, candidate_threshold=0.9, dim=4
    )["pairs"]
    topped = create_chunk_associations(
        chunks, emb, similarity_threshold=2.0, candidate_threshold=0.9, dim=4,
        top_k_candidates=1,
    )["pairs"]
    all_pairs = {(r.a, r.b) for r in base.collect()}
    kept = {(r.a, r.b) for r in topped.collect()}
    assert all_pairs == {("h", "x"), ("h", "y"), ("h", "z"),
                         ("x", "y"), ("x", "z"), ("y", "z")}
    # every spoke's best is h; h's best is a three-way cosine tie broken
    # by id ("x") → the either-endpoint rule keeps every h-pair and drops
    # all spoke-spoke cross pairs
    assert kept == {("h", "x"), ("h", "y"), ("h", "z")}


def test_transport_double_is_pure_and_jaccard(spark):
    req = json.dumps({
        "model": "chunk-associator",
        "batch": [{"pair_id": "p", "chunk_1": "A b  c", "chunk_2": "b c d"}],
    })
    r1 = json.loads(reference_association_transport(req))["results"][0]
    r2 = json.loads(reference_association_transport(req))["results"][0]
    assert r1 == r2
    assert r1["similarity_score"] == 0.5  # {a,b,c} vs {b,c,d}: 2/4
    assert r1["are_similar"] is True and r1["association_type"] == "topical"


def test_pipe_bearing_chunk_ids_do_not_cross_wire(spark):
    # ids are arbitrary caller strings: ('a|b','c') and ('a','b|c') must get
    # independent verdicts (a content-derived "a|b|c" key would collide and
    # drop or cross-wire one pair's verdict)
    pairs = spark.createDataFrame(
        [("a|b", "c", "x y", "x y"), ("a", "b|c", "p q", "r s")],
        "a string, b string, text_a string, text_b string",
    ).coalesce(1)
    got = {(r.a, r.b): r for r in
           compare_chunk_pairs(pairs, reference_association_transport).collect()}
    assert set(got) == {("a|b", "c"), ("a", "b|c")}
    assert got[("a|b", "c")].similarity_score == 1.0   # identical texts
    assert got[("a", "b|c")].similarity_score == 0.0   # disjoint texts


def test_transport_tokenizer_matches_re2_whitespace():
    # NBSP is NOT whitespace to RE2/DuckDB string_split_regex('\s+'): the
    # double must keep NBSP-joined tokens whole or the oracle diverges
    req = json.dumps({
        "model": "chunk-associator",
        "batch": [{
            "pair_id": "0",
            "chunk_1": "foo\u00a0bar baz",
            "chunk_2": "foo\u00a0bar qux",
        }],
    })
    r = json.loads(reference_association_transport(req))["results"][0]
    assert r["similarity_score"] == pytest.approx(1 / 3, abs=1e-9)


def test_associate_registered_as_custom_task(spark, tmp_path):
    # the reference runs create_chunk_associations as a pipeline task; the
    # registry exposes it for run_custom_pipeline's List[str] form
    from cognee_spark.pipeline import run_custom_pipeline

    chunks, emb = _corpus(spark)
    data = chunks.join(emb, "chunk_id")
    out = run_custom_pipeline(
        spark, ["associate"], data, str(tmp_path), signature="assoc-test"
    )
    edges = out["result"]
    assert edges.count() == 1
    e = edges.first()
    assert e.relationship_name == "associated_with"
    assert e.weight == pytest.approx(5 / 7, abs=1e-9)
