"""Dataset-scoped authorization (cognee_spark/acl.py) vs the reference's
authorized_search / get_document_ids_for_user, plus the search-history ops."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cognee_spark import acl as A
from cognee_spark import search as S
from cognee_spark.functions.ids import id_for_py


def _acl_fixture(spark):
    datasets = spark.createDataFrame(
        [("d1", "alpha", "u1"), ("d2", "beta", "u2"), ("d3", "gamma", "u2")],
        "dataset_id string, name string, owner_id string",
    )
    acl = spark.createDataFrame(
        [
            ("u1", "d1", "read"), ("u1", "d2", "read"), ("u1", "d3", "write"),
            ("u2", "d3", "read"),
        ],
        "principal_id string, dataset_id string, permission string",
    )
    dataset_data = spark.createDataFrame(
        [("d1", "docA"), ("d1", "docB"), ("d2", "docC"), ("d3", "docD")],
        "dataset_id string, document_id string",
    )
    return acl, datasets, dataset_data


def test_readable_datasets_filters_permission_and_intersects_requested(spark):
    acl, datasets, _ = _acl_fixture(spark)
    got = {r.dataset_id for r in A.readable_dataset_ids(acl, datasets, "u1").collect()}
    assert got == {"d1", "d2"}  # write grant on d3 does not read
    got = {
        r.dataset_id
        for r in A.readable_dataset_ids(
            acl, datasets, "u1", dataset_ids=["d2", "d3"]
        ).collect()
    }
    assert got == {"d2"}  # readable ∩ requested, never requested alone


def test_permitted_documents_membership_join(spark):
    acl, datasets, dataset_data = _acl_fixture(spark)
    got = {
        (r.dataset_id, r.document_id)
        for r in A.permitted_documents(acl, datasets, dataset_data, "u1").collect()
    }
    assert got == {("d1", "docA"), ("d1", "docB"), ("d2", "docC")}
    assert A.permitted_documents(
        acl, datasets, dataset_data, "nobody"
    ).count() == 0


def _graph_tables(spark):
    """Two documents in two files; docA's triples mention alice, docB's bob."""
    from cognee_spark.operators.materialize import build_edges

    documents = spark.createDataFrame(
        [
            ("docA", "r1", "a.py", "shaA"),
            ("docB", "r1", "b.py", "shaB"),
            ("docC", "r2", "c.py", "shaC"),
        ],
        "document_id string, repo string, path string, content_sha string",
    )
    chunks = spark.createDataFrame(
        [
            ("chA", "docA", "alice builds engines"),
            ("chB", "docB", "bob rides engines"),
            ("chC", "docC", "carol paints engines"),
        ],
        "chunk_id string, document_id string, text string",
    )
    summaries = spark.createDataFrame(
        [("sA", "chA", "about alice", "docA"), ("sC", "chC", "about carol", "docC")],
        "summary_id string, chunk_id string, summary string, document_id string",
    )
    triples = spark.createDataFrame(
        [
            ("alice", "engine", "builds", "r1", "a.py", "shaA"),
            ("bob", "engine", "rides", "r1", "b.py", "shaB"),
            ("carol", "engine", "paints", "r2", "c.py", "shaC"),
        ],
        "subj string, obj string, pred string, repo string, path string, content_sha string",
    )
    nodes = spark.createDataFrame(
        [
            (id_for_py("Entity", n), n, "person" if n != "engine" else "thing")
            for n in ["alice", "bob", "carol", "engine"]
        ],
        "entity_id string, name string, kind string",
    )
    mentions = spark.createDataFrame(
        [
            ("chA", "alice", "person", "shaA"),
            ("chC", "carol", "person", "shaC"),
        ],
        "chunk_id string, canonical_name string, kind string, content_sha string",
    )
    from cognee_spark.operators.materialize import build_structural_edges

    edges = build_edges(triples, nodes).unionByName(
        build_structural_edges(mentions), allowMissingColumns=True
    )
    embeddings = spark.createDataFrame(
        [
            ("Entity_name", id_for_py("Entity", "alice"), "alice", [1.0]),
            ("Entity_name", id_for_py("Entity", "bob"), "bob", [2.0]),
            ("TextSummary_text", "sA", "about alice", [3.0]),
            ("TextSummary_text", "sC", "about carol", [4.0]),
            ("EntityType_name", id_for_py("EntityType", "person"), "person", [5.0]),
            ("DocumentChunk_text", "chA", "alice builds engines", [7.0]),
            ("DocumentChunk_text", "chC", "carol paints engines", [8.0]),
            ("Mystery_blob", "m1", "??", [6.0]),  # unknown collection
        ],
        "collection string, item_id string, text string, embedding array<double>",
    )
    return {
        "documents": documents, "chunks": chunks, "summaries": summaries,
        "triples": triples, "nodes": nodes, "edges": edges,
        "embeddings": embeddings,
    }


def test_scope_tables_narrows_every_provenance_family(spark):
    tables = _graph_tables(spark)
    permitted = spark.createDataFrame(
        [("d1", "docA"), ("d1", "docB")], "dataset_id string, document_id string"
    )
    scoped = A.scope_tables(tables, permitted)
    assert {r.document_id for r in scoped["documents"].collect()} == {"docA", "docB"}
    assert {r.chunk_id for r in scoped["chunks"].collect()} == {"chA", "chB"}
    assert {r.summary_id for r in scoped["summaries"].collect()} == {"sA"}
    assert {r.subj for r in scoped["triples"].collect()} == {"alice", "bob"}
    # carol's node vanishes; engine survives (it appears in scoped triples)
    assert {r.name for r in scoped["nodes"].collect()} == {"alice", "bob", "engine"}
    # every scoped edge endpoint is a scoped entity, a kind-dictionary node,
    # or a scoped chunk container (exists_in/mentioned_in sources)
    live = (
        {r.entity_id for r in scoped["nodes"].collect()}
        | {id_for_py("EntityType", k) for k in ["person", "thing"]}
        | {r.chunk_id for r in scoped["chunks"].collect()}
    )
    scoped_edges = scoped["edges"].collect()
    for e in scoped_edges:
        assert e.source_node_id in live and e.target_node_id in live
    # alice's container edges survive; carol's chunk chC is out of scope
    rels = {(e.source_node_id, e.relationship_name) for e in scoped_edges}
    assert ("chA", "mentioned_in") in rels and ("chA", "exists_in") in rels
    assert not any(s == "chC" for s, _ in rels)
    emb = {(r.collection, r.item_id) for r in scoped["embeddings"].collect()}
    assert ("Entity_name", id_for_py("Entity", "alice")) in emb
    assert ("TextSummary_text", "sA") in emb
    assert ("TextSummary_text", "sC") not in emb  # carol's summary gone
    assert ("DocumentChunk_text", "chA") in emb  # in-scope chunk vector kept
    assert ("DocumentChunk_text", "chC") not in emb  # carol's chunk vector gone
    assert ("EntityType_name", id_for_py("EntityType", "person")) in emb  # dictionary
    assert not any(c == "Mystery_blob" for c, _ in emb)  # unknown fails CLOSED


def test_scope_tables_full_permit_is_identity(spark):
    tables = _graph_tables(spark)
    permitted = tables["documents"].select(
        F.lit("d").alias("dataset_id"), "document_id"
    )
    scoped = A.scope_tables(tables, permitted)
    for name in ["documents", "chunks", "summaries", "triples", "nodes", "edges"]:
        assert scoped[name].count() == tables[name].count(), name
    # embeddings: everything but the unknown collection survives
    assert scoped["embeddings"].count() == tables["embeddings"].count() - 1


def test_scope_tables_drops_unrecognized_tables(spark):
    tables = _graph_tables(spark)
    tables["secret_side_table"] = spark.createDataFrame(
        [("x",)], "payload string"
    )
    permitted = spark.createDataFrame(
        [("d1", "docA")], "dataset_id string, document_id string"
    )
    assert "secret_side_table" not in A.scope_tables(tables, permitted)


def test_authorized_search_scopes_results_to_readable_datasets(spark):
    tables = _graph_tables(spark)
    acl = spark.createDataFrame(
        [("u1", "d1", "read")], "principal_id string, dataset_id string, permission string"
    )
    datasets = spark.createDataFrame(
        [("d1", "alpha", "u1"), ("d2", "beta", "u2")],
        "dataset_id string, name string, owner_id string",
    )
    dataset_data = spark.createDataFrame(
        [("d1", "docA"), ("d1", "docB"), ("d2", "docC")],
        "dataset_id string, document_id string",
    )
    out = A.authorized_search(
        spark, tables, "CHUNKS_LEXICAL", "engines",
        acl=acl, datasets=datasets, dataset_data=dataset_data,
        principal_id="u1", top_k=10,
    )
    hits = {r.doc_id for r in out["results"].collect()}
    assert hits == {"chA", "chB"}  # carol's chC is not readable
    assert [r.dataset_id for r in out["datasets"].collect()] == ["d1"]


def test_history_interleaves_orders_and_limits(spark):
    queries = spark.createDataFrame(
        [
            ("q1", "what is alice?", "CHUNKS", "u1", "2026-01-01 10:00:00"),
            ("q2", "and bob?", "CHUNKS", "u1", "2026-01-01 10:02:00"),
            ("q3", "hidden", "CHUNKS", "u2", "2026-01-01 10:01:00"),
        ],
        "id string, text string, query_type string, user_id string, created_at string",
    ).withColumn("created_at", F.col("created_at").cast("timestamp"))
    results = spark.createDataFrame(
        [("r1", "alice builds engines", "q1", "u1", "2026-01-01 10:01:00")],
        "id string, value string, query_id string, user_id string, created_at string",
    ).withColumn("created_at", F.col("created_at").cast("timestamp"))
    hist = S.get_history(queries, results, "u1").collect()
    assert [(h.text, h.user) for h in hist] == [
        ("what is alice?", "user"),
        ("alice builds engines", "system"),
        ("and bob?", "user"),
    ]
    assert len(S.get_history(queries, results, "u1", limit=2).collect()) == 2
    assert len(S.get_history(queries, results, "u1", limit=0).collect()) == 3
