"""Memory-store migration: loader translation and the Cypher emitter.

Reference semantics under test: cognee/modules/migration/loader.py:156-353
(merge/resolve/stub/skip/dedup) and formats.py:103-145 (Cypher emitter)."""

from __future__ import annotations

from cognee_spark.functions.ids import id_for_py
from cognee_spark.operators import graph_export as X
from cognee_spark.operators import migration as M
from cognee_spark.sources import memory_stores as S


def _by(rows, key):
    return {getattr(r, key): r for r in rows}


# --------------------------------------------------------------------------
# loader translation
# --------------------------------------------------------------------------


def _entity(system, ext_id, seq, name, desc=None, etype=None, aliases=None):
    return ("entity", system, ext_id, seq, name, desc, etype, aliases)


def _fact(system, ext_id, seq, s, p, o, text=None):
    return ("fact", system, ext_id, seq, s, p, o, text)


_ENT_SCHEMA = (
    "kind string, external_system string, external_id string, seq long, "
    "name string, description string, entity_type string, aliases array<string>"
)
_FACT_SCHEMA = (
    "kind string, external_system string, external_id string, seq long, "
    "subject_ref string, predicate string, object_ref string, fact_text string"
)


def test_entity_merge_first_wins_and_description_append(spark):
    ents = S._finish(spark.createDataFrame(
        [
            _entity("zep", "e1", 0, "Alice", "a person", "Person", ["Al"]),
            _entity("zep", "e2", 1, "Alice", "a person"),        # contained → skipped
            _entity("zep", "e3", 2, "Alice", "drinks tea"),      # appended
            _entity("zep", "e4", 3, "Alice", None, "Human"),     # type already set
        ],
        _ENT_SCHEMA,
    ))
    out = M.graph_tables(ents)
    [node] = out["nodes"].collect()
    assert node.name == "Alice"
    assert node.description == "a person Also known as: Al.\ndrinks tea\nAlice"
    # first non-null entity_type wins (loader.py:199-200 fills only when missing)
    types = out["entity_types"].collect()
    assert [t.name for t in types] == ["Person"]
    assert node.is_a_id == types[0].id
    assert node.id == id_for_py("Entity", "Alice")


def test_fact_resolution_stub_skip_dedup(spark):
    uuid_miss = "123e4567-e89b-42d3-a456-426614174000"
    ents = spark.createDataFrame(
        [_entity("zep", "e1", 0, "Alice"), _entity("zep", "e2", 1, "TeaCo")],
        _ENT_SCHEMA,
    )
    facts = spark.createDataFrame(
        [
            _fact("zep", "f1", 100, "e1", "works_at", "e2"),        # by external id
            _fact("zep", "f2", 101, "Alice", "works_at", "TeaCo"),  # by name → DEDUPED (same key as f1)
            _fact("zep", "f3", 102, "e1", "likes", "Green Tea"),    # plain-name stub
            _fact("zep", "f4", 103, "e1", "knows", uuid_miss),      # uuid miss → skipped
        ],
        _FACT_SCHEMA,
    )
    out = M.graph_tables(S._finish(ents).unionByName(S._finish(facts)))
    stats = out["stats"].first()
    assert stats.skipped_facts == 1 and stats.deduped_edges == 1
    edges = {(e.relationship_name, e.source_external_id) for e in out["edges"].collect()}
    assert edges == {("works_at", "f1"), ("likes", "f3")}
    nodes = _by(out["nodes"].collect(), "name")
    assert "Green Tea" in nodes and nodes["Green Tea"].description == "Green Tea"
    assert nodes["Green Tea"].id == id_for_py("Entity", "Green Tea")


def test_preserve_source_ids_keeps_uuid_external_ids(spark):
    u1 = "00000000-0000-5000-8000-000000000001"
    u2 = "00000000-0000-5000-8000-000000000002"
    ents = spark.createDataFrame(
        [_entity("cognee", u1, 0, "Alice"), _entity("cognee", u2, 1, "Alice")],
        _ENT_SCHEMA,
    )
    out = M.graph_tables(S._finish(ents), preserve_source_ids=True)
    ids = sorted(n.id for n in out["nodes"].collect())
    # same-named but distinct source entities stay distinct (loader.py:170-175)
    assert ids == [u1, u2]


# --------------------------------------------------------------------------
# Cypher export
# --------------------------------------------------------------------------


def _small_graph(spark):
    nodes = spark.createDataFrame(
        [
            ("00000000-0000-5000-8000-00000000000a", "Alice & Co", "a <person>", "Entity"),
            ("00000000-0000-5000-8000-00000000000b", "TeaCo", 'say "hi"', "Entity"),
            ("00000000-0000-5000-8000-00000000000c", "chunk-1", None, "DocumentChunk"),
        ],
        "id string, name string, description string, type string",
    )
    edges = spark.createDataFrame(
        [
            (
                "00000000-0000-5000-8000-00000000000a",
                "00000000-0000-5000-8000-00000000000b",
                "works_at",
                "Alice works at TeaCo",
            )
        ],
        "source_id string, target_id string, relationship_name string, edge_text string",
    )
    return nodes, edges


def test_cypher_lines_shape(spark):
    nodes, edges = _small_graph(spark)
    parts = X.cypher_lines(nodes, edges)
    node_lines = sorted(r.line for r in parts["nodes"].collect())
    assert node_lines[0].startswith(
        'MERGE (n:CogneeNode {id: "00000000-0000-5000-8000-00000000000a"}) SET n:`Entity`, n += '
    )
    # double quotes inside a property value are JSON-escaped
    assert '\\"hi\\"' in node_lines[1]
    [edge_line] = [r.line for r in parts["edges"].collect()]
    assert "MERGE (a)-[r:`works_at`]->(b)" in edge_line
    assert "CREATE INDEX IF NOT EXISTS" in parts["header"][1]
