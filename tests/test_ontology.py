"""Ontology import + alias rewrite (L4 proper).

The reference resolves extracted entities against an RDF ontology — exact
label match, then fuzzy (difflib cutoff 0.8) — rewriting entity identity to
the canonical ontology individual and importing its is_a ancestor chain
(RDFLibOntologyResolver.py:267-337, matching_strategies.py:23-53,
expand_with_nodes_and_edges.py name_mapping). Fixture gate: a typo'd surface
form must resolve to the ontology individual and gain its ancestors.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cognee_spark.operators.linking import alias_map, nl_triples, ontology_is_a_triples
from cognee_spark.sources.corpus import nl_variant


@pytest.fixture(scope="module")
def ontology(spark):
    # (surface label, canonical individual, is_a parent)
    return spark.createDataFrame(
        [
            ("Postgres Database", "PostgresDatabase", "RelationalDatabase"),
            ("MySQL Database", "MySQLDatabase", "RelationalDatabase"),
            ("RelationalDatabase", "RelationalDatabase", "Database"),
            ("Database", "Database", None),
        ],
        ["name", "canonical", "parent"],
    )


def _mentions(spark, names):
    return spark.createDataFrame([(n,) for n in names], ["name"])


def test_exact_and_fuzzy_ontology_match(spark, ontology):
    names = [
        "postgres database",   # exact after match_key normalization
        "Postgres-Database",   # exact (separators stripped)
        "Postgres Databse",    # typo → fuzzy (ratio >= 0.8)
        "Kafka Queue",         # no ontology hit → self-cluster path
        "kafka queue",         # merges with the line above by match key
    ]
    mapping = {r.name: r.canonical for r in alias_map(_mentions(spark, names), ontology=ontology).collect()}
    assert mapping["postgres database"] == "postgresdatabase"
    assert mapping["Postgres-Database"] == "postgresdatabase"
    assert mapping["Postgres Databse"] == "postgresdatabase"  # typo rewritten
    assert mapping["Kafka Queue"] == mapping["kafka queue"]  # corpus merge intact
    assert mapping["Kafka Queue"] != "postgresdatabase"


# test_exact_and_fuzzy_ontology_match's names, plus every surface form of
# the corpus's NL entities: real typo clusters (one dropped character)
_PARITY_NAMES = [
    "postgres database", "Postgres-Database", "Postgres Databse", "Kafka Queue",
    "kafka queue",
] + sorted({nl_variant(i, v) for i in range(48) for v in range(5)})


@pytest.mark.parametrize("with_ontology", [False, True], ids=["bare", "ontology"])
def test_alias_paths_agree_with_golden(spark, ontology, monkeypatch, with_ontology):
    """The driver pass and the distributed path give one mapping, and the
    self-clustered names map as the independent oracle maps them."""
    from cognee_spark.operators import linking
    from cognee_spark.sources.golden import cluster_aliases

    onto = ontology if with_ontology else None

    def mapping():
        frame = alias_map(_mentions(spark, _PARITY_NAMES), ontology=onto)
        return {r.name: r.canonical for r in frame.collect()}

    driver = mapping()
    monkeypatch.setattr(linking, "DRIVER_NAME_BOUND", 0)
    assert mapping() == driver
    assert len(set(driver.values())) < len(driver)  # typo clusters merged
    onto_canonicals = {"postgresdatabase", "mysqldatabase", "relationaldatabase", "database"}
    rest = {n for n, c in driver.items() if c not in onto_canonicals}
    assert {n: driver[n] for n in rest} == cluster_aliases(rest)
    assert (len(rest) < len(driver)) == with_ontology


def test_ontology_ancestors_imported(spark, ontology):
    raw = spark.createDataFrame(
        [("Postgres Databse", "uses", "Kafka Queue", "nl", "r", "p", "md", "c", "s")],
        ["src", "rel", "dst", "mode", "repo", "path", "lang", "chunk_id", "content_sha"],
    )
    mapping = alias_map(
        _mentions(spark, ["Postgres Databse", "Kafka Queue"]), ontology=ontology
    )
    nt = nl_triples(raw, mapping)
    got = {(r.subj, r.pred, r.obj) for r in nt.collect()}
    assert ("postgresdatabase", "uses", "kafka_queue") in got

    ancestors = {
        (r.subj, r.pred, r.obj) for r in ontology_is_a_triples(nt, ontology).collect()
    }
    # matched individual gains its full is_a chain
    assert ("postgresdatabase", "is_a", "relationaldatabase") in ancestors
    assert ("relationaldatabase", "is_a", "database") in ancestors
    # unmatched entity imports nothing
    assert not any(s == "kafka_queue" for s, _p, _o in ancestors)


def test_pipeline_with_ontology(spark, tmp_path):
    """End-to-end: run_pipeline(ontology=...) rewrites NL aliases and commits
    ontology is_a triples."""
    from cognee_spark.pipeline import run_pipeline

    onto = spark.createDataFrame(
        [("Zephyr Service", "ZephyrOntologyService", "CloudService"),
         ("CloudService", "CloudService", None)],
        ["name", "canonical", "parent"],
    )
    repos = spark.createDataFrame(
        [("org0/repo0", "docs/a.md", "c0", "md",
          "ZephyrService uses QuokkaRegistry.\nzephyr service extends MapleHub.\n")],
        ["repo", "path", "commit", "lang", "content"],
    )
    out = run_pipeline(
        spark, repos, str(tmp_path / "store"), "onto-fixture",
        compute_metrics=False, with_summaries=False, with_index=False,
        ontology=onto,
    )
    triples = {(r.subj, r.pred, r.obj) for r in out["tables"]["triples"].collect()}
    assert ("zephyrontologyservice", "uses", "quokkaregistry") in triples
    assert ("zephyrontologyservice", "extends", "maplehub") in triples
    assert ("zephyrontologyservice", "is_a", "cloudservice") in triples


def test_ontology_fingerprint_is_multiplicity_sensitive(spark):
    """Round-3 ADVICE: a plain xor of per-row hashes cancels even-multiplicity
    rows pairwise ({A,A,B,B} vs {C,C,D,D} → same signature → stale-table
    reuse). The fingerprint must distinguish content AND multiplicity, and
    which column holds a null, and must not depend on column order. The
    ontology fingerprint is the content signature, so both are pinned."""
    from cognee_spark.pipeline import _ontology_fingerprint, content_signature

    cols = "name string, canonical string, parent string"
    a = ("A", "A", None)
    b = ("B", "B", None)
    c = ("C", "C", None)
    d = ("D", "D", None)
    for sign in (_ontology_fingerprint, content_signature):
        fp = lambda rows: sign(spark.createDataFrame(rows, cols))
        # the xor-cancellation pair: both all-even multiplicities, same n
        assert fp([a, a, b, b]) != fp([c, c, d, d])
        # multiplicity change alone must change the fingerprint
        assert fp([a, b]) != fp([a, a, b, b])
        assert fp([a, a, b]) != fp([a, b, b])
        # order-free: same multiset → same fingerprint
        assert fp([a, b, a]) == fp([a, a, b])
        assert fp([a, b]) == fp([b, a])
        # a value moving between a null and a non-null column (hash
        # functions that skip nulls collide here)
        assert fp([("x", None, None)]) != fp([(None, "x", None)])
        # the frame's column order is not part of its content
        df = spark.createDataFrame([a, b, ("x", None, "y")], cols)
        assert sign(df) == sign(df.select("parent", "name", "canonical"))
    df = spark.createDataFrame([a, b], cols)
    assert _ontology_fingerprint(df) == content_signature(df, "ont")
    assert _ontology_fingerprint(None) == "0"
