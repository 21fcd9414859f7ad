"""Coding-rules extraction + retrieval (coding_rule_associations.py +
coding_rules_retriever.py semantics): grammar double, llm seam, nodeset
scoping, deterministic rule ids, origin edges, dispatch routing."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from cognee_spark.functions.ids import NAMESPACE_OID
from cognee_spark.operators.coding_rules import (
    RULES_NODESET,
    existing_rules,
    extract_rules,
)


def _chats(spark):
    return spark.createDataFrame(
        [
            ("c1", "the merge join is fast merge while scan is slow scan today"),
            ("c2", "fast merge again and also fast hash"),
        ],
        ["chat_id", "text"],
    )


def test_grammar_double_extracts_and_dedups(spark):
    rules = extract_rules(_chats(spark))
    got = {r.rule for r in rules.collect()}
    assert got == {"prefer merge (fast)", "prefer scan (slow)", "prefer hash (fast)"}
    # deterministic uuid5 identity (DuckDB oracle drops it; pinned here)
    row = rules.where(F.col("rule") == "prefer merge (fast)").first()
    assert row.rule_id == str(uuid.uuid5(NAMESPACE_OID, "Rule:prefer merge (fast)"))
    assert row.node_set == RULES_NODESET


def test_grammar_double_is_pure_codegen(spark):
    plan = extract_rules(_chats(spark))._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_llm_seam_is_batched_and_fails_open(spark):
    def llm(kind, prompt):
        assert kind == "extract_rules"
        if "broken" in prompt:
            return "not json"  # malformed → that chat drops, others survive
        return '["always pin versions", "never shadow builtins"]'

    chats = spark.createDataFrame(
        [("c1", "good chat"), ("c2", "broken chat")], ["chat_id", "text"]
    )
    rules = extract_rules(chats, llm=llm)
    plan = rules._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    got = {r.rule for r in rules.collect()}
    assert got == {"always pin versions", "never shadow builtins"}


def test_existing_rules_scopes_to_nodesets(spark):
    rules = spark.createDataFrame(
        [
            ("r1", "always a", RULES_NODESET),
            ("r2", "always b", "other_set"),
            ("r3", "always c", RULES_NODESET),
        ],
        ["rule_id", "rule", "node_set"],
    )
    got = [r.rule for r in existing_rules(rules).collect()]
    assert got == ["always a", "always c"]  # default nodeset, rule-sorted
    both = {r.rule for r in existing_rules(rules, [RULES_NODESET, "other_set"]).collect()}
    assert both == {"always a", "always b", "always c"}


def test_dispatch_routes_coding_rules(spark):
    from cognee_spark.search import UnsupportedSearchType, search

    rules = extract_rules(_chats(spark))
    tables = {"rules": rules}
    got = [r.rule for r in search(spark, tables, "CODING_RULES", "ignored query").collect()]
    assert got == ["prefer hash (fast)", "prefer merge (fast)", "prefer scan (slow)"]
    with pytest.raises(UnsupportedSearchType):
        search(spark, {}, "CODING_RULES", "q")
