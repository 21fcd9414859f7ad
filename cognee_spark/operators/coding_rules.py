"""Coding-rules retrieval and association — the reference's
CodingRulesRetriever (cognee/modules/retrieval/coding_rules_retriever.py:
11-38) and the rule-association task (cognee/tasks/codingagents/
coding_rule_associations.py:37-160).

Semantics being matched:

- rules live in the graph as Rule datapoints tagged with a NodeSet
  (default ``coding_agent_rules``); the retriever ignores the query text
  and returns EVERY rule text in the requested nodeset(s)
  (get_existing_rules: nodeset subgraph → node["text"])
- ``add_rule_associations`` extracts new rules from a chat transcript with
  an LLM structured-output call (RuleSet{rules}), shows the existing rules
  in the prompt so the model doesn't re-propose them, ids each rule
  deterministically, and tags it with the nodeset

Spark re-expression: rules are one tall (rule_id, rule, node_set) table —
retrieval is a nodeset-pruned scan; extraction is the engine's usual
llm-seam shape (a deterministic grammar in pure codegen by default, a
batched mapInPandas transport when an ``llm`` is plugged)."""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cognee_spark.functions.ids import uuid5_col

RULES_NODESET = "coding_agent_rules"

# the deterministic extraction double: a "rule" is any (fast|slow) <word>
# performance observation in the chat, rendered as an imperative guideline —
# stands in for the curator LLM exactly like extraction.extract_nl stands in
# for graph extraction (same grammar both in codegen and in the test oracle)
RULE_PATTERN = r"\\b(fast|slow) (\\w+)"


def rule_id_col(rule_col):
    """Deterministic rule identity: uuid5("Rule:{text}") — the reference ids
    Rule datapoints through DataPoint uuid machinery; deterministic ids make
    the add an upsert by construction."""
    return uuid5_col(F.concat(F.lit("Rule:"), rule_col))


def existing_rules(
    rules: DataFrame,
    nodeset_names: list[str] | None = None,
) -> DataFrame:
    """All rule texts in the requested nodesets (get_existing_rules /
    CodingRulesRetriever.get_retrieved_objects): a nodeset-pruned scan —
    write the rules table partitioned by node_set and this never touches
    other sets. Query text plays no part, matching the reference."""
    names = nodeset_names or [RULES_NODESET]
    return (
        rules.where(F.col("node_set").isin(*names))
        .select("rule_id", "rule", "node_set")
        .orderBy("rule")
    )


def extract_rules(
    chats: DataFrame,
    nodeset_name: str = RULES_NODESET,
    llm=None,
    text_col: str = "text",
) -> DataFrame:
    """Chat transcripts → deduplicated (rule_id, rule, node_set) rows.

    Default path is the deterministic grammar in PURE CODEGEN
    (regexp_extract_all → explode → distinct): "{fast|slow} {word}" becomes
    "prefer {word} ({fast|slow})". With ``llm(kind, prompt) -> json`` the
    extraction becomes a batched executor-side transport (the context-index
    /llm.py shape): one call per chat batch returning a JSON array of rule
    strings; malformed responses drop only their own chat (fail-open)."""
    if llm is None:
        # idx 0 = the FULL match (Spark defaults to group 1; DuckDB to 0)
        matches = chats.select(
            F.explode(
                F.expr(f"regexp_extract_all({text_col}, '{RULE_PATTERN}', 0)")
            ).alias("m")
        )
        parts = F.split(F.col("m"), " ")
        rule = F.concat(
            F.lit("prefer "), F.element_at(parts, 2),
            F.lit(" ("), F.element_at(parts, 1), F.lit(")"),
        )
        rules = matches.select(rule.alias("rule")).distinct()
    else:
        import pandas as pd

        def run(batches):
            for pdf in batches:
                out = []
                for text in pdf[text_col]:
                    try:
                        proposed = json.loads(
                            llm("extract_rules", f"Extract coding rules from: {text}")
                        )
                        out.extend(str(r) for r in proposed if str(r).strip())
                    except Exception:
                        continue  # fail-open per chat, reference behavior
                yield pd.DataFrame({"rule": out})

        rules = (
            chats.select(text_col)
            .mapInPandas(run, "rule string")
            .distinct()
        )
    return rules.select(
        rule_id_col(F.col("rule")).alias("rule_id"),
        "rule",
        F.lit(nodeset_name).alias("node_set"),
    )
