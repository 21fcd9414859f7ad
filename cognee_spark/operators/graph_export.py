"""Portable graph export — the reference's Cypher emitter
(cognee/modules/migration/formats.py:103-145) re-expressed as distributed
line rendering.

The reference collects the ENTIRE graph to the driver (``get_graph_data()``
returns every node and edge as Python tuples) and writes one file with a
Python loop — the exact pattern that cannot export a 10^12-edge graph. Here
:func:`cypher_lines` is a per-row whole-stage-codegen string projection:
every node and edge renders its own Cypher line JVM-side, and a writer can
stream part files in parallel (``df.write.text``). Driver work is O(1): the
script header.

String escaping stays JVM-side too: JSON quoting comes from ``to_json``
(:func:`json_quote` — a value wrapped in a 1-element array, brackets
stripped).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Edge properties that are internal bookkeeping (formats.py:18).
SKIP_EDGE_KEYS = ("source_node_id", "target_node_id")
# Shared Cypher label so edge MATCHes are index-backed (formats.py:109).
SHARED_LABEL = "CogneeNode"


def json_quote(col: Column) -> Column:
    """A string value → its JSON-quoted escaped literal (json.dumps twin).

    ``to_json(array(col))`` yields ``["escaped"]``; stripping the brackets
    leaves the quoted scalar. Matches json.dumps for ASCII; non-ASCII stays
    raw UTF-8 where json.dumps would \\u-escape (both are valid JSON/Cypher)."""
    arr = F.to_json(F.array(col))
    return arr.substr(F.lit(2), F.length(arr) - 2)


def _cypher_label(col: Column) -> Column:
    """_cypher_label (formats.py:103-105): strip to [A-Za-z0-9_], 'Node' if empty."""
    cleaned = F.regexp_replace(F.coalesce(col, F.lit("Node")), "[^A-Za-z0-9_]", "")
    return F.when(cleaned == "", F.lit("Node")).otherwise(cleaned)


def _prop_cols(df: DataFrame, exclude: tuple[str, ...]) -> list[str]:
    return [c for c in df.columns if c not in exclude]



def cypher_lines(nodes: DataFrame, edges: DataFrame) -> dict:
    """Cypher MERGE script (write_cypher, formats.py:112-144): every node gets
    the shared :CogneeNode label plus its sanitized type as a secondary
    label; per-edge MATCHes are index lookups via the up-front id index."""
    header = [
        "// Cognee graph export — load with cypher-shell or neo4j browser",
        f"CREATE INDEX IF NOT EXISTS FOR (n:{SHARED_LABEL}) ON (n.id);",
    ]

    def props_map(df: DataFrame, cols: list[str], extra: dict[str, Column]) -> Column:
        parts: list[Column] = []
        for key, value in extra.items():
            parts.append(
                F.concat(F.lit(f"`{key}`: "), json_quote(value.cast("string")))
            )
        for c in cols:
            safe = "".join(ch for ch in c if ch.isalnum() or ch == "_") or "prop"
            value = F.col(c)
            numeric = df.schema[c].dataType.simpleString() in (
                "tinyint", "smallint", "int", "bigint", "float", "double", "boolean"
            )
            literal = value.cast("string") if numeric else json_quote(value.cast("string"))
            parts.append(
                F.when(
                    value.isNotNull(), F.concat(F.lit(f"`{safe}`: "), literal)
                )
            )
        joined = F.array_join(
            F.filter(F.array(*parts), lambda x: x.isNotNull()), ", "
        )
        return F.concat(F.lit("{"), joined, F.lit("}"))

    node_cols = [c for c in _prop_cols(nodes, ()) if c != "id"]
    node_line = F.concat(
        F.lit(f"MERGE (n:{SHARED_LABEL} {{id: "),
        json_quote(F.col("id").cast("string")),
        F.lit("}) SET n:`"),
        _cypher_label(F.col("type") if "type" in nodes.columns else F.lit("Node")),
        F.lit("`, n += "),
        props_map(nodes, node_cols, {"id": F.col("id")}),
        F.lit(";"),
    )
    edge_cols = [
        c
        for c in _prop_cols(edges, ("source_id", "target_id", "relationship_name"))
        if c not in SKIP_EDGE_KEYS
    ]
    edge_line = F.concat(
        F.lit(f"MATCH (a:{SHARED_LABEL} {{id: "),
        json_quote(F.col("source_id").cast("string")),
        F.lit(f"}}), (b:{SHARED_LABEL} {{id: "),
        json_quote(F.col("target_id").cast("string")),
        F.lit("}) MERGE (a)-[r:`"),
        _cypher_label(F.col("relationship_name")),
        F.lit("`]->(b) SET r += "),
        props_map(edges, edge_cols, {}),
        F.lit(";"),
    )
    return {
        "header": header,
        "nodes": nodes.select(node_line.alias("line")),
        "edges": edges.select(edge_line.alias("line")),
        "footer": [],
    }
