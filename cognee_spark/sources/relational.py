"""Relational (dlt-shaped) source — S6 of SURVEY.md §2.1.

The reference ingests dlt-loaded relational rows as DltRowDocument (one
chunk per row, cut_type 'dlt_row', NO LLM extraction —
DltRowDocument.py:9-47) and builds the graph deterministically from the
schema: SchemaTable nodes, SchemaRelationship nodes per foreign key, and
FK-based edges between the Document nodes of related rows
(extract_dlt_fk_edges.py:30-120).

Spark re-expression: a table is already the native shape. FK edges
(:func:`fk_row_edges`) are a join on the key columns between row documents
keyed by a deterministic document id, whole-stage codegen with no Python
and no LLM, and they union into the triples table shape. Schema nodes
(:func:`ingest_database_schema`) are a handful of driver-side rows, because
a schema is dictionary-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cognee_spark.session import row_frame


def row_document_id(table_name: str, key: F.Column) -> F.Column:
    return F.concat(F.lit(f"db/{table_name}:{table_name}/"), key.cast("string"), F.lit(".row"))


def fk_row_edges(
    child: DataFrame,
    child_table: str,
    child_key: str,
    fk_col: str,
    parent: DataFrame,
    parent_table: str,
    parent_key: str,
) -> DataFrame:
    """FK-based (subj, pred, obj) edges between row documents
    (extract_dlt_fk_edges.py: FK edges between Document nodes of related
    rows). pred = references_<parent_table>. The join keys on the FK value —
    a plain equi-join Catalyst can broadcast or shuffle as sizes dictate."""
    c = child.select(
        row_document_id(child_table, F.col(child_key)).alias("subj"),
        F.col(fk_col).alias("_fk"),
    )
    p = parent.select(
        row_document_id(parent_table, F.col(parent_key)).alias("obj"),
        F.col(parent_key).alias("_pk"),
    )
    return (
        c.join(p, c["_fk"] == p["_pk"])
        .select(
            "subj",
            F.lit(f"references_{parent_table}").alias("pred"),
            "obj",
        )
    )


def ingest_database_schema(
    spark,
    schema: dict,
    tables: dict[str, DataFrame] | None = None,
    db_name: str = "database",
    db_provider: str = "spark",
    max_sample_rows: int = 0,
) -> dict[str, DataFrame]:
    """Schema-introspection ingest — the reference's
    ``ingest_database_schema`` (cognee/tasks/schema/
    ingest_database_schema.py:14-134), which walks a live database's
    introspected schema and returns DatabaseSchema / SchemaTable /
    SchemaRelationship DataPoints for graph construction.

    Spark re-expression: the sandbox has no JDBC, so the live-cursor half
    is replaced by its two inputs — ``schema``, the introspection SNAPSHOT
    ({table: {"columns": {...}, "primary_key": str|None,
    "foreign_keys": [{"column", "ref_table", "ref_column"}]}}, the same
    dict the reference's engine.extract_schema() yields), and ``tables``,
    the actual tables as DataFrames. Row-count estimates come from
    ``df.count()`` (on parquet sources a metadata-only scan — the analog
    of the reference's pg_class.reltuples fast path, :66-77); sampling is
    ``limit(max_sample_rows)`` per table (:52-59), bounded driver state by
    construction. The schema dict itself is dictionary-sized (hundreds of
    tables, not rows), so node building is driver-side literals.

    Ids mirror the reference exactly: uuid5(NAMESPACE_OID, table_name) for
    tables (:82), uuid5(NAMESPACE_OID, "t:c->rt:rc") for relationships
    (:104-106), uuid5(NAMESPACE_OID, "provider:db") for the database
    (:119). Unqualified ref_table names inherit the referencing table's
    schema part (:99-101).

    Returns {"database_schema", "schema_tables", "relationships"} as
    DataFrames (the relationships frame may be empty).
    """
    import json as _json
    import uuid as _uuid
    from uuid import NAMESPACE_OID

    tables = tables or {}
    max_sample_rows = max(0, int(max_sample_rows or 0))

    table_rows, rel_rows = [], []
    for table_name, details in schema.items():
        df = tables.get(table_name)
        row_count = df.count() if df is not None else 0
        rows = (
            [r.asDict(recursive=True) for r in df.limit(max_sample_rows).collect()]
            if df is not None and max_sample_rows > 0
            else []
        )
        columns = details.get("columns", {})
        fks = details.get("foreign_keys", [])
        table_rows.append(
            {
                "node_id": str(_uuid.uuid5(NAMESPACE_OID, table_name)),
                "kind": "SchemaTable",
                "name": table_name,
                "columns": _json.dumps(columns, default=str),
                "primary_key": details.get("primary_key"),
                "foreign_keys": _json.dumps(fks, default=str),
                "sample_rows": _json.dumps(rows, default=str),
                "row_count_estimate": int(row_count),
                "description": (
                    f"Relational database table '{table_name}' with "
                    f"{len(columns)} columns and approx. {row_count} rows. "
                    f"Part of the database: {db_name}"
                ),
            }
        )
        for fk in fks:
            ref_table = fk["ref_table"]
            if "." not in ref_table and "." in table_name:
                ref_table = f"{table_name.split('.', 1)[0]}.{ref_table}"
            rel_name = f"{table_name}:{fk['column']}->{ref_table}:{fk['ref_column']}"
            rel_rows.append(
                {
                    "node_id": str(_uuid.uuid5(NAMESPACE_OID, rel_name)),
                    "kind": "SchemaRelationship",
                    "name": rel_name,
                    "source_table": table_name,
                    "target_table": ref_table,
                    "relationship_type": "foreign_key",
                    "source_column": fk["column"],
                    "target_column": fk["ref_column"],
                    "description": (
                        f"Foreign key relationship {table_name}.{fk['column']} "
                        f"-> {ref_table}.{fk['ref_column']} in database {db_name}"
                    ),
                }
            )

    db_row = {
        "node_id": str(_uuid.uuid5(NAMESPACE_OID, f"{db_provider}:{db_name}")),
        "kind": "DatabaseSchema",
        "name": db_name,
        "database_type": db_provider,
        "tables": _json.dumps(sorted(schema), default=str),
        "description": (
            f"Database schema containing {len(table_rows)} tables and "
            f"{len(rel_rows)} relationships. The database type is {db_provider}."
        ),
    }

    table_schema = (
        "node_id string, kind string, name string, columns string, "
        "primary_key string, foreign_keys string, sample_rows string, "
        "row_count_estimate long, description string"
    )
    rel_schema = (
        "node_id string, kind string, name string, source_table string, "
        "target_table string, relationship_type string, source_column string, "
        "target_column string, description string"
    )
    db_schema = (
        "node_id string, kind string, name string, database_type string, "
        "tables string, description string"
    )
    return {
        "database_schema": row_frame(spark, [db_row], db_schema),
        "schema_tables": row_frame(spark, table_rows, table_schema),
        "relationships": row_frame(spark, rel_rows, rel_schema),
    }
