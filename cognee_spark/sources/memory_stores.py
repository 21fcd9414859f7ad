"""Memory-store migration records — the flat record table that the
reference's ``cognee.remember(source)`` adapters
(cognee/modules/migration/sources/{mem0,zep,letta,cogx_archive}.py) emit as
COGX records (cognee/modules/migration/cogx.py:49-157), one row per record.

:data:`RECORD_FIELDS` is that table's schema and :func:`_finish` projects any
record frame onto it; the migration folds (operators/migration.py) read it.
Every record carries a ``seq`` column (its source position), and the folds
sort by it, so "first record wins" and same-name merge order are
deterministic under any partitioning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# One flat record table for every source system (COGX record fields,
# cogx.py:49-157, flattened; scope inlined as user/agent/session/run ids).
RECORD_FIELDS: list[tuple[str, str]] = [
    ("kind", "string"),
    ("external_system", "string"),
    ("external_id", "string"),
    ("seq", "long"),
    ("content", "string"),
    ("title", "string"),
    ("name", "string"),
    ("entity_type", "string"),
    ("description", "string"),
    ("aliases", "array<string>"),
    ("categories", "array<string>"),
    ("subject_ref", "string"),
    ("predicate", "string"),
    ("object_ref", "string"),
    ("fact_text", "string"),
    ("valid_at", "timestamp"),
    ("invalid_at", "timestamp"),
    ("confidence", "double"),
    ("provenance", "array<string>"),
    ("label", "string"),
    ("value", "string"),
    ("turns", "array<struct<role:string,content:string,occurred_at:timestamp>>"),
    ("raw_props", "map<string,string>"),
    ("user_id", "string"),
    ("agent_id", "string"),
    ("session_id", "string"),
    ("run_id", "string"),
    ("created_at", "timestamp"),
    ("updated_at", "timestamp"),
]


def _finish(df: DataFrame) -> DataFrame:
    """Project onto the full record schema, nulling absent fields."""
    cols = []
    for name, typ in RECORD_FIELDS:
        if name in df.columns:
            cols.append(F.col(name).cast(typ).alias(name))
        else:
            cols.append(F.lit(None).cast(typ).alias(name))
    return df.select(*cols)


def iso_ts(col: Column) -> Column:
    """datetime.isoformat() twin for whole-second UTC timestamps.

    ``xxx`` renders the zero offset as ``+00:00`` (not ``Z``), matching
    Python. Sub-second precision is truncated (the exports this round-trips
    carry whole seconds)."""
    return F.date_format(col, "yyyy-MM-dd'T'HH:mm:ssxxx")
