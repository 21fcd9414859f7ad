"""Pin Spark-column uuid5/normalization to the reference's Python semantics.

Reference semantics under test (cited in cognee_spark/functions/ids.py):
- DataPoint.id_for / _normalize_identity_value (DataPoint.py:146-176)
- generate_node_id (generate_node_id.py:4-5)
- generate_edge_object_id (generate_edge_object_id.py:5-17)
"""

from __future__ import annotations

import uuid

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from cognee_spark.functions import (
    edge_object_id_col,
    edge_object_id_py,
    id_for_col,
    id_for_py,
    node_id_col,
    node_id_py,
    normalize_edge_name_py,
    normalize_identity_py,
    normalize_node_name_py,
    uuid5_col,
)

NAMES = [
    "Alice",
    "alice",
    "Bob's Diner",
    "app/db.Database",
    "HAS METHOD",
    "ünïcødé Nämé",
    "a" * 500,
    "",
    "日本語 テスト",
]


def test_python_twins_match_stdlib():
    for name in NAMES:
        norm = name.lower().replace(" ", "_").replace("'", "")
        assert normalize_identity_py(name) == norm
        assert node_id_py(name) == str(uuid.uuid5(uuid.NAMESPACE_OID, norm))
    assert id_for_py("Entity", "Alice") == str(uuid.uuid5(uuid.NAMESPACE_OID, "Entity:alice"))
    # Alice/alice collapse by construction (SURVEY §1.1)
    assert node_id_py("Alice") == node_id_py("alice")


def test_uuid5_col_matches_python(spark):
    df = spark.createDataFrame([(n,) for n in NAMES], ["name"])
    rows = df.select(
        "name",
        uuid5_col(F.col("name")).alias("u5"),
        node_id_col(F.col("name")).alias("nid"),
        id_for_col("Entity", F.col("name")).alias("eid"),
    ).collect()
    for row in rows:
        assert row.u5 == str(uuid.uuid5(uuid.NAMESPACE_OID, row.name)), row.name
        assert row.nid == node_id_py(row.name), row.name
        assert row.eid == id_for_py("Entity", row.name), row.name


def test_edge_object_id_col_matches_python(spark):
    triples = [("Alice", "knows", "Bob"), ("app/db.Database", "has_method", "Query'x")]
    df = spark.createDataFrame(triples, ["s", "r", "d"])
    rows = df.select(
        "s",
        "r",
        "d",
        edge_object_id_col(F.col("s"), F.col("r"), F.col("d")).alias("eoid"),
    ).collect()
    for row in rows:
        assert row.eoid == edge_object_id_py(row.s, row.r, row.d)


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=64))
def test_normalization_property(name):
    assert normalize_node_name_py(name) == name.lower().replace("'", "")
    assert normalize_edge_name_py(name) == name.lower().replace(" ", "_").replace("'", "")


def test_uuid5_col_is_codegen_friendly(spark):
    """The id expression must stay inside WholeStageCodegen (no Python UDF)."""
    df = spark.range(10).select(uuid5_col(F.col("id").cast("string")).alias("u"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_uuid_narrow_widen_round_trip(spark):
    """narrow→widen is the IDENTITY for every input — canonical uuids convert
    to 16-byte binary, everything else (paths, uppercase, dash-misplaced or
    truncated strings) rides the overflow column untouched; exactly one of
    the pair is non-null; distinct over the pair equals distinct over the
    originals."""
    import uuid as _uuid

    from pyspark.sql import functions as F

    from cognee_spark.functions.narrow import UUID

    UUID_BIN, UUID_RAW, uuid_narrow, uuid_widen = UUID.bin, UUID.raw, UUID.narrow, UUID.widen

    vals = [
        str(_uuid.uuid5(_uuid.NAMESPACE_OID, "x")),
        str(_uuid.uuid4()),
        str(_uuid.uuid4()).upper(),           # uppercase: overflow, untouched
        "repo0:src/pkg/mod.py",               # repo:path container id
        "0" * 36,                             # 36 chars, no dashes
        "00000000-0000-0000-0000-00000000000",   # 35 chars
        "g0000000-0000-0000-0000-000000000000",  # non-hex char
        "00000000-00000000-0000-0000-00000000",  # dash misplaced, 36 chars
        "",
    ]
    df = spark.createDataFrame([(v,) for v in vals], ["v"])
    b, r = uuid_narrow(F.col("v"))
    out = df.select(
        "v", b.alias(UUID_BIN), r.alias(UUID_RAW),
    ).withColumn("back", uuid_widen(F.col(UUID_BIN), F.col(UUID_RAW)))
    rows = out.collect()
    for row in rows:
        assert row.back == row.v, (row.v, row.back)
        assert (row._uuid_bin is None) != (row._uuid_raw is None), row.v
    converted = [row.v for row in rows if row._uuid_bin is not None]
    assert converted == vals[:2], converted
