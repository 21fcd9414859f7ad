"""Deterministic identity — uuid5 as a *native Spark column expression*.

The reference derives every node id deterministically:

    id = uuid5(NAMESPACE_OID, f"{ClassName}:{normalize(v1)|normalize(v2)}")

(reference: cognee/infrastructure/engine/models/DataPoint.py:159-176) with
normalize = lowercase, spaces->_, strip apostrophes (DataPoint.py:146-157,
byte-aligned with cognee/infrastructure/engine/utils/generate_node_id.py:4-5).
Edge identity is uuid5 over lower(src+rel+dst) with the same normalization
(cognee/modules/engine/utils/generate_edge_object_id.py:5-17).

Deterministic identity is the linchpin of dedup and canonicalization: two
mentions of "Alice" and "alice" in different partitions collapse to one node id
*by construction*, so cross-partition merge is a dropDuplicates, not a join,
and re-runs are idempotent MERGEs.

RFC 4122 uuid5 is sha1(namespace_bytes || name_utf8) with the version nibble
forced to 5 and the variant nibble forced to 10xx. All of that is expressible
with Spark built-ins (sha1 + substring + translate), so the ids are computed
JVM-side inside whole-stage codegen — no Python in the hot path — while being
bit-identical to Python's ``uuid.uuid5``. Every function here has a ``_py``
twin used by the pytest/DuckDB oracles; ``tests/test_ids.py`` pins the parity.
"""

from __future__ import annotations

import uuid
from uuid import NAMESPACE_OID

from pyspark.sql import Column
from pyspark.sql import functions as F

# --- Python twins (oracle side) -------------------------------------------


def normalize_identity_py(value: str) -> str:
    """DataPoint._normalize_identity_value (DataPoint.py:146-157)."""
    return value.lower().replace(" ", "_").replace("'", "")


def normalize_node_name_py(name: str) -> str:
    """generate_node_name (cognee/modules/engine/utils/generate_node_name.py:1-2)."""
    return name.lower().replace("'", "")


def normalize_edge_name_py(name: str) -> str:
    """generate_edge_name (cognee/modules/engine/utils/generate_edge_name.py:1-2)."""
    return name.lower().replace(" ", "_").replace("'", "")


def id_for_py(class_name: str, *values: str) -> str:
    """DataPoint.id_for (DataPoint.py:159-176): uuid5(OID, 'Cls:v1|v2')."""
    joined = "|".join(normalize_identity_py(v) for v in values)
    return str(uuid.uuid5(NAMESPACE_OID, f"{class_name}:{joined}"))


def node_id_py(node_id: str) -> str:
    """generate_node_id (generate_node_id.py:4-5)."""
    return str(uuid.uuid5(NAMESPACE_OID, normalize_identity_py(node_id)))


def edge_object_id_py(src: str, rel: str, dst: str) -> str:
    """generate_edge_object_id (generate_edge_object_id.py:5-17)."""
    return str(uuid.uuid5(NAMESPACE_OID, normalize_identity_py(str(src) + rel + str(dst))))


# --- Spark column expressions (pipeline side, JVM codegen) ------------------

# Maps a hex nibble c to (c & 0x3) | 0x8 — the RFC 4122 variant fix.
_VARIANT_FROM = "0123456789abcdef"
_VARIANT_TO = "89ab89ab89ab89ab"


def uuid5_col(name: Column, namespace: uuid.UUID = NAMESPACE_OID) -> Column:
    """uuid5(namespace, name) as a pure-built-in column (bit-identical to Python).

    sha1 of (namespace bytes ++ utf8 name), first 16 bytes, version nibble 5,
    variant nibble (n & 3) | 8, formatted 8-4-4-4-12.
    """
    digest = F.sha1(F.concat(F.lit(bytearray(namespace.bytes)), F.encode(name, "UTF-8")))
    # single concat over digest slices (no intermediate 32-char hex string):
    # ids are computed per edge/node at 10^12 scale, so one saved allocation
    # per id is real CPU; output is bit-identical (pinned by tests/test_ids.py)
    return F.concat(
        F.substring(digest, 1, 8),
        F.lit("-"),
        F.substring(digest, 9, 4),
        F.lit("-5"),
        F.substring(digest, 14, 3),
        F.lit("-"),
        F.translate(F.substring(digest, 17, 1), _VARIANT_FROM, _VARIANT_TO),
        F.substring(digest, 18, 3),
        F.lit("-"),
        F.substring(digest, 21, 12),
    )


def normalize_identity_col(col: Column) -> Column:
    return F.translate(F.lower(col), " '", "_")


def id_for_col(class_name: str, *value_cols: Column) -> Column:
    """Column twin of :func:`id_for_py`."""
    normalized = [normalize_identity_col(c) for c in value_cols]
    joined = normalized[0] if len(normalized) == 1 else F.concat_ws("|", *normalized)
    return uuid5_col(F.concat(F.lit(f"{class_name}:"), joined))


def node_id_col(col: Column) -> Column:
    """Column twin of :func:`node_id_py`."""
    return uuid5_col(normalize_identity_col(col))


def edge_object_id_col(src: Column, rel: Column, dst: Column) -> Column:
    """Column twin of :func:`edge_object_id_py`."""
    return uuid5_col(normalize_identity_col(F.concat(src, rel, dst)))
