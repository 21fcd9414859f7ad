"""Shuffle-narrowed sha lineage (functions/narrow.py, SHA codec) — exactness pins.

The narrow/widen pair must be bit-identical for every input class the engine
and its test fixtures produce: real sha2 hex digests, short fixture strings
("sha1"), 64-char non-hex strings, empty strings, and NULL. The min-agg
reconstruction must equal Python ``min`` over the original strings for any
mix of those classes inside one group.
"""

from __future__ import annotations

import hashlib
from functools import partial

from pyspark.sql import functions as F

from cognee_spark.functions.narrow import SHA

SHA_BIN, SHA_RAW = SHA.bin, SHA.raw
sha_narrow, sha_widen, sha_min = SHA.narrow, SHA.widen, SHA.min
sha_distinct = partial(SHA.distinct, name="content_sha")


def _real(s: str) -> str:
    return hashlib.sha256(s.encode()).hexdigest()


# every input class: contract shas, fixture strings, adversarial near-misses
VALUES = [
    _real("a"),
    _real("b"),
    "sha1",
    "s1",
    "",
    "x" * 64,  # 64 chars, not hex -> must ride the overflow column
    _real("c")[:63],  # 63-char hex prefix -> not converted
    _real("c") + "0",  # 65 chars -> not converted
    None,
]


def _roundtrip(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "content_sha string")
    b, r = sha_narrow(F.col("content_sha"))
    out = df.select(
        "content_sha",
        sha_widen(b, r).alias("back"),
        b.alias(SHA_BIN),
        r.alias(SHA_RAW),
    )
    return out.collect()


def test_roundtrip_is_identity_for_every_class(spark):
    for row in _roundtrip(spark, VALUES):
        assert row.back == row.content_sha
        # exactly one of (bin, raw) is set per non-null input
        if row.content_sha is not None:
            assert (row[SHA_BIN] is None) != (row[SHA_RAW] is None)
        else:
            assert row[SHA_BIN] is None and row[SHA_RAW] is None


def test_contract_shas_actually_narrow(spark):
    rows = {r.content_sha: r for r in _roundtrip(spark, [_real("a"), "sha1"])}
    assert rows[_real("a")][SHA_BIN] is not None  # 32-byte digest path
    assert len(rows[_real("a")][SHA_BIN]) == 32
    assert rows["sha1"][SHA_BIN] is None  # overflow string path


def test_uppercase_hex_rides_overflow_byte_exact(spark):
    # impossible from sha2 (always lowercase); the lowercase gate keeps it
    # on the overflow path so the round trip is the identity (r6 ADVICE —
    # previously canonicalized to lowercase as a documented deviation)
    up = _real("a").upper()
    (row,) = _roundtrip(spark, [up])
    assert row.back == up
    assert row[SHA_BIN] is None and row[SHA_RAW] == up


def test_min_agg_matches_python_min_across_classes(spark):
    # groups deliberately mix converted and overflow values; one group is
    # hex-only, one overflow-only, one mixed, one with NULLs
    groups = {
        "hex_only": [_real("a"), _real("b"), _real("z")],
        "overflow_only": ["sha1", "s1", "zz"],
        "mixed": [_real("a"), "sha1", "x" * 64, _real("b")],
        "with_null": [None, _real("b"), "sha9"],
    }
    data = [(g, v) for g, vs in groups.items() for v in vs]
    df = spark.createDataFrame(data, "g string, content_sha string")
    b, r = sha_narrow(F.col("content_sha"))
    got = {
        row.g: row.m
        for row in df.select("g", b.alias(SHA_BIN), r.alias(SHA_RAW))
        .groupBy("g")
        .agg(F.min(SHA_BIN).alias(SHA_BIN), F.min(SHA_RAW).alias(SHA_RAW))
        .select("g", sha_min(F.col(SHA_BIN), F.col(SHA_RAW)).alias("m"))
        .collect()
    }
    for g, vs in groups.items():
        expected = min([v for v in vs if v is not None], default=None)
        assert got[g] == expected, g


def test_sha_distinct_dedups_and_restores_schema(spark):
    vals = [
        ("a", _real("x")), ("a", _real("x")),   # duplicate hex pair
        ("b", "sha1"), ("b", "sha1"),           # duplicate overflow pair
        ("c", None),
    ]
    df = spark.createDataFrame(vals, "g string, content_sha string")
    b, r = sha_narrow(F.col("content_sha"))
    out = sha_distinct(df.select("g", b.alias(SHA_BIN), r.alias(SHA_RAW)))
    # SHA pair replaced by content_sha at SHA_BIN's position, SHA_RAW gone
    assert out.columns == ["g", "content_sha"]
    got = {(row.g, row.content_sha) for row in out.collect()}
    assert got == {("a", _real("x")), ("b", "sha1"), ("c", None)}


def test_binary_order_equals_hex_string_order(spark):
    # byte-lexicographic order over 32-byte digests == string order over
    # their lowercase hex encodings — the fact sha_min relies on
    shas = sorted(_real(str(i)) for i in range(64))
    df = spark.createDataFrame([(s,) for s in shas], "h string")
    by_bin = [
        r.h
        for r in df.select("h", F.unhex("h").alias("b")).orderBy("b").collect()
    ]
    assert by_bin == shas
