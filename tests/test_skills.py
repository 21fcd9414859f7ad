"""SKILL.md parsing (operators/skills.py) vs the reference semantics of
cognee/modules/tools/skill_parser.py."""

from __future__ import annotations

import hashlib
import uuid

import pytest
from pyspark.sql import functions as F

from cognee_spark.operators import skills as SK
from cognee_spark.session import row_frame


def _payloads(spark, **skills):
    """One (value, source_file) row per skill slug, the shape a wholetext
    scan of ``/skills/<slug>/SKILL.md`` yields (a file:// URI)."""
    return row_frame(
        spark,
        [(text, f"file:///skills/{slug}/SKILL.md") for slug, text in skills.items()],
        "value string, source_file string",
    )


FULL = """---
description: Deploys the app to staging
allowed-tools: [bash, "git", edit]
author: Acme Corp
homepage: https://acme.example
version: 1.2.0
tags: deploy, ops
license: MIT
---
# Deploy

Run the deploy script.
"""

BARE = """---
ver: "0.1"
---
# Title heading

The first *real* paragraph becomes `the` description.

More text.
"""


def test_parse_skill_files_full_frontmatter(spark):
    raw = _payloads(spark, deployer=FULL, empty="")  # empty files drop
    out = SK.parse_skill_frame(raw, source_repo="repo-url")
    [row] = out.collect()
    assert row.name == "deployer"
    assert row.description == "Deploys the app to staging"
    assert row.declared_tools == ["bash", "git", "edit"]
    assert row.maintainer == "Acme Corp"
    assert row.maintainer_url == "https://acme.example"
    assert row.skill_version == "1.2.0"
    assert row.tags == ["deploy", "ops"]
    assert row.license == "MIT"
    assert row.source_repo_url == "repo-url"
    assert row.procedure.startswith("# Deploy")
    # reference id parity: uuid5(SKILL_NAMESPACE, f"skill:{source_dir}:{name}")
    expect = str(uuid.uuid5(SK.SKILL_NAMESPACE, "skill:/skills/deployer:deployer"))
    assert row.id == expect
    # content_hash parity: sha256 first 16 hex (skill_parser._content_hash)
    assert row.content_hash == hashlib.sha256(FULL.encode()).hexdigest()[:16]
    assert row.skill_text == "\n\n".join(
        ["deployer", "Deploys the app to staging", row.procedure]
    )


def test_description_falls_back_to_first_paragraph(spark):
    [row] = SK.parse_skill_frame(_payloads(spark, bare=BARE)).collect()
    assert row.skill_version == "0.1"  # 'ver' alias, quotes stripped
    # heading skipped; markdown markers stripped (skill_parser:88-92)
    assert row.description == "The first real paragraph becomes the description."


def test_scope_and_resolve_skills(spark):
    parsed = SK.parse_skill_frame(_payloads(spark, alpha=FULL, beta=FULL))
    ds = "11111111-2222-4333-8444-555555555555"
    scoped = parsed.withColumn("is_active", F.lit(True)).withColumn(
        "dataset_scope", F.array(F.lit(ds))
    )
    ids = {r.name: r.id for r in parsed.collect()}
    keys = {
        r._skill_key: (r._skill_id, r._skill_name)
        for r in SK.skill_resolution_keys(scoped, ds).collect()
    }
    # a skill resolves by its name and by its id, to the same skill
    assert keys == {
        key: (ids[name], name)
        for name in ("alpha", "beta")
        for key in (name, ids[name])
    }
    with pytest.raises(ValueError):
        SK.skill_resolution_keys(scoped, "")
    # out-of-scope dataset resolves nothing
    assert SK.skill_resolution_keys(scoped, "other-ds").count() == 0


def test_parse_is_single_codegen_projection(spark):
    out = SK.parse_skill_frame(_payloads(spark, alpha=FULL))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
