"""Agentic-skills parsing and resolution — the reference's SKILL.md flow
(cognee/modules/tools/skill_parser.py:28-196, resolve_skills.py:19-131)
re-expressed as distributed parsing.

The reference walks a skills directory on the driver, reads each SKILL.md,
and parses YAML frontmatter with pyyaml, one file at a time. Here every
skill file is one row (e.g. ``spark.read.text(..., wholetext=True)``), and
the whole parse — frontmatter/body split, alias resolution, description
fallback, tool/tag list splitting, deterministic ids, content hash — is
one whole-stage-codegen projection over higher-order functions: a million
vendored skills parse at scan speed with zero Python in the row path.

Frontmatter support, stated honestly: the flat ``key: value`` subset plus
inline ``[a, b]`` lists — the shape the published SKILL.md format uses.
Block-style YAML lists and nested mappings (legal YAML, unused by the
format) parse as absent, falling back exactly like the reference does for
missing keys. Parity notes per function; the reference's path-safety
gatekeeping (trusted_* wrappers, source-root allowlists,
ingest_skills.py:24-71) is driver-side filesystem policy with no dataflow
in it — callers pass the payloads they are allowed to read.
"""

from __future__ import annotations

import uuid as _uuid

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cognee_spark.functions.ids import uuid5_col

# skill_parser.py:27 — the reference's fixed skill namespace.
SKILL_NAMESPACE = _uuid.UUID("a1b2c3d4-e5f6-7890-abcd-ef1234567890")

# Alias tables (skill_parser.py:30-35); first present wins (_pop_first).
DESCRIPTION_ALIASES = ("description", "summary", "short_description", "about")
TOOLS_ALIASES = ("allowed-tools", "allowed_tools", "declared_tools", "tools")
MAINTAINER_ALIASES = ("maintainer", "company", "author", "publisher", "vendor", "org")
MAINTAINER_URL_ALIASES = ("maintainer_url", "maintainer-url", "url", "homepage", "website")
VERSION_ALIASES = ("version", "ver")
TAGS_ALIASES = ("tags", "categories", "labels")
LICENSE_ALIASES = ("license", "licence")

_FM_RE = r"(?s)^---\s*\r?\n(.*?)\r?\n---\s*\r?\n?"


def _entries(raw: Column) -> Column:
    """Frontmatter block → array<struct<key,val>> of flat ``key: value``
    lines (keys lowercased, values trimmed and unquoted)."""
    block = F.regexp_extract(raw, _FM_RE, 1)
    lines = F.split(block, "\r?\n")
    parsed = F.transform(
        lines,
        lambda line: F.struct(
            F.lower(F.trim(F.regexp_extract(line, r"^([A-Za-z0-9_-]+)\s*:", 1))).alias(
                "key"
            ),
            F.trim(F.regexp_extract(line, r"^[A-Za-z0-9_-]+\s*:\s*(.*)$", 1)).alias(
                "val"
            ),
        ),
    )
    return F.filter(parsed, lambda e: (e["key"] != "") & (e["val"] != ""))


def _unquote(col: Column) -> Column:
    return F.regexp_replace(col, "^[\"']|[\"']$", "")


def _lookup(entries: Column, aliases: tuple[str, ...]) -> Column:
    """First present alias's value (skill_parser._pop_first)."""
    hits = [
        F.get(F.filter(entries, lambda e: e["key"] == F.lit(a)), 0)["val"]
        for a in aliases
    ]
    return _unquote(F.coalesce(*hits)) if len(hits) > 1 else _unquote(hits[0])


def _as_list(value: Column) -> Column:
    """A scalar value → list: inline ``[a, b]`` splits on commas, anything
    else on whitespace/commas (skill_parser._extract_tools/_extract_list)."""
    inline = F.split(F.regexp_replace(value, r"^\[|\]$", ""), ",")
    loose = F.split(value, r"[\s,]+")
    items = F.when(value.startswith("["), inline).otherwise(loose)
    cleaned = F.transform(items, lambda x: _unquote(F.trim(x)))
    return F.filter(cleaned, lambda x: x != "")


def _description(entries: Column, body: Column) -> Column:
    """Frontmatter description, else the first non-heading paragraph of the
    body with markdown markers stripped, capped at 500 chars
    (skill_parser._extract_description)."""
    explicit = _lookup(entries, DESCRIPTION_ALIASES)
    paragraphs = F.transform(F.split(body, r"\n{2,}"), lambda p: F.trim(p))
    first = F.get(
        F.filter(paragraphs, lambda p: (p != "") & ~p.startswith("#")), 0
    )
    fallback = F.substring(F.regexp_replace(first, "[`*_~]", ""), 1, 500)
    return F.coalesce(explicit, fallback, F.lit(""))


def parse_skill_frame(raw: DataFrame, source_repo: str = "") -> DataFrame:
    """Every SKILL.md payload row (value, source_file) → one Skill row
    (parse_skill_file, skill_parser.py:128-196); any source of payloads (a
    ``wholetext`` directory scan, an archive column, a repo table) parses
    the same way.

    name = the parent directory's slug (_skill_slug); id =
    uuid5(SKILL_NAMESPACE, 'skill:{source_dir}:{name}') — bit-compatible
    with the reference's _deterministic_id; content_hash = first 16 hex of
    sha256 (_content_hash); skill_text/search_text = name+description+body
    (_build_search_text). Empty payloads drop, as in the reference."""
    raw = raw.where(F.trim("value") != "")
    text = F.col("value")
    entries = _entries(text)
    body = F.trim(F.regexp_replace(text, _FM_RE, ""))
    # input_file_name yields a file:// URI; strip scheme + authority slashes
    source_file = F.regexp_replace(F.col("source_file"), "^file:(//)?", "")
    source_dir = F.regexp_extract(source_file, r"^(.*)/[^/]+$", 1)
    name = F.regexp_extract(source_file, r"([^/]+)/[^/]+$", 1)
    description = _description(entries, body)
    skill_text = F.concat_ws(
        "\n\n",
        *[
            F.when(c != "", c)
            for c in (name, description, body)
        ],
    )
    return raw.select(
        uuid5_col(
            F.concat(F.lit("skill:"), source_dir, F.lit(":"), name),
            namespace=SKILL_NAMESPACE,
        ).alias("id"),
        name.alias("name"),
        description.alias("description"),
        body.alias("procedure"),
        F.coalesce(
            _as_list(_lookup(entries, TOOLS_ALIASES)),
            F.array().cast("array<string>"),
        ).alias("declared_tools"),
        F.coalesce(_lookup(entries, MAINTAINER_ALIASES), F.lit("")).alias("maintainer"),
        F.coalesce(_lookup(entries, MAINTAINER_URL_ALIASES), F.lit("")).alias(
            "maintainer_url"
        ),
        F.coalesce(_lookup(entries, VERSION_ALIASES), F.lit("")).alias("skill_version"),
        F.coalesce(
            _as_list(_lookup(entries, TAGS_ALIASES)),
            F.array().cast("array<string>"),
        ).alias("tags"),
        F.coalesce(_lookup(entries, LICENSE_ALIASES), F.lit("")).alias("license"),
        F.lit(source_repo).alias("source_repo_url"),
        source_file.alias("source_file"),
        source_dir.alias("source_dir"),
        F.substring(F.sha2(text, 256), 1, 16).alias("content_hash"),
        skill_text.alias("skill_text"),
        skill_text.alias("search_text"),
    )


def skill_resolution_keys(
    skills: DataFrame, dataset_id: str, cols: tuple[str, ...] = ("description",)
) -> DataFrame:
    """Dataset-scoped lookup frame for resolving a ``selected_skill_id``
    that may be a skill NAME (the remember() surface) or a skill ID
    (post-resolution re-persist) — the two things the reference's
    ``resolve_skills`` round-trips. One row per resolution key:
    (_skill_key, _skill_id, _skill_name, _skill_<col>...).

    Key collisions (skill A's name equals skill B's id, or two active
    skills sharing a name in one dataset) resolve DETERMINISTICALLY:
    id outranks name, then lowest skill id wins — so replayed batches
    resolve to the same skill and uuid5 node ids stay stable."""
    from pyspark.sql.window import Window

    if not dataset_id:
        raise ValueError("Skill resolution requires one explicit dataset.")
    scoped = skills.where(
        F.col("is_active") & F.array_contains("dataset_scope", dataset_id)
    )
    picked = [F.col(c).alias(f"_skill_{c}") for c in cols]
    by_id = scoped.select(
        F.col("id").alias("_skill_key"), F.lit(0).alias("_prio"),
        F.col("id").alias("_skill_id"), F.col("name").alias("_skill_name"),
        *picked,
    )
    by_name = scoped.select(
        F.col("name").alias("_skill_key"), F.lit(1).alias("_prio"),
        F.col("id").alias("_skill_id"), F.col("name").alias("_skill_name"),
        *picked,
    )
    w = Window.partitionBy("_skill_key").orderBy("_prio", "_skill_id")
    return (
        by_id.unionByName(by_name)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "_prio")
    )
