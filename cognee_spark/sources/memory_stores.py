"""Memory-store migration sources — the reference's ``cognee.remember(source)``
adapters (cognee/modules/migration/sources/{mem0,zep,letta,cogx_archive}.py)
re-expressed as distributed JSON normalization.

The reference adapts each external memory system (Mem0, Zep/Graphiti, Letta)
into an async stream of COGX records (cognee/modules/migration/cogx.py:49-157)
that a driver-side loader consumes one record at a time. Here every adapter is
a pure DataFrame projection: export files are read with ``spark.read.text
(wholetext)`` (one archive payload per row — many archives parse in
parallel), parsed with ``from_json``, and normalized into ONE flat record
table (:data:`RECORD_FIELDS`). Polymorphic JSON fields (Mem0 categories that
may be a string or a list, Letta message content that may be a string or a
list of typed parts, Zep labels) are captured as raw JSON text via a
``string``-typed schema slot and re-parsed per element inside higher-order
functions — so the whole normalization stays in whole-stage codegen with
zero Python in the row path.

Ordering note: the reference's loader semantics ("first record wins",
same-name merge order) follow file stream order. A distributed engine makes
that order explicit instead: every record carries a ``seq`` column (source
position within its file, offset by record kind in the reference's emission
order), and all downstream folds (operators/migration.py) sort by it — the
result is deterministic under any partitioning, and identical to the
reference's for the single-file exports these tools produce.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame, SparkSession
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

# Relative seq offset per record kind, following the order the reference
# adapters emit kinds in (episodes/blocks first, then entities, then facts).
_KIND_OFFSET = {
    "document": 0,
    "episode": 1,
    "memory": 0,
    "memory_block": 0,
    "entity": 2,
    "fact": 3,
    "raw_node": 4,
}
_KIND_STRIDE = 1_000_000_000


def _finish(df: DataFrame) -> DataFrame:
    """Project onto the full record schema, nulling absent fields."""
    cols = []
    for name, typ in RECORD_FIELDS:
        if name in df.columns:
            cols.append(F.col(name).cast(typ).alias(name))
        else:
            cols.append(F.lit(None).cast(typ).alias(name))
    return df.select(*cols)


def _seq(kind: str, pos: Column) -> Column:
    return (F.lit(_KIND_OFFSET[kind] * _KIND_STRIDE) + pos).cast("long")


def parse_ts(col: Column) -> Column:
    """parse_timestamp (cogx.py:23-46) as a codegen CASE.

    ISO strings (``Z`` normalized to ``+00:00``) parse via cast; numeric
    epochs scale milli/micro/nanoseconds down until plausible (the
    reference's while-loop, closed-form: one division per 1000× past the
    year-~2603 bound). Unparseable values → null, as in the reference.
    """
    s = F.trim(col.cast("string"))
    num = F.when(s.rlike(r"^-?\d+(\.\d+)?$"), s.cast("double"))
    scaled = (
        F.when(F.abs(num) > 2e19, num / 1e9)
        .when(F.abs(num) > 2e16, num / 1e6)
        .when(F.abs(num) > 2e13, num / 1e3)
        .otherwise(num)
    )
    # one more step covers the reference's unbounded loop for sane inputs
    scaled = F.when(F.abs(scaled) > 2e10, scaled / 1e3).otherwise(scaled)
    # try_to_timestamp: null on malformed (the reference returns None), and
    # ANSI-safe — a plain to_timestamp would throw under this session config
    iso = F.try_to_timestamp(F.regexp_replace(s, "Z$", "+00:00"))
    return F.when(num.isNotNull(), F.timestamp_seconds(scaled)).otherwise(iso)


def iso_ts(col: Column) -> Column:
    """datetime.isoformat() twin for whole-second UTC timestamps.

    ``xxx`` renders the zero offset as ``+00:00`` (not ``Z``), matching
    Python. Sub-second precision is truncated (the exports this round-trips
    carry whole seconds)."""
    return F.date_format(col, "yyyy-MM-dd'T'HH:mm:ssxxx")


def _payload(spark: SparkSession, data) -> DataFrame:
    """One JSON payload per row: a path/glob (distributed read, one file per
    row) or an already-parsed list/dict (serialized once on the driver —
    test/interactive convenience, same parse path)."""
    if isinstance(data, DataFrame):
        return data  # (payload string) column expected
    if isinstance(data, (list, dict)):
        return spark.createDataFrame([(json.dumps(data),)], "payload string")
    return spark.read.text(str(data), wholetext=True).withColumnRenamed(
        "value", "payload"
    )


def _raw_json_variants(raw: Column) -> Column:
    """A raw-captured JSON value → array<string>.

    ``["a","b"]`` parses as a JSON list; any other non-empty capture is a
    single element. Mirrors the reference's ``isinstance(x, str) → [x]``
    tolerance for Mem0 categories / Zep labels."""
    return F.when(
        raw.startswith("["), F.from_json(raw, "array<string>")
    ).otherwise(F.when(raw.isNotNull() & (raw != ""), F.array(raw)))


# --------------------------------------------------------------------------
# Mem0 (sources/mem0.py:27-77)
# --------------------------------------------------------------------------

_MEM0_ITEM = (
    "id string, memory string, text string, data string, content string, "
    "categories string, user_id string, agent_id string, run_id string, "
    "created_at string, updated_at string, metadata map<string,string>"
)


def mem0_records(spark: SparkSession, data) -> DataFrame:
    """Mem0 export (plain list or results/memories/items wrapper) → records.

    Each memory becomes one ``kind='memory'`` record: content from the first
    present of memory/text/data/content, categories tolerated as string or
    list, scope from user/agent/run ids (mem0.py:56-77)."""
    payload = _payload(spark, data)
    as_list = F.from_json(F.col("payload"), f"array<struct<{_MEM0_ITEM}>>")
    as_wrap = F.from_json(
        F.col("payload"),
        f"struct<results:array<struct<{_MEM0_ITEM}>>,"
        f"memories:array<struct<{_MEM0_ITEM}>>,items:array<struct<{_MEM0_ITEM}>>>",
    )
    # Spark parses a lone JSON object against an array schema as a 1-element
    # array of nulls rather than failing, so the shape dispatch must look at
    # the payload itself (mirrors the reference's isinstance checks).
    items = F.when(F.ltrim(F.col("payload")).startswith("["), as_list).otherwise(
        F.coalesce(
            as_wrap.getField("results"), as_wrap.getField("memories"),
            as_wrap.getField("items"),
        )
    )
    rows = payload.select(F.posexplode(items).alias("pos", "m"))
    m = F.col("m")
    rows = rows.select(
        F.lit("memory").alias("kind"),
        F.lit("mem0").alias("external_system"),
        F.coalesce(m["id"], F.concat(F.lit("mem0-"), F.col("pos"))).alias("external_id"),
        _seq("memory", F.col("pos")).alias("seq"),
        F.coalesce(m["memory"], m["text"], m["data"], m["content"]).alias("content"),
        _raw_json_variants(m["categories"]).alias("categories"),
        m["metadata"].alias("raw_props"),
        m["user_id"].alias("user_id"),
        m["agent_id"].alias("agent_id"),
        m["run_id"].alias("run_id"),
        parse_ts(m["created_at"]).alias("created_at"),
        parse_ts(m["updated_at"]).alias("updated_at"),
    ).where(F.col("content").isNotNull() & (F.col("content") != ""))
    return _finish(rows)


# --------------------------------------------------------------------------
# Zep / Graphiti (sources/zep.py:43-137)
# --------------------------------------------------------------------------

_ZEP_EPISODE = (
    "uuid string, id string, name string, content string, episode_body string, "
    "created_at string, valid_at string, user_id string, group_id string, "
    "session_id string, source_description string"
)
_ZEP_ENTITY = (
    "uuid string, id string, name string, labels string, label string, "
    "summary string, description string, attributes map<string,string>, "
    "created_at string, group_id string"
)
_ZEP_FACT = (
    "uuid string, id string, source_node_uuid string, source string, "
    "target_node_uuid string, target string, name string, relation string, "
    "fact string, valid_at string, invalid_at string, expired_at string, "
    "created_at string, episodes array<string>, group_id string"
)


def zep_records(spark: SparkSession, data, source_system: str = "zep") -> DataFrame:
    """Zep/Graphiti graph export → episode + entity + fact records.

    Key-name variants (episodes/episodic_nodes, entities/nodes/entity_nodes,
    facts/edges/entity_edges; name/relation; valid_at/created_at) are
    coalesced exactly as the reference tolerates them (zep.py:61-137).
    ``source_system='graphiti'`` is the OSS-Graphiti alias."""
    payload = _payload(spark, data)
    doc = F.from_json(
        F.col("payload"),
        f"struct<episodes:array<struct<{_ZEP_EPISODE}>>,"
        f"episodic_nodes:array<struct<{_ZEP_EPISODE}>>,"
        f"entities:array<struct<{_ZEP_ENTITY}>>,"
        f"nodes:array<struct<{_ZEP_ENTITY}>>,"
        f"entity_nodes:array<struct<{_ZEP_ENTITY}>>,"
        f"facts:array<struct<{_ZEP_FACT}>>,"
        f"edges:array<struct<{_ZEP_FACT}>>,"
        f"entity_edges:array<struct<{_ZEP_FACT}>>>",
    )
    parsed = payload.select(doc.alias("d"))

    ep = parsed.select(
        F.posexplode(
            F.coalesce(F.col("d.episodes"), F.col("d.episodic_nodes"), F.array())
        ).alias("pos", "e")
    )
    e = F.col("e")
    episode_content = F.coalesce(e["content"], e["episode_body"])
    occurred = parse_ts(F.coalesce(e["valid_at"], e["created_at"]))
    episodes = ep.select(
        F.lit("episode").alias("kind"),
        F.lit(source_system).alias("external_system"),
        F.coalesce(e["uuid"], e["id"], F.concat(F.lit("episode-"), F.col("pos"))).alias(
            "external_id"
        ),
        _seq("episode", F.col("pos")).alias("seq"),
        e["name"].alias("title"),
        F.array(
            F.struct(
                F.lit("episode").alias("role"),
                episode_content.alias("content"),
                occurred.alias("occurred_at"),
            )
        ).alias("turns"),
        F.when(
            e["source_description"].isNotNull(),
            F.create_map(F.lit("source_description"), e["source_description"]),
        ).alias("raw_props"),
        e["user_id"].alias("user_id"),
        F.coalesce(e["group_id"], e["session_id"]).alias("session_id"),
        parse_ts(e["created_at"]).alias("created_at"),
    ).where(episode_content.isNotNull() & (F.trim(episode_content) != ""))

    en = parsed.select(
        F.posexplode(
            F.coalesce(
                F.col("d.entities"), F.col("d.nodes"), F.col("d.entity_nodes"), F.array()
            )
        ).alias("pos", "n")
    )
    n = F.col("n")
    labels = _raw_json_variants(F.coalesce(n["labels"], n["label"]))
    entities = en.select(
        F.lit("entity").alias("kind"),
        F.lit(source_system).alias("external_system"),
        F.coalesce(n["uuid"], n["id"], F.concat(F.lit("entity-"), F.col("pos"))).alias(
            "external_id"
        ),
        _seq("entity", F.col("pos")).alias("seq"),
        n["name"].alias("name"),
        F.get(F.filter(F.coalesce(labels, F.array()), lambda x: x != "Entity"), 0).alias(
            "entity_type"
        ),
        F.coalesce(n["summary"], n["description"]).alias("description"),
        n["attributes"].alias("raw_props"),
        n["group_id"].alias("session_id"),
        parse_ts(n["created_at"]).alias("created_at"),
    ).where(F.col("name").isNotNull() & (F.trim(F.col("name")) != ""))

    fa = parsed.select(
        F.posexplode(
            F.coalesce(
                F.col("d.facts"), F.col("d.edges"), F.col("d.entity_edges"), F.array()
            )
        ).alias("pos", "f")
    )
    f = F.col("f")
    facts = fa.select(
        F.lit("fact").alias("kind"),
        F.lit(source_system).alias("external_system"),
        F.coalesce(f["uuid"], f["id"], F.concat(F.lit("fact-"), F.col("pos"))).alias(
            "external_id"
        ),
        _seq("fact", F.col("pos")).alias("seq"),
        F.coalesce(f["source_node_uuid"], f["source"]).alias("subject_ref"),
        F.coalesce(f["name"], f["relation"], F.lit("relates_to")).alias("predicate"),
        F.coalesce(f["target_node_uuid"], f["target"]).alias("object_ref"),
        f["fact"].alias("fact_text"),
        parse_ts(f["valid_at"]).alias("valid_at"),
        parse_ts(F.coalesce(f["invalid_at"], f["expired_at"])).alias("invalid_at"),
        f["episodes"].alias("provenance"),
        f["group_id"].alias("session_id"),
        parse_ts(f["created_at"]).alias("created_at"),
    ).where(F.col("subject_ref").isNotNull() & F.col("object_ref").isNotNull())

    return _finish(episodes).unionByName(_finish(entities)).unionByName(_finish(facts))


# --------------------------------------------------------------------------
# Letta / MemGPT agent files (sources/letta.py:57-155)
# --------------------------------------------------------------------------

_LETTA_BLOCK = "id string, label string, name string, value string, content string, `limit` bigint"
# Message content captured as raw JSON text (string OR list of typed parts).
_LETTA_MESSAGE = "role string, content string, text string, created_at string, timestamp string"
_LETTA_PASSAGE = "id string, text string, content string, created_at string"
_LETTA_AGENT = (
    f"name string, core_memory array<struct<{_LETTA_BLOCK}>>, "
    f"blocks array<struct<{_LETTA_BLOCK}>>, "
    f"memory_blocks array<struct<{_LETTA_BLOCK}>>, "
    f"block_ids array<string>, core_memory_block_ids array<string>, "
    f"messages array<struct<{_LETTA_MESSAGE}>>, "
    f"in_context_messages array<struct<{_LETTA_MESSAGE}>>, "
    f"message_history array<struct<{_LETTA_MESSAGE}>>, "
    f"archival_memory array<struct<{_LETTA_PASSAGE}>>, "
    f"passages array<struct<{_LETTA_PASSAGE}>>, "
    f"archival_passages array<struct<{_LETTA_PASSAGE}>>"
)


def _letta_message_text(m: Column) -> Column:
    """Message text from string content, typed-part lists, or ``text``.

    The raw-captured ``content`` is re-parsed per element: a JSON list of
    parts keeps only text parts joined by newlines (letta.py:40-53); a JSON
    string is unquoted via from_json; a bare capture is taken verbatim."""
    raw = m["content"]
    from_parts = F.array_join(
        F.filter(
            F.transform(
                F.from_json(raw, "array<struct<text:string>>"), lambda p: p["text"]
            ),
            lambda t: t.isNotNull(),
        ),
        "\n",
    )
    return (
        F.when(raw.startswith("["), from_parts)
        .when(raw.isNotNull(), raw)
        .otherwise(m["text"])
    )


def letta_records(spark: SparkSession, data) -> DataFrame:
    """Letta agent file (.af) → memory_block + episode + document records.

    Per agent: core-memory blocks (own or resolved from the file's shared
    ``blocks`` by id), one conversation episode from non-system/tool
    messages, and one document per archival passage (letta.py:83-155)."""
    payload = _payload(spark, data)
    # the file-level `blocks` field doubles as the shared-block list and, in
    # the single-agent-at-top-level fallback, as that agent's own blocks —
    # exactly the dual role the reference's _first_list lookups give the key
    doc = F.from_json(
        F.col("payload"), f"struct<agents:array<struct<{_LETTA_AGENT}>>,{_LETTA_AGENT}>"
    )
    parsed = payload.select(doc.alias("d"))
    # a file may serialize one agent at the top level (letta.py:88-90)
    _agent_fields = (
        "name", "core_memory", "blocks", "memory_blocks", "block_ids",
        "core_memory_block_ids", "messages", "in_context_messages",
        "message_history", "archival_memory", "passages", "archival_passages",
    )
    self_as_agent = F.struct(*[F.col(f"d.{fld}").alias(fld) for fld in _agent_fields])
    agents = F.coalesce(F.col("d.agents"), F.array(self_as_agent))
    shared = F.map_from_entries(
        F.transform(
            F.filter(F.coalesce(F.col("d.blocks"), F.array()), lambda b: b["id"].isNotNull()),
            lambda b: F.struct(b["id"], b),
        )
    )
    ag = parsed.select(
        F.posexplode(agents).alias("agent_pos", "a"), shared.alias("shared_blocks")
    )
    a = F.col("a")
    agent_name = F.coalesce(a["name"], F.concat(F.lit("agent-"), F.col("agent_pos")))
    own_blocks = F.coalesce(a["core_memory"], a["blocks"], a["memory_blocks"])
    ref_blocks = F.filter(
        F.transform(
            F.coalesce(a["block_ids"], a["core_memory_block_ids"], F.array()),
            lambda bid: F.col("shared_blocks")[bid],
        ),
        lambda b: b.isNotNull(),
    )
    blocks = F.when(F.size(own_blocks) > 0, own_blocks).otherwise(ref_blocks)
    ag = ag.select(
        F.col("agent_pos"), agent_name.alias("agent_name"), blocks.alias("blocks"),
        F.coalesce(a["messages"], a["in_context_messages"], a["message_history"]).alias("messages"),
        F.coalesce(a["archival_memory"], a["passages"], a["archival_passages"]).alias("passages"),
    )

    bl = ag.select(
        "agent_pos", "agent_name",
        F.posexplode(F.coalesce(F.col("blocks"), F.array())).alias("pos", "b"),
    )
    b = F.col("b")
    block_value = F.coalesce(b["value"], b["content"])
    block_label = F.coalesce(
        b["label"], b["name"], F.concat(F.lit("block-"), F.col("pos"))
    )
    mem_blocks = bl.select(
        F.lit("memory_block").alias("kind"),
        F.lit("letta").alias("external_system"),
        F.coalesce(
            b["id"], F.concat(F.col("agent_name"), F.lit(":block:"), block_label)
        ).alias("external_id"),
        _seq("memory_block", F.col("agent_pos") * 10_000 + F.col("pos")).alias("seq"),
        block_label.alias("label"),
        block_value.alias("value"),
        F.col("agent_name").alias("agent_id"),
    ).where(block_value.isNotNull() & (F.trim(block_value) != ""))

    msg = ag.select(
        "agent_pos", "agent_name",
        F.filter(
            F.transform(
                F.coalesce(F.col("messages"), F.array()),
                lambda m: F.struct(
                    F.coalesce(m["role"], F.lit("unknown")).alias("role"),
                    _letta_message_text(m).alias("content"),
                    parse_ts(F.coalesce(m["created_at"], m["timestamp"])).alias(
                        "occurred_at"
                    ),
                ),
            ),
            lambda t: t["content"].isNotNull()
            & (F.trim(t["content"]) != "")
            & ~t["role"].isin("system", "tool"),
        ).alias("turns"),
    )
    episodes = msg.select(
        F.lit("episode").alias("kind"),
        F.lit("letta").alias("external_system"),
        F.concat(F.col("agent_name"), F.lit(":messages")).alias("external_id"),
        _seq("episode", F.col("agent_pos")).alias("seq"),
        F.concat(
            F.lit("Conversation history of agent "), F.col("agent_name")
        ).alias("title"),
        F.col("turns"),
        F.col("agent_name").alias("agent_id"),
    ).where(F.size("turns") > 0)

    pa = ag.select(
        "agent_pos", "agent_name",
        F.posexplode(F.coalesce(F.col("passages"), F.array())).alias("pos", "p"),
    )
    p = F.col("p")
    passage_text = F.coalesce(p["text"], p["content"])
    documents = pa.select(
        F.lit("document").alias("kind"),
        F.lit("letta").alias("external_system"),
        F.coalesce(
            p["id"], F.concat(F.col("agent_name"), F.lit(":passage:"), F.col("pos"))
        ).alias("external_id"),
        _seq("document", F.col("agent_pos") * 10_000 + F.col("pos")).alias("seq"),
        passage_text.alias("content"),
        F.col("agent_name").alias("agent_id"),
        parse_ts(p["created_at"]).alias("created_at"),
    ).where(passage_text.isNotNull() & (F.trim(passage_text) != ""))

    return _finish(mem_blocks).unionByName(_finish(episodes)).unionByName(_finish(documents))


# --------------------------------------------------------------------------
# COGX archive (cogx.py:161-343) — JSONL per kind + manifest
# --------------------------------------------------------------------------

RECORD_FILES = {
    "document": "documents.jsonl",
    "episode": "episodes.jsonl",
    "entity": "entities.jsonl",
    "fact": "facts.jsonl",
    "memory": "memories.jsonl",
    "memory_block": "memory_blocks.jsonl",
}
RAW_NODES_FILE = "nodes.jsonl"
MANIFEST_FILE = "manifest.json"
COGX_VERSION = "0.1"

_COGX_COMMON = (
    "external_system string, external_id string, seq bigint, "
    "scope struct<user_id:string,agent_id:string,session_id:string,run_id:string>, "
    "created_at string, updated_at string"
)
_COGX_SCHEMAS = {
    "document": f"{_COGX_COMMON}, content string, title string",
    "episode": (
        f"{_COGX_COMMON}, title string, "
        "turns array<struct<role:string,content:string,occurred_at:string>>"
    ),
    "entity": (
        f"{_COGX_COMMON}, name string, entity_type string, description string, "
        "aliases array<string>"
    ),
    "fact": (
        f"{_COGX_COMMON}, subject_ref string, predicate string, object_ref string, "
        "fact_text string, valid_at string, invalid_at string, confidence double, "
        "provenance array<string>"
    ),
    "memory": f"{_COGX_COMMON}, content string, categories array<string>",
    "memory_block": f"{_COGX_COMMON}, label string, value string, `limit` bigint",
}


def validate_cogx_version(version: str) -> None:
    """Reject archives written by a newer major version (cogx.py:193-204)."""
    try:
        archive_major = int(str(version).split(".")[0])
        current_major = int(COGX_VERSION.split(".")[0])
    except (ValueError, IndexError):
        raise ValueError(
            f"Unrecognized COGX version {version!r} (reader supports {COGX_VERSION})."
        )
    if archive_major > current_major:
        raise ValueError(
            f"COGX archive version {version} is newer than this reader "
            f"supports ({COGX_VERSION})."
        )


def read_cogx_archive(spark: SparkSession, directory: str) -> DataFrame:
    """A COGX archive directory → the normalized record table.

    Each kind's JSONL parses distributed; raw graph nodes (``nodes.jsonl``)
    keep full fidelity as a ``map<string,string>`` whose values are the raw
    JSON text of each property. Records written by this package's exporter
    carry an explicit ``seq``; archives without one get a deterministic
    per-kind seq from the external id via the two-phase
    :func:`~cognee_spark.functions.indexing.dense_index` (NOT a
    single-partition global window) — order-independent, which a distributed
    reader needs (see module docstring)."""
    import os

    from cognee_spark.functions.indexing import dense_index

    manifest_path = os.path.join(directory, MANIFEST_FILE)
    if os.path.exists(manifest_path):
        with open(manifest_path, "r", encoding="utf-8") as handle:
            manifest = json.load(handle)
        validate_cogx_version(manifest.get("cogx_version", COGX_VERSION))

    parts: list[DataFrame] = []
    for kind, file_name in RECORD_FILES.items():
        path = os.path.join(directory, file_name)
        if not os.path.exists(path):
            continue
        rec = F.from_json(F.col("value"), f"struct<{_COGX_SCHEMAS[kind]}>").alias("r")
        rows = spark.read.text(path).where(F.trim("value") != "").select(rec)
        r = F.col("r")
        rows = dense_index(
            rows.withColumn("_oid", r["external_id"]), ["_oid"], "_fseq"
        ).drop("_oid")
        fallback_seq = F.col("_fseq")
        base = rows.select(
            "r",  # kept for the per-kind extra columns; _finish projects it away
            F.lit(kind).alias("kind"),
            F.coalesce(r["external_system"], F.lit("unknown")).alias("external_system"),
            r["external_id"].alias("external_id"),
            _seq(kind, F.coalesce(r["seq"], fallback_seq)).alias("seq"),
            *[
                parse_ts(r[c]).alias(c) if c in ("created_at", "updated_at")
                else r["scope"][c].alias(c) if c in ("user_id", "agent_id", "session_id", "run_id")
                else F.lit(None).alias(c)
                for c in ("created_at", "updated_at", "user_id", "agent_id", "session_id", "run_id")
            ],
        )
        extra: dict[str, Column] = {}
        if kind == "document":
            extra = {"content": r["content"], "title": r["title"]}
        elif kind == "episode":
            extra = {
                "title": r["title"],
                "turns": F.transform(
                    r["turns"],
                    lambda t: F.struct(
                        t["role"].alias("role"),
                        t["content"].alias("content"),
                        parse_ts(t["occurred_at"]).alias("occurred_at"),
                    ),
                ),
            }
        elif kind == "entity":
            extra = {
                "name": r["name"], "entity_type": r["entity_type"],
                "description": r["description"], "aliases": r["aliases"],
            }
        elif kind == "fact":
            extra = {
                "subject_ref": r["subject_ref"], "predicate": r["predicate"],
                "object_ref": r["object_ref"], "fact_text": r["fact_text"],
                "valid_at": parse_ts(r["valid_at"]),
                "invalid_at": parse_ts(r["invalid_at"]),
                "confidence": r["confidence"], "provenance": r["provenance"],
            }
        elif kind == "memory":
            extra = {"content": r["content"], "categories": r["categories"]}
        elif kind == "memory_block":
            extra = {"label": r["label"], "value": r["value"]}
        parts.append(_finish(base.withColumns(extra)))

    raw_path = os.path.join(directory, RAW_NODES_FILE)
    if os.path.exists(raw_path):
        props = F.from_json(F.col("value"), "map<string,string>")
        rows = spark.read.text(raw_path).where(F.trim("value") != "").select(
            props.alias("raw_props")
        )
        rows = dense_index(
            rows.withColumn("_oid", F.col("raw_props")["id"]), ["_oid"], "_fseq"
        ).drop("_oid")
        fallback_seq = F.col("_fseq")
        base = rows.select(
            F.lit("raw_node").alias("kind"),
            F.lit("cognee").alias("external_system"),
            F.col("raw_props")["id"].alias("external_id"),
            _seq("raw_node", F.coalesce(F.col("raw_props")["seq"].cast("long"), fallback_seq)).alias("seq"),
            F.col("raw_props"),
        )
        parts.append(_finish(base))

    if not parts:
        raise FileNotFoundError(f"No COGX record files found in: {directory}")
    out = parts[0]
    for part in parts[1:]:
        out = out.unionByName(part)
    return out
