"""Memory-import translation — the graph half of the reference's migration
loader (cognee/modules/migration/loader.py:221-353) re-expressed as joins
and seq-ordered folds over the memory-store record table
(sources/memory_stores.RECORD_FIELDS).

The reference translates a stream of COGX records driver-side: a dict-backed
entity registry merges same-named records one at a time, facts resolve
against it sequentially (skipping unresolvable UUID refs, stubbing plain-name
refs), and bounded batches flush through ``add_data_points``. None of that
distributes — the registry and the seen-edge set grow with the corpus and
live in one process.

Here the same semantics are one dataflow (:func:`graph_tables`):

- entity merge       → groupBy(node_id) + array_sort(collect_list) + a
                       codegen fold (first record wins, later distinct
                       descriptions append — loader.py:156-218);
- fact resolution    → the facts melted to (fact, side, ref) rows, one join
                       against the external-id registry, one membership join
                       against known node ids, then a conditional: registry
                       hit → that node; known ``Entity.id_for(ref)`` → that
                       node; UUID-looking miss → skip; plain name → stub
                       entity (loader.py:277-292,575-586);
- edge dedup         → first-wins ``row_number()`` over the resolved
                       (subject, object, predicate) key (loader.py:299-324).

Everything is whole-stage codegen; the only Python is plan construction.
The reference's user/ACL restore, migration re-stamping, and pydantic
rehydration (import_source.py:45-246, snapshot.py) dissolve: this engine has
no account database, no ORM revisions, and its nodes are already rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cognee_spark.functions.ids import id_for_col
from cognee_spark.sources.memory_stores import iso_ts

# Canonical 8-4-4-4-12 (plus bare-32-hex) forms. The reference accepts every
# string uuid.UUID() parses (braces, urn: prefixes); those variants do not
# occur in the exports the memory-store adapters write.
_UUID_RE = r"^([0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}|[0-9a-fA-F]{32})$"


def looks_like_uuid(col: Column) -> Column:
    """_looks_like_uuid (loader.py:115-120), canonical forms."""
    return col.rlike(_UUID_RE)


def _merged_entities(records: DataFrame, preserve_source_ids: bool) -> DataFrame:
    """Entity records merged per node id (_register_entity, loader.py:156-218).

    node_id: with ``preserve_source_ids`` a UUID-shaped external_id is kept
    verbatim (cognee-origin archives — exact graph copy); otherwise
    ``Entity.id_for(name)`` merges same-named records. First record (by seq)
    wins name/external_id; later records append their distinct descriptions
    and fill a missing entity_type."""
    entities = records.where(F.col("kind") == "entity")
    if preserve_source_ids:
        node_id = F.when(
            looks_like_uuid(F.col("external_id")), F.lower(F.col("external_id"))
        ).otherwise(id_for_col("Entity", F.col("name")))
    else:
        node_id = id_for_col("Entity", F.col("name"))
    desc = F.concat(
        F.coalesce(F.col("description"), F.col("name")),
        F.when(
            F.size(F.coalesce(F.col("aliases"), F.array())) > 0,
            F.concat(
                F.lit(" Also known as: "), F.array_join(F.col("aliases"), ", "), F.lit(".")
            ),
        ).otherwise(F.lit("")),
    )
    base = entities.select(
        node_id.alias("node_id"),
        F.struct(
            "seq",
            F.col("name").alias("name"),
            desc.alias("description"),
            F.col("entity_type").alias("entity_type"),
            F.col("external_id").alias("external_id"),
        ).alias("rec"),
    )
    merged = base.groupBy("node_id").agg(
        F.array_sort(F.collect_list("rec")).alias("recs")
    )
    recs = F.col("recs")
    description = F.aggregate(
        F.slice(recs, 2, F.greatest(F.size(recs) - 1, F.lit(0))),
        recs[0]["description"],
        lambda acc, x: F.when(
            x["description"].isNotNull() & ~acc.contains(x["description"]),
            F.concat(acc, F.lit("\n"), x["description"]),
        ).otherwise(acc),
    )
    return merged.select(
        "node_id",
        recs[0]["name"].alias("name"),
        description.alias("description"),
        # F.get: null (not ANSI OOB error) when no record carried a type
        F.get(F.filter(recs, lambda x: x["entity_type"].isNotNull()), 0)[
            "entity_type"
        ].alias("entity_type"),
        recs[0]["external_id"].alias("first_external_id"),
        recs[0]["seq"].alias("seq"),
    )


def graph_tables(
    records: DataFrame, preserve_source_ids: bool = False
) -> dict[str, DataFrame]:
    """Preserve/hybrid-mode graph import (_build_graph_batches,
    loader.py:221-353) as one dataflow.

    Returns ``nodes`` (id, name, description, type, is_a_id), ``entity_types``
    (id, name, description), ``edges`` (source_id, target_id,
    relationship_name, edge_text, valid_at, invalid_at, confidence,
    source_system, source_external_id), and one-row ``stats``
    (skipped_facts, deduped_edges). The reference's bounded-batch splitting
    (loader.py:268-344) dissolves — partitions are the batches, and the
    store's nodes-before-edges commit ordering replaces per-batch
    self-containment."""
    entities = _merged_entities(records, preserve_source_ids)

    raw = records.where(F.col("kind") == "raw_node").select(
        F.col("raw_props")["id"].alias("node_id"),
        F.coalesce(F.col("raw_props")["name"], F.col("raw_props")["id"]).alias("name"),
        F.col("raw_props")["description"].alias("description"),
        F.coalesce(F.col("raw_props")["type"], F.lit("DataPoint")).alias("type"),
        "seq",
        "raw_props",
    ).where(F.col("node_id").isNotNull())
    # first record wins per raw id (loader.py:250-256 setdefault)
    raw = (
        raw.withColumn(
            "_rn", F.row_number().over(Window.partitionBy("node_id").orderBy("seq"))
        )
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )

    # EntityType registry keyed on lower(name), first spelling wins
    # (loader.py:179-183); ids are EntityType.id_for(name).
    entity_types = (
        entities.where(F.col("entity_type").isNotNull())
        .groupBy(F.lower(F.col("entity_type")).alias("_key"))
        .agg(F.min_by("entity_type", "seq").alias("name"))
        .select(
            id_for_col("EntityType", F.col("name")).alias("id"),
            "name",
            F.col("name").alias("description"),
            "_key",
        )
    )
    entity_nodes = entities.join(
        entity_types.select(F.col("_key"), F.col("id").alias("is_a_id")),
        F.lower(entities["entity_type"]) == F.col("_key"),
        "left",
    ).select(
        F.col("node_id").alias("id"),
        "name",
        "description",
        F.lit("Entity").alias("type"),
        "is_a_id",
    )

    # external_id → node_id registry over entity records and raw nodes
    # (loader.py:207,216-217,254-256); first mapping wins per external_id.
    ent_refs = records.where(F.col("kind") == "entity").select(
        F.col("external_id").alias("ref_key"),
        (
            F.when(
                F.lit(preserve_source_ids) & looks_like_uuid(F.col("external_id")),
                F.lower(F.col("external_id")),
            ).otherwise(id_for_col("Entity", F.col("name")))
        ).alias("reg_node_id"),
        "seq",
    )
    raw_refs = raw.select(
        F.col("node_id").alias("ref_key"), F.col("node_id").alias("reg_node_id"), "seq"
    )
    registry = (
        ent_refs.unionByName(raw_refs)
        .withColumn(
            "_rn", F.row_number().over(Window.partitionBy("ref_key").orderBy("seq"))
        )
        .where(F.col("_rn") == 1)
        .select("ref_key", "reg_node_id")
    )
    known = (
        entity_nodes.select(F.col("id").alias("known_id"))
        .unionByName(raw.select(F.col("node_id").alias("known_id")))
        .distinct()
    )

    facts = records.where(F.col("kind") == "fact")
    refs = facts.select(
        "seq",
        F.explode(
            F.array(
                F.struct(F.lit("s").alias("side"), F.col("subject_ref").alias("ref")),
                F.struct(F.lit("o").alias("side"), F.col("object_ref").alias("ref")),
            )
        ).alias("r"),
    ).select("seq", F.col("r.side").alias("side"), F.col("r.ref").alias("ref"))
    candidate = id_for_col("Entity", F.col("ref"))
    resolved = (
        refs.join(registry, refs["ref"] == registry["ref_key"], "left")
        .withColumn("candidate", candidate)
        .join(known, F.col("candidate") == known["known_id"], "left")
        .select(
            "seq",
            "side",
            "ref",
            F.coalesce(
                F.col("reg_node_id"),
                F.when(F.col("known_id").isNotNull(), F.col("candidate")),
                F.when(~looks_like_uuid(F.col("ref")), F.col("candidate")),
            ).alias("node_id"),
            (
                F.col("reg_node_id").isNull()
                & F.col("known_id").isNull()
                & ~looks_like_uuid(F.col("ref"))
            ).alias("is_stub"),
        )
    )
    # plain-name refs the archive doesn't contain become stub entities
    # (loader.py:288-292): name = description = the ref text
    stubs = (
        resolved.where(F.col("is_stub"))
        .groupBy(F.col("node_id").alias("id"))
        .agg(F.min_by("ref", "seq").alias("name"))
        .select(
            "id",
            "name",
            F.col("name").alias("description"),
            F.lit("Entity").alias("type"),
            F.lit(None).cast("string").alias("is_a_id"),
        )
    )

    per_fact = resolved.groupBy("seq").agg(
        F.max(F.when(F.col("side") == "s", F.col("node_id"))).alias("subject_id"),
        F.max(F.when(F.col("side") == "o", F.col("node_id"))).alias("object_id"),
    )
    fact_rows = facts.join(per_fact, "seq", "left")
    resolvable = fact_rows.where(
        F.col("subject_id").isNotNull() & F.col("object_id").isNotNull()
    )
    # first fact wins per resolved edge key (loader.py:299-324,566-614)
    ranked = resolvable.withColumn(
        "_rn",
        F.row_number().over(
            Window.partitionBy("subject_id", "object_id", "predicate").orderBy("seq")
        ),
    )
    edges = ranked.where(F.col("_rn") == 1).select(
        F.col("subject_id").alias("source_id"),
        F.col("object_id").alias("target_id"),
        F.col("predicate").alias("relationship_name"),
        F.col("fact_text").alias("edge_text"),
        iso_ts(F.col("valid_at")).alias("valid_at"),
        iso_ts(F.col("invalid_at")).alias("invalid_at"),
        "confidence",
        F.col("external_system").alias("source_system"),
        F.col("external_id").alias("source_external_id"),
    )

    raw_nodes = raw.select(
        F.col("node_id").alias("id"), "name", "description", "type",
        F.lit(None).cast("string").alias("is_a_id"),
    )
    nodes = entity_nodes.unionByName(stubs).unionByName(raw_nodes)

    n_facts = facts.select(F.count(F.lit(1)).alias("n"))
    n_resolvable = resolvable.select(F.count(F.lit(1)).alias("n"))
    n_edges = edges.select(F.count(F.lit(1)).alias("n"))
    stats = (
        n_facts.crossJoin(n_resolvable.withColumnRenamed("n", "n_ok"))
        .crossJoin(n_edges.withColumnRenamed("n", "n_kept"))
        .select(
            (F.col("n") - F.col("n_ok")).alias("skipped_facts"),
            (F.col("n_ok") - F.col("n_kept")).alias("deduped_edges"),
        )
    )  # three 1-row aggregates crossed — bounded, not a data-size crossJoin

    return {
        "nodes": nodes,
        "entity_types": entity_types.drop("_key"),
        "edges": edges,
        "stats": stats,
    }
