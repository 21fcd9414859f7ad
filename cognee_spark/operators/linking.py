"""Entity linking + canonicalization — L1-L9 of SURVEY.md §2.4.

Code mode: the reference's resolution ladder (extract_code_graph.py:157-168,
222-235,305-314) re-expressed as Spark joins:
  1. exact qualified-name match within the repo
  2. unique short-name suffix match within the repo (count()==1 filter)
  3. ambiguous / unknown → dropped
Import targets resolve to modules of the same repo, else become external
dependencies.

NL mode: the reference's exact-then-fuzzy ontology match
(matching_strategies.py:23-53) generalized for scale:
  1. exact merge on separator-free match_key (deterministic id equality —
     SURVEY §1.1 "merge by construction")
  2. MinHash-LSH banding over distinct match keys → candidate pairs
     (bounded buckets; skew-capped)
  3. difflib-ratio >= 0.8 scoring of the candidates, union-find closure
     into clusters: up to DRIVER_NAME_BOUND distinct names in one driver
     pass over the collected names; past it, distributed (Arrow-batched
     pandas scorer, large-star/small-star connected components)
  4. canonical name = min normalized name in cluster (shared rule with the
     oracle: cognee_spark/functions/similarity.py)

Shuffle budget: the expensive objects (distinct match keys) are tiny relative
to mentions (entity dictionaries are sublinear in corpus size), so the final
alias map is BROADCAST onto the edge stream — the north rule's "broadcast of
the entity dictionary". The resolution ladder shuffles on (repo, name),
partition-pruned by the repo/lang partitioning of the input.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator, Sequence
from functools import partial

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cognee_spark.functions.ids import normalize_identity_col
from cognee_spark.functions.narrow import SHA
from cognee_spark.functions.similarity import MAX_LSH_BUCKET, SIMILARITY_CUTOFF, cluster_names
from cognee_spark.operators.components import connected_components
from cognee_spark.session import row_frame

# The distinct NL names are dictionary-sized (entities, not mentions). Up to
# this many, _self_cluster collects them in one job and clusters them in one
# single-threaded driver pass; past it, the distributed path takes over.
# Measured at local[4] on syllable-built names (dense LSH buckets, many
# candidate pairs per name), driver pass against distributed path, wall:
# 10,000 names 3.3 s against 12.4 s, 20,000 names 11.6 s against 29.5 s,
# same mappings. The driver pass grows with the candidate pairs, faster than
# the names, on one core: the bound caps it near ten seconds, and past it
# the distributed path spreads the scoring over the executors.
DRIVER_NAME_BOUND = 20_000


# --- code-mode resolution ------------------------------------------------------


def resolve_code_edges(mentions: DataFrame, raw_edges: DataFrame) -> DataFrame:
    """Raw code edges → resolved (repo, src, rel, dst) qualified-name edges.

    All joins key on (repo, name): high-cardinality composite keys, so repo
    VOLUME skew spreads across partitions on its own. A hot KEY (one bare
    name called from a third of the corpus — e.g. a mega-repo where every
    file calls the same ambiguous symbol) still lands in one shuffle
    partition, and AQE's skew-join rule CANNOT split it here: the rule only
    matches SMJs whose sorts sit directly on shuffle stages, and the
    dictionary sides (symbols/shorts/modules) end in aggregates (measured:
    the same hot key splits 1→3 in a plain two-key SMJ but never in the
    aggregate-adjacent form, even with forceOptimizeSkewedJoin). The
    hot-key prefilter below drops the bare calls that cause it.

    Output schema contract: alongside the public columns (repo, src, rel,
    dst, content_sha, ...) the frame carries the INTERNAL narrowed-sha pair
    ``_sha_bin``/``_sha_raw`` (functions/narrow.py) so code_triples can consume
    the digest without a hex round trip; consumers persisting or
    ``select('*')``-ing this frame should drop the pair, and input frames
    must not already carry columns of those reserved names (they would be
    overwritten).
    """
    code_m = mentions.where(F.col("mode") == "code")
    # the provenance sha rides the probe side of every resolution join as a
    # 32-byte digest instead of 64-char hex (functions/narrow.py — guarded, so
    # non-sha fixture values pass through bit-identical). The branch selects
    # expose BOTH the widened string (the public content_sha schema) and the
    # narrow pair: code_triples consumes the pair directly and column pruning
    # removes the unevaluated widen, so the composed pipeline pays no
    # hex round trip; a consumer reading content_sha prunes the pair instead.
    _sha_bin, _sha_raw = SHA.narrow(F.col("content_sha"))
    code_e = (
        raw_edges.where(F.col("mode") == "code")
        .withColumn(SHA.bin, _sha_bin)
        .withColumn(SHA.raw, _sha_raw)
        .drop("content_sha")
    )
    _sha_cols = (
        SHA.widen(F.col(SHA.bin), F.col(SHA.raw)).alias("content_sha"),
        F.col(SHA.bin),
        F.col(SHA.raw),
    )

    symbols = (
        code_m.where(F.col("kind").isin("class", "function", "method"))
        .select("repo", F.col("name").alias("qualified"))
        .distinct()
    )
    shorts = symbols.select(
        "repo", F.substring_index("qualified", ".", -1).alias("short"), "qualified"
    )
    short_counts = shorts.groupBy("repo", "short").agg(
        F.min("qualified").alias("qualified"), F.count(F.lit(1)).alias("n")
    )
    unique_shorts = short_counts.where(F.col("n") == 1).drop("n")
    # the AMBIGUOUS shorts (defined >= 2x in their repo) are the hot-key
    # prefilter below; ambiguity is rare, so this side is ~100x smaller than
    # the symbol dictionary and broadcasts
    ambiguous_shorts = short_counts.where(F.col("n") > 1).select(
        "repo", F.col("short").alias("dst")
    )
    modules = code_m.where(F.col("kind") == "module").select(
        "repo", F.col("name").alias("module_name")
    ).distinct()

    # HOT-KEY PREFILTER: a bare call whose (repo, short) is AMBIGUOUS can
    # never resolve (ladder rule 3 — extract_code_graph.py:305-314), so drop
    # it BEFORE any (repo, dst) shuffle. This is where real-corpus hot keys
    # live (everybody defines and calls `helper`/`main`/`init`): the mega-repo
    # skew corpus measured a ~1M-row hot partition in the resolution SMJs
    # that AQE cannot split (aggregate-adjacent sides) and that salting fixed
    # only at a x S dictionary-replication cost, slower end to end
    # (BENCH/BASELINE.md); the broadcast anti-join kills those rows at the
    # scan instead. Bare shorts contain no dots, so
    # no row that could match the exact (qualified, dotted) join is touched.
    calls = code_e.where(F.col("rel") == "calls").join(
        F.broadcast(ambiguous_shorts), ["repo", "dst"], "left_anti"
    )
    # the symbol/module dictionaries GROW WITH THE CORPUS (unlike the NL alias
    # dictionary) — broadcasting them would serialize a driver-side hash-build
    # of millions of rows, and shuffle-hash joins OOM because their build side
    # cannot spill; sort-merge spills gracefully
    exact_side = symbols.select(
        F.col("repo").alias("x_repo"), F.col("qualified").alias("dst_exact")
    ).hint("merge")
    suffix_side = unique_shorts.select(
        F.col("repo").alias("s_repo"), F.col("short").alias("s_short"),
        F.col("qualified").alias("dst_suffix"),
    ).hint("merge")
    resolved_calls = (
        calls.join(
            exact_side,
            on=[calls["repo"] == exact_side["x_repo"], calls["dst"] == exact_side["dst_exact"]],
            how="left",
        )
        .join(
            suffix_side,
            on=[calls["repo"] == suffix_side["s_repo"], calls["dst"] == suffix_side["s_short"]],
            how="left",
        )
        .withColumn("dst_resolved", F.coalesce("dst_exact", "dst_suffix"))
        .where(F.col("dst_resolved").isNotNull())
        .select(
            "repo", "path", "lang", *_sha_cols, "src",
            F.col("rel"), F.col("dst_resolved").alias("dst"),
        )
    )

    imports = code_e.where(F.col("rel") == "imports_raw")
    module_side = modules.select(
        F.col("repo").alias("m_repo"), F.col("module_name")
    ).hint("merge")
    resolved_imports = (
        imports.join(
            module_side,
            on=[imports["repo"] == module_side["m_repo"], imports["dst"] == module_side["module_name"]],
            how="left",
        )
        .select(
            "repo", "path", "lang", *_sha_cols, "src",
            F.when(F.col("module_name").isNotNull(), F.lit("imports"))
            .otherwise(F.lit("depends_on_external"))
            .alias("rel"),
            "dst",
        )
    )

    passthrough = code_e.where(
        F.col("rel").isin("has_method", "depends_on_external", "exposes")
    ).select("repo", "path", "lang", *_sha_cols, "src", "rel", "dst")

    return resolved_calls.unionByName(resolved_imports).unionByName(passthrough)


def code_triples(resolved: DataFrame) -> DataFrame:
    """Resolved edges → normalized (subj, pred, obj) triples.

    Node names are repo-qualified except external deps / routes, matching the
    oracle (sources/golden.py resolve_code_triples). ONE distinct, on the
    normalized projection: normalization (lowercase/translate per column)
    can only merge rows, never split them, so distinct-after-normalize is
    set-equal to distinct-raw-then-normalize-then-distinct — and the earlier
    raw distinct was a second full exchange of the entire triple set that
    measured 0% selective on real corpora (resolution already emits each
    fact once per file)."""
    qualify_obj = F.when(
        F.col("rel").isin("depends_on_external", "exposes"),
        normalize_identity_col(F.col("dst")),
    ).otherwise(normalize_identity_col(F.concat_ws(":", "repo", "dst")))
    # the dedup exchange moves the whole triple set — sha rides it narrowed;
    # resolve_code_edges already carries the narrow pair, so reuse it (the
    # widen it also exposes is pruned away) instead of re-unhexing per row
    if SHA.bin in resolved.columns:
        sha_bin, sha_raw = F.col(SHA.bin), F.col(SHA.raw)
    else:
        sha_bin, sha_raw = SHA.narrow(F.col("content_sha"))
    return SHA.distinct(
        resolved.select(
            normalize_identity_col(F.concat_ws(":", "repo", "src")).alias("subj"),
            normalize_identity_col(F.col("rel")).alias("pred"),
            qualify_obj.alias("obj"),
            "repo", "path", "lang",
            sha_bin.alias(SHA.bin), sha_raw.alias(SHA.raw),
        ),
        "content_sha",
    )


# --- NL-mode linking -------------------------------------------------------------


_BANDS_SCHEMA = T.ArrayType(T.StringType())


@F.pandas_udf(_BANDS_SCHEMA)
def _lsh_bands_udf(keys: pd.Series) -> pd.Series:
    from cognee_spark.functions.similarity import lsh_band_keys

    return keys.map(lsh_band_keys)


@F.pandas_udf(T.StringType())
def _match_key_udf(names: pd.Series) -> pd.Series:
    from cognee_spark.functions.similarity import match_key

    return names.map(match_key)


_PAIR_SCORE_SCHEMA = T.StructType(
    [
        T.StructField("a", T.StringType()),
        T.StructField("b", T.StringType()),
        T.StructField("score", T.DoubleType()),
    ]
)


def _score_pairs(
    batches: Iterable[pd.DataFrame], out_cols: Sequence[str] = ("a", "b", "score")
) -> Iterator[pd.DataFrame]:
    """difflib-ratio ``score`` of each (a, b) pair; yields ``out_cols``, so
    passenger columns ride along when the caller names them."""
    from cognee_spark.functions.similarity import name_similarity

    for pdf in batches:
        pdf = pdf.copy()
        pdf["score"] = [name_similarity(a, b) for a, b in zip(pdf["a"], pdf["b"])]
        yield pdf[list(out_cols)]


_PAIR_PASSTHROUGH_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("onto_canonical", T.StringType()),
        T.StructField("score", T.DoubleType()),
    ]
)


def alias_map(
    nl_names: DataFrame, name_col: str = "name", ontology: DataFrame | None = None
) -> DataFrame:
    """Distinct NL surface names → (name, canonical) mapping DataFrame.

    The returned frame is dictionary-sized (distinct entities, not mentions) —
    the caller broadcasts it onto the mention/edge stream.

    With an ``ontology`` frame (name, canonical[, parent]) the reference's
    exact-then-fuzzy ontology resolution runs FIRST
    (RDFLibOntologyResolver.find_closest_match, matching_strategies.py:23-53):
    surface names matching an ontology label — exactly on match_key, or
    fuzzily at difflib ratio >= 0.8 over LSH candidates — are rewritten to the
    ontology individual's canonical name (expand_with_nodes_and_edges.py
    name_mapping semantics). Only the remainder goes through corpus
    self-clustering. The ontology is dictionary-sized by definition →
    broadcast joins throughout.
    """
    names = nl_names.select(F.col(name_col).alias("name")).distinct()
    keyed = names.withColumn("mkey", _match_key_udf("name"))
    if ontology is not None:
        # the exact, fuzzy and remainder branches all read the keyed names
        keyed = keyed.localCheckpoint(eager=True)
        onto = (
            ontology.select(
                F.col("name").alias("onto_name"),
                normalize_identity_col(F.col("canonical")).alias("onto_canonical"),
            )
            .distinct()
            .withColumn("okey", _match_key_udf("onto_name"))
        )
        # exact: same aggressive match key as corpus merging
        exact_hit = (
            keyed.join(
                F.broadcast(onto.select("okey", "onto_canonical")).withColumnRenamed("okey", "mkey"),
                "mkey",
            )
            .groupBy("name")
            .agg(F.min("onto_canonical").alias("canonical"))
        )
        # fuzzy: LSH-banded candidates vs ontology keys, difflib >= 0.8,
        # best score wins (ties: lexicographically smallest canonical)
        unmatched = keyed.join(exact_hit.select("name"), "name", "left_anti")
        cand = (
            unmatched.select("name", "mkey", F.explode(_lsh_bands_udf("mkey")).alias("band"))
            .join(
                F.broadcast(
                    onto.select(
                        "onto_canonical", F.explode(_lsh_bands_udf("okey")).alias("band"),
                        F.col("okey"),
                    )
                ),
                "band",
            )
            .select(
                F.col("mkey").alias("a"), F.col("okey").alias("b"),
                "name", "onto_canonical",
            )
            .distinct()
        )
        fuzzy_scored = cand.mapInPandas(
            partial(_score_pairs, out_cols=_PAIR_PASSTHROUGH_SCHEMA.fieldNames()),
            _PAIR_PASSTHROUGH_SCHEMA,
        )
        fuzzy_hit = (
            fuzzy_scored.where(F.col("score") >= F.lit(SIMILARITY_CUTOFF))
            .groupBy("name")
            # best score wins; ties break to the smallest canonical name —
            # min over (-score, canonical) is deterministic in one aggregate
            .agg(F.min(F.struct((-F.col("score")).alias("ns"), F.col("onto_canonical"))).alias("best"))
            .select("name", F.col("best.onto_canonical").alias("canonical"))
        )
        onto_mapping = exact_hit.unionByName(fuzzy_hit)
        rest = keyed.join(onto_mapping.select("name"), "name", "left_anti")
        return onto_mapping.unionByName(_self_cluster(rest))
    return _self_cluster(keyed)


def _self_cluster(keyed: DataFrame) -> DataFrame:
    """Corpus self-clustering of (name, mkey) rows → (name, canonical).

    One ``limit(DRIVER_NAME_BOUND + 1)`` collect is both the size probe and
    the fetch: within the bound the names cluster on the driver and the
    mapping ships back as a ``LocalRelation`` (no further job); past it the
    distributed path runs over the checkpointed names."""
    spark = keyed.sparkSession
    names = [r.name for r in keyed.select("name").limit(DRIVER_NAME_BOUND + 1).collect()]
    if len(names) <= DRIVER_NAME_BOUND:
        return row_frame(spark, cluster_names(names), "name string, canonical string")
    keyed = keyed.localCheckpoint(eager=True)
    keys = keyed.select("mkey").distinct()

    banded = keys.select("mkey", F.explode(_lsh_bands_udf("mkey")).alias("band"))
    # skew guard: drop degenerate bands before the self-join
    sized = banded.join(
        banded.groupBy("band").count().where(F.col("count") <= MAX_LSH_BUCKET),
        "band",
    )
    left = sized.select("band", F.col("mkey").alias("a"))
    right = sized.select("band", F.col("mkey").alias("b"))
    candidates = (
        left.join(right, "band")
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    scored = candidates.mapInPandas(_score_pairs, _PAIR_SCORE_SCHEMA)
    pairs = scored.where(F.col("score") >= F.lit(SIMILARITY_CUTOFF)).select("a", "b")

    comp = connected_components(pairs, "a", "b")
    clustered = keyed.join(
        comp.withColumnRenamed("node", "mkey"), "mkey", "left"
    ).withColumn("component", F.coalesce("component", "mkey"))
    canon = clustered.groupBy("component").agg(
        F.min(normalize_identity_col(F.col("name"))).alias("canonical")
    )
    return clustered.join(canon, "component").select("name", "canonical")


def ontology_is_a_triples(
    nl_triples_df: DataFrame, ontology: DataFrame, max_depth: int = 5
) -> DataFrame:
    """is_a ancestor triples for ontology individuals present in the graph.

    The reference imports the matched individual's subclass chain into the
    graph (RDFLibOntologyResolver.get_subgraph, RDFLibOntologyResolver.py:
    267-337: matched node + its is_a ancestors become nodes/edges). Spark
    form: restrict the (canonical, parent) ontology edge table to canonicals
    that actually appear in the NL triples (semi-join), then walk the parent
    chain ``max_depth`` levels by iterated broadcast self-join — the ontology
    is dictionary-sized, so every join is a broadcast and the loop is
    driver-cheap.

    Output schema matches the triples table (repo/path/lang/content_sha are
    null — structural knowledge has no source row).
    """
    parents = F.broadcast(
        ontology.where(F.col("parent").isNotNull()).select(
            normalize_identity_col(F.col("canonical")).alias("child"),
            normalize_identity_col(F.col("parent")).alias("parent"),
        ).distinct()
    )
    present = (
        nl_triples_df.select(F.col("subj").alias("child"))
        .unionByName(nl_triples_df.select(F.col("obj").alias("child")))
        .distinct()
    )
    out = None
    frontier = present
    for _ in range(max_depth):
        hop = frontier.join(parents, "child").select("child", "parent")
        out = hop if out is None else out.unionByName(hop)
        frontier = hop.select(F.col("parent").alias("child")).distinct()
    return (
        out.distinct()
        .select(
            F.col("child").alias("subj"),
            F.lit("is_a").alias("pred"),
            F.col("parent").alias("obj"),
            F.lit(None).cast("string").alias("repo"),
            F.lit(None).cast("string").alias("path"),
            F.lit(None).cast("string").alias("lang"),
            F.lit(None).cast("string").alias("content_sha"),
        )
    )


def nl_triples(raw_edges: DataFrame, mapping: DataFrame) -> DataFrame:
    """NL raw edges + broadcast alias map → canonical (subj, pred, obj)."""
    edges = raw_edges.where(F.col("mode") == "nl")
    m = F.broadcast(mapping)
    sha_bin, sha_raw = SHA.narrow(F.col("content_sha"))
    return SHA.distinct(
        edges.join(m.withColumnRenamed("name", "src").withColumnRenamed("canonical", "subj"), "src")
        .join(m.withColumnRenamed("name", "dst").withColumnRenamed("canonical", "obj"), "dst")
        .select(
            "subj",
            normalize_identity_col(F.col("rel")).alias("pred"),
            "obj",
            "repo", "path", "lang",
            sha_bin.alias(SHA.bin), sha_raw.alias(SHA.raw),
        ),
        "content_sha",
    )
