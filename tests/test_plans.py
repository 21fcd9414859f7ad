"""Physical-plan assertions: the optimizations we rely on at 100 TB must be
visible in the executed plan, not assumed.

- column pruning reaches the parquet scan (ReadSchema)
- dimension joins broadcast (no SortMergeJoin for dictionary-sized sides)
- hot-path column pipelines contain no Python eval nodes
- deterministic ids stay in codegen (pinned in test_ids.py too)
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"


import pytest


@pytest.fixture(autouse=True)
def _uncached(spark):
    # other test modules cache the same parquet relations; a cached scan hides
    # ReadSchema/PushedFilters, so plan assertions need a clean catalog
    spark.catalog.clearCache()
    yield


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_flagship_prunes_columns(spark):
    plan = _plan(entry_mod.flagship_mention_topk(spark, SF_DIR))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    assert m.group(1) == "text:string", m.group(1)
    assert "EvalPython" not in plan


def test_filter_pushdown_reaches_scan(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").where(F.col("lang") == "zh")
    plan = _plan(docs.select("doc_id"))
    assert re.search(r"PushedFilters: \[[^\]]*EqualTo\(lang,zh\)", plan), plan


def test_dimension_joins_broadcast(spark):
    plan = _plan(entry_mod.top_customers(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_ann_has_no_python_nodes(spark):
    plan = _plan(entry_mod.ann_topk(spark, SF_DIR))
    assert "EvalPython" not in plan  # dot products run in codegen
    assert "BroadcastNestedLoopJoin" in plan  # query side broadcast


def test_textstats_all_codegen(spark):
    for fn in (entry_mod.text_quality, entry_mod.text_token_counts, entry_mod.text_fingerprints):
        assert "EvalPython" not in _plan(fn(spark, SF_DIR))


def test_topk_is_distributed_not_global_window(spark):
    """bm25 / triplet top-k must compile to TakeOrderedAndProject — a global
    single-partition row_number window moves EVERY row to one task."""
    plan = _plan(entry_mod.bm25_topk(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan

    from cognee_spark.operators.retrieval import score_triplets, top_k_triplets

    triples = spark.createDataFrame(
        [("a", "r", "b"), ("b", "r", "c")], ["subj", "pred", "obj"]
    )
    dists = spark.createDataFrame(
        [("a", 0.1), ("b", 0.2), ("c", 0.3)], ["name", "distance"]
    )
    plan2 = _plan(top_k_triplets(score_triplets(triples, dists), k=1))
    assert "TakeOrderedAndProject" in plan2, plan2


def test_embedding_dedup_no_cartesian(spark):
    """The blocked LSH self-join must key on (band) — never an all-pairs
    CartesianProduct/BroadcastNestedLoopJoin."""
    plan = _plan(entry_mod.embedding_dedup_pairs(spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "EvalPython" not in plan  # planes/dots/signs all codegen


def test_nl_alias_join_broadcasts(spark):
    from cognee_spark.operators.linking import nl_triples

    raw = spark.createDataFrame(
        [("A", "uses", "B", "nl", "r", "p", "md", "c", "s")],
        ["src", "rel", "dst", "mode", "repo", "path", "lang", "chunk_id", "content_sha"],
    )
    mapping = spark.createDataFrame([("A", "a"), ("B", "b")], ["name", "canonical"])
    plan = _plan(nl_triples(raw, mapping))
    assert plan.count("BroadcastHashJoin") >= 2  # both alias lookups broadcast
    assert "SortMergeJoin" not in plan


def test_ambiguous_prefilter_is_broadcast_anti_join(spark):
    """The hot-key prefilter must stay a BROADCAST left-anti join: a shuffled
    anti-join would re-introduce the skewed (repo, dst) exchange it exists to
    avoid (BENCH/BASELINE.md Pair 3)."""
    from cognee_spark.operators.extraction import mentions_of, raw_edges_of, extract_from_files
    from cognee_spark.operators.linking import resolve_code_edges
    from cognee_spark.sources.corpus import build_repos_df

    repos = build_repos_df(spark, 120)
    files = repos.selectExpr("repo", "path", "lang", "content", "sha2(content, 256) AS content_sha")
    ext = extract_from_files(files)
    plan = _plan(resolve_code_edges(mentions_of(ext), raw_edges_of(ext)))
    anti = [ln for ln in plan.splitlines() if "LeftAnti" in ln]
    assert anti, plan
    assert all("Broadcast" in ln for ln in anti), anti


def test_sha_rides_exchanges_narrowed(spark):
    """The provenance sha must cross the dedup/aggregation exchanges as a
    32-byte digest, never as 64-char hex: every Exchange line in the plans of
    the sha-carrying operators mentions `_sha_bin`, not `content_sha`
    (functions/narrow.py — 25-30% of those rows' shuffle bytes at scale)."""
    from cognee_spark.operators.extraction import extract_from_files, mentions_of, raw_edges_of
    from cognee_spark.operators.linking import code_triples, resolve_code_edges
    from cognee_spark.operators.materialize import (
        build_contains_edges,
        build_edges,
        build_nodes,
        build_structural_edges,
    )
    from cognee_spark.sources.corpus import build_repos_df

    repos = build_repos_df(spark, 120)
    files = repos.selectExpr(
        "repo", "path", "lang", "content", "sha2(content, 256) AS content_sha"
    )
    ext = extract_from_files(files)
    triples = code_triples(resolve_code_edges(mentions_of(ext), raw_edges_of(ext)))
    mentions = mentions_of(ext).withColumn(
        "canonical_name", F.col("name")
    ).withColumn("chunk_id", F.lit("c1"))

    # expects_min: the aggregation-based operators keep the sha OUT of the
    # exchange keys, so their Exchange lines never showed content_sha even
    # pre-narrowing — the binding pin for them is that the min aggregate
    # itself runs on _sha_bin/_sha_raw (partial min crosses the exchange),
    # never on the hex string
    for df, expects_min in (
        (triples, False),
        (build_edges(triples, build_nodes(triples)), True),
        (build_structural_edges(mentions), True),
        (build_contains_edges(mentions), False),
    ):
        plan = _plan(df)
        lines = [
            ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
        ]
        assert lines, plan
        for ln in lines:
            # NOTE (r6 ADVICE): Exchange.toString prints only PARTITIONING
            # KEYS, so these per-line assertions pin the wide hex/uuid
            # strings out of the exchange KEYS; passenger columns riding an
            # exchange would never appear in these lines either way — the
            # binding pins for the aggregate-based operators are the
            # min(_sha_bin)/min(_sha_raw) and no-min(content_sha checks
            # below, which cover what actually crosses those exchanges.
            assert "content_sha" not in ln, ln
            # chunk-id container keys cross as 16-byte _uuid_bin, never as
            # the 36-char uuid string (functions/narrow.py)
            assert "container_id" not in ln, ln
        assert "min(content_sha" not in plan, plan
        if expects_min:
            assert "min(_sha_bin" in plan and "min(_sha_raw" in plan, plan
        else:
            # distinct-based dedup: the sha pair must BE the exchange keys
            assert any("_sha_bin" in ln for ln in lines), plan


def test_structural_edges_share_one_wide_exchange(spark):
    """exists_in and mentioned_in both re-aggregate the SAME three-key
    pre-reduction, so the full-width mentions exchange appears once per
    distinct subtree and is stage-reused at runtime — the family-level
    exchanges move only pre-reduced rows."""
    from cognee_spark.operators.materialize import build_structural_edges

    mentions = spark.createDataFrame(
        [("c1", "alice", "person", "s1"), ("c1", "bob", "person", "s2")],
        ["chunk_id", "canonical_name", "kind", "content_sha"],
    )
    plan = _plan(build_structural_edges(mentions))
    wide = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln
        and "_uuid_bin" in ln
        and "entity_name" in ln
        and "kind" in ln
    ]
    # both family branches sit on the identical three-key exchange subtree
    # (modulo attribute ids — runtime stage reuse keys on canonicalized
    # plans). With AQE off, planner-side ReuseExchange rewrites the second
    # subtree into a ReusedExchange node instead — equally satisfies the pin.
    normalized = {
        re.sub(r"#\d+|plan_id=\d+", "#", ln).strip().lstrip("+-: ") for ln in wide
    }
    assert (len(wide) == 2 and len(normalized) == 1) or (
        len(wide) == 1 and "ReusedExchange" in plan
    ), plan


def test_truth_projection_and_rollups_are_codegen(spark):
    """Round-5 operators must stay JVM-side in their hot paths: the truth
    coordinate projection (runs per-node over the whole corpus) and the
    lifecycle usage rollups (run over the whole call log) contain no Python
    eval nodes; the truth ranking's final top-k is TakeOrderedAndProject."""
    plan = _plan(entry_mod.truth_aligned_rrf(spark, SF_DIR))
    assert "EvalPython" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan

    plan = _plan(entry_mod.session_usage_counts(spark, SF_DIR))
    assert "EvalPython" not in plan, plan

    plan = _plan(entry_mod.agent_trace_windows_q(spark, SF_DIR))
    assert "EvalPython" not in plan, plan

    plan = _plan(entry_mod.coding_rules(spark, SF_DIR))
    assert "EvalPython" not in plan, plan


def test_score_triplets_broadcast_is_size_guarded(spark, monkeypatch):
    """No BroadcastExchange over an unbounded node-distance frame: within the
    probe bound the distance side broadcasts; past it the hint is withheld and
    the initial plan falls back to a shuffle join (AQE may still re-broadcast
    from real runtime stats — the point is no FORCED driver hash build)."""
    from cognee_spark.functions import broadcast as bc
    from cognee_spark.operators.retrieval import score_triplets

    triples = spark.createDataFrame(
        [("a", "r", "b"), ("b", "r", "c")], ["subj", "pred", "obj"]
    )
    dist = spark.createDataFrame(
        [("a", 0.1), ("b", 0.2), ("c", 0.3)], ["name", "distance"]
    )
    bounded = _plan(score_triplets(triples, dist))
    assert "BroadcastHashJoin" in bounded, bounded

    monkeypatch.setattr(bc, "BROADCAST_ROW_BOUND", 1)
    unbounded = _plan(score_triplets(triples, dist))
    assert "BroadcastExchange" not in unbounded, unbounded


def test_bounded_broadcast_trusts_a_plan_bound(spark):
    """A frame whose plan proves its bound (a limit) is hinted as it is: no
    checkpoint and no probe job."""
    from cognee_spark.functions.broadcast import bounded_broadcast

    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "test-bounded-broadcast")
    try:
        hinted = bounded_broadcast(spark.range(100).limit(3))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    assert not sc.statusTracker().getJobIdsForGroup("test-bounded-broadcast")
    plan = hinted._jdf.queryExecution().analyzed().toString()
    assert "strategy=broadcast" in plan and "LogicalRDD" not in plan, plan


def test_khop_frontier_broadcast_is_size_guarded(spark, monkeypatch):
    """Same guard on the k-hop frontier joins (hub-heavy graphs can push a
    2-hop frontier past the broadcast envelope)."""
    from cognee_spark.functions import broadcast as bc
    from cognee_spark.operators.retrieval import k_hop_subgraph

    edges = spark.createDataFrame(
        [("a", "r", "b"), ("b", "r", "c"), ("c", "r", "d")],
        ["subj", "pred", "obj"],
    )
    seeds = spark.createDataFrame([("a",)], ["name"])
    bounded = _plan(k_hop_subgraph(edges, seeds, k=1))
    assert "BroadcastHashJoin" in bounded, bounded

    monkeypatch.setattr(bc, "BROADCAST_ROW_BOUND", 0)
    unbounded = _plan(k_hop_subgraph(edges, seeds, k=1))
    assert "BroadcastExchange" not in unbounded, unbounded


def test_khop_guard_matches_unguarded_result(spark, monkeypatch):
    """A hub fixture (one node connected to everything) returns the same
    subgraph whether the frontier broadcasts or falls back to shuffle joins."""
    from cognee_spark.functions import broadcast as bc
    from cognee_spark.operators.retrieval import k_hop_subgraph

    rows = [("hub", "r", f"n{i}") for i in range(40)] + [
        (f"n{i}", "r", f"m{i}") for i in range(40)
    ]
    edges = spark.createDataFrame(rows, ["subj", "pred", "obj"])
    seeds = spark.createDataFrame([("hub",)], ["name"])
    expected = sorted(
        map(tuple, k_hop_subgraph(edges, seeds, k=2).collect())
    )
    monkeypatch.setattr(bc, "BROADCAST_ROW_BOUND", 0)
    guarded = sorted(map(tuple, k_hop_subgraph(edges, seeds, k=2).collect()))
    assert guarded == expected
    assert len(guarded) == 80  # hub reaches every edge within 2 hops


def test_build_nodes_single_aggregation_exchange(spark):
    """build_nodes must dedup endpoints in ONE aggregation keyed on the
    normalized identity (round 6: the old distinct-then-
    dropDuplicates(entity_id) form shuffled the node table twice), and the
    kinds sort-merge join must reuse that aggregation's exchange — one
    HashAggregate pair, no exchange between the aggregate and the join on
    the nodes side."""
    from cognee_spark.operators.materialize import build_nodes

    triples = spark.createDataFrame(
        [("a", "r", "b"), ("b", "r", "c"), ("a", "r", "c")],
        ["subj", "pred", "obj"],
    )
    plan = _plan(build_nodes(triples))
    # one partial/final aggregate pair (min(string) compiles to SortAggregate
    # — map-side combine still applies) and exactly ONE exchange: the node
    # table crosses the network once
    assert len(re.findall(r"(?:Sort|Hash)Aggregate", plan)) == 2, plan
    assert plan.count("Exchange") == 1, plan
    assert "EvalPython" not in plan

    kinds = spark.createDataFrame([("a", "thing")], ["name", "kind"])
    plan = _plan(build_nodes(triples, mentions_kinds=kinds))
    # join keyed on the same normalized key: the dedup aggregation's exchange
    # is the only one on the nodes side — no re-partition between the
    # aggregate and the sort-merge join (kinds side has its own exchange)
    assert len(re.findall(r"(?:Sort|Hash)Aggregate", plan)) == 2, plan
    assert plan.count("Exchange") == 2, plan
    assert "EvalPython" not in plan


def test_ranked_topk_adds_no_exchange_after_the_limit(spark):
    """The rank over the k survivors reuses the limit's single partition: no
    Exchange above TakeOrderedAndProject, and a one-query vector search is
    that one ordered limit too (no per-query window exchange)."""
    from cognee_spark.operators.retrieval import ranked_topk
    from cognee_spark.operators.similarity_search import brute_force_topk
    from cognee_spark.session import row_frame

    def above_limit(plan):
        lines = plan.splitlines()
        at = next(i for i, ln in enumerate(lines) if "TakeOrderedAndProject" in ln)
        return "\n".join(lines[:at])

    scored = spark.range(100).select("id", (F.col("id") % 7).alias("score"))
    plan = _plan(ranked_topk(scored, [F.desc("score"), F.asc("id")], 5))
    assert "Exchange" not in above_limit(plan), plan

    emb = spark.range(50).select(
        F.col("id").cast("string").alias("vec_id"),
        F.array(F.col("id").cast("double"), F.lit(1.0)).alias("embedding"),
    )
    query = row_frame(spark, [("q0", [1.0, 2.0])], "query_id string, query_vec array<double>")
    plan = _plan(brute_force_topk(emb, query, k=3))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange" not in above_limit(plan), plan
