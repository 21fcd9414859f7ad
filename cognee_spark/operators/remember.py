"""Unified memory-write routing — the reference's ``cognee.remember()``
typed-entry path (api/v1/remember/remember.py:43-260, memory/entries.py:
23-125) re-expressed as one dataflow split.

The reference dispatches each MemoryEntry object at call time: QAEntry →
``SessionManager.add_qa``, TraceEntry → ``add_agent_trace_step``,
FeedbackEntry → ``add_feedback`` (an update to an earlier QA), SkillRunEntry
→ graph-backed SkillRun datapoints (tools/skill_runs.py:70-170); untyped
payloads become a question-less QA turn unless they are file-upload
placeholders (remember.py:137-176 ``_add_to_session``). One entry = one
asyncio call there; here a frame of entries splits into the four
destination tables with type filters + ``from_json`` projections — zero
Python rows, one pass over the input.

Validation parity: the reference's pydantic validators REJECT out-of-range
scores per entry; a distributed batch must not die on one bad row, so
invalid rows land in a ``rejected`` frame with a reason column (the same
fail-open-per-batch rule operators/distillation.py uses for its curator
batches).

Entry frames carry (entry_type, user_id, session_id, seq, payload) where
payload is the entry's JSON body — the polymorphic-fields-as-raw-JSON
pattern sources/memory_stores.py established. ``seq`` replaces arrival
order (meaningless under partitioning) exactly as it does there.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cognee_spark.functions.ids import id_for_col

# file-upload payloads coerce to these placeholder strings; useless in the
# session cache (remember.py:137 _SESSION_PLACEHOLDER_PREFIXES)
PLACEHOLDER_PREFIXES = ("[UploadFile]", "[file:", "[BinaryIO", "[SpooledTemporaryFile")

UNSCORED_SKILL_RUN_SCORE = 0.5  # engine/models/SkillRun.py:7

_QA_SCHEMA = (
    "question string, answer string, context string, "
    "feedback_text string, feedback_score int, "
    # QAEntry.used_graph_element_ids (memory/entries.py:38) — the
    # {"node_ids": [...], "edge_ids": [...]} provenance dict that
    # SessionManager.add_qa persists and extract_feedback_qas reads
    "used_graph_element_ids struct<node_ids: array<string>, "
    "edge_ids: array<string>>"
)
_TRACE_SCHEMA = (
    "origin_function string, status string, method_return_value string, "
    "memory_query string, memory_context string, error_message string"
)
_FEEDBACK_SCHEMA = "qa_id string, feedback_text string, feedback_score int"
_SKILL_RUN_SCHEMA = (
    "run_id string, selected_skill_id string, task_text string, "
    "result_summary string, success_score double, feedback double, "
    "error_type string, error_message string, started_at_ms long, "
    "latency_ms long, candidate_skill_ids array<string>, "
    "task_pattern_id string, router_version string, "
    "tool_trace array<string>, node_set string"
)


def qa_entry_id(user_id, session_id, seq):
    """The entry id a later FeedbackEntry chains to via ``qa_id``
    (entries.py:70-77) — deterministic, so replayed remembers upsert."""
    return id_for_col(
        "QAEntry", user_id, session_id, seq.cast("string")
    )


def route_memory_entries(entries: DataFrame) -> dict[str, DataFrame]:
    """Split a typed-entry frame into its destination tables.

    Returns ``{"qa", "traces", "feedback", "skill_runs", "rejected"}``:

    - ``qa``          → (user_id, session_id, seq, question, answer,
      context, feedback_text, feedback_score, used_node_ids,
      used_edge_ids, weights_applied, entry_id) rows in the shape
      :func:`~cognee_spark.operators.sessions.session_windows` folds and
      :func:`~cognee_spark.improve.improve`'s feedback extraction reads;
      untyped rows (NULL entry_type) become question-less turns, with
      empty and placeholder payloads skipped;
    - ``traces``      → agent-trace step rows in the
      :func:`~cognee_spark.operators.sessions.agent_trace_windows` shape;
    - ``feedback``    → (qa_id, feedback_text, feedback_score) updates;
    - ``skill_runs``  → graph-backed run records with the reference's
      unscored default and deterministic node ids;
    - ``rejected``    → rows the reference's validators would refuse,
      with a ``reason`` — including rows whose ``entry_type`` is an
      UNKNOWN non-NULL string (the reference's dispatch raises on those;
      dropping them silently would lose a whole mistyped batch), and
      qa/feedback rows with an out-of-range ``feedback_score`` (the
      pydantic 1..5 validator, entries.py:40-44).
    """
    t = F.coalesce(F.col("entry_type"), F.lit("untyped"))
    known = ("qa", "trace", "feedback", "skill_run", "untyped")

    # the pydantic validators' score rule (entries.py:40-44): a non-NULL
    # feedback_score outside 1..5 is refused per entry
    qa_score = F.col("_e.feedback_score")
    qa_score_bad = qa_score.isNotNull() & ((qa_score < 1) | (qa_score > 5))
    qa_parsed = entries.where(t == "qa").select(
        "user_id", "session_id", "seq",
        F.from_json("payload", _QA_SCHEMA).alias("_e"),
    )
    qa_typed = qa_parsed.where(~qa_score_bad).select(
        "user_id", "session_id", "seq",
        F.coalesce(F.col("_e.question"), F.lit("")).alias("question"),
        F.coalesce(F.col("_e.answer"), F.lit("")).alias("answer"),
        F.coalesce(F.col("_e.context"), F.lit("")).alias("context"),
        # inline feedback + provenance ride along so improve()'s
        # feedback-weight extraction can consume remembered entries
        # (add_qa persists them; dropping them here severed the
        # remember→improve loop)
        F.col("_e.feedback_text").alias("feedback_text"),
        F.col("_e.feedback_score").alias("feedback_score"),
        F.col("_e.used_graph_element_ids.node_ids").alias("used_node_ids"),
        F.col("_e.used_graph_element_ids.edge_ids").alias("used_edge_ids"),
        F.lit(False).alias("weights_applied"),
    )
    qa_rejected = qa_parsed.where(qa_score_bad).select(
        "user_id", "session_id", "seq",
        F.lit("feedback_score must be in range [1, 5]").alias("reason"),
    )
    raw_text = F.coalesce(F.col("payload"), F.lit(""))
    untyped = entries.where(t == "untyped").select(
        "user_id", "session_id", "seq",
        F.lit("").alias("question"),
        F.trim(raw_text).alias("answer"),
        F.lit("").alias("context"),
        F.lit(None).cast("string").alias("feedback_text"),
        F.lit(None).cast("int").alias("feedback_score"),
        F.lit(None).cast("array<string>").alias("used_node_ids"),
        F.lit(None).cast("array<string>").alias("used_edge_ids"),
        F.lit(False).alias("weights_applied"),
    )
    skip = F.col("answer") == ""
    for p in PLACEHOLDER_PREFIXES:
        skip = skip | F.col("answer").startswith(p)
    untyped = untyped.where(~skip)
    qa = qa_typed.unionByName(untyped).withColumn(
        "entry_id",
        qa_entry_id(F.col("user_id"), F.col("session_id"), F.col("seq")),
    )

    traces = entries.where(t == "trace").select(
        "user_id", "session_id",
        F.col("seq").cast("long").alias("seq"),
        F.from_json("payload", _TRACE_SCHEMA).alias("_e"),
    ).select(
        "user_id", "session_id", "seq",
        F.lit(None).cast("string").alias("session_feedback"),
        F.col("_e.method_return_value").alias("method_return_value"),
        F.coalesce(F.col("_e.origin_function"), F.lit("")).alias("origin_function"),
        F.coalesce(F.col("_e.status"), F.lit("success")).alias("status"),
        F.coalesce(F.col("_e.error_message"), F.lit("")).alias("error_message"),
    )

    fb_parsed = entries.where(t == "feedback").select(
        "user_id", "session_id", "seq",
        F.from_json("payload", _FEEDBACK_SCHEMA).alias("_e"),
    )
    fb_score = F.col("_e.feedback_score")
    fb_bad_score = fb_score.isNotNull() & ((fb_score < 1) | (fb_score > 5))
    fb_missing_qa = F.coalesce(F.col("_e.qa_id"), F.lit("")) == ""
    feedback = fb_parsed.where(~fb_bad_score & ~fb_missing_qa).select(
        "user_id", "session_id", "seq",
        F.col("_e.qa_id").alias("qa_id"),
        F.col("_e.feedback_text").alias("feedback_text"),
        F.col("_e.feedback_score").alias("feedback_score"),
    )
    fb_rejected = fb_parsed.where(fb_bad_score | fb_missing_qa).select(
        "user_id", "session_id", "seq",
        F.when(fb_bad_score, "feedback_score must be in range [1, 5]")
        .otherwise("qa_id is required").alias("reason"),
    )

    runs_raw = entries.where(t == "skill_run").select(
        "user_id", "session_id", "seq",
        F.from_json("payload", _SKILL_RUN_SCHEMA).alias("_e"),
    ).select("user_id", "session_id", "seq", F.col("_e.*"))
    score_bad = F.col("success_score").isNotNull() & (
        (F.col("success_score") < 0.0) | (F.col("success_score") > 1.0)
    )
    fb = F.coalesce(F.col("feedback"), F.lit(0.0))
    feedback_bad = (fb < -1.0) | (fb > 1.0)
    ms_bad = (F.coalesce(F.col("started_at_ms"), F.lit(0)) < 0) | (
        F.coalesce(F.col("latency_ms"), F.lit(0)) < 0
    )
    missing_skill = F.coalesce(F.col("selected_skill_id"), F.lit("")) == ""
    bad = score_bad | feedback_bad | ms_bad | missing_skill
    run_rejected = runs_raw.where(bad).select(
        "user_id", "session_id", "seq",
        F.when(score_bad, "success_score must be in range [0.0, 1.0]")
        .when(feedback_bad, "feedback must be in range [-1.0, 1.0]")
        .when(ms_bad, "timestamp and latency fields must be non-negative")
        .otherwise("selected_skill_id is required").alias("reason"),
    )
    # the reference's dispatch raises on an unknown entry type
    # (remember.py:43-80); a distributed batch reports instead of dying —
    # but it must not silently drop the rows either
    unknown = entries.where(~t.isin(*known)).select(
        "user_id", "session_id", "seq",
        F.concat(F.lit("unknown entry_type '"), t, F.lit("'")).alias("reason"),
    )
    rejected = (
        run_rejected.unionByName(qa_rejected)
        .unionByName(fb_rejected)
        .unionByName(unknown)
    )
    skill_runs = runs_raw.where(~bad).select(
        id_for_col("SkillRun", F.col("run_id")).alias("skill_run_id"),
        "run_id", "user_id", "session_id",
        "selected_skill_id", "task_text", "result_summary",
        F.coalesce(F.col("success_score"), F.lit(UNSCORED_SKILL_RUN_SCORE))
        .alias("success_score"),
        fb.alias("feedback"),
        F.coalesce(F.col("error_type"), F.lit("")).alias("error_type"),
        F.coalesce(F.col("error_message"), F.lit("")).alias("error_message"),
        F.coalesce(F.col("started_at_ms"), F.lit(0)).alias("started_at_ms"),
        F.coalesce(F.col("latency_ms"), F.lit(0)).alias("latency_ms"),
        F.coalesce(F.col("candidate_skill_ids"), F.array())
        .alias("candidate_skill_ids"),
        F.coalesce(F.col("tool_trace"), F.array()).alias("tool_trace"),
        F.size(F.coalesce(F.col("candidate_skill_ids"), F.array()))
        .alias("n_candidates"),
        F.size(F.coalesce(F.col("tool_trace"), F.array())).alias("n_tool_calls"),
        F.coalesce(F.col("node_set"), F.lit("skills")).alias("node_set"),
    )
    return {
        "qa": qa,
        "traces": traces,
        "feedback": feedback,
        "skill_runs": skill_runs,
        "rejected": rejected,
    }


# each tool_trace element is the raw JSON of one ToolCall
# (engine/models/SkillRun.py:10-18)
_TOOL_CALL_SCHEMA = (
    "tool_name string, tool_output string, success boolean, duration_ms long"
)


def persist_skill_runs(
    runs: DataFrame,
    skills: DataFrame,
    dataset_id: str,
    node_set_name: str = "skills",
) -> dict[str, DataFrame]:
    """SkillRun rows → graph nodes + edges — the reference's
    ``remember_skill_run_entry`` (tools/skill_runs.py:70-170) where each
    entry resolves its selected skill inside one dataset, builds a SkillRun
    DataPoint with CandidateSkill / ToolCall children and a NodeSet tag,
    and hands the object graph to ``add_data_points`` (which flattens
    nested DataPoint fields into edges named after the field).

    Spark re-expression: resolution is ONE join against the dataset-scoped
    active skills (matched on name or id, the two things the reference's
    ``resolve_skills`` round-trips), children are explodes, and the flatten
    is a union of four edge projections. The reference RAISES on an
    unresolvable skill (one entry per call); a distributed batch must not
    die on one bad row, so those land in ``unresolved`` with a reason —
    the same fail-open rule ``route_memory_entries`` applies.

    Determinism deviation, stated: the reference's child DataPoints get
    random uuid4 ids; here every node id is uuid5 of its content position
    (run_id, candidate skill_id, tool-call ordinal) so a replayed remember
    batch upserts instead of duplicating — the engine's L2 rule.

    Returns ``{"nodes", "edges", "unresolved"}``; nodes carry
    (node_id, kind, name, text), edges carry
    (source_node_id, relationship_name, target_node_id, edge_object_id).
    """
    from cognee_spark.functions.ids import edge_object_id_col
    from cognee_spark.operators.skills import skill_resolution_keys

    if not dataset_id:
        raise ValueError("SkillRun persistence requires one explicit dataset.")
    keyed = skill_resolution_keys(skills, dataset_id)
    resolved = runs.join(
        keyed, runs["selected_skill_id"] == keyed["_skill_key"], "left"
    ).drop("_skill_key")
    unresolved = resolved.where(F.col("_skill_id").isNull()).select(
        "run_id", "user_id", "session_id",
        F.concat(
            F.lit("skill '"), F.col("selected_skill_id"),
            F.lit(f"' was not found or is not visible in dataset '{dataset_id}'"),
        ).alias("reason"),
    )
    ok = resolved.where(F.col("_skill_id").isNotNull())
    # skill_runs.py:102 — candidate list defaults to just the selected skill
    ok = ok.withColumn(
        "_candidates",
        F.when(
            F.size("candidate_skill_ids") > 0, F.col("candidate_skill_ids")
        ).otherwise(F.array(F.col("_skill_id"))),
    )

    # each run's own node_set tag (skill_runs.py:128-130 builds the NodeSet
    # from entry.node_set); the parameter is the fallback for frames
    # without the column
    if "node_set" in ok.columns:
        ok = ok.withColumn(
            "_node_set", F.coalesce(F.col("node_set"), F.lit(node_set_name))
        )
    else:
        ok = ok.withColumn("_node_set", F.lit(node_set_name))
    # the resolution join feeds SEVEN union branches below (five node
    # families + two edge projections); without a materialization each
    # branch re-executes the scan→parse→join subtree and codegen compiles
    # seven near-identical stages. One eager localCheckpoint computes it
    # once; every branch then reads the cached blocks. The checkpointed
    # frame is run-count-sized (one row per resolved entry), not
    # corpus-sized.
    ok = ok.localCheckpoint(eager=True)
    node_set_id = id_for_col("NodeSet", F.col("_node_set"))
    run_nodes = ok.select(
        F.col("skill_run_id").alias("node_id"),
        F.lit("SkillRun").alias("kind"),
        F.col("run_id").alias("name"),
        F.col("task_text").alias("text"),
    )
    cand = ok.select(
        "skill_run_id", "run_id", "_skill_id", "_skill_name",
        "_skill_description",
        F.explode("_candidates").alias("cand_skill_id"),
    ).withColumn(
        "cand_node_id",
        id_for_col("CandidateSkill", F.col("run_id"), F.col("cand_skill_id")),
    )
    is_selected = F.col("cand_skill_id") == F.col("_skill_id")
    cand_nodes = cand.select(
        F.col("cand_node_id").alias("node_id"),
        F.lit("CandidateSkill").alias("kind"),
        # skill_runs.py:56-66 — only the SELECTED candidate is enriched;
        # unselected ones keep their skill_id as the label (the reference
        # stores it as CandidateSkill.skill_id, the node's only content)
        F.when(is_selected, F.col("_skill_name"))
        .otherwise(F.col("cand_skill_id")).alias("name"),
        F.when(is_selected, F.col("_skill_description"))
        .otherwise(F.lit("")).alias("text"),
    )
    tools = ok.select(
        "skill_run_id", "run_id",
        F.posexplode("tool_trace").alias("pos", "raw"),
    ).select(
        "skill_run_id", "run_id", "pos",
        F.from_json("raw", _TOOL_CALL_SCHEMA).alias("_t"),
    # skill_runs.py:46-53 _coerce_tool_trace skips non-dict items
    ).where(F.col("_t.tool_name").isNotNull()).withColumn(
        "tool_node_id",
        id_for_col("ToolCall", F.col("run_id"), F.col("pos").cast("string")),
    )
    tool_nodes = tools.select(
        F.col("tool_node_id").alias("node_id"),
        F.lit("ToolCall").alias("kind"),
        F.col("_t.tool_name").alias("name"),
        F.coalesce(F.col("_t.tool_output"), F.lit("")).alias("text"),
    )
    set_nodes = ok.select(
        node_set_id.alias("node_id"),
        F.lit("NodeSet").alias("kind"),
        F.col("_node_set").alias("name"),
        F.lit("").alias("text"),
    ).dropDuplicates(["node_id"])
    skill_nodes = ok.select(
        F.col("_skill_id").alias("node_id"),
        F.lit("Skill").alias("kind"),
        F.col("_skill_name").alias("name"),
        F.col("_skill_description").alias("text"),
    ).dropDuplicates(["node_id"])
    nodes = (
        run_nodes.unionByName(cand_nodes).unionByName(tool_nodes)
        .unionByName(set_nodes).unionByName(skill_nodes)
        .dropDuplicates(["node_id"])
    )

    def _edges(df, src, rel, dst):
        return df.select(
            F.col(src).alias("source_node_id"),
            F.lit(rel).alias("relationship_name"),
            F.col(dst).alias("target_node_id"),
        )

    edges = (
        _edges(ok, "skill_run_id", "selected_skill", "_skill_id")
        .unionByName(_edges(cand, "skill_run_id", "candidate_skills", "cand_node_id"))
        .unionByName(_edges(tools, "skill_run_id", "tool_trace", "tool_node_id"))
        .unionByName(
            ok.select(
                F.col("skill_run_id").alias("source_node_id"),
                F.lit("belongs_to_set").alias("relationship_name"),
                node_set_id.alias("target_node_id"),
            )
        )
        .withColumn(
            "edge_object_id",
            edge_object_id_col(
                F.col("source_node_id"),
                F.col("relationship_name"),
                F.col("target_node_id"),
            ),
        )
        .dropDuplicates(["edge_object_id"])
    )
    return {"nodes": nodes, "edges": edges, "unresolved": unresolved}
