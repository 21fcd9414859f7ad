"""remember() typed-entry routing (operators/remember.py) vs the reference's
api/v1/remember dispatch + memory/entries.py validators."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from cognee_spark.operators import remember as R


def _entries(spark, rows):
    return spark.createDataFrame(
        rows, "entry_type string, user_id string, session_id string, seq long, payload string"
    )


def test_qa_and_untyped_routing_with_placeholder_skip(spark):
    rows = [
        ("qa", "u1", "s1", 0, json.dumps({"question": "q?", "answer": "a.", "context": "ctx"})),
        (None, "u1", "s1", 1, "plain note"),
        (None, "u1", "s1", 2, "  "),            # empty → skipped
        (None, "u1", "s1", 3, "[file: x.pdf]"),  # placeholder → skipped
        (None, "u1", "s1", 4, "[UploadFile]"),   # placeholder → skipped
    ]
    out = R.route_memory_entries(_entries(spark, rows))
    qa = {r.seq: (r.question, r.answer, r.context) for r in out["qa"].collect()}
    assert qa == {0: ("q?", "a.", "ctx"), 1: ("", "plain note", "")}
    # deterministic entry ids: same (user, session, seq) → same id
    again = R.route_memory_entries(_entries(spark, rows))
    assert (
        out["qa"].where(F.col("seq") == 0).first().entry_id
        == again["qa"].where(F.col("seq") == 0).first().entry_id
    )


def test_trace_rows_match_agent_trace_window_shape(spark):
    payload = json.dumps({
        "origin_function": "search_codebase", "status": "error",
        "method_return_value": "42", "error_message": "boom",
    })
    out = R.route_memory_entries(_entries(spark, [("trace", "u1", "s1", 5, payload)]))
    t = out["traces"].first()
    assert (t.origin_function, t.status, t.method_return_value, t.error_message) == (
        "search_codebase", "error", "42", "boom"
    )
    assert t.session_feedback is None
    # the frame is consumable by the existing agent-trace fold (a fresh
    # remember() has only raw content — session_feedback arrives via memify)
    from cognee_spark.operators.sessions import agent_trace_windows

    rendered = agent_trace_windows(out["traces"], raw_trace_content=True).first()
    assert rendered.n_steps == 1 and "42" in rendered.text


def test_skill_run_validation_rejects_like_the_reference(spark):
    def run(seq, **kw):
        body = {"run_id": f"r{seq}", "selected_skill_id": "sk1", **kw}
        return ("skill_run", "u1", "s1", seq, json.dumps(body))

    rows = [
        run(0),                                   # valid, unscored
        run(1, success_score=0.9, feedback=-0.5,
            tool_trace=[{"t": 1}, {"t": 2}], candidate_skill_ids=["a", "b", "c"]),
        run(2, success_score=1.5),                # invalid score
        run(3, feedback=2.0),                     # invalid feedback
        run(4, latency_ms=-1),                    # invalid ms
        ("skill_run", "u1", "s1", 5, json.dumps({"run_id": "r5"})),  # no skill id
    ]
    out = R.route_memory_entries(_entries(spark, rows))
    runs = {r.run_id: r for r in out["skill_runs"].collect()}
    assert set(runs) == {"r0", "r1"}
    assert runs["r0"].success_score == R.UNSCORED_SKILL_RUN_SCORE
    assert runs["r1"].n_tool_calls == 2 and runs["r1"].n_candidates == 3
    reasons = {r.seq: r.reason for r in out["rejected"].collect()}
    assert "success_score" in reasons[2]
    assert "feedback" in reasons[3]
    assert "non-negative" in reasons[4]
    assert "selected_skill_id" in reasons[5]
    # deterministic node id from run_id
    assert runs["r0"].skill_run_id == runs["r0"].skill_run_id


def _skills(spark, rows):
    return spark.createDataFrame(
        rows,
        "id string, name string, description string, is_active boolean, "
        "dataset_scope array<string>",
    )


def test_persist_skill_runs_builds_object_graph(spark):
    skills = _skills(spark, [
        ("sid-1", "sk1", "does x", True, ["ds1"]),
        ("sid-2", "sk2", "does y", True, ["ds2"]),      # wrong dataset
        ("sid-3", "sk3", "does z", False, ["ds1"]),     # inactive
    ])
    rows = [
        ("skill_run", "u1", "s1", 0, json.dumps({
            "run_id": "r0", "selected_skill_id": "sk1", "task_text": "do x",
            "candidate_skill_ids": ["sid-1", "sid-9"],
            "tool_trace": [
                {"tool_name": "bash", "tool_output": "ok", "success": True},
                "not-a-dict",
            ],
        })),
        ("skill_run", "u1", "s1", 1, json.dumps({
            "run_id": "r1", "selected_skill_id": "sid-1"})),   # resolve by id
        ("skill_run", "u1", "s1", 2, json.dumps({
            "run_id": "r2", "selected_skill_id": "sk2"})),     # wrong dataset
        ("skill_run", "u1", "s1", 3, json.dumps({
            "run_id": "r3", "selected_skill_id": "sk3"})),     # inactive
    ]
    runs = R.route_memory_entries(_entries(spark, rows))["skill_runs"]
    out = R.persist_skill_runs(runs, skills, "ds1", node_set_name="skills")

    bad = {r.run_id: r.reason for r in out["unresolved"].collect()}
    assert set(bad) == {"r2", "r3"} and "ds1" in bad["r2"]

    nodes = {(r.kind, r.name) for r in out["nodes"].collect()}
    assert ("SkillRun", "r0") in nodes and ("SkillRun", "r1") in nodes
    assert ("Skill", "sk1") in nodes
    assert ("CandidateSkill", "sk1") in nodes       # selected → enriched name
    assert ("CandidateSkill", "sid-9") in nodes     # unselected → skill_id label
    assert ("ToolCall", "bash") in nodes            # non-dict trace item skipped
    assert ("NodeSet", "skills") in nodes
    assert sum(1 for k, _ in nodes if k == "ToolCall") == 1

    rels = {}
    for r in out["edges"].collect():
        rels[r.relationship_name] = rels.get(r.relationship_name, 0) + 1
    # r1's empty candidate list defaults to the selected skill (skill_runs.py:102)
    assert rels == {
        "selected_skill": 2, "candidate_skills": 3,
        "tool_trace": 1, "belongs_to_set": 2,
    }
    # replayed batch upserts: identical ids both times
    again = R.persist_skill_runs(runs, skills, "ds1")
    assert sorted(r.edge_object_id for r in out["edges"].collect()) == \
        sorted(r.edge_object_id for r in again["edges"].collect())


def test_routing_and_persist_plans_are_pure_codegen(spark):
    entries = _entries(spark, [
        ("skill_run", "u1", "s1", 0,
         json.dumps({"run_id": "r0", "selected_skill_id": "sk1"})),
    ])
    skills = _skills(spark, [("sid-1", "sk1", "d", True, ["ds1"])])
    out = R.persist_skill_runs(
        R.route_memory_entries(entries)["skill_runs"], skills, "ds1"
    )
    for frame in (out["nodes"], out["edges"], out["unresolved"]):
        plan = frame._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
        assert "CartesianProduct" not in plan


def test_unknown_types_and_bad_scores_land_in_rejected(spark):
    rows = [
        ("QAEntry", "u1", "s1", 0, json.dumps({"question": "q"})),  # unknown type
        ("qa", "u1", "s1", 1, json.dumps({"question": "q", "feedback_score": 9})),
        ("qa", "u1", "s1", 2, json.dumps({"question": "q", "feedback_score": 5})),
        ("feedback", "u1", "s1", 3, json.dumps({"qa_id": "x", "feedback_score": 0})),
        ("feedback", "u1", "s1", 4, json.dumps({"feedback_score": 3})),  # no qa_id
        ("feedback", "u1", "s1", 5, json.dumps({"qa_id": "x", "feedback_score": 3})),
    ]
    out = R.route_memory_entries(_entries(spark, rows))
    reasons = {r.seq: r.reason for r in out["rejected"].collect()}
    assert "unknown entry_type 'QAEntry'" == reasons[0]
    assert "range [1, 5]" in reasons[1]
    assert "range [1, 5]" in reasons[3]
    assert "qa_id is required" == reasons[4]
    assert set(reasons) == {0, 1, 3, 4}
    assert {r.seq for r in out["qa"].collect()} == {2}
    assert {r.seq for r in out["feedback"].collect()} == {5}


def test_persist_uses_per_row_node_set(spark):
    skills = _skills(spark, [("sid-1", "sk1", "d", True, ["ds1"])])
    rows = [
        ("skill_run", "u1", "s1", 0, json.dumps(
            {"run_id": "r0", "selected_skill_id": "sk1", "node_set": "proj_x"})),
        ("skill_run", "u1", "s1", 1, json.dumps(
            {"run_id": "r1", "selected_skill_id": "sk1"})),  # default set
    ]
    runs = R.route_memory_entries(_entries(spark, rows))["skill_runs"]
    out = R.persist_skill_runs(runs, skills, "ds1")
    sets = {r.name for r in out["nodes"].where("kind = 'NodeSet'").collect()}
    assert sets == {"proj_x", "skills"}
    assert out["edges"].where("relationship_name = 'belongs_to_set'").count() == 2


def test_resolution_precedence_id_over_name(spark):
    # skill B's NAME collides with skill A's ID: the key must resolve to A
    skills = _skills(spark, [
        ("sid-1", "alpha", "a", True, ["ds1"]),
        ("sid-2", "sid-1", "b", True, ["ds1"]),
    ])
    rows = [("skill_run", "u1", "s1", 0, json.dumps(
        {"run_id": "r0", "selected_skill_id": "sid-1"}))]
    runs = R.route_memory_entries(_entries(spark, rows))["skill_runs"]
    out = R.persist_skill_runs(runs, skills, "ds1")
    selected = out["edges"].where("relationship_name = 'selected_skill'").first()
    skill_node = out["nodes"].where(
        F.col("node_id") == selected.target_node_id
    ).first()
    assert skill_node.name == "alpha"  # id outranks name


def test_qa_carries_inline_feedback_and_used_elements(spark):
    # QAEntry.used_graph_element_ids + inline feedback survive routing so
    # improve()'s feedback-weight extraction can consume remembered entries
    payload = json.dumps({
        "question": "q?", "answer": "a.",
        "feedback_text": "useful", "feedback_score": 4,
        "used_graph_element_ids": {"node_ids": ["n1"], "edge_ids": ["e1", "e2"]},
    })
    out = R.route_memory_entries(_entries(spark, [("qa", "u1", "s1", 0, payload)]))
    row = out["qa"].first()
    assert (row.feedback_text, row.feedback_score) == ("useful", 4)
    assert row.used_node_ids == ["n1"] and row.used_edge_ids == ["e1", "e2"]
    assert row.weights_applied is False

    # the routed frame feeds straight into edge-feedback extraction
    from cognee_spark.operators.feedback import extract_feedback_events

    events = extract_feedback_events(out["qa"], kinds=("edge",))["events"]
    got = {(r.element_id, r.element_kind, r.feedback_score)
           for r in events.collect()}
    assert got == {("e1", "edge", 4), ("e2", "edge", 4)}
