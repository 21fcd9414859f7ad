"""Session persistence (persist_sessions_in_knowledge_graph +
extract_user_sessions semantics): watermark-gated incremental windows,
reference rendering, stale-watermark recovery, advance-after-cognify."""

from __future__ import annotations

from cognee_spark.operators.sessions import (
    persist_sessions,
    session_windows,
    windows_as_documents,
)


def _sessions(spark, rows):
    return spark.createDataFrame(
        rows, "user_id string, session_id string, seq int, question string, answer string"
    )


def test_window_rendering_matches_reference_format(spark):
    s = _sessions(spark, [
        ("u1", "s1", 0, "What is X?", "X is a thing"),
        ("u1", "s1", 1, "And Y?", "Y too"),
    ])
    w = session_windows(s).first()
    assert w.text == (
        "Session ID: s1\n\n"
        "Question: What is X?\n\nAnswer: X is a thing\n\n"
        "Question: And Y?\n\nAnswer: Y too\n\n"
    )
    assert w.persisted_qa_count == 2


def test_watermark_gates_incremental_extraction(spark):
    s = _sessions(spark, [
        ("u1", "s1", 0, "q0", "a0"),
        ("u1", "s1", 1, "q1", "a1"),
        ("u1", "s1", 2, "q2", "a2"),
        ("u1", "s2", 0, "other", "session"),
    ])
    wm = spark.createDataFrame(
        [("u1", "s1", 2), ("u1", "s2", 1)],
        "user_id string, session_id string, persisted_qa_count long",
    )
    rows = {r.session_id: r for r in session_windows(s, wm).collect()}
    # s1: entries 0-1 already persisted → only q2 in the window; new wm = 3
    assert set(rows) == {"s1"}  # s2 fully persisted → NO row (zero work)
    assert "q2" in rows["s1"].text and "q1" not in rows["s1"].text
    assert rows["s1"].persisted_qa_count == 3


def test_stale_watermark_represists_from_start(spark):
    """Session shrank below its watermark (cleared + rebuilt) → the watermark
    is stale and the WHOLE current session re-persists
    (extract_user_sessions.py:69-80)."""
    s = _sessions(spark, [("u1", "s1", 0, "rebuilt", "entry")])
    wm = spark.createDataFrame(
        [("u1", "s1", 5)], "user_id string, session_id string, persisted_qa_count long"
    )
    w = session_windows(s, wm).first()
    assert "rebuilt" in w.text
    assert w.persisted_qa_count == 1


def test_persist_cognifies_and_advances_watermarks_exactly_once(spark, tmp_path):
    s = _sessions(spark, [
        ("u1", "s1", 0, "Does ZephyrService use QuokkaRegistry?",
         "Yes:\nZephyrService uses QuokkaRegistry.\n"),
    ])
    out = persist_sessions(spark, str(tmp_path / "store"), s)
    assert out["windows"] == 1
    # the window was cognified by the REAL pipeline: session knowledge is in
    # the graph under the user_sessions node-set namespace
    triples = {(r.subj, r.pred, r.obj) for r in out["tables"]["triples"].collect()}
    assert ("zephyrservice", "uses", "quokkaregistry") in triples
    docs = windows_as_documents(session_windows(s))
    assert docs.first().repo == "user_sessions_from_cache/u1"

    # watermark advanced AFTER the cognify → re-running with it is a no-op
    wm = out["watermarks"]
    assert wm.first().persisted_qa_count == 1
    again = persist_sessions(spark, str(tmp_path / "store"), s, watermarks=wm)
    assert again["windows"] == 0 and again["tables"] is None

    # a new entry arrives → exactly the delta window persists, wm merges
    s2 = _sessions(spark, [
        ("u1", "s1", 0, "Does ZephyrService use QuokkaRegistry?",
         "Yes:\nZephyrService uses QuokkaRegistry.\n"),
        ("u1", "s1", 1, "And MapleHub?", "See:\nMapleHub extends QuokkaRegistry.\n"),
        ("u2", "s9", 0, "fresh user", "fresh session"),
    ])
    third = persist_sessions(spark, str(tmp_path / "store2"), s2, watermarks=wm)
    assert third["windows"] == 2  # s1 delta + u2's new session
    merged = {
        (r.user_id, r.session_id): r.persisted_qa_count
        for r in third["watermarks"].collect()
    }
    assert merged == {("u1", "s1"): 2, ("u2", "s9"): 1}


# --- agent-trace feedback persist (extract_agent_trace_feedbacks.py) ---------


def _traces(spark, rows):
    return spark.createDataFrame(
        rows,
        "user_id string, session_id string, seq int, "
        "session_feedback string, method_return_value string",
    )


def test_agent_trace_rendering_drops_empty_and_orders_by_seq(spark):
    from cognee_spark.operators.sessions import agent_trace_windows

    t = _traces(spark, [
        ("u1", "t1", 2, "third step ok", "raw3"),
        ("u1", "t1", 0, "first step ok", "raw1"),
        ("u1", "t1", 1, "   ", "raw2"),       # whitespace-only → dropped
        ("u1", "t1", 3, None, "raw4"),        # null → dropped
    ])
    w = agent_trace_windows(t).first()
    assert w.text == "Session ID: t1\n\nfirst step ok\nthird step ok"
    assert w.n_steps == 2


def test_agent_trace_last_n_steps_window_and_raw_mode(spark):
    from cognee_spark.operators.sessions import agent_trace_windows

    rows = [("u1", "t1", i, f"fb{i}", f"raw{i}") for i in range(6)]
    t = _traces(spark, rows)
    w = agent_trace_windows(t, last_n_steps=3).first()
    assert w.text == "Session ID: t1\n\nfb3\nfb4\nfb5" and w.n_steps == 3
    # a window larger than the session keeps everything (no slice error)
    w = agent_trace_windows(t, last_n_steps=50).first()
    assert w.n_steps == 6
    # raw_trace_content=True reads method_return_value instead
    w = agent_trace_windows(t, raw_trace_content=True, last_n_steps=2).first()
    assert w.text == "Session ID: t1\n\nraw4\nraw5"
    # session_ids scoping
    t2 = _traces(spark, rows + [("u1", "t2", 0, "other", "o")])
    got = {r.session_id for r in agent_trace_windows(t2, session_ids=["t2"]).collect()}
    assert got == {"t2"}
