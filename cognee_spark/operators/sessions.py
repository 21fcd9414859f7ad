"""Conversation-session persistence — the reference's memify pipeline
persist_sessions_in_knowledge_graph (cognee/memify_pipelines/
persist_sessions_in_knowledge_graph.py:19-69 + cognee/tasks/memify/
extract_user_sessions.py:16-120): for each session, read the persist
WATERMARK (persisted_qa_count), render only the Q&A entries above it as

    Session ID: {id}\n\nQuestion: {q}\n\nAnswer: {a}\n\n...

cognify that window into the graph, and advance the watermark ONLY after the
window is successfully persisted — so re-running on an unchanged session
does zero ingestion work, and a session that SHRANK below its watermark
(cleared and rebuilt) re-persists from the start (stale-watermark rule,
extract_user_sessions.py:69-80).

Spark re-expression: the per-session loop becomes one groupBy — the window
text is a seq-ordered fold (array_sort(collect_list(struct)) + concat), the
watermark comparison a broadcast join against the committed watermark table,
and exactly-once comes from the store's commit ordering (windows table →
pipeline ingest → watermark table), the same nodes-before-edges discipline
the main pipeline uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SESSION_NODE_SET = "user_sessions_from_cache"


def session_windows(
    sessions: DataFrame,
    watermarks: DataFrame | None = None,
) -> DataFrame:
    """Unpersisted Q&A windows per (user_id, session_id).

    ``sessions``: (user_id, session_id, seq, question, answer) — seq is the
    entry's 0-based position in the session. ``watermarks``: (user_id,
    session_id, persisted_qa_count) from the previous successful persist
    (None/absent row = nothing persisted yet). Output: (user_id, session_id,
    text, persisted_qa_count) where text renders ONLY entries with
    seq >= effective watermark and persisted_qa_count is the NEW watermark
    (the session's current total). Sessions with no new entries yield no row.
    A watermark above the session's current size is stale → effective 0."""
    per_session = sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("_total"),
        F.array_sort(
            F.collect_list(F.struct("seq", "question", "answer"))
        ).alias("_entries"),
    )
    if watermarks is not None:
        wm = watermarks.select(
            "user_id", "session_id", F.col("persisted_qa_count").alias("_wm")
        )
        per_session = per_session.join(wm, ["user_id", "session_id"], "left")
    else:
        per_session = per_session.withColumn("_wm", F.lit(None).cast("long"))
    effective = F.when(
        F.col("_wm").isNull() | (F.col("_wm") > F.col("_total")), F.lit(0)
    ).otherwise(F.col("_wm"))
    fresh = F.filter("_entries", lambda e: e["seq"] >= effective)
    rendered = F.concat(
        F.concat(F.lit("Session ID: "), F.col("session_id"), F.lit("\n\n")),
        F.array_join(
            F.transform(
                fresh,
                lambda e: F.concat(
                    F.lit("Question: "), e["question"],
                    F.lit("\n\nAnswer: "), e["answer"], F.lit("\n\n"),
                ),
            ),
            "",
        ),
    )
    return (
        per_session.withColumn("_fresh_n", F.size(fresh))
        .where(F.col("_fresh_n") > 0)
        .select(
            "user_id",
            "session_id",
            rendered.alias("text"),
            F.col("_total").alias("persisted_qa_count"),
        )
    )


def windows_as_documents(windows: DataFrame) -> DataFrame:
    """Session windows → the pipeline's repos(repo, path, commit, lang,
    content) input shape, tagged with the reference's node_set
    ("user_sessions_from_cache" — persist_sessions_in_knowledge_graph.py:30)
    as the repo namespace so session knowledge is queryable/sweepable as its
    own partition of the graph."""
    return windows.select(
        F.concat(F.lit(f"{SESSION_NODE_SET}/"), F.col("user_id")).alias("repo"),
        F.col("session_id").alias("path"),
        F.col("persisted_qa_count").cast("string").alias("commit"),
        F.lit("md").alias("lang"),
        F.col("text").alias("content"),
    )


def agent_trace_windows(
    traces: DataFrame,
    raw_trace_content: bool = False,
    last_n_steps: int | None = None,
    session_ids: list[str] | None = None,
) -> DataFrame:
    """Agent-trace feedback rendering — the memify extraction task
    (cognee/tasks/memify/extract_agent_trace_feedbacks.py:29-120 +
    persist_agent_trace_feedbacks_in_knowledge_graph.py:21-100): per
    session, take either the per-step ``session_feedback`` summaries or the
    raw ``method_return_value`` payloads, keep only NON-EMPTY entries (after
    trim), optionally window to the ``last_n_steps`` MOST RECENT steps, and
    concatenate into one blob

        Session ID: {id}\\n\\n{entry}\\n{entry}...

    ``traces``: (user_id, session_id, seq, session_feedback,
    method_return_value) — seq is the step's position. The reference loops
    sessions through its cache manager; here the whole extraction is the
    sessions-fold shape: one groupBy with a seq-ordered array fold, the
    last-N window a tail slice of the sorted entries (the non-empty filter
    runs BEFORE grouping so dropped steps never enter the shuffle). Output:
    (user_id, session_id, text, n_steps)."""
    value_col = "method_return_value" if raw_trace_content else "session_feedback"
    base = traces.select(
        "user_id", "session_id",
        F.col("seq").cast("long").alias("seq"),
        F.trim(F.col(value_col).cast("string")).alias("v"),
    ).where(F.col("v").isNotNull() & (F.col("v") != ""))
    if session_ids is not None:
        base = base.where(F.col("session_id").isin(*session_ids))
    per_session = base.groupBy("user_id", "session_id").agg(
        F.array_sort(F.collect_list(F.struct("seq", "v"))).alias("_entries")
    )
    entries = F.col("_entries")
    if last_n_steps is not None:
        n = int(last_n_steps)
        entries = F.when(F.size("_entries") <= n, F.col("_entries")).otherwise(
            F.slice("_entries", -n, n)
        )
    rendered = F.concat(
        F.lit("Session ID: "), F.col("session_id"), F.lit("\n\n"),
        F.array_join(F.transform(entries, lambda e: e["v"]), "\n"),
    )
    return per_session.select(
        "user_id",
        "session_id",
        rendered.alias("text"),
        F.size(entries).alias("n_steps"),
    )


def persist_sessions(
    spark,
    store_root: str,
    sessions: DataFrame,
    watermarks: DataFrame | None = None,
    **pipeline_kwargs,
) -> dict:
    """Full persist flow: windows → cognify (the REAL pipeline) → advance
    watermarks. Returns {"windows": n, "tables": ..., "watermarks": frame}.
    The returned watermark frame is the caller's to commit; committing it
    only after this function returns preserves the reference's
    advance-after-successful-cognify ordering (cognify_session semantics)."""
    from cognee_spark.pipeline import run_pipeline

    windows = session_windows(sessions, watermarks)
    # content-derived signature (window set + watermarks), so re-running with
    # DIFFERENT windows against the same store recomputes instead of reusing
    # stale stage tables; windows are active-session-scale, one tiny aggregate
    agg = (
        windows.select(
            F.xxhash64("user_id", "session_id", "persisted_qa_count").alias("h")
        )
        .agg(F.count(F.lit(1)).alias("n"), F.expr("bit_xor(h)").alias("s"))
        .first()
    )
    # plain xor is safe here (rows are unique per (user_id, session_id) after
    # the groupBy — no multiplicity to cancel) and avoids ANSI sum overflow
    wrows = agg.n
    if wrows == 0:
        return {"windows": 0, "tables": None, "watermarks": watermarks}
    docs = windows_as_documents(windows)
    sig = f"sessions:{agg.n}:{agg.s}"
    out = run_pipeline(
        spark, docs, store_root, sig,
        compute_metrics=False, with_summaries=False, with_index=False,
        **pipeline_kwargs,
    )
    new_wm = windows.select("user_id", "session_id", "persisted_qa_count")
    if watermarks is not None:
        keep = watermarks.join(
            new_wm.select("user_id", "session_id"), ["user_id", "session_id"], "left_anti"
        )
        new_wm = keep.unionByName(new_wm)
    return {"windows": wrows, "tables": out["tables"], "watermarks": new_wm}
