"""Session-lifecycle usage tracking (usage_tracking.py:33-169 + metrics.py
semantics): token estimates, longest-prefix pricing, per-session and
per-model rollups, terminal-session freeze."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cognee_spark.operators.lifecycle import (
    cost_usd_col,
    estimate_tokens_col,
    priced_calls,
    session_usage,
)


def test_token_estimate_contract(spark):
    # 0 for empty/null, else max(1, len//4) (usage_tracking._estimate_tokens)
    df = spark.createDataFrame(
        [("",), (None,), ("abc",), ("abcdefgh",), ("x" * 41,)], ["t"]
    ).select(estimate_tokens_col(F.col("t")).alias("n"))
    assert [r.n for r in df.collect()] == [0, 0, 1, 2, 10]


def test_pricing_longest_prefix_and_normalization(spark):
    rows = spark.createDataFrame(
        [
            ("openai/gpt-4o-mini", 1_000_000, 1_000_000),   # specific beats family
            ("GPT-4O", 1_000_000, 0),                        # case-insensitive family
            ("gemini-2.0-flash-001", 0, 1_000_000),          # date suffix → prefix
            ("mystery-model", 1_000_000, 1_000_000),         # unknown → $0
            (None, 1_000_000, 0),
        ],
        ["model", "tin", "tout"],
    ).select(
        "model",
        F.round(cost_usd_col(F.col("model"), F.col("tin"), F.col("tout")), 6).alias("c"),
    )
    got = {r.model: r.c for r in rows.collect()}
    assert got["openai/gpt-4o-mini"] == pytest.approx(0.15 + 0.60)
    assert got["GPT-4O"] == pytest.approx(2.50)
    assert got["gemini-2.0-flash-001"] == pytest.approx(0.40)
    assert got["mystery-model"] == 0.0
    assert got[None] == 0.0


def _calls(spark):
    return spark.createDataFrame(
        [
            ("s1", 1, "2024-01-01 10:00:00", "gpt-4o", "q" * 40, "a" * 80, False),
            ("s1", 1, "2024-01-01 10:05:00", "gpt-4o-mini", "q" * 40, "", True),
            ("s2", 1, "2024-01-01 11:00:00", "mystery", "hi", "yo", False),
        ],
        ["session_id", "user_id", "ts", "model", "input_text", "output_text", "errored"],
    ).withColumn("ts", F.to_timestamp("ts"))


def test_cost_by_model_attributes_mixed_sessions(spark):
    out = {
        (r.session_id, r.model): r
        for r in priced_calls(_calls(spark)).collect()
    }
    assert ("s1", "gpt-4o") in out and ("s1", "gpt-4o-mini") in out
    assert out[("s1", "gpt-4o")].tokens_out == 20
    # the mystery call carries tokens (credited) even though it costs $0
    assert ("s2", "mystery") in out and out[("s2", "mystery")].cost_usd == 0.0
    assert out[("s2", "mystery")].tokens_in > 0


def test_session_usage_rollup(spark):
    out = {r.session_id: r for r in session_usage(_calls(spark)).collect()}
    s1 = out["s1"]
    assert s1.tokens_in == 20 and s1.tokens_out == 20  # 40//4 ×2, 80//4 + 0
    assert s1.error_count == 1 and s1.n_calls == 2
    assert s1.last_model == "gpt-4o-mini"  # latest by ts
    # 10 tokens priced at gpt-4o (2.5/10) + 10 at gpt-4o-mini (0.15/0.6)
    expected = (10 / 1e6) * 2.5 + (20 / 1e6) * 10.0 + (10 / 1e6) * 0.15
    assert s1.cost_usd == pytest.approx(expected, abs=1e-9)
    assert out["s2"].cost_usd == 0.0  # unknown model


def test_terminal_sessions_are_frozen(spark):
    sessions = spark.createDataFrame(
        [("s1", 1, "completed", "2024-01-01 10:02:00"), ("s2", 1, "running", None)],
        ["session_id", "user_id", "status", "ended_at"],
    ).withColumn("ended_at", F.to_timestamp("ended_at"))
    out = {r.session_id: r for r in session_usage(_calls(spark), sessions=sessions).collect()}
    # the 10:05 straggler lands AFTER s1 ended → never accrues
    assert out["s1"].n_calls == 1 and out["s1"].error_count == 0
    assert out["s1"].last_model == "gpt-4o"
    assert out["s2"].n_calls == 1  # running session unaffected


def test_terminal_session_with_null_ended_at_keeps_usage(spark):
    # a terminal session whose ended_at was never stored has no freeze
    # boundary: no call can be proven late, so its usage is preserved —
    # zeroing the session would silently drop real spend from billing
    sessions = spark.createDataFrame(
        [("s1", 1, "completed", None), ("s2", 1, "running", None)],
        "session_id string, user_id int, status string, ended_at timestamp",
    )
    out = {r.session_id: r
           for r in session_usage(_calls(spark), sessions=sessions).collect()}
    assert out["s1"].n_calls == 2   # all calls kept: no boundary to cut at
    assert out["s2"].n_calls == 1   # running session unaffected
