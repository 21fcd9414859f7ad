"""Failure-run selection (operators/skill_improvement.py) vs the reference's
improve_skill flow (memify/skill_improvement.py:124-131)."""

from __future__ import annotations

from cognee_spark.operators import skill_improvement as SI


def _runs(spark, rows):
    return spark.createDataFrame(
        rows,
        "run_id string, selected_skill_id string, success_score double, "
        "error_type string, error_message string, result_summary string, "
        "started_at_ms long",
    )


def test_failure_selection_threshold_error_and_recency_cap(spark):
    rows = [
        ("r1", "sk1", 0.9, "", "", "fine", 100),          # good → excluded
        ("r2", "sk1", 0.2, "", "", "bad", 200),           # low score
        ("r3", "sk1", 0.9, "Timeout", "", "err", 300),    # errored
        ("r4", "sk1", 0.9, "", "boom", "err2", 400),      # errored (message)
        ("r5", "sk2", 0.1, "", "", "bad2", 500),
    ]
    out = SI.find_failure_runs(_runs(spark, rows))
    assert {r.run_id for r in out.collect()} == {"r2", "r3", "r4", "r5"}
    # recency cap: max_runs most recent per skill
    capped = SI.find_failure_runs(_runs(spark, rows), max_runs=2)
    assert {r.run_id for r in capped.collect()} == {"r3", "r4", "r5"}


def test_selection_and_context_plans_stay_jvm_side(spark):
    runs = _runs(spark, [("r1", "sk1", 0.2, "", "", "bad", 100)])
    plan = SI.find_failure_runs(runs)._jdf.queryExecution().executedPlan().toString()
    # the failure selection is codegen filters and a window, no Python
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "CartesianProduct" not in plan
