"""Failure-run selection — the first step of the reference's internal
``improve_skill`` flow (cognee/modules/memify/skill_improvement.py:58-348),
which finds a skill's recent low-scoring or errored SkillRuns before it
drafts a revised procedure.

The reference selects runs for ONE skill per call (driver-side lookups
through the vector store). Here :func:`find_failure_runs` selects them for
every skill at once, as one window over the runs table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

SCORE_THRESHOLD = 0.5   # improve_skill signature default
MAX_RUNS = 5


def find_failure_runs(
    runs: DataFrame,
    score_threshold: float = SCORE_THRESHOLD,
    max_runs: int = MAX_RUNS,
) -> DataFrame:
    """_find_recent_failure_runs (skill_improvement.py:124-131) for EVERY
    skill at once: runs that scored below threshold OR errored, most recent
    ``max_runs`` per skill (started_at_ms desc, run_id desc tie-break —
    the frame-order-free twin of the reference's recency sort)."""
    failing = runs.where(
        (F.col("success_score") < F.lit(float(score_threshold)))
        | (F.coalesce(F.col("error_type"), F.lit("")) != "")
        | (F.coalesce(F.col("error_message"), F.lit("")) != "")
    )
    w = Window.partitionBy("selected_skill_id").orderBy(
        F.desc("started_at_ms"), F.desc("run_id")
    )
    return (
        failing.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= int(max_runs))
        .drop("_rn")
    )
