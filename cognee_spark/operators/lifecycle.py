"""Session-lifecycle usage tracking — the reference's per-session token /
cost accounting (cognee/modules/session_lifecycle/usage_tracking.py:33-169)
and rollup metrics (metrics.py:1-493, models.py SessionRecord /
SessionModelUsage).

Semantics being matched:

- every LLM call records ~chars/4 token estimates (``_estimate_tokens``:
  0 for empty text, else max(1, len//4)) unless the caller passes exact
  counts, and a USD cost from a per-model pricing table with
  LONGEST-PREFIX model matching after normalizing the model id
  (strip the "provider/" prefix, lowercase); unknown models cost $0
  (``estimate_cost_usd``, usage_tracking.py:53-127)
- calls accumulate into one SessionRecord row per (session_id, user_id)
  — tokens_in/out, cost_usd, error_count, last-seen model — and into one
  SessionModelUsage row per (session_id, user_id, model) so mixed-model
  sessions attribute cost correctly (metrics.accumulate_usage)
- terminal sessions are FROZEN: a call that lands after a session ended
  never accrues (metrics.py "Writes to running sessions only")

Spark re-expression: the reference mutates rows per call through a
ContextVar + SQL upsert; a batch engine folds the immutable ``llm_calls``
log instead — the rollups are ONE groupBy each, the pricing match is a
chained codegen CASE ordered by prefix length (the reference sorts its
table the same way at import). Nothing here is per-row Python and every
aggregate is map-side-combining, so a 100 TB call log rolls up in one
shuffle keyed exactly like the reference's primary keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# USD per 1M tokens (input, output) — a representative slice of the
# reference's pricing table (usage_tracking.py:58-105); longest-prefix
# match, unknown → $0. Deployments override via the ``pricing`` parameter;
# the table is config, not code.
DEFAULT_PRICING: dict[str, tuple[float, float]] = {
    "gpt-4o": (2.50, 10.00),
    "gpt-4o-mini": (0.15, 0.60),
    "gpt-4.1": (2.00, 8.00),
    "gpt-4.1-mini": (0.40, 1.60),
    "gpt-5": (1.25, 10.00),
    "gpt-5-mini": (0.25, 2.00),
    "o3": (2.00, 8.00),
    "claude-sonnet-4": (3.00, 15.00),
    "claude-haiku-4-5": (1.00, 5.00),
    "claude-3-5-haiku": (0.80, 4.00),
    "gemini-2.0-flash": (0.10, 0.40),
    "gemini-2.5-flash": (0.30, 2.50),
}


def estimate_tokens_col(text_col):
    """~chars/4: 0 for empty/null text, else at least 1 (usage_tracking
    ``_estimate_tokens``)."""
    n = F.length(F.coalesce(text_col, F.lit("")))
    return F.when(n == 0, F.lit(0)).otherwise(
        F.greatest(F.lit(1), F.floor(n / 4))
    ).cast("long")


def _model_key(model_col):
    """Normalize a model id: strip "provider/" prefix, lowercase
    (usage_tracking._estimate_cost_usd)."""
    return F.lower(F.element_at(F.split(F.coalesce(model_col, F.lit("")), "/"), -1))


def cost_usd_col(model_col, tokens_in_col, tokens_out_col, pricing=None):
    """estimate_cost_usd as one codegen CASE: branches ordered longest
    prefix first so specific models win over their family; unmatched → 0."""
    table = pricing if pricing is not None else DEFAULT_PRICING
    key = _model_key(model_col)
    expr = F.lit(0.0)
    # build the chain from SHORTEST to longest so the longest prefix ends up
    # outermost (checked first)
    for base, (pin, pout) in sorted(table.items(), key=lambda kv: len(kv[0])):
        cost = (
            tokens_in_col.cast("double") / 1_000_000.0 * F.lit(float(pin))
            + tokens_out_col.cast("double") / 1_000_000.0 * F.lit(float(pout))
        )
        expr = F.when(key.startswith(base), cost).otherwise(expr)
    return expr


def priced_calls(
    calls: DataFrame,
    pricing=None,
    input_col: str = "input_text",
    output_col: str = "output_text",
    tokens_in_override_col: str | None = "tokens_in_override",
    tokens_out_override_col: str | None = "tokens_out_override",
) -> DataFrame:
    """One record_llm_call row per input row: resolve token counts
    (override wins over the estimate) and price the call. Pure projection."""
    cols = set(calls.columns)

    def resolved(override, text):
        est = estimate_tokens_col(F.col(text)) if text in cols else F.lit(0).cast("long")
        if override and override in cols:
            return F.coalesce(F.col(override).cast("long"), est)
        return est

    tin = resolved(tokens_in_override_col, input_col)
    tout = resolved(tokens_out_override_col, output_col)
    out = calls.withColumn("tokens_in", tin).withColumn("tokens_out", tout)
    return out.withColumn(
        "cost_usd",
        cost_usd_col(F.col("model"), F.col("tokens_in"), F.col("tokens_out"), pricing),
    )


def _freeze_terminal(calls: DataFrame, sessions: DataFrame | None) -> DataFrame:
    if sessions is None:
        return calls
    frozen = sessions.select(
        "session_id", "user_id", "status", F.col("ended_at").alias("_ended_at")
    )
    joined = calls.join(frozen, ["session_id", "user_id"], "left")
    # the freeze bound is ended_at when present (calls past it are late
    # stragglers, per the reference's writes-to-running-sessions-only rule).
    # A terminal session with NULL ended_at has NO boundary: without a
    # terminal timestamp no call can be proven late, and zeroing the whole
    # session would silently drop real spend from billing rollups — so its
    # usage is kept in full (the conservative direction for money).
    keep = (
        F.col("status").isNull()
        | (F.col("status") == "running")
        | F.col("_ended_at").isNull()
        | (F.col("ts") <= F.col("_ended_at"))
    )
    return joined.where(keep).drop("status", "_ended_at")


def session_usage(
    calls: DataFrame,
    sessions: DataFrame | None = None,
    pricing=None,
) -> DataFrame:
    """SessionRecord aggregate counters from a priced-or-raw calls log:
    (session_id, user_id, tokens_in, tokens_out, cost_usd, error_count,
    last_model, n_calls, started_at, last_activity_at).

    ``calls`` needs (session_id, user_id, ts, model, errored) plus either
    (tokens_in, tokens_out, cost_usd) — already priced — or the raw text
    columns ``priced_calls`` consumes. ``sessions`` (session_id, user_id,
    status, ended_at) freezes terminal sessions: late stragglers never
    accrue. last_model is the model of the latest call by ts — the
    reference's last-write-wins column, made deterministic."""
    if "cost_usd" not in calls.columns:
        calls = priced_calls(calls, pricing)
    calls = _freeze_terminal(calls, sessions)
    return calls.groupBy("session_id", "user_id").agg(
        F.sum("tokens_in").alias("tokens_in"),
        F.sum("tokens_out").alias("tokens_out"),
        F.round(F.sum("cost_usd"), 9).alias("cost_usd"),
        F.sum(F.col("errored").cast("int")).alias("error_count"),
        F.max_by(
            "model", F.struct(F.col("ts"), F.col("model"))
        ).alias("last_model"),
        F.count(F.lit(1)).alias("n_calls"),
        F.min("ts").alias("started_at"),
        F.max("ts").alias("last_activity_at"),
    )
