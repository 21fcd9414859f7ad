"""Streaming session lifecycle — the stateful-operator twin of
``operators/lifecycle`` (reference: cognee/modules/session_lifecycle/
usage_tracking.py:33-169 + metrics.py get_effective_status_sql).

The batch engine computes ``abandoned`` AT READ TIME (last_activity_at vs a
threshold) because a batch log is complete when scanned. A stream never
completes, so the same rule becomes an event-time timeout: when the
watermark passes ``last_activity + gap`` the session is abandoned and its
record is emitted. Terminal events ('completed'/'failed' rows in the same
call stream) freeze the session at their EVENT TIME: the earliest terminal
ts wins, only calls with ``ts <= term_ts`` accrue (ties included), and the
terminal record is emitted once the watermark passes ``term_ts`` — at which
point the watermark guarantees no in-scope call can still arrive, so the
emitted counts are final. This makes the fold order-independent within a
micro-batch and lets a late call (``ts <= term_ts``, inside allowed
lateness) accrue even when it is processed after the terminal event — the
same scoping rule the batch engine and the DuckDB oracle apply
(``c.ts <= t.term_ts``).

Contract boundaries (documented, not silent): (a) exactly-once emission
holds for events inside allowed lateness — an event later than the
watermark that arrives after the session's state was GC'd is
indistinguishable from a new session with a reused id and will open one;
(b) a terminal event processed in a LATER micro-batch than calls bearing
larger timestamps cannot retro-subtract those calls (that would need
per-call history, i.e. O(calls) state); their timestamps are clamped to
``term_ts`` at emission and the counts carry the approximation.

Shape notes for scale: state is one fixed-width row per LIVE session (no
per-call history), keyed by session_id — the same key the reference uses as
its primary key — so state size is O(concurrent sessions), not O(calls).
Pricing/token estimation happens UPSTREAM in ``lifecycle.priced_calls``,
which is a pure codegen projection and therefore stream-safe; the stateful
operator only folds already-priced numbers.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

TERMINAL_STATUSES = ("completed", "failed")  # models.py SessionRecord vocab

OUTPUT_SCHEMA = StructType(
    [
        StructField("session_id", StringType()),
        StructField("user_id", StringType()),
        StructField("started_at", TimestampType()),
        StructField("last_activity_at", TimestampType()),
        StructField("n_calls", LongType()),
        StructField("tokens_in", LongType()),
        StructField("tokens_out", LongType()),
        StructField("cost_usd", DoubleType()),
        StructField("error_count", LongType()),
        StructField("status", StringType()),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("user_id", StringType()),
        StructField("started_ms", LongType()),
        StructField("last_ms", LongType()),
        StructField("n_calls", LongType()),
        StructField("tokens_in", LongType()),
        StructField("tokens_out", LongType()),
        # integer nanodollars: float addition is not associative, so summing
        # per-call doubles would make the fold's result depend on event order;
        # ints make it exact and replayable by any batch engine
        StructField("cost_nanos", LongType()),
        StructField("error_count", LongType()),
        # event-time freeze point: earliest terminal ts + its status
        # (min(status) on same-ts ties, matching the batch rollup)
        StructField("term_ms", LongType()),
        StructField("term_status", StringType()),
        # terminal record already emitted — tombstone awaiting GC
        StructField("emitted", BooleanType()),
    ]
)

_EMPTY_STATE = (None, None, None, 0, 0, 0, 0, 0, None, None, False)


def _ms(series: pd.Series) -> np.ndarray:
    return series.to_numpy("datetime64[ns]").view("int64") // 1_000_000


# --- numpy fold helpers -------------------------------------------------------
#
# The tracker is invoked once per (session, micro-batch) and sessions here are
# 2-3 calls each, so per-invocation overhead dominates: the original pandas
# Series expressions cost ~1.9ms per group where the equivalent numpy
# reductions cost ~0.09ms (measured on this host; guide §4.2 — hand whole
# batches to vectorized native code). Each helper reproduces its pandas
# expression's value exactly, including the null handling, and falls back to
# pandas coercion for object-dtyped columns
# (tests/test_streaming_sessions.py::test_tracker_fold_matches_reference).


def _numeric(series: pd.Series, mask: np.ndarray) -> np.ndarray:
    """``series[mask]`` as numbers. Object columns coerce only the masked
    rows, so a non-numeric value in a row the mask drops never raises."""
    vals = series.to_numpy()
    if vals.dtype == object:
        return pd.to_numeric(series[mask]).to_numpy()
    return vals[mask]


def _int_sum(series: pd.Series, mask: np.ndarray) -> int:
    """int(pd.to_numeric(series[mask]).fillna(0).sum())"""
    vals = _numeric(series, mask)
    return int(np.nansum(vals)) if vals.dtype.kind == "f" else int(vals.sum())


def _cost_nanos(series: pd.Series, mask: np.ndarray) -> int:
    """int((pd.to_numeric(series[mask]).fillna(0.0) * 1e9).round().sum())"""
    vals = _numeric(series, mask).astype("float64", copy=False)
    vals = np.where(np.isnan(vals), 0.0, vals)
    return int(np.round(vals * 1e9).sum())


def _true_count(series: pd.Series, mask: np.ndarray) -> int:
    """int(series[mask].fillna(False).astype(bool).sum())"""
    vals = series.to_numpy()
    if vals.dtype == np.bool_:
        return int(np.count_nonzero(vals[mask]))
    return int(sum(bool(x) for x in vals[mask] if not pd.isna(x)))


def _record(session_id: str, st: Tuple[Any, ...], status: str) -> pd.DataFrame:
    return pd.DataFrame(
        [
            {
                "session_id": session_id,
                "user_id": st[0],
                "started_at": pd.Timestamp(st[1], unit="ms"),
                "last_activity_at": pd.Timestamp(st[2], unit="ms"),
                "n_calls": st[3],
                "tokens_in": st[4],
                "tokens_out": st[5],
                "cost_usd": st[6] / 1e9,
                "error_count": st[7],
                "status": status,
            }
        ]
    )


def _make_tracker(gap_ms: int):
    def track(
        key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (session_id,) = key
        if state.hasTimedOut:
            st = state.get
            wm = state.getCurrentWatermarkMs()
            user, started, last = st[0], st[1], st[2]
            term_ms, term_status, emitted = st[8], st[9], st[10]
            if emitted:
                state.remove()  # tombstone absorbed its lateness window — GC
            elif term_ms is not None:
                # the watermark passed term_ts: no in-scope call can still
                # arrive, the folded counts are final. Keep a tombstone so
                # post-term stragglers inside the lateness window cannot
                # reopen the session as a fresh 'abandoned' one.
                rec = (
                    user,
                    min(started, term_ms) if started is not None else term_ms,
                    min(last, term_ms) if last is not None else term_ms,
                ) + st[3:8]
                state.update(st[:10] + (True,))
                state.setTimeoutTimestamp(max((last or term_ms) + gap_ms, wm + 1))
                yield _record(session_id, rec, term_status)
            else:
                state.remove()
                yield _record(session_id, st, "abandoned")
            return

        chunks = list(pdfs)
        rows = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
        st = state.get if state.exists else _EMPTY_STATE
        user, started, last = st[0], st[1], st[2]
        n_calls, tin, tout, cost, errs = st[3], st[4], st[5], st[6], st[7]
        term_ms, term_status, emitted = st[8], st[9], st[10]

        ts_ms = _ms(rows["ts"])
        has_status = "status" in rows.columns
        statuses = rows["status"].to_numpy() if has_status else None
        if has_status:
            term_mask = statuses == TERMINAL_STATUSES[0]
            for s in TERMINAL_STATUSES[1:]:
                term_mask |= statuses == s
        else:
            term_mask = np.zeros(len(rows), dtype=bool)
        if term_mask.any():
            bt = int(ts_ms[term_mask].min())
            bstat = str(min(statuses[term_mask & (ts_ms == bt)]))
            if term_ms is None or bt < term_ms:
                term_ms, term_status = bt, bstat
            elif bt == term_ms:
                term_status = min(term_status, bstat)

        # event-time scope, not processing order: everything at or before the
        # freeze point accrues, everything after it is rejected — ties and
        # late-but-in-scope calls land exactly like the batch rollup
        scoped = (
            ts_ms <= term_ms if term_ms is not None else np.ones(len(rows), dtype=bool)
        )
        if scoped.any():
            smin, smax = int(ts_ms[scoped].min()), int(ts_ms[scoped].max())
            started = smin if started is None else min(started, smin)
            last = smax if last is None else max(last, smax)
            users = rows["user_id"].to_numpy()[scoped]
            users = users[pd.notna(users)]
            if len(users):
                umin = str(min(users))
                user = umin if user is None else min(user, umin)
            calls = scoped & pd.isna(statuses) if has_status else scoped
            n_calls += int(np.count_nonzero(calls))
            tin += _int_sum(rows["tokens_in"], calls)
            tout += _int_sum(rows["tokens_out"], calls)
            cost += _cost_nanos(rows["cost_usd"], calls)
            if "error" in rows.columns:
                errs += _true_count(rows["error"], calls)

        state.update(
            (user, started, last, n_calls, tin, tout, cost, errs,
             term_ms, term_status, emitted)
        )
        wm = state.getCurrentWatermarkMs()
        if emitted:
            # tombstone: a post-emission straggler (necessarily ts > term_ts,
            # the watermark already passed it) must NOT shrink the GC deadline
            # to the next watermark tick — keep the same lateness-window bound
            # the timed-out branch set, or stragglers arriving gap-ms apart
            # could reopen the session and duplicate its record
            state.setTimeoutTimestamp(max((last or term_ms) + gap_ms, wm + 1))
        elif term_ms is not None:
            # fire as soon as the watermark passes the freeze point
            state.setTimeoutTimestamp(max(term_ms + 1, wm + 1))
        else:
            state.setTimeoutTimestamp(max((last or 0) + gap_ms, wm + 1))

    return track


def stream_session_records(
    calls: DataFrame,
    gap_seconds: int = 1800,  # lifecycle.ABANDON_AFTER_SECONDS
    watermark: str = "10 minutes",
) -> DataFrame:
    """Fold a streaming priced-call log into final session records.

    ``calls`` is a STREAMING frame with (session_id, user_id, ts timestamp,
    tokens_in, tokens_out, cost_usd, error?, status?) — the output of
    ``lifecycle.priced_calls`` over the wire format. Emits one row per
    session: with its terminal status once the watermark passes the earliest
    terminal event's ts (counts scoped to ``ts <= term_ts``), or with status
    'abandoned' once the watermark passes ``last_activity + gap_seconds``.
    """
    return (
        calls.withWatermark("ts", watermark)
        .groupBy("session_id")
        .applyInPandasWithState(
            _make_tracker(gap_seconds * 1000),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


__all__ = ["stream_session_records", "OUTPUT_SCHEMA", "TERMINAL_STATUSES"]
