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

Shape notes for scale: sessions fold in hash buckets, one group per
``pmod(xxhash64(session_id), N_BUCKETS)``. ``applyInPandasWithState`` pays a
fixed JVM–Python cost per group call (about 7 ms on a 4-vCPU host), and one
session has 2-3 calls per micro-batch, so keying by session made the
per-call cost the whole fold: a 40-user drain visited about 2,150
(session, batch) groups.
Keyed by bucket it makes at most ``2 * N_BUCKETS`` calls. The bucket's state
is one row holding each live session's fixed-width fields (no per-call
history) as parallel arrays plus its own deadline, and the bucket's
event-time timer is the smallest deadline. Each call, with data or timed
out, folds the sessions that have rows (``_fold``), expires the quiet ones
whose deadline the watermark passed (``_expire``) and keeps the rest, so the
freeze, tombstone and deadline rules exist once and behave exactly as with
one group per session. State size stays O(live sessions), not O(calls).
Two costs come with the layout: a micro-batch rewrites the state row of
every bucket it touches, so its state cost is the live sessions of those
buckets, not only the sessions that had rows; and a checkpoint written with
one group per session (or another ``N_BUCKETS``) cannot be resumed.
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
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

TERMINAL_STATUSES = ("completed", "failed")  # models.py SessionRecord vocab

# Sessions fold in pmod(xxhash64(session_id), N_BUCKETS) groups. This caps
# the fold's parallelism and is part of the checkpoint's state layout, so it
# is a constant: a checkpoint only resumes under the value that wrote it.
N_BUCKETS = 64

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

# one session's fold state, fixed width (no per-call history)
_SESSION_FIELDS = [
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

# one row per bucket: the live sessions' ids, their fields as parallel
# arrays, and each session's own event-time deadline (the bucket's timer is
# the smallest of them)
_STATE_SCHEMA = StructType(
    [StructField("session_id", ArrayType(StringType()))]
    + [StructField(f.name, ArrayType(f.dataType)) for f in _SESSION_FIELDS]
    + [StructField("deadline_ms", ArrayType(LongType()))]
)

_EMPTY_STATE = (None, None, None, 0, 0, 0, 0, 0, None, None, False)


def _ms(series: pd.Series) -> np.ndarray:
    return series.to_numpy("datetime64[ns]").view("int64") // 1_000_000


# --- numpy fold helpers -------------------------------------------------------
#
# ``_fold`` runs once per (session, micro-batch) and sessions here are 2-3
# calls each, so its fixed cost dominates: the original pandas Series
# expressions cost ~1.9ms per session where the equivalent numpy reductions
# cost ~0.09ms (4-vCPU host; hand whole batches to vectorized native code).
# Each helper reproduces its pandas expression's value exactly, including the
# null handling, and falls back to pandas coercion for object-dtyped columns
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


def _fold(
    st: Tuple[Any, ...], rows: pd.DataFrame, wm: int, gap_ms: int
) -> Tuple[Tuple[Any, ...], int]:
    """Fold one session's rows of this micro-batch into its state ``st``;
    returns the new state and the session's deadline."""
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

    st = (user, started, last, n_calls, tin, tout, cost, errs,
          term_ms, term_status, emitted)
    if emitted:
        # tombstone: a post-emission straggler (necessarily ts > term_ts,
        # the watermark already passed it) must NOT shrink the GC deadline
        # to the next watermark tick — keep the same lateness-window bound
        # _expire set, or stragglers arriving gap-ms apart could reopen the
        # session and duplicate its record
        return st, max((last or term_ms) + gap_ms, wm + 1)
    if term_ms is not None:
        # fire as soon as the watermark passes the freeze point
        return st, max(term_ms + 1, wm + 1)
    return st, max((last or 0) + gap_ms, wm + 1)


def _expire(
    st: Tuple[Any, ...], wm: int, gap_ms: int
) -> Tuple[Tuple[Any, ...] | None, int | None, Tuple[Any, ...] | None]:
    """The watermark passed the deadline of session state ``st``. Returns
    its new state and deadline (both None once it is GC'd) and the record
    to emit: (user, started, last, n_calls, tokens_in, tokens_out,
    cost_nanos, error_count, status), or None."""
    user, started, last = st[0], st[1], st[2]
    term_ms, term_status, emitted = st[8], st[9], st[10]
    if emitted:
        return None, None, None  # tombstone absorbed its lateness window — GC
    if term_ms is not None:
        # the watermark passed term_ts: no in-scope call can still arrive,
        # the folded counts are final. Keep a tombstone so post-term
        # stragglers inside the lateness window cannot reopen the session
        # as a fresh 'abandoned' one.
        rec = (
            user,
            min(started, term_ms) if started is not None else term_ms,
            min(last, term_ms) if last is not None else term_ms,
        ) + st[3:8] + (term_status,)
        return st[:10] + (True,), max((last or term_ms) + gap_ms, wm + 1), rec
    return None, None, st[:8] + ("abandoned",)


def _records_frame(records: list) -> pd.DataFrame:
    """OUTPUT_SCHEMA rows from (session_id,) + ``_expire`` record tuples."""
    cols = list(zip(*records))
    return pd.DataFrame(
        {
            "session_id": cols[0],
            "user_id": cols[1],
            "started_at": pd.to_datetime(np.array(cols[2], dtype="int64"), unit="ms"),
            "last_activity_at": pd.to_datetime(
                np.array(cols[3], dtype="int64"), unit="ms"
            ),
            "n_calls": np.array(cols[4], dtype="int64"),
            "tokens_in": np.array(cols[5], dtype="int64"),
            "tokens_out": np.array(cols[6], dtype="int64"),
            "cost_usd": np.array(cols[7], dtype="int64") / 1e9,
            "error_count": np.array(cols[8], dtype="int64"),
            "status": cols[9],
        }
    )


def _make_tracker(gap_ms: int):
    def track(
        key: Tuple[int], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        # one call per (bucket, micro-batch), with data or timed out alike:
        # fold every session that has rows, expire every quiet session whose
        # deadline the watermark passed (Spark's own strict timer test),
        # keep the rest as they are
        wm = state.getCurrentWatermarkMs()
        live = {}
        if state.exists:
            ids, *fields, deadlines = state.get
            live = {
                sid: (tuple(st), deadline)
                for sid, *st, deadline in zip(ids, *fields, deadlines)
            }
        chunks = [c for c in pdfs if len(c)]
        keep, records = {}, []
        if chunks:
            rows = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
            for sid, part in rows.groupby("session_id", sort=False, dropna=False):
                sid = None if pd.isna(sid) else sid
                st = live.pop(sid, (_EMPTY_STATE, None))[0]
                keep[sid] = _fold(st, part, wm, gap_ms)
        for sid, (st, deadline) in live.items():
            if deadline < wm:
                st, deadline, rec = _expire(st, wm, gap_ms)
                if rec is not None:
                    records.append((sid,) + rec)
                if st is None:
                    continue
            keep[sid] = (st, deadline)

        if keep:
            state.update(
                (list(keep),)
                + tuple(map(list, zip(*(st for st, _ in keep.values()))))
                + ([deadline for _, deadline in keep.values()],)
            )
            state.setTimeoutTimestamp(min(deadline for _, deadline in keep.values()))
        else:
            state.remove()
        if records:
            yield _records_frame(records)

    return track


def stream_session_records(
    calls: DataFrame,
    gap_seconds: int = 1800,  # the reference's metrics._abandon_after_seconds default
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
        .withColumn("_bucket", F.pmod(F.xxhash64("session_id"), F.lit(N_BUCKETS)))
        .groupBy("_bucket")
        .applyInPandasWithState(
            _make_tracker(gap_seconds * 1000),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


__all__ = ["stream_session_records", "OUTPUT_SCHEMA", "TERMINAL_STATUSES"]
