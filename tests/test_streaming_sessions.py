"""Stateful streaming session lifecycle: a terminal event freezes the session
at its EVENT TIME (earliest terminal ts; only calls with ts <= term_ts accrue)
and the record emits once the watermark passes term_ts; the watermark passing
last_activity+gap emits 'abandoned' exactly once (the batch engine's read-time
rule as an event-time timeout)."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from cognee_spark.operators.lifecycle import priced_calls
from cognee_spark.streaming.sessions import stream_session_records

T0 = dt.datetime(2026, 1, 1, 12, 0, 0)

INPUT_SCHEMA = StructType(
    [
        StructField("session_id", StringType()),
        StructField("user_id", StringType()),
        StructField("ts", TimestampType()),
        StructField("model", StringType()),
        StructField("input_text", StringType()),
        StructField("output_text", StringType()),
        StructField("status", StringType()),
    ]
)


def _run(spark, input_dir, out_dir, ckpt):
    stream = spark.readStream.schema(INPUT_SCHEMA).parquet(input_dir)
    records = stream_session_records(
        priced_calls(stream), gap_seconds=120, watermark="10 seconds"
    )
    q = (
        records.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _emit(spark, input_dir, rows):
    spark.createDataFrame(rows, INPUT_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(input_dir)


def _sec(s):
    return T0 + dt.timedelta(seconds=s)


def test_tracker_fold_matches_reference():
    """The numpy fold helpers reproduce the original pandas expressions
    exactly — including null handling and dtype fallbacks — across the column
    dtypes the serializer can deliver (int64, float64-with-NaN, object,
    bool, object-bool-with-None)."""
    import numpy as np
    import pandas as pd

    from cognee_spark.streaming.sessions import _cost_nanos, _int_sum, _true_count

    frames = [
        pd.DataFrame(
            {
                "tokens": pd.array([5, 6, 7], dtype="int64"),
                "cost": [0.1, 0.2, 0.30000000000000004],
                "err": pd.array([True, False, True], dtype="bool"),
            }
        ),
        pd.DataFrame(
            {
                "tokens": [5.0, float("nan"), 7.0],
                "cost": [0.1, float("nan"), 1e-9 * 0.4],
                "err": [True, None, False],
            }
        ),
        pd.DataFrame(
            {
                "tokens": pd.Series([5, None, "7"], dtype=object),
                "cost": pd.Series([0.15, None, 2.5], dtype=object),
                "err": pd.Series([1, None, 0], dtype=object),
            }
        ),
        # a non-numeric value in a row that only the all-true mask keeps:
        # the other masks must not coerce (and raise on) it
        pd.DataFrame(
            {
                "tokens": pd.Series([5, "n/a", 7], dtype=object),
                "cost": pd.Series([0.15, "n/a", 2.5], dtype=object),
                "err": pd.Series([1, None, 0], dtype=object),
            }
        ),
    ]
    masks = [
        np.array([True, True, True]),
        np.array([True, False, True]),
        np.array([False, False, False]),
    ]
    for rows in frames:
        for mask in masks:
            if "n/a" in list(rows["tokens"][mask]):
                # the reference coercion raises too: nothing to compare
                with pytest.raises(ValueError):
                    _int_sum(rows["tokens"], mask)
                with pytest.raises(ValueError):
                    _cost_nanos(rows["cost"], mask)
                continue
            assert _int_sum(rows["tokens"], mask) == int(
                pd.to_numeric(rows["tokens"][mask]).fillna(0).sum()
            )
            assert _cost_nanos(rows["cost"], mask) == int(
                (pd.to_numeric(rows["cost"][mask]).fillna(0.0) * 1e9).round().sum()
            )
            with pd.option_context("future.no_silent_downcasting", True):
                want = rows["err"][mask].fillna(False).infer_objects()
            assert _true_count(rows["err"], mask) == int(want.astype(bool).sum())


def test_stream_session_records(spark, tmp_path):
    input_dir = str(tmp_path / "calls")
    out_dir = str(tmp_path / "records")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(input_dir, exist_ok=True)

    # run 1: two live sessions
    _emit(
        spark,
        input_dir,
        [
            ("s1", "alice", _sec(0), "gpt-4o", "x" * 400, "y" * 40, None),
            ("s1", "alice", _sec(60), "gpt-4o", "x" * 40, "y" * 4, None),
            ("s2", "bob", _sec(0), "gpt-4o-mini", "x" * 80, "y" * 8, None),
        ],
    )
    _run(spark, input_dir, out_dir, ckpt)

    # run 2: s2 ends; a heartbeat session pushes the watermark far past
    # s1's last_activity + gap. availableNow runs a final no-data batch once
    # the watermark advances, so s1's timeout fires INSIDE this run.
    _emit(
        spark,
        input_dir,
        [
            ("s2", "bob", _sec(120), "gpt-4o-mini", None, None, "completed"),
            ("hb1", "carol", _sec(3600), "o3", "x" * 4, None, None),
        ],
    )
    _run(spark, input_dir, out_dir, ckpt)
    got = {r.session_id: r for r in spark.read.parquet(out_dir).collect()}
    assert got["s2"].status == "completed"
    # the terminal event is not a call: one call, priced from chars/4
    assert got["s2"].n_calls == 1
    assert got["s2"].tokens_in == 20 and got["s2"].tokens_out == 2
    assert got["s2"].last_activity_at == _sec(120)
    assert got["s1"].status == "abandoned"  # watermark passed 60s + gap
    assert "hb1" not in got  # watermark (3590s) hasn't passed hb1's gap

    # run 3: hb2 pushes the watermark past hb1's gap; s2's tombstone GCs
    # silently, s1 and s2 must NOT re-emit (exactly-once)
    _emit(
        spark,
        input_dir,
        [("hb2", "carol", _sec(7200), "o3", "x" * 4, None, None)],
    )
    _run(spark, input_dir, out_dir, ckpt)
    rows = spark.read.parquet(out_dir).collect()
    assert len(rows) == len({r.session_id for r in rows})  # no duplicates
    got = {r.session_id: r for r in rows}
    assert got["s1"].status == "abandoned"
    assert got["s1"].n_calls == 2
    assert got["s1"].tokens_in == 100 + 10 and got["s1"].tokens_out == 10 + 1
    assert got["s1"].started_at == _sec(0)
    assert got["s1"].last_activity_at == _sec(60)
    assert got["s1"].cost_usd > 0.0
    # exactly-once: one record each; hb1 timed out abandoned, hb2 still live
    assert sorted(got) == ["hb1", "s1", "s2"]
    assert got["hb1"].status == "abandoned"


def test_late_call_before_terminal_accrues(spark, tmp_path):
    """A call with ts <= term_ts arriving AFTER the terminal event (but inside
    the watermark) accrues — the freeze is event-time scoped, not
    processing-order scoped, matching the batch rollup's c.ts <= t.term_ts."""
    input_dir = str(tmp_path / "calls")
    out_dir = str(tmp_path / "records")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(input_dir, exist_ok=True)

    _emit(
        spark,
        input_dir,
        [
            ("s1", "alice", _sec(0), "gpt-4o", "x" * 400, "y" * 40, None),
            ("s1", "alice", _sec(100), "gpt-4o", None, None, "completed"),
        ],
    )
    _run(spark, input_dir, out_dir, ckpt)  # watermark lands at 90s < term_ts

    # in-scope late call (ts=95 <= term_ts=100, above the 90s watermark),
    # processed a full micro-batch after the terminal event; the heartbeat
    # advances the watermark past term_ts so the record emits this run
    _emit(
        spark,
        input_dir,
        [
            ("s1", "alice", _sec(95), "gpt-4o", "x" * 40, "y" * 4, None),
            ("hb", "carol", _sec(3600), "o3", "x" * 4, None, None),
        ],
    )
    _run(spark, input_dir, out_dir, ckpt)

    rows = spark.read.parquet(out_dir).where(F.col("session_id") == "s1").collect()
    assert len(rows) == 1
    assert rows[0].status == "completed"
    assert rows[0].n_calls == 2  # the late-but-in-scope call counted
    assert rows[0].tokens_in == 100 + 10
    assert rows[0].last_activity_at == _sec(100)  # the terminal event's ts


def test_call_tied_with_terminal_counts_any_order(spark, tmp_path):
    """A call at exactly term_ts counts even when the terminal row precedes it
    in arrival order — the fold is order-independent within a batch (the
    oracle's inclusive c.ts <= t.term_ts bound)."""
    input_dir = str(tmp_path / "calls")
    out_dir = str(tmp_path / "records")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(input_dir, exist_ok=True)

    _emit(
        spark,
        input_dir,
        [
            ("s1", "alice", _sec(50), "gpt-4o", None, None, "completed"),
            ("s1", "alice", _sec(50), "gpt-4o", "x" * 40, "y" * 4, None),
            ("s1", "alice", _sec(60), "gpt-4o", "x" * 4000, None, None),
        ],
    )
    _run(spark, input_dir, out_dir, ckpt)
    _emit(spark, input_dir, [("hb", "carol", _sec(3600), "o3", "x" * 4, None, None)])
    _run(spark, input_dir, out_dir, ckpt)

    rows = spark.read.parquet(out_dir).where(F.col("session_id") == "s1").collect()
    assert len(rows) == 1
    assert rows[0].status == "completed"
    assert rows[0].n_calls == 1  # the tied call counted; the ts=60 one frozen
    assert rows[0].tokens_in == 10
    assert rows[0].last_activity_at == _sec(50)


def test_post_emission_straggler_keeps_tombstone_deadline(spark, tmp_path):
    """A straggler processed AFTER the terminal record emitted must not shrink
    the tombstone's GC deadline to the next watermark tick: with the gap-based
    bound intact, a second straggler still finds the tombstone (not a fresh
    session) and the session never emits twice."""
    input_dir = str(tmp_path / "calls")
    out_dir = str(tmp_path / "records")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(input_dir, exist_ok=True)

    # B1: one call + terminal at t=100 (gap=120s, watermark 10s)
    _emit(
        spark,
        input_dir,
        [
            ("s1", "alice", _sec(0), "gpt-4o", "x" * 400, "y" * 40, None),
            ("s1", "alice", _sec(100), "gpt-4o", None, None, "completed"),
        ],
    )
    _run(spark, input_dir, out_dir, ckpt)
    # B2: heartbeat nudges the watermark just past term_ts -> record emits,
    # tombstone deadline = last + gap = 220s
    _emit(spark, input_dir, [("hb1", "carol", _sec(210), "o3", "x" * 4, None, None)])
    _run(spark, input_dir, out_dir, ckpt)
    # B3: post-emission straggler hits the DATA path on the tombstone (t=212
    # > watermark 200); the buggy reset would move the deadline to wm+1 and
    # the trailing no-data batch (wm=205) would GC the tombstone here
    _emit(
        spark,
        input_dir,
        [
            ("s1", "alice", _sec(212), "gpt-4o", "x" * 4000, "y" * 400, None),
            ("hb2", "carol", _sec(215), "o3", "x" * 4, None, None),
        ],
    )
    _run(spark, input_dir, out_dir, ckpt)
    # B4: second straggler inside the original gap window — must land on the
    # surviving tombstone, not open a fresh 's1'
    _emit(
        spark,
        input_dir,
        [("s1", "alice", _sec(216), "gpt-4o", "x" * 4000, "y" * 400, None)],
    )
    _run(spark, input_dir, out_dir, ckpt)
    # B5: far heartbeat drives every deadline past; a reopened 's1' would
    # time out here and emit a duplicate 'abandoned' record
    _emit(spark, input_dir, [("hb3", "carol", _sec(5000), "o3", "x" * 4, None, None)])
    _run(spark, input_dir, out_dir, ckpt)

    rows = spark.read.parquet(out_dir).where(F.col("session_id") == "s1").collect()
    assert len(rows) == 1  # exactly-once survived both stragglers
    assert rows[0].status == "completed"
    assert rows[0].n_calls == 1  # stragglers are post-term: never accrued
    assert rows[0].tokens_in == 100
    assert rows[0].last_activity_at == _sec(100)


def test_terminal_freezes_stragglers(spark, tmp_path):
    """A call landing after the terminal event (within the watermark) must
    not reopen or re-emit the session — the reference's freeze rule."""
    input_dir = str(tmp_path / "calls")
    out_dir = str(tmp_path / "records")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(input_dir, exist_ok=True)

    _emit(
        spark,
        input_dir,
        [
            ("s1", "alice", _sec(0), "gpt-4o", "x" * 400, "y" * 40, None),
            ("s1", "alice", _sec(30), "gpt-4o", None, None, "failed"),
        ],
    )
    _run(spark, input_dir, out_dir, ckpt)

    # straggler inside the watermark window + heartbeat to advance/GC
    _emit(
        spark,
        input_dir,
        [
            ("s1", "alice", _sec(35), "gpt-4o", "x" * 4000, "y" * 400, None),
            ("hb", "carol", _sec(3600), "o3", "x" * 4, None, None),
        ],
    )
    _run(spark, input_dir, out_dir, ckpt)
    _emit(spark, input_dir, [("hb2", "carol", _sec(7200), "o3", "x" * 4, None, None)])
    _run(spark, input_dir, out_dir, ckpt)

    rows = spark.read.parquet(out_dir).where(F.col("session_id") == "s1").collect()
    assert len(rows) == 1  # frozen: no re-emission, straggler never accrued
    assert rows[0].status == "failed"
    assert rows[0].n_calls == 1
    assert rows[0].tokens_in == 100


def _buckets(spark, ids):
    from cognee_spark.streaming.sessions import N_BUCKETS

    rows = (
        spark.createDataFrame([(i,) for i in ids], "sid string")
        .select("sid", F.pmod(F.xxhash64("sid"), F.lit(N_BUCKETS)).alias("b"))
        .collect()
    )
    return {r.sid: r.b for r in rows}


def test_quiet_session_expires_in_its_bucket_mates_data_batch(spark, tmp_path):
    """Two sessions share one state bucket. In one micro-batch the active one
    gets a call while the quiet one has no rows and its deadline is below the
    watermark: the quiet one emits exactly once, in that batch, and the active
    one keeps accruing. Once both emitted and the tombstone is GC'd, the
    bucket holds no state row."""
    buckets = _buckets(spark, [f"s{i}" for i in range(200)] + [f"hb{i}" for i in range(50)])
    by_bucket = {}
    for sid in (k for k in buckets if k.startswith("s")):
        by_bucket.setdefault(buckets[sid], []).append(sid)
    shared = next(b for b, ids in sorted(by_bucket.items()) if len(ids) >= 2)
    quiet, active = by_bucket[shared][:2]
    hb1, hb2, hb3 = [k for k in buckets if k.startswith("hb") and buckets[k] != shared][:3]

    input_dir = str(tmp_path / "calls")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(input_dir, exist_ok=True)
    emitted = []  # (batch id, session_id, status, n_calls)

    def sink(df, batch_id):
        for r in df.collect():
            emitted.append((batch_id, r.session_id, r.status, r.n_calls))

    def run():
        # one file per micro-batch: the watermark moves between data batches
        stream = (
            spark.readStream.schema(INPUT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(input_dir)
        )
        q = (
            stream_session_records(priced_calls(stream), gap_seconds=120, watermark="10 seconds")
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return q.recentProgress

    # gap 120s, watermark 10s: both deadlines are 0 + 120 = 120
    _emit(
        spark,
        input_dir,
        [
            (quiet, "alice", _sec(0), "gpt-4o", "x" * 400, "y" * 40, None),
            (active, "bob", _sec(0), "gpt-4o", "x" * 40, "y" * 4, None),
        ],
    )
    # a heartbeat in another bucket moves the next batch's watermark to 130
    _emit(spark, input_dir, [(hb1, "carol", _sec(140), "o3", "x" * 4, None, None)])
    # batch 2 (watermark 130): the active session's call is the only input
    _emit(spark, input_dir, [(active, "bob", _sec(150), "gpt-4o", "x" * 40, "y" * 4, None)])
    progress = run()
    data_batch = next(p for p in progress if p.batchId == 2)
    assert data_batch.numInputRows == 1
    assert emitted == [(2, quiet, "abandoned", 1)]

    # the active session completes; far heartbeats expire it, GC its
    # tombstone and time out hb1 and hb2
    _emit(
        spark,
        input_dir,
        [
            (active, "bob", _sec(160), "gpt-4o", None, None, "completed"),
            (hb2, "carol", _sec(1000), "o3", "x" * 4, None, None),
        ],
    )
    run()
    _emit(spark, input_dir, [(hb3, "carol", _sec(2000), "o3", "x" * 4, None, None)])
    progress = run()

    mine = [e for e in emitted if e[1] in (quiet, active)]
    assert sorted(e[1:] for e in mine) == sorted(
        [(quiet, "abandoned", 1), (active, "completed", 2)]
    )
    assert sorted(e[1] for e in emitted) == sorted([quiet, active, hb1, hb2])
    # only hb3's bucket still holds a state row: the shared bucket's row was
    # removed once its last session (the tombstone) was GC'd
    assert progress[-1].stateOperators[0].numRowsTotal == 1


def test_lifecycle_drain_without_timeout_batch_fails_loudly(spark, tmp_path):
    """Every lifecycle record emits from the trailing no-data micro-batch.
    With no-data batches disabled that batch never runs: the drain must
    raise instead of returning an empty frame."""
    import __spark_entry__ as entry

    sf_dir = tmp_path / "sf"
    spark.createDataFrame(
        [
            (0, T0, 1, "view", 1.0, "{}"),
            (1, T0 + dt.timedelta(minutes=5), 1, "purchase", 2.0, "{}"),
            (2, T0 + dt.timedelta(minutes=7), 2, "view", 3.0, "{}"),
        ],
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(str(sf_dir / "events.parquet"))
    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        with pytest.raises(RuntimeError, match="emitted no records"):
            entry.stream_session_lifecycle(spark, str(sf_dir))
    finally:
        spark.conf.set(key, prev)
    # the same input drains normally once the timeout batch runs
    assert entry.stream_session_lifecycle(spark, str(sf_dir)).count() == 2
