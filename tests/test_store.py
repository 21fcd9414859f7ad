"""TableStore checkpoint ledger semantics (no Spark needed)."""

from __future__ import annotations

import json
import os

from cognee_spark.store import TableStore


def test_checkpoint_roundtrip(tmp_path):
    store = TableStore(str(tmp_path))
    assert not store.is_complete("stage_a", "sig1")
    store.checkpoint("stage_a", "sig1", rows=10, wall_sec=1.5)
    assert store.is_complete("stage_a", "sig1")
    assert not store.is_complete("stage_a", "sig2")  # signature mismatch
    rows = store.checkpoints()
    assert rows[0]["stage"] == "stage_a" and rows[0]["rows"] == 10
    store.invalidate("stage_a")
    assert not store.is_complete("stage_a", "sig1")
    store.invalidate("never_existed")  # no-op, no raise


def test_checkpoint_write_is_atomic(tmp_path):
    store = TableStore(str(tmp_path))
    store.checkpoint("s", "v1")
    # a torn/corrupt file must read as incomplete, not crash
    path = os.path.join(str(tmp_path), "_checkpoints", "s.json")
    with open(path, "w") as f:
        f.write('{"stage": "s", "sig')
    assert not store.is_complete("s", "v1")
    store.checkpoint("s", "v2")
    assert store.is_complete("s", "v2")
    with open(path) as f:
        assert json.load(f)["signature"] == "v2"


def test_exists_requires_success_marker(tmp_path):
    store = TableStore(str(tmp_path))
    os.makedirs(store.path("t"))
    assert not store.exists("t")
    open(os.path.join(store.path("t"), "_SUCCESS"), "w").close()
    assert store.exists("t")


def test_empty_pidfile_lock_is_stolen_not_wedged(tmp_path):
    """Round-3 ADVICE: an empty/unparseable pidfile (crashed writer debris)
    parsed to owner=0, and os.kill(0, 0) signals our own process group — it
    never raises, so the stale branch was unreachable and every waiter spun
    forever. Now: owner<=0/unparseable + older than the grace period → steal.
    The acquire path itself can no longer produce an empty pidfile (the pid
    is published atomically via link), so this only ever covers debris."""
    import time as _time

    store = TableStore(str(tmp_path))
    for debris in ("", "not-a-pid", "0", "-7"):
        path = store._lock_file("s")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(debris)
        old = _time.time() - 60
        os.utime(path, (old, old))  # older than the grace period
        t0 = _time.time()
        store.acquire_stage_lock("s", stale_grace_sec=2.0)
        assert _time.time() - t0 < 2.0  # stolen immediately, no wedge
        with open(path) as f:  # and OUR pid is now visible, atomically
            assert int(f.read()) == os.getpid()
        store.release_stage_lock("s")


def test_fresh_debris_waits_for_grace_then_steals(tmp_path):
    """An empty pidfile NEWER than the grace period is ambiguous (could be a
    foreign writer mid-flight) — the waiter polls until the grace elapses,
    then steals. Bounds the wedge to the grace window instead of forever."""
    import time as _time

    store = TableStore(str(tmp_path))
    path = store._lock_file("s")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    open(path, "w").close()  # empty, mtime = now
    t0 = _time.time()
    store.acquire_stage_lock("s", poll_sec=0.05, stale_grace_sec=0.5)
    waited = _time.time() - t0
    assert 0.4 <= waited < 5.0
    store.release_stage_lock("s")


def test_live_owner_lock_still_blocks(tmp_path):
    """A lock held by a live pid (our own) must still make waiters wait —
    the stale-steal fix must not turn real locks stealable."""
    import threading
    import time as _time

    store = TableStore(str(tmp_path))
    store.acquire_stage_lock("s")
    acquired = threading.Event()

    def waiter():
        store.acquire_stage_lock("s", poll_sec=0.02)
        acquired.set()

    t = threading.Thread(target=waiter, daemon=True)
    t.start()
    _time.sleep(0.3)
    assert not acquired.is_set()  # blocked while held
    store.release_stage_lock("s")
    t.join(timeout=5)
    assert acquired.is_set()  # acquired after release
    store.release_stage_lock("s")


# --- Iceberg-semantics tests (SURVEY §8: what MERGE/snapshot-rollback means
# over the parquet stand-in). Each maps to a reference behavior:
#   concurrent double-submit  ↔ upsert on_conflict_do_nothing (upsert_nodes.py:62-77)
#   crash between write+ledger ↔ ledger-before-write recovery (add_data_points.py:144-175)
#   rollback_to               ↔ Iceberg snapshot rollback


def test_concurrent_double_submit_single_commit(spark, tmp_path):
    """Two threads race the same (stage, signature): exactly one build runs,
    no duplicate rows, both callers read the same committed table."""
    import threading

    from cognee_spark.store import run_stage

    store = TableStore(str(tmp_path))
    builds = []
    lock = threading.Lock()

    def build():
        with lock:
            builds.append(1)
        return spark.range(100).selectExpr("id", "id * 2 AS doubled")

    results = {}

    def submit(name):
        results[name] = run_stage(store, spark, "racy", "sig", build).count()

    threads = [threading.Thread(target=submit, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(builds) == 1  # one commit wins
    assert results[0] == 100 and results[1] == 100
    assert store.read(spark, "racy").count() == 100  # no duplicated rows


def test_crash_between_write_and_commit_resumes_identically(spark, tmp_path):
    """Kill injected after the parquet write but before the ledger row:
    resume recomputes and produces a byte-identical table."""
    from cognee_spark.store import run_stage

    store = TableStore(str(tmp_path))

    def build():
        return spark.range(50).selectExpr("id", "md5(CAST(id AS STRING)) AS h")

    class Boom(RuntimeError):
        pass

    # simulate the crash: write succeeds, checkpoint never lands
    real_checkpoint = store.checkpoint
    store.checkpoint = lambda *a, **k: (_ for _ in ()).throw(Boom())
    try:
        run_stage(store, spark, "s", "v1", build)
    except Boom:
        pass
    store.checkpoint = real_checkpoint
    assert store.exists("s") and not store.is_complete("s", "v1")  # torn state
    # resume: lock must not be wedged, stage recomputes, content identical
    out = run_stage(store, spark, "s", "v1", build)
    rows = sorted((r.id, r.h) for r in out.collect())
    expect = sorted((r.id, r.h) for r in build().collect())
    assert rows == expect
    assert store.is_complete("s", "v1")


def test_rollback_to_restores_prior_state(spark, tmp_path):
    """rollback_to(stage) drops every later commit (table + ledger row) so the
    next run recomputes downstream from that snapshot."""
    from cognee_spark.store import run_stage

    store = TableStore(str(tmp_path))
    run_stage(store, spark, "a", "v", lambda: spark.range(10))
    run_stage(store, spark, "b", "v", lambda: spark.range(20))
    run_stage(store, spark, "c", "v", lambda: spark.range(30))
    rolled = store.rollback_to("a")
    assert sorted(rolled) == ["b", "c"]
    assert store.is_complete("a", "v") and store.exists("a")
    assert not store.is_complete("b", "v") and not store.exists("b")
    assert not store.is_complete("c", "v") and not store.exists("c")
    # downstream recomputes cleanly after the rollback
    assert run_stage(store, spark, "b", "v", lambda: spark.range(20)).count() == 20


def test_empty_stage_table_resumes_with_schema(spark, tmp_path):
    """A committed stage whose output had ZERO rows (only _SUCCESS on disk)
    must read back on resume via the schema persisted at commit time."""
    from cognee_spark.store import run_stage

    store = TableStore(str(tmp_path))

    def build():
        return spark.range(5).selectExpr("id", "CAST(id AS STRING) AS s").limit(0)

    first = run_stage(store, spark, "empty", "v", build)
    assert first.count() == 0
    # resume path (checkpoint present → no rebuild) must not raise
    resumed = run_stage(store, spark, "empty", "v", lambda: 1 / 0)
    assert resumed.count() == 0
    assert [f.name for f in resumed.schema.fields] == ["id", "s"]


def test_run_stage_restores_job_description(spark, tmp_path):
    """run_stage labels its jobs ``stage:<name>`` and hands the thread's
    previous description back when it returns — set or unset — so later jobs
    on the thread are not filed under the last stage."""
    from cognee_spark.store import run_stage

    sc = spark.sparkContext
    store = TableStore(str(tmp_path))
    seen = []

    def build():
        seen.append(sc.getLocalProperty("spark.job.description"))
        return spark.range(3)

    prev = sc.getLocalProperty("spark.job.description")
    try:
        sc.setLocalProperty("spark.job.description", "caller")
        run_stage(store, spark, "labelled", "v", build)
        assert seen == ["stage:labelled"]
        assert sc.getLocalProperty("spark.job.description") == "caller"
        sc.setLocalProperty("spark.job.description", None)
        run_stage(store, spark, "unlabelled", "v", build)
        assert sc.getLocalProperty("spark.job.description") is None
    finally:
        sc.setLocalProperty("spark.job.description", prev)
