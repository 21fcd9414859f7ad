"""Executor storage over a long session. The engine's eager
``localCheckpoint`` blocks are not released by the engine itself: Spark's
ContextCleaner frees them once the caller drops the frames that hold them
(a Python GC detaches the JVM objects, py4j's finalizer thread sends the
detach, a JVM GC lets the cleaner see them). Repeated cognify,
GRAPH_COMPLETION and lifecycle drains therefore return
``getPersistentRDDs()`` to its baseline instead of growing without bound.

The rounds run in a fresh Python and JVM: in the shared test session, frames
of earlier tests are released at unrelated times and other tests' state can
keep objects alive, so only a session of its own shows what the engine
itself leaves behind."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

ROUNDS = r"""
import datetime, gc, json, shutil, sys, tempfile, time
sys.path.insert(0, {repo!r})
from cognee_spark.api import Cognee
from cognee_spark.session import get_spark
from cognee_spark.sources.corpus import build_repos_df
import __spark_entry__ as entry

spark = get_spark(app_name="long_session", master="local[2]", shuffle_partitions=4)


def persistent_ids(collect=False):
    if collect:
        gc.collect()
        spark.sparkContext._jvm.System.gc()
    # the map getPersistentRDDs returns (and its key-set view) hold every
    # persistent RDD strongly. A dropped proxy is detached only when py4j's
    # finalizer thread next wakes, up to a second later, so the next poll's
    # System.gc() would find this probe still holding them; detach now.
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    keys = rdds.keySet()
    try:
        return set(keys.toArray())
    finally:
        for proxy in (keys, rdds):
            proxy._gateway_client.garbage_collect_object(proxy._target_id, False)


root = tempfile.mkdtemp(prefix="cognee_long_session")
t0 = datetime.datetime(2024, 1, 1, 12, 0)
spark.createDataFrame(
    [
        (i, t0 + datetime.timedelta(minutes=3 * i), i % 4, "purchase" if i % 5 == 4 else "view",
         float(i), "{{}}")
        for i in range(20)
    ],
    "event_id long, ts timestamp_ntz, user_id long, event_type string, "
    "value double, props string",
).write.parquet(f"{{root}}/sf/events.parquet")

baseline = persistent_ids(collect=True)
held = set()
for i in range(3):
    engine = Cognee(spark, f"{{root}}/kg{{i}}")
    engine.add(build_repos_df(spark, 40))
    engine.cognify()
    assert isinstance(engine.search("alice works with bob"), str)
    drained = entry.stream_session_lifecycle(spark, f"{{root}}/sf")
    assert drained.count() > 0
    held |= persistent_ids() - baseline
    del engine, drained

deadline = time.monotonic() + 30
leaked = persistent_ids(collect=True) - baseline
while leaked and time.monotonic() < deadline:
    time.sleep(0.5)
    leaked = persistent_ids(collect=True) - baseline
print(json.dumps({{"baseline": len(baseline), "held": len(held), "leaked": sorted(leaked)}}))
spark.stop()
shutil.rmtree(root, ignore_errors=True)
"""


def test_checkpoint_blocks_return_to_baseline_after_rounds():
    code = ROUNDS.format(repo=str(REPO))
    env = dict(os.environ, PYTHONPATH=str(REPO))
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        env=env, cwd=str(REPO), timeout=900,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    # the rounds did hold checkpoint blocks while their frames were live
    assert result["held"] > 0
    assert result["leaked"] == [], result
