"""Tests of the benchmark itself. From the repository root:

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import threading
import time
from pathlib import Path

import pytest

from cognee_spark.session import get_spark
from perfbench import run as bench
from perfbench import workloads
from perfbench.probes import StatusFold
from perfbench.workloads import STAGES, Bench, Op, Sizes

ROOT = Path(__file__).resolve().parents[2]
TINY = Sizes(cognify_files=60, events=600, users=30, drain_users=8, warmup_users=4)


@pytest.fixture(scope="module")
def spark():
    session = get_spark(app_name="perfbench_tests", master="local[4]", shuffle_partitions=4)
    yield session
    session.stop()


def _declared() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def _run(spark, tmp_path, workload, trace):
    return bench.run(
        spark, workload, seed=7, seconds=0.1, trace=trace, work=tmp_path / f"{workload}{trace}",
        out_dir=tmp_path, sizes=TINY, t0=time.perf_counter(),
    )


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_tiny_run_emits_every_declared_metric(spark, tmp_path, workload):
    declared = _declared()
    assert sorted(w["name"] for w in declared["workloads"]) == sorted(workloads.WORKLOADS)
    for trace, key in ((False, "end_to_end"), (True, "per_layer")):
        result = _run(spark, tmp_path, workload, trace)
        assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
        want = {m["name"]: m["unit"] for m in declared[key]}
        got = {name: m["unit"] for name, m in result["metrics"].items()}
        assert got == want
        values = [m["value"] for m in result["metrics"].values()]
        assert all(math.isfinite(v) for v in values)
        if key == "end_to_end":  # relative bounds need metrics that are never 0
            assert all(v > 0 for v in values), result["metrics"]


def test_fold_attributes_concurrent_threads_as_in_isolation(spark):
    """Jobs of two threads running at once are attributed by their own
    thread's description exactly as when each runs alone."""
    fold = StatusFold(spark)

    def job(parts):
        spark.range(0, 20_000, numPartitions=parts).selectExpr("sum(id)").collect()

    def tasks(stages, description):
        return sum(s["tasks"] for s in stages if s["description"] == description)

    alone = {}
    for name, parts in (("iso:a", 3), ("iso:b", 5)):
        fold.label(name)
        lo = fold.watermark()
        job(parts)
        alone[parts] = tasks(fold.stages(lo, fold.watermark()), name)

    barrier = threading.Barrier(2, timeout=60)

    def worker(name, parts):
        fold.label(name)
        barrier.wait()
        for _ in range(3):
            job(parts)

    fold.label("main")
    lo = fold.watermark()
    threads = [threading.Thread(target=worker, args=(f"par:{p}", p)) for p in (3, 5)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
        assert not t.is_alive()
    stages = fold.stages(lo, fold.watermark())
    assert tasks(stages, "par:3") == 3 * alone[3]
    assert tasks(stages, "par:5") == 3 * alone[5]
    assert tasks(stages, "main") == 0


def test_fold_files_every_pipeline_job_under_its_stage(spark, tmp_path):
    """While the summaries thread runs beside the spine, every Spark job of
    run_pipeline is filed under one of the 13 stages, and none under the
    caller's label."""
    from cognee_spark.pipeline import run_pipeline

    b = Bench(spark, tmp_path, 1, 0.0, TINY, time.perf_counter())
    repos = workloads._corpus(b, 60, "corpus")
    op = b.timed("caller", "COGNIFY", lambda: run_pipeline(
        spark, repos, str(tmp_path / "kg"), "t", compute_metrics=False, force=True,
    ))
    assert op.error is None, op.error
    jobs = b.fold.jobs(op.lo, op.hi)
    assert {j["description"] for j in jobs} == {f"stage:{s}" for s in STAGES}
    assert sum(s["description"] == "stage:summaries" for s in b.fold.stages(op.lo, op.hi)) >= 1


def test_wrong_drain_output_is_a_failure(tmp_path):
    import pyarrow.parquet as pq

    (tmp_path / "ev").mkdir()
    pq.write_table(workloads.events_table(3, TINY), tmp_path / "ev" / "events.parquet")
    events_dir = str(tmp_path / "ev")
    cols, rows = workloads.oracle_rows(events_dir)

    def checked(result):
        op = Op("drain", "DRAIN", 1.0, 1.0, 0, 0, result=result, query=events_dir)
        workloads.check_drain(op)
        return op.error

    assert checked((cols, rows)) is None
    assert checked((cols, [])) is not None  # a silently empty drain
    wrong = [list(r) for r in rows]
    wrong[0][cols.index("n_calls")] += 1
    assert checked((cols, wrong)) is not None


def test_graph_completion_prompt_without_golden_context_is_a_failure(spark, tmp_path):
    from cognee_spark.operators.retrieval import COMPLETION_PROMPT_TEMPLATE

    b = Bench(spark, tmp_path, 1, 0.0, TINY, time.perf_counter())
    n, query, k = TINY.cognify_files, "Zephyr Service uses Maple Hub", TINY.top_k
    lines = sorted(workloads.fragment_lines(n, query))
    assert len(lines) > k

    def checked(context_lines):
        prompt = COMPLETION_PROMPT_TEMPLATE.format(question=query, context="\n---\n".join(context_lines))
        op = Op("q", "GRAPH_COMPLETION", 1.0, 1.0, 0, 0, result=prompt, query=(n, query))
        b.answers.clear()
        workloads.check_cognify_call(b, op, {})
        return op.error

    assert checked(lines[:k]) is None
    assert checked([]) is not None  # nothing retrieved
    assert checked(lines[:k - 1]) is not None
    assert checked(lines[:k - 1] + ["Nobody --[uses]--> Nothing"]) is not None


def test_wrong_triples_count_as_failed_calls(spark, tmp_path, monkeypatch):
    import cognee_spark.sources.golden as golden

    real = golden.golden_triples
    monkeypatch.setattr(golden, "golden_triples", lambda n: real(n) | {("x", "y", "z")})
    result = _run(spark, tmp_path, "cognify_search", False)
    assert not result["correct"]
    assert result["failed"] == 2  # the warm-up and the measured cognify
