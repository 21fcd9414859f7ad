"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Also runs the KG-construction pipeline end-to-end on a deterministic synthetic
corpus sized to the scale factor and reports triples/sec (the BASELINE.json
headline metric).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))


def _sf_of(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else 0.1


# --- A/B arm: the previous round's entry point, same machine, same hour ---------
#
# The sf0.1 bench has a measured ±15% machine-state noise floor day-to-day
# (BENCH/BASELINE.md), so a per-query wall regression vs LAST round's JSON is
# not evidence of a code regression. The A/B arm re-times the same query list
# against the PREVIOUS round-boundary commit (a detached git worktree) so code
# effects and machine state separate. Disable with SPARK_GRAFT_AB=0.
#
# Hygiene (round-4 verdict): the two arms run as IDENTICAL subprocess runners
# (fresh JVM each), INTERLEAVED head→base→head→base, and each query takes its
# best-of-2 across trials — a sequential head-then-base layout let executor
# teardown and first-run warmup land entirely on one arm, which showed up as a
# 13% phantom "regression" on code paths that hadn't changed.

_AB_RUNNER = """
import json, re, shutil, sys, tempfile, time
worktree, sf_dir, cpus, names = sys.argv[1], sys.argv[2], int(sys.argv[3]), sys.argv[4].split(",")
sys.path.insert(0, worktree)
from cognee_spark.session import get_spark
import __spark_entry__ as entry_mod
spark = get_spark(app_name="cognee_spark_bench_ab", master=f"local[{cpus}]",
                  shuffle_partitions=cpus)
registry = entry_mod.queries()
timings, total = {}, 0.0
for name in names:
    if name == "kg_pipeline":
        # headline query: end-to-end KG construction, same corpus/scope as the
        # main bench (run_pipeline signature is round-stable); corpus
        # pre-materialized outside the timer, as in the main bench
        import os as _os
        from cognee_spark.pipeline import run_pipeline
        from cognee_spark.sources.corpus import build_repos_df
        m = re.search(r"sf([0-9.]+)", sf_dir)
        n_files = max(210, int((float(m.group(1)) if m else 0.1) * 50_000))
        root = tempfile.mkdtemp(prefix="cognee_ab_kg")
        try:
            corpus_dir = _os.path.join(root, "_corpus")
            build_repos_df(spark, n_files).write.mode("overwrite").parquet(corpus_dir)
            repos = spark.read.parquet(corpus_dir)
            started = time.perf_counter()
            run_pipeline(spark, repos, root,
                         f"ab:{n_files}", compute_metrics=False, force=True,
                         with_summaries=False, with_index=False)
            timings[name] = round(time.perf_counter() - started, 3)
        finally:
            shutil.rmtree(root, ignore_errors=True)
        total += timings[name]
        continue
    if name not in registry:
        continue
    started = time.perf_counter()
    registry[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    timings[name] = round(time.perf_counter() - started, 3)
    total += timings[name]
print("AB_RESULT " + json.dumps({"queries": timings, "total": round(total, 3)}))
spark.stop()
"""


def _last_round_ref() -> str | None:
    import subprocess

    try:
        out = subprocess.run(
            ["git", "log", "--format=%H\t%s"],
            cwd=str(Path(__file__).resolve().parent),
            capture_output=True, text=True, timeout=30, check=True,
        ).stdout
    except Exception:
        return None
    for line in out.splitlines():
        sha, _tab, subject = line.partition("\t")
        if re.match(r"^round \d+:", subject):
            return sha
    return None


def _run_arm(arm_dir: str, names: list[str], sf_dir: str, cpus: int) -> dict | None:
    """One fresh-JVM timing pass of ``names`` against the repo at arm_dir."""
    import subprocess

    runner = os.path.join(tempfile.mkdtemp(prefix="cognee_ab_run"), "_ab_runner.py")
    with open(runner, "w") as f:
        f.write(_AB_RUNNER)
    env = dict(os.environ, SPARK_GRAFT_AB="0")
    try:
        proc = subprocess.run(
            [sys.executable, runner, arm_dir, sf_dir, str(cpus), ",".join(names)],
            capture_output=True, text=True, timeout=1800, env=env, cwd=arm_dir,
        )
        for line in proc.stdout.splitlines():
            if line.startswith("AB_RESULT "):
                return json.loads(line[len("AB_RESULT "):])
        return {"error": (proc.stderr or proc.stdout)[-500:]}
    except Exception as err:
        return {"error": str(err)[:500]}
    finally:
        shutil.rmtree(os.path.dirname(runner), ignore_errors=True)


def _best_of(trials: list[dict]) -> dict:
    queries: dict[str, float] = {}
    for trial in trials:
        for name, sec in (trial.get("queries") or {}).items():
            queries[name] = min(queries.get(name, float("inf")), sec)
    return {"queries": queries, "total": round(sum(queries.values()), 3)}


def _ab_baseline(
    names: list[str], sf_dir: str, cpus: int, trials: int = 3
) -> dict | None:
    """Interleaved best-of-N A/B: head vs previous-round commit, identical
    runners. N = 3 trials per arm by default (best-of-2 let one unlucky pair
    of runs show a phantom ratio above 1.05), and the arm that runs first
    alternates from trial to trial so neither always gets the warmer host.
    Returns {"ref", "head", "base", "ratio_total"} — ratio_total is
    head/base on the shared query set (1.0 ± noise when code didn't
    change)."""
    import subprocess

    repo = str(Path(__file__).resolve().parent)
    ref = os.environ.get("SPARK_GRAFT_AB_REF") or _last_round_ref()
    if not ref:
        return None
    worktree = tempfile.mkdtemp(prefix="cognee_ab_wt")
    try:
        subprocess.run(
            ["git", "worktree", "add", "--force", "--detach", worktree, ref],
            cwd=repo, capture_output=True, timeout=120, check=True,
        )
        head_trials, base_trials = [], []
        arms = [(repo, head_trials), (worktree, base_trials)]
        for trial in range(trials):  # interleave arms, both orders
            for arm_dir, out in arms if trial % 2 == 0 else arms[::-1]:
                out.append(_run_arm(arm_dir, names, sf_dir, cpus) or {})
        head, base = _best_of(head_trials), _best_of(base_trials)
        shared = sorted(set(head["queries"]) & set(base["queries"]))
        head_shared = sum(head["queries"][n] for n in shared)
        base_shared = sum(base["queries"][n] for n in shared)
        return {
            "ref": ref,
            "trials": trials,
            "head": head,
            "base": base,
            "shared_queries": len(shared),
            "ratio_total": round(head_shared / base_shared, 3) if base_shared else None,
        }
    except Exception as err:  # A/B evidence is additive — never fail the bench
        return {"ref": ref, "error": str(err)[:500]}
    finally:
        subprocess.run(
            ["git", "worktree", "remove", "--force", worktree],
            cwd=repo, capture_output=True, timeout=60,
        )
        shutil.rmtree(worktree, ignore_errors=True)


def _force(df) -> int:
    """Fully execute a plan without driver-side collection overhead."""
    df.write.format("noop").mode("overwrite").save()
    return 0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = _sf_of(sf_dir)

    from cognee_spark.session import get_spark

    import __spark_entry__ as entry_mod

    spark = get_spark(
        app_name="cognee_spark_bench", master=f"local[{cpus}]", shuffle_partitions=cpus
    )

    bench_queries = [
        "flagship_mention_topk",
        "ingest_identity",
        "graph_degree_metrics",
        "dedup_exact",
        "dedup_minhash_signatures",
        "simhash_signatures",
        "embedding_dedup_pairs",
        "ann_topk",
        "chunk_rows",
        "text_token_counts",
        "text_quality",
        "text_language_id",
        "top_customers",
        "lineitem_pricing",
        "top_event_per_user",
        "temporal_interval",
        # round-5 families (regression coverage for the ≤1.05 A/B gate)
        "skill_run_graph",
        "feedback_events",
        "memory_import_edges",
        "graph_export_cypher",
        "subgraph_viz",
        "session_usage_counts",
        "regex_entities",
        "bm25_topk",
        "kg_triplet_topk",
        # round-6 additions (absent from the base arm until next round;
        # the A/B ratio is computed on the shared set)
        "chunk_associations",
        "graphiti_reindex",
        "db_schema_tables",
        # stateful streaming drain: ~20-35s at sf0.1, dominated by the three
        # availableNow runs + state-store round-trips, not per-row cost
        "stream_session_lifecycle",
    ]
    registry = entry_mod.queries()
    timings: dict[str, float] = {}
    total = 0.0
    for name in bench_queries:
        started = time.perf_counter()
        _force(registry[name](spark, sf_dir))
        timings[name] = round(time.perf_counter() - started, 3)
        total += timings[name]

    # KG pipeline end-to-end: corpus size scales with sf
    from cognee_spark.pipeline import run_pipeline
    from cognee_spark.sources.corpus import build_repos_df

    n_files = max(210, int(sf * 50_000))
    root = tempfile.mkdtemp(prefix="cognee_bench_kg")
    try:
        # pre-materialize the synthetic corpus OUTSIDE the timer:
        # generating rows in Python is harness
        # cost, not engine work — measured ~30% of the 5k-file wall
        corpus_dir = os.path.join(root, "_corpus")
        build_repos_df(spark, n_files).write.mode("overwrite").parquet(corpus_dir)
        repos = spark.read.parquet(corpus_dir)
        # north-rule scope (comparable across rounds): chunk → extract →
        # link → canonicalize → materialize graph tables
        started = time.perf_counter()
        result = run_pipeline(
            spark,
            repos,
            root,
            f"bench:{n_files}",
            compute_metrics=False,
            force=True,
            with_summaries=False,
            with_index=False,
        )
        triples = result["tables"]["triples"].count()
        kg_sec = round(time.perf_counter() - started, 3)
        # full pipeline: adds the summarization + vector-index stages
        started = time.perf_counter()
        run_pipeline(
            spark,
            repos,
            root + "_full",
            f"bench_full:{n_files}",
            compute_metrics=False,
            force=True,
        )
        kg_full_sec = round(time.perf_counter() - started, 3)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(root + "_full", ignore_errors=True)
    timings["kg_pipeline"] = kg_sec
    total += kg_sec
    timings["kg_pipeline_full"] = kg_full_sec
    total += kg_full_sec

    # A/B arm: previous round-boundary commit, same queries, back-to-back
    # (separates code effects from machine state; ±15% noise floor measured)
    ab = None
    if os.environ.get("SPARK_GRAFT_AB", "1") != "0" or "--ab" in sys.argv:
        # the headline pipeline is gated too (it isn't a queries() entry)
        ab = _ab_baseline(bench_queries + ["kg_pipeline"], sf_dir, cpus)

    print(
        json.dumps(
            {
                "metric": "bench_total_wall",
                "value": round(total, 3),
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "kg_n_files": n_files,
                "kg_triples": triples,
                "kg_triples_per_sec": round(triples / kg_sec, 2) if kg_sec else None,
                "cpus": cpus,
                "ab_baseline": ab,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
