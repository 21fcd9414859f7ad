"""Per-stage executor-time attribution for one pipeline leg.

Runs the north-rule pipeline once (fresh JVM, pre-materialized input scan,
warm-up excluded) with the Spark event log enabled, then folds the log into
a per-stage table:

    stage | wall(s) | run(core-s) | cpu(core-s) | gc(s) | shuf_w | shuf_r | input | tasks

`run` is summed Executor Run Time (task occupancy — includes Python worker
wait), `cpu` is summed Executor CPU Time (JVM on-CPU only). run >> cpu means
tasks sat blocked (Python workers, IO, scheduler); wall >> run/cores means
idle executors (stragglers / low parallelism). The stage attribution rides on
run_stage's `spark.job.description = stage:<name>` thread-local property.

Usage:
    python tools/attribute_stages.py --n-files 3200000 --cpus 4 \
        [--mode executors|threads] [--input-dir DIR] [--report-only LOGDIR]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import subprocess
import sys
import tempfile
from collections import defaultdict
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

PREPARE = r"""
import sys
sys.path.insert(0, {repo!r})
from cognee_spark.session import get_spark
from cognee_spark.sources.corpus import write_repos_table

spark = get_spark(app_name="attrib_prepare", master="local[32]", shuffle_partitions=32)
write_repos_table(spark, {n_files}, {input_dir!r})
print("prepared")
spark.stop()
"""

RUNNER = r"""
import json, sys, tempfile, time, shutil
sys.path.insert(0, {repo!r})
from cognee_spark.session import get_spark
from cognee_spark.pipeline import run_pipeline
from cognee_spark.sources.corpus import build_repos_df

if {mode!r} == "executors":
    master = "local-cluster[{cpus},2,10240]"
    extra = {{"spark.executor.memory": "10g"}}
else:
    master = "local[{cpus}]"
    extra = {{}}
extra.update({{
    "spark.eventLog.enabled": "true",
    "spark.eventLog.dir": "file://{evdir}",
    "spark.eventLog.compress": "false",
}})
spark = get_spark(app_name="attrib_{cpus}", master=master, extra_conf=extra)
scratch = "/dev/shm" if __import__("os").path.isdir("/dev/shm") else None
root = tempfile.mkdtemp(prefix="cognee_attrib", dir=scratch)
run_pipeline(spark, build_repos_df(spark, 210), root + "_warm", "warm:210",
             compute_metrics=False, force=True,
             with_summaries=False, with_index=False)
# marker job: everything before it (the warm-up's identically-described
# stage jobs) is excluded from attribution
spark.sparkContext.setLocalProperty("spark.job.description", "attrib:marker")
spark.range(1).count()
repos = spark.read.parquet({input_dir!r}).select(
    "repo", "path", "commit", "lang", "content")
started = time.perf_counter()
result = run_pipeline(spark, repos, root, "attrib:{n_files}",
                      compute_metrics=False, force=True,
                      with_summaries=False, with_index=False)
# the main thread still carries the last stage's description — relabel the
# verification count so it doesn't inflate that stage
spark.sparkContext.setLocalProperty("spark.job.description", "final_count")
triples = result["tables"]["triples"].count()
wall = time.perf_counter() - started
shutil.rmtree(root, ignore_errors=True)
shutil.rmtree(root + "_warm", ignore_errors=True)
stages = {{c["stage"]: c["wall_sec"] for c in result["metrics"]["stages"]}}
print(json.dumps({{"wall_sec": round(wall, 3), "triples": triples,
                   "stages": stages}}))
spark.stop()
"""


def _run_code(code: str) -> str:
    """Run ``code`` in a fresh Python (own JVM); return its last stdout line."""
    env = dict(os.environ, PYTHONPATH=str(REPO))
    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, env=env, timeout=3600)
    if out.returncode != 0:
        raise RuntimeError(out.stderr[-3000:])
    return out.stdout.strip().splitlines()[-1]


def prepare_input(n_files: int, input_dir: str) -> None:
    """Write the deterministic n-file repos table to ``input_dir``."""
    _run_code(PREPARE.format(repo=str(REPO), n_files=n_files, input_dir=input_dir))


def run_leg(n_files: int, cpus: int, mode: str, input_dir: str, evdir: str) -> dict:
    return json.loads(_run_code(RUNNER.format(
        repo=str(REPO), cpus=cpus, mode=mode, input_dir=input_dir,
        n_files=n_files, evdir=evdir)))


def attribute(evdir: str) -> dict[str, dict]:
    """Fold event-log task metrics into per-job-description sums.

    Each application log file gets its OWN job-id keyspace (job ids restart
    at 0 per Spark application, so folding a multi-app log dir into one
    keyspace would collide) and its own marker: jobs at or before that
    file's 'attrib:marker' job (the warm-up run, whose stage jobs carry the
    SAME descriptions as the measured leg) are dropped, so the sums cover
    exactly the measured pipeline. Marker-less files (e.g. old bench logs
    under --report-only) are aggregated in full."""
    agg: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for path in sorted(glob.glob(evdir + "/**/*", recursive=True)):
        if os.path.isdir(path) or path.endswith(".inprogress.crc"):
            continue
        _attribute_file(path, agg)
    return {k: dict(v) for k, v in agg.items()}


def _attribute_file(path: str, agg: dict[str, dict]) -> None:
    stage_to_job: dict[int, int] = {}
    job_desc: dict[int, str] = {}
    per_job: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    marker_job = -1
    with open(path, errors="ignore") as f:
        for line in f:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                desc = (ev.get("Properties") or {}).get(
                    "spark.job.description", "?")
                job_desc[jid] = desc
                if desc == "attrib:marker":
                    marker_job = max(marker_job, jid)
                for sid in ev.get("Stage IDs", []):
                    stage_to_job[sid] = jid
            elif kind == "SparkListenerTaskEnd":
                jid = stage_to_job.get(ev.get("Stage ID"), -1)
                m = ev.get("Task Metrics") or {}
                a = per_job[jid]
                a["tasks"] += 1
                a["run_s"] += m.get("Executor Run Time", 0) / 1e3
                a["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                a["deser_s"] += m.get("Executor Deserialize Time", 0) / 1e3
                sr = m.get("Shuffle Read Metrics") or {}
                a["shuf_r_mb"] += (sr.get("Remote Bytes Read", 0)
                                   + sr.get("Local Bytes Read", 0)) / 1e6
                sw = m.get("Shuffle Write Metrics") or {}
                a["shuf_w_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
                im = m.get("Input Metrics") or {}
                a["input_mb"] += im.get("Bytes Read", 0) / 1e6
                a["spill_mb"] += (m.get("Disk Bytes Spilled", 0)
                                  + m.get("Memory Bytes Spilled", 0)) / 1e6
    for jid, metrics in per_job.items():
        # jid -1 = tasks whose stage had no JobStart in this file: keep
        # them visible under '?' rather than silently dropping them
        if 0 <= jid <= marker_job:
            continue  # warm-up (or pre-marker) job — excluded
        a = agg[job_desc.get(jid, "?")]
        for k, v in metrics.items():
            a[k] += v


def print_report(result: dict | None, agg: dict[str, dict]) -> None:
    walls = (result or {}).get("stages", {})
    hdr = (f"{'stage':24s} {'wall':>7s} {'run':>8s} {'cpu':>8s} {'gc':>6s} "
           f"{'deser':>6s} {'shufW':>8s} {'shufR':>8s} {'input':>8s} "
           f"{'spill':>7s} {'tasks':>6s}")
    print(hdr)
    rows = sorted(agg.items(), key=lambda kv: -kv[1].get("run_s", 0))
    for desc, a in rows:
        name = desc.removeprefix("stage:")
        wall = walls.get(name, float("nan"))
        print(f"{name[:24]:24s} {wall:7.1f} {a.get('run_s', 0):8.1f} "
              f"{a.get('cpu_s', 0):8.1f} {a.get('gc_s', 0):6.1f} "
              f"{a.get('deser_s', 0):6.1f} {a.get('shuf_w_mb', 0):8.1f} "
              f"{a.get('shuf_r_mb', 0):8.1f} {a.get('input_mb', 0):8.1f} "
              f"{a.get('spill_mb', 0):7.1f} {int(a.get('tasks', 0)):6d}")
    if result:
        print(f"\ntotal wall {result['wall_sec']}s, triples {result['triples']}")


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--n-files", type=int, default=3200000)
    p.add_argument("--cpus", type=int, default=4)
    p.add_argument("--mode", choices=("executors", "threads"), default="executors")
    p.add_argument("--input-dir", help="reuse an already-prepared repos table")
    p.add_argument("--report-only", metavar="LOGDIR",
                   help="skip the run; parse an existing event-log dir")
    args = p.parse_args()

    if args.report_only:
        print_report(None, attribute(args.report_only))
        return

    if args.input_dir:
        input_dir, cleanup = args.input_dir, False
    else:
        input_dir = tempfile.mkdtemp(
            prefix="cognee_attrib_input",
            dir="/dev/shm" if os.path.isdir("/dev/shm") else None)
        prepare_input(args.n_files, input_dir)
        cleanup = True
    evdir = tempfile.mkdtemp(prefix="cognee_attrib_ev")
    try:
        result = run_leg(args.n_files, args.cpus, args.mode, input_dir, evdir)
        print_report(result, attribute(evdir))
        print(f"\nevent log kept at {evdir}")
    finally:
        if cleanup:
            import shutil

            shutil.rmtree(input_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.path.insert(0, str(REPO))
    main()
