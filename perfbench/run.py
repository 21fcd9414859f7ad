"""Repository benchmark: cognify throughput and serving-path latency.

Run from the repository root:

    python3 perfbench/run.py --workload cognify_search --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` runs the same
loop once untraced and once traced and prints the per-layer metrics. The last
line of standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it is the same
result for people to read, with ``error_rate``. The exit code is 1 when an
output check fails. Every file the run writes stays under
``.perfbench_work/`` (removed at the end) and ``.perfbench_out/`` (span
dumps of traced runs) in the repository root.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
UNITS = {"setup_s": "s", "cpu_s_per_op": "s", "shuffle_write_mb_per_op": "MB",
         "process.throughput_per_s": "1/s"}


def _unit(name: str) -> str:
    if name in UNITS:
        return UNITS[name]
    suffix = name.rsplit(".", 1)[-1]
    for end, unit in (("_ms", "ms"), ("_s", "s"), ("_mb", "MB")):
        if suffix.endswith(end):
            return unit
    return "ratio" if suffix == "task_skew" else "count"


def _isolate(work: Path) -> dict[str, str]:
    """Point every temporary directory of the driver, the JVM and the Python
    workers into ``work``; returns the Spark conf that does it for the JVM."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["COGNEE_SPARK_LOCAL_DIR"] = str(work / "spark-local")
    return {
        # the JVM's temp files; -XX:-UsePerfData keeps it out of /tmp/hsperfdata_*
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def start_session(work: Path):
    """One driver at local[nproc], built from get_spark's defaults apart from
    the master, shuffle partitions = nproc (as bench.py and the tests use),
    and the temp-dir settings above."""
    from cognee_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    return get_spark(
        app_name="perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus,
        extra_conf=_isolate(work),
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def effective_conf(spark) -> dict[str, str]:
    keep = ("spark.master", "spark.driver.memory", "spark.local.dir", "spark.sql.")
    return {k: v for k, v in sorted(spark.sparkContext.getConf().getAll()) if k.startswith(keep)}


def run(spark, workload: str, seed: int, seconds: float, trace: bool, work: Path, out_dir: Path,
        sizes=None, t0: float = T0) -> dict:
    """Run one workload in an existing session; returns the result object."""
    from perfbench.workloads import END_TO_END, WORKLOADS, Bench, Sizes, per_layer_names

    b = Bench(spark, work, seed, seconds, sizes or Sizes(), t0)
    b.note("session ready")
    b.proc.start()
    try:
        ops, e2e, layers = WORKLOADS[workload](b, trace)
        layers["store.persistent_rdds"] = b.fold.persistent_rdds()
    finally:
        b.proc.close()
    b.note("checked")
    if trace:
        out_dir.mkdir(exist_ok=True)
        b.tracer.write(out_dir / f"spans-{workload}-{seed}.jsonl")
        names = per_layer_names()
        values = {name: layers.get(name, e2e.get(name, 0)) for name in names}
    else:
        names = END_TO_END
        values = e2e
    failed = [op for op in ops if op.error is not None]
    for op in failed:
        print(f"FAILED {op.label}: {op.error}", file=sys.stderr)
    return {
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {n: {"value": float(values[n]), "unit": _unit(n)} for n in names},
    }


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sys.path.insert(0, str(ROOT))
    from perfbench.workloads import WORKLOADS

    parser.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    work = ROOT / ".perfbench_work" / str(os.getpid())
    spark = None
    try:
        spark = start_session(work)
        result = run(spark, args.workload, args.seed, args.seconds, bool(args.trace), work,
                     ROOT / ".perfbench_out")
        conf = effective_conf(spark)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()  # only when no other run is using it
        except OSError:
            pass
    readable = {n: f"{m['value']:.6g} {m['unit']}" for n, m in result["metrics"].items()}
    print(json.dumps({"conf": conf}))
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, **readable,
        "error_rate": result["failed"] / result["attempted"],
    }))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
