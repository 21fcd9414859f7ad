"""Checkpointed table store — the pipeline's persistence + resume layer.

Production target is Iceberg (MERGE INTO keyed by deterministic ids, snapshot
rollback, atomic commits — SURVEY §1.4/§2.8). This container has no Iceberg
runtime jars, so the same semantics are provided over parquet directories plus
a JSON checkpoint ledger:

- every stage writes its output table once, then records a checkpoint row
  (stage, input_signature, row count, wall seconds, partition count)
- on re-run, a stage whose (stage, input_signature) checkpoint exists is
  skipped and its table is read back — the reference's skip-completed
  semantics (run_tasks_data_item.py:86-103) at stage granularity
- a killed job resumes from the last committed stage because deterministic
  ids make every stage idempotent (SURVEY O1/O5)

The metrics ledger doubles as cognee's pipeline-run ledger
(run_tasks.py:81-89,176-185): one row per stage commit, written BEFORE the
next stage starts.
"""

from __future__ import annotations

import json
import os
import threading
import time

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


class TableStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(os.path.join(root, "_checkpoints"), exist_ok=True)

    # --- tables -----------------------------------------------------------

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def exists(self, name: str) -> bool:
        return os.path.exists(os.path.join(self.path(name), "_SUCCESS"))

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        return spark.read.parquet(self.path(name))

    def write(
        self, df: DataFrame, name: str, partition_by: list[str] | None = None
    ) -> None:
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(self.path(name))

    # --- checkpoints ------------------------------------------------------

    def _checkpoint_file(self, stage: str) -> str:
        return os.path.join(self.root, "_checkpoints", f"{stage}.json")

    def checkpoint(self, stage: str, signature: str, **metrics) -> None:
        payload = {"stage": stage, "signature": signature, "ts": time.time(), **metrics}
        tmp = self._checkpoint_file(stage) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(payload, f)
        os.replace(tmp, self._checkpoint_file(stage))  # atomic commit

    def is_complete(self, stage: str, signature: str) -> bool:
        try:
            with open(self._checkpoint_file(stage)) as f:
                return json.load(f).get("signature") == signature
        except (FileNotFoundError, json.JSONDecodeError):
            return False

    def read_checkpoint(self, stage: str) -> dict | None:
        try:
            with open(self._checkpoint_file(stage)) as f:
                return json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            return None

    def checkpoints(self) -> list[dict]:
        out = []
        folder = os.path.join(self.root, "_checkpoints")
        for fn in sorted(os.listdir(folder)):
            if fn.endswith(".json"):
                with open(os.path.join(folder, fn)) as f:
                    out.append(json.load(f))
        return out

    def invalidate(self, stage: str) -> None:
        try:
            os.remove(self._checkpoint_file(stage))
        except FileNotFoundError:
            pass

    def rollback_to(self, stage: str) -> list[str]:
        """Restore the store to the state right after ``stage`` committed.

        Every stage committed AFTER it (by ledger timestamp) loses both its
        table and its checkpoint row, so the next run recomputes from there —
        the parquet-store analog of Iceberg's snapshot rollback
        (the reference's ledger-before-write recovery path,
        add_data_points.py:144-175). Returns the rolled-back stage names.
        """
        import shutil

        target = self.read_checkpoint(stage)
        if target is None:
            raise ValueError(f"no committed checkpoint for stage {stage!r}")
        rolled = []
        for cp in self.checkpoints():
            if cp["stage"] != stage and cp.get("ts", 0) > target["ts"]:
                shutil.rmtree(self.path(cp["stage"]), ignore_errors=True)
                self.invalidate(cp["stage"])
                rolled.append(cp["stage"])
        return rolled

    # --- stage commit lock ------------------------------------------------

    def _lock_file(self, stage: str) -> str:
        return os.path.join(self.root, "_checkpoints", f"{stage}.lock")

    def acquire_stage_lock(
        self, stage: str, poll_sec: float = 0.05, stale_grace_sec: float = 2.0
    ) -> None:
        """Same-host exclusive builder lock: concurrent double-submit of one
        stage means exactly one process/thread builds while the others wait
        and read the committed table back — the parquet-store analog of
        Iceberg's optimistic-commit / on_conflict_do_nothing upsert
        (upsert_nodes.py:62-77). A lock whose owner pid is dead is stolen
        (crash between write and commit must not wedge resume).

        The pid becomes visible ATOMICALLY: it is written to a private temp
        file first and published with os.link (fails with FileExistsError if
        the lock is held), so no waiter can ever observe an empty/partial
        pidfile from a healthy owner. An empty or unparseable pidfile (or
        owner<=0 — os.kill(0,·) would signal our own process group and never
        raise, making the stale branch unreachable) can therefore only be
        debris from a crashed/foreign writer: it is stolen once older than
        ``stale_grace_sec``."""
        path = self._lock_file(stage)
        tmp = f"{path}.{os.getpid()}.{threading.get_ident()}.tmp"
        while True:
            with open(tmp, "w") as f:
                f.write(str(os.getpid()))
            try:
                os.link(tmp, path)  # atomic publish: content is complete
                os.remove(tmp)
                return
            except FileExistsError:
                os.remove(tmp)
                owner = None
                try:
                    with open(path) as f:
                        raw = f.read().strip()
                    owner = int(raw) if raw else None
                except (ValueError, FileNotFoundError):
                    owner = None
                stale = False
                if owner is None or owner <= 0:
                    # not a pid a healthy owner could have published — debris;
                    # grace period covers clock-skew/foreign-writer races
                    try:
                        stale = time.time() - os.path.getmtime(path) > stale_grace_sec
                    except FileNotFoundError:
                        continue  # released between read and stat — retry now
                else:
                    try:
                        os.kill(owner, 0)  # raises if the owner is gone
                    except ProcessLookupError:
                        stale = True
                    except PermissionError:
                        pass  # owner alive under another uid — keep waiting
                if stale:
                    try:  # stale lock from a crashed builder — steal it
                        os.remove(path)
                    except FileNotFoundError:
                        pass
                    continue
                time.sleep(poll_sec)

    def release_stage_lock(self, stage: str) -> None:
        try:
            os.remove(self._lock_file(stage))
        except FileNotFoundError:
            pass


def _count_part_files(path: str) -> int:
    """Partition/file count of a committed table from the directory listing —
    a metadata walk, never a Spark job (rdd.getNumPartitions() on a fresh
    parquet read costs a full file-listing + split-planning pass)."""
    n = 0
    for _dir, _subdirs, files in os.walk(path):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def _codegen_compiles(spark: SparkSession) -> int:
    """Classes Janino has compiled in the driver JVM so far: the count of
    ``CodegenMetrics``' compilation-time histogram, one py4j read."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def run_stage(
    store: TableStore,
    spark: SparkSession,
    stage: str,
    signature: str,
    build,
    partition_by: list[str] | None = None,
    force: bool = False,
    extra_metrics=None,
) -> DataFrame:
    """Execute one checkpointed stage: skip when committed, else build+commit.

    ``build`` is a thunk returning the stage's DataFrame; wall time, row
    count and part-file count land in the checkpoint row of every stage
    (cognee's @task_summary analog, run_tasks_base.py:21-30). The returned
    frame always reads from the committed table (downstream consumers scan
    parquet, never recompute).

    The row count rides on the WRITE job via ``DataFrame.observe`` — no
    read-back scan. Round 1 measured the per-stage count()+getNumPartitions
    read-backs as a serial floor that capped N→4N scaling efficiency; the
    observation metric is aggregated by the same tasks that write the files,
    so the commit costs exactly one job, and the partition count is a
    directory listing of the committed files.

    ``codegen_compiles`` is how many generated classes the driver JVM
    compiled while the stage built and wrote (two py4j reads of
    ``CodegenMetrics``, no Spark job). The counter spans the whole driver
    JVM, so stages running concurrently in one session share it and each
    counts the other's compiles too. Near zero on a rerun in the same
    session means the codegen cache holds the working set (session.py).

    ``spark_jobs`` is how many Spark jobs the stage ran: its jobs run under
    the ``stage:<name>`` job group (the ``spark.jobGroup.id`` local
    property, restored on exit; ``setJobGroup`` would also overwrite the
    job description), and the status tracker lists the group's job ids
    without a job of its own.

    ``extra_metrics`` is an optional thunk invoked AFTER the write action —
    kernels that accumulate side metrics during the job (e.g. the LLM
    extractor's skipped-row counters) surface them into the checkpoint row.

    Concurrency: double-submitting the same stage (two threads or two
    processes over one store root) is safe — a builder lock makes one side
    build+commit while the other waits and reads the committed table back.
    """

    def _read_committed() -> DataFrame:
        # read with the schema persisted at commit time: a committed-but-empty
        # stage table (only _SUCCESS, no data files — legitimate, e.g. a
        # pure-relational corpus with nothing to extract) can't infer one
        saved = (store.read_checkpoint(stage) or {}).get("schema")
        if saved:
            from pyspark.sql.types import StructType

            return spark.read.schema(StructType.fromJson(json.loads(saved))).parquet(
                store.path(stage)
            )
        return store.read(spark, stage)

    if not force and store.is_complete(stage, signature) and store.exists(stage):
        return _read_committed()
    sc = spark.sparkContext
    prev_description = sc.getLocalProperty("spark.job.description")
    prev_group = sc.getLocalProperty("spark.jobGroup.id")
    group = f"stage:{stage}"
    store.acquire_stage_lock(stage)
    try:
        # a concurrent builder may have committed while we waited on the lock
        if not force and store.is_complete(stage, signature) and store.exists(stage):
            return _read_committed()
        started = time.time()
        compiled = _codegen_compiles(spark)
        # thread-local job description → Spark UI / event-log attribution of
        # every job this stage submits (works under concurrent stage
        # submission); restored on exit so later jobs on this thread are not
        # filed under this stage
        sc.setLocalProperty("spark.job.description", group)
        sc.setLocalProperty("spark.jobGroup.id", group)
        earlier_jobs = set(sc.statusTracker().getJobIdsForGroup(group))
        obs = Observation(f"rows_{stage}")
        df = build().observe(obs, F.count(F.lit(1)).alias("rows"))
        store.write(df, stage, partition_by=partition_by)
        # the status store learns of jobs from the listener bus: drain it so
        # the stage's last job is listed (a bus still busy after 10 s raises;
        # the count then holds what is listed, and the stage still commits)
        try:
            sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        except Py4JJavaError:
            pass
        metrics: dict = {
            "wall_sec": round(time.time() - started, 3),
            "rows": obs.get["rows"],
            "partitions": _count_part_files(store.path(stage)),
            "codegen_compiles": _codegen_compiles(spark) - compiled,
            "spark_jobs": len(set(sc.statusTracker().getJobIdsForGroup(group)) - earlier_jobs),
        }
        if extra_metrics is not None:
            metrics.update(extra_metrics())
        metrics["schema"] = df.schema.json()
        store.checkpoint(stage, signature, **metrics)
        return spark.read.schema(df.schema).parquet(store.path(stage))
    finally:
        sc.setLocalProperty("spark.job.description", prev_description)
        sc.setLocalProperty("spark.jobGroup.id", prev_group)
        store.release_stage_lock(stage)
