"""Measurements taken from outside the program: the /proc process tree, the
Spark status store, and streaming progress events.

Why CPU comes from /proc and not from Spark: ``executorCpuTime`` is the CPU
time of the JVM task threads. A pandas UDF (``mapInPandas``,
``applyInPandasWithState``) runs in separate Python worker processes while the
JVM task thread blocks on the worker socket, so that work shows up in
``executorRunTime`` but not in ``executorCpuTime``. At 40,000 files the
``extractions`` stage had 41 s of executor run time and 12.5 s of JVM CPU.
The process-tree sum (driver + JVM + Python workers) counts both; the
difference run time − JVM CPU is reported per layer as Python-side wait.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql.streaming import StreamingQueryListener

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(path: str) -> tuple[str, list[str]] | None:
    """(command name, fields 3..) of a /proc stat file."""
    try:
        with open(path) as f:
            raw = f.read()
    except OSError:  # the process or thread ended while it was read
        return None
    cut = raw.rfind(")")
    return raw[raw.index("(") + 1 : cut], raw[cut + 2 :].split()


def _tree() -> list[tuple[str, str, list[str]]]:
    """(pid, command, stat fields) of this process and every live descendant."""
    children: dict[str, list[str]] = {}
    stats: dict[str, tuple[str, list[str]]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        stat = _stat_fields(f"/proc/{pid}/stat")
        if stat is not None:
            stats[pid] = stat
            children.setdefault(stat[1][1], []).append(pid)
    out, todo = [], [str(os.getpid())]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append((pid, *stats[pid]))
        todo.extend(children.get(pid, ()))
    return out


def _ticks(fields: list[str], children: bool) -> int:
    """utime+stime, plus cutime+cstime: the CPU of children already reaped
    (Python workers that exited), so a worker counts once, alive or gone."""
    return sum(int(x) for x in fields[11:15 if children else 13])


class ProcTree:
    """CPU and peak RSS of this process tree, read from /proc, with one
    background sampling thread.

    CPU leaves out HotSpot's JIT compiler threads (``C1``/``C2
    CompilerThread``). In a process that lives about a minute they are still
    compiling during the measured calls: about 16 s of a 64 s cognify cycle
    in one run. How far they got depends on timing, not on the call, and it
    is warm-up work. The sampler remembers each compiler thread's last
    reading, because the JVM stops idle compiler threads and their CPU stays
    in the process total."""

    def __init__(self, interval_s: float = 0.5):
        self._interval = interval_s
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._peak = 0
        self._jit: dict[tuple[str, str], int] = {}  # (pid, tid) → ticks
        self._named: dict[tuple[str, str], bool] = {}  # (pid, tid) → is a JIT thread
        self._thread = threading.Thread(target=self._loop, name="proc-sampler", daemon=True)

    def _sample(self) -> tuple[int, int]:
        """(CPU ticks without JIT threads, RSS bytes) of the tree now."""
        total = rss = 0
        with self._lock:
            for pid, command, fields in _tree():
                total += _ticks(fields, children=True)
                rss += int(fields[21]) * _PAGE
                if command == "java":
                    self._read_jit(pid)
            self._peak = max(self._peak, rss)
            return total - sum(self._jit.values()), rss

    def _read_jit(self, pid: str) -> None:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            return
        for tid in tids:
            key = (pid, tid)
            if key not in self._named:
                stat = _stat_fields(f"/proc/{pid}/task/{tid}/stat")
                self._named[key] = stat is not None and "CompilerThre" in stat[0]
            if self._named[key]:
                stat = _stat_fields(f"/proc/{pid}/task/{tid}/stat")
                if stat is not None:
                    self._jit[key] = _ticks(stat[1], children=False)

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self._sample()

    def start(self) -> None:
        self._thread.start()

    def cpu_s(self) -> float:
        return self._sample()[0] / _CLK_TCK

    def reset_peak(self) -> None:
        rss = self._sample()[1]
        with self._lock:
            self._peak = rss

    def peak_mb(self) -> float:
        self._sample()
        with self._lock:
            return self._peak / 1e6

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


class StatusFold:
    """Per-window fold of Spark's always-on status store (works with the UI
    off). A window is the range of Spark stage ids created between two
    ``watermark()`` calls; stage ids are handed out consecutively, so a
    window missing an id means the store evicted it
    (``spark.ui.retainedStages``), and the fold then raises instead of
    under-counting."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        gw = self._sc._gateway
        self._jvm = gw.jvm
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._skew_quantiles = gw.new_array(gw.jvm.double, 2)
        self._skew_quantiles[0] = 0.5
        self._skew_quantiles[1] = 1.0

    def label(self, description: str) -> None:
        """Set this thread's job description before a timed call.
        ``run_stage`` sets ``stage:<name>`` and never clears it, so without
        this, jobs after a cognify would be filed under its last stage."""
        self._sc.setLocalProperty("spark.job.description", description)

    def _stage_seq(self):
        return self._store.stageList(
            self._jvm.java.util.ArrayList(), False, False, self._no_quantiles,
            self._jvm.java.util.ArrayList(),
        )

    def watermark(self) -> int:
        """Newest stage id the store knows, once queued events are applied."""
        self._bus.waitUntilEmpty(60_000)
        stages = self._stage_seq()
        return stages.head().stageId() if stages.nonEmpty() else -1

    def stages(self, lo: int, hi: int) -> list[dict]:
        """Every Spark stage with lo < id <= hi (newest first)."""
        self._bus.waitUntilEmpty(60_000)
        out = []
        it = self._stage_seq().iterator()
        while it.hasNext():
            s = it.next()
            sid = s.stageId()
            if sid <= lo:
                break  # the store lists stages newest first
            if sid > hi:
                continue
            desc = s.description()
            out.append({
                "id": sid,
                "attempt": s.attemptId(),
                "description": desc.get() if desc.isDefined() else None,
                "tasks": s.numTasks(),
                "run_s": s.executorRunTime() / 1e3,
                "jvm_cpu_s": s.executorCpuTime() / 1e9,
                "gc_s": s.jvmGcTime() / 1e3,
                "shuffle_write_mb": s.shuffleWriteBytes() / 1e6,
                "spill_mb": s.memoryBytesSpilled() / 1e6,
            })
        seen = {s["id"] for s in out if s["attempt"] == 0}
        missing = set(range(lo + 1, hi + 1)) - seen
        if missing:
            raise RuntimeError(
                f"status store evicted {len(missing)} Spark stages in window "
                f"({lo}, {hi}]; raise spark.ui.retainedStages"
            )
        return out

    def jobs(self, lo: int, hi: int) -> list[dict]:
        """Spark jobs whose newest stage lies in (lo, hi]."""
        out = []
        it = self._store.jobsList(self._jvm.java.util.ArrayList()).iterator()
        while it.hasNext():
            j = it.next()
            ids = j.stageIds()
            newest = max(ids.apply(i) for i in range(ids.length()))
            if newest <= lo:
                break  # the store lists jobs newest first
            if newest <= hi:
                desc = j.description()
                out.append({"id": j.jobId(), "description": desc.get() if desc.isDefined() else None})
        return out

    def task_skew(self, stage: dict) -> float:
        """Slowest task / median task run time of one stage."""
        summary = self._store.taskSummary(stage["id"], stage["attempt"], self._skew_quantiles)
        if not summary.isDefined():
            return 1.0
        run = summary.get().executorRunTime()
        median, slowest = run.apply(0), run.apply(1)
        return slowest / median if median > 0 else 1.0

    def persistent_rdds(self) -> int:
        return self._sc._jsc.getPersistentRDDs().size()


class StreamProbe(StreamingQueryListener):
    """Keeps the progress events of every streaming query."""

    def __init__(self):
        self._cond = threading.Condition()
        self.progress: list = []
        self.terminated = 0

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        with self._cond:
            self.progress.append(event.progress)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._cond:
            self.terminated += 1
            self._cond.notify_all()

    def take(self, terminated: int, timeout_s: float = 60.0) -> list:
        """Wait until ``terminated`` queries have ended (events arrive
        asynchronously), then hand over the progress events seen so far."""
        with self._cond:
            if not self._cond.wait_for(lambda: self.terminated >= terminated, timeout_s):
                raise RuntimeError("streaming query end event never arrived")
            out, self.progress = self.progress, []
            return out
