"""The benchmark's workloads, their seeded inputs and their output checks.

Both workloads are closed loops with a single caller: the next call starts
only after the previous one has returned and its result has been collected.
README.md in this directory says why each workload exists and which layer
metric should move which end-to-end metric.

- ``cognify_search``: one operation is a cycle of ``run_pipeline`` over a
  fresh store followed by one query of each of seven search types over the
  tables it committed (add → cognify → search).
- ``session_stream``: one operation is one ``stream_session_lifecycle``
  drain over a seeded user subset of a seeded events table.
"""

from __future__ import annotations

import datetime as dt
import functools
import math
import random
import re
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

from perfbench.probes import ProcTree, StatusFold, StreamProbe
from perfbench.tracing import Tracer, union_length

STAGES = (
    "documents", "chunks", "summaries", "extractions", "entity_aliases", "triples",
    "mentions", "nodes", "entity_types", "edges", "contains_edges",
    "edge_type_histogram", "embeddings",
)
STAGE_FIELDS = (
    "wall_s", "plan_s", "write_s", "commit_s", "jvm_cpu_s", "shuffle_write_mb", "spark_jobs",
)
SEARCH_TYPES = (
    "CHUNKS", "CHUNKS_LEXICAL", "SUMMARIES", "GRAPH_COMPLETION",
    "HYBRID_COMPLETION", "TRIPLET_COMPLETION", "CODE",
)
STREAM_FIELDS = (
    "batches", "add_batch_ms", "state_rows", "state_commit_ms", "jvm_cpu_s", "python_wait_s",
)
# Walls are per-layer, not end-to-end: on a shared 4-vCPU host they swing
# with neighbours' load (cognify_search cycle wall IQR/median 0.21 over ten
# seeds), while CPU without JIT threads and shuffle bytes held within 0.07.
END_TO_END = ("setup_s", "cpu_s_per_op", "shuffle_write_mb_per_op")
VERBS = ("uses", "depends on", "calls into", "extends")
CODE_KINDS = ("function", "class", "method", "module")  # what CODE search returns


def per_layer_names() -> list[str]:
    names = [f"stage.{s}.{f}" for s in STAGES for f in STAGE_FIELDS]
    names += ["pipeline.gc_s", "pipeline.spill_mb", "pipeline.task_skew", "pipeline.outside_stages_s"]
    names += [f"search.{t}.{f}" for t in SEARCH_TYPES for f in ("p50_ms", "spark_jobs")]
    names += ["store.persistent_rdds"]
    names += ["process.op_latency_ms", "process.throughput_per_s", "process.peak_rss_mb"]
    names += [f"stream.{f}" for f in STREAM_FIELDS]
    names += ["trace.overhead_ms"]
    return names


@dataclass(frozen=True)
class Sizes:
    cognify_files: int = 1000
    events: int = 10_000
    users: int = 150
    drain_users: int = 40
    warmup_users: int = 10
    top_k: int = 5


@dataclass
class Op:
    """One timed call: its window of Spark stage ids and what it returned."""

    label: str
    kind: str
    wall_s: float
    cpu_s: float
    lo: int
    hi: int
    result: object = None
    error: str | None = None
    query: object = None  # the input the output is checked against
    step: int = 0  # the operation of the closed loop this call belongs to


class Bench:
    """One benchmark process: the session, the probes and the call record."""

    def __init__(self, spark, work: Path, seed: int, seconds: float, sizes: Sizes, t0: float):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.sizes = sizes
        self.t0 = t0
        self.setup_s = 0.0
        self.fold = StatusFold(spark)
        self.proc = ProcTree()
        self.tracer: Tracer | None = None
        self.answers: dict = {}  # (type, corpus size, query) → first answer seen

    def note(self, what: str) -> None:
        """Progress on standard error, with seconds since the process began."""
        print(f"perfbench {time.perf_counter() - self.t0:7.1f}s {what}", file=sys.stderr, flush=True)

    def timed(self, label: str, kind: str, call, query=None) -> Op:
        """Run ``call`` as one timed call. A raised error is a failed call."""
        self.fold.label(label)
        lo = self.fold.watermark()
        cpu0 = self.proc.cpu_s()
        start = time.perf_counter()
        result, error = None, None
        try:
            if self.tracer is not None:
                with self.tracer.span(f"op:{kind}", run_id=label):
                    result = call()
            else:
                result = call()
        except Exception:  # the loop keeps going; the call counts as failed
            error = traceback.format_exc(limit=3)
        wall = time.perf_counter() - start
        cpu = self.proc.cpu_s() - cpu0
        return Op(label, kind, wall, cpu, lo, self.fold.watermark(), result, error, query)

    def measure(self, step) -> tuple[list[Op], float]:
        """Call ``step(k, ops)`` for k = 0, 1, ... until ``seconds`` have
        passed; returns the calls made and the peak process-tree RSS."""
        ops: list[Op] = []
        self.proc.reset_peak()
        start = time.perf_counter()
        k = 0
        while k == 0 or time.perf_counter() - start < self.seconds:
            first = len(ops)
            step(k, ops)
            for op in ops[first:]:
                op.step = k
            k += 1
        walls = [sum(op.wall_s for op in ops if op.step == i) for i in range(k)]
        self.note(f"measured {k} operations of {', '.join(f'{w:.2f}' for w in walls)} s")
        return ops, self.proc.peak_mb()

    def traced(self, step) -> list[Op]:
        self.tracer = Tracer()
        self.tracer.install()
        try:
            ops, _peak = self.measure(step)
        finally:
            self.tracer.uninstall()
        return ops

    def shuffle_mb(self, op: Op) -> float:
        return sum(s["shuffle_write_mb"] for s in self.fold.stages(op.lo, op.hi))


def _median(values, default=0.0) -> float:
    values = list(values)
    return statistics.median(values) if values else default


def _e2e(b: Bench, ops: list[Op], throughput: float) -> dict:
    """Medians over the run's operations; an operation's wall, CPU and
    shuffle bytes are the sums over its calls."""
    steps: dict[int, list[Op]] = {}
    for op in ops:
        steps.setdefault(op.step, []).append(op)

    def per_op(value) -> float:
        return _median(sum(value(c) for c in calls) for calls in steps.values())

    return {
        "setup_s": b.setup_s,
        "cpu_s_per_op": per_op(lambda c: c.cpu_s),
        "shuffle_write_mb_per_op": per_op(b.shuffle_mb),
        "process.op_latency_ms": 1e3 * per_op(lambda c: c.wall_s),
        "process.throughput_per_s": throughput,
    }


def _overhead_ms(untraced: list[Op], traced: list[Op]) -> float:
    """Traced minus untraced median wall of the same calls."""
    return 1e3 * (_median(op.wall_s for op in traced) - _median(op.wall_s for op in untraced))


# --- cognify_search ------------------------------------------------------------


def _corpus(b: Bench, n_files: int, name: str):
    """The deterministic n-file corpus in a seeded row order, materialized
    so that generating rows is not part of any timed call."""
    from pyspark.sql import functions as F

    from cognee_spark.sources.corpus import build_repos_df

    path = str(b.work / name)
    (
        build_repos_df(b.spark, n_files)
        .orderBy(F.xxhash64("repo", "path", F.lit(b.seed)))
        .write.mode("overwrite").parquet(path)
    )
    return b.spark.read.parquet(path)


@functools.lru_cache(maxsize=2)
def code_nodes(n_files: int) -> tuple:
    """The golden (entity_id, name, kind) nodes that CODE search can return."""
    from cognee_spark.sources.golden import golden_nodes

    return tuple(sorted(n for n in golden_nodes(n_files) if n[2] in CODE_KINDS))


def query_plan(seed: int, k: int, n_files: int) -> list[tuple[str, str]]:
    """Cycle k's queries: the seven search types once each in a seeded order.
    Text queries are sentences over the corpus's entity surface forms; CODE
    looks up the last part of a code node's name (a function, class, method
    or module of the n-file corpus)."""
    from cognee_spark.sources.corpus import NL_FIRST, NL_KIND, nl_variant

    rng = random.Random(f"{seed}:{k}")
    n_entities = len(NL_FIRST) * len(NL_KIND)
    plan = []
    for search_type in rng.sample(SEARCH_TYPES, len(SEARCH_TYPES)):
        if search_type == "CODE":
            name = rng.choice(code_nodes(n_files))[1]
            plan.append((search_type, name.rsplit(":", 1)[-1].rsplit(".", 1)[-1]))
        else:
            a, c = rng.sample(range(n_entities), 2)
            plan.append((search_type, (
                f"{nl_variant(a, rng.randrange(5))} {rng.choice(VERBS)} "
                f"{nl_variant(c, rng.randrange(5))}"
            )))
    return plan


def _cognify(b: Bench, repos, n_files: int, name: str) -> Op:
    """One full run_pipeline over a fresh store root."""
    from cognee_spark.pipeline import run_pipeline

    root = str(b.work / f"kg_{name}")
    return b.timed(
        f"perfbench:cognify:{name}", "COGNIFY",
        lambda: run_pipeline(
            b.spark, repos, root, f"perfbench:{n_files}", compute_metrics=False, force=True,
        ),
        query=(n_files, root),
    )


def _cycle(b: Bench, repos, n_files: int, tag: str, k: int, ops: list[Op]) -> None:
    """One cognify over a fresh store, then the cycle's queries over it.
    Cycles reuse two query plans, so repeated queries can be compared."""
    from cognee_spark import search as search_mod

    cognify = _cognify(b, repos, n_files, f"{tag}{k}")
    ops.append(cognify)
    if cognify.error is not None:
        return
    tables = cognify.result["tables"]

    def ask(kind, text):
        # search_mod.search, not a bound name: the traced run patches it
        out = search_mod.search(b.spark, tables, kind, text, top_k=b.sizes.top_k)
        return out if isinstance(out, str) else out.collect()

    for i, (kind, text) in enumerate(query_plan(b.seed, k % 2, n_files)):
        ops.append(b.timed(
            f"perfbench:search:{tag}{k}.{i}", kind,
            lambda kind=kind, text=text: ask(kind, text), query=(n_files, text),
        ))


def check_cognify_call(b: Bench, op: Op, oracles: dict) -> None:
    """Compare one cognify_search call's output with its oracle; sets
    ``op.error`` when it differs."""
    from cognee_spark.sources.golden import golden_triples, golden_triplet_search

    n_files, query = op.query
    got = op.result
    k = b.sizes.top_k
    if op.kind == "COGNIFY":
        if n_files not in oracles:
            oracles[n_files] = golden_triples(n_files)
        golden = oracles[n_files]
        mine = {
            tuple(r)
            for r in got["tables"]["triples"].select("subj", "pred", "obj").distinct().collect()
        }
        if mine != golden:
            op.error = (
                f"triples differ from golden_triples({n_files}): "
                f"{len(mine - golden)} extra, {len(golden - mine)} missing"
            )
        if ("chunks", n_files) not in oracles:
            oracles["chunks", n_files] = [
                set(re.split(r"\W+", r.text.lower()))
                for r in got["tables"]["chunks"].select("text").collect()
            ]
        return
    if op.kind == "TRIPLET_COMPLETION":
        if (n_files, query) not in oracles:
            oracles[n_files, query] = golden_triplet_search(n_files, query, k)
        mine = sorted((r["rank"], r["item_id"], r["text"]) for r in got)
        if mine != [tuple(x) for x in oracles[n_files, query]]:
            op.error = f"TRIPLET_COMPLETION {query!r} differs from golden_triplet_search"
    elif op.kind == "CODE":
        want = [n for n in code_nodes(n_files) if query in n[1]]
        if not want or sorted(tuple(r) for r in got) != want:
            op.error = f"CODE {query!r} returned {len(got)} nodes, golden_nodes has {len(want)}"
    elif op.kind == "GRAPH_COMPLETION":
        if ("fragment", n_files, query) not in oracles:
            oracles["fragment", n_files, query] = fragment_lines(n_files, query)
        allowed = oracles["fragment", n_files, query]
        want = min(k, len(allowed))
        lines = completion_context(got, query)
        if lines is None or not want <= len(lines) <= k or not allowed.issuperset(lines):
            op.error = (
                f"GRAPH_COMPLETION {query!r}: the prompt holds "
                f"{'no' if lines is None else len(lines)} context lines; expected {want} of the "
                f"{len(allowed)} golden triples inside the query's memory fragment"
            )
    elif op.kind == "CHUNKS_LEXICAL":
        # chunks sharing no token with the query score 0 and are dropped
        from cognee_spark.operators.retrieval import LEXICAL_STOP_WORDS

        terms = set(re.findall(r"\w+", query.lower())) - set(LEXICAL_STOP_WORDS)
        want = min(k, sum(1 for tokens in oracles["chunks", n_files] if tokens & terms))
        if len(got) != want:
            op.error = f"CHUNKS_LEXICAL {query!r} returned {len(got)} rows, expected {want}"
    elif len(got) != k:
        op.error = f"{op.kind} {query!r} returned {len(got)} rows, expected {k}"
    answer = got if isinstance(got, str) else sorted(tuple(r) for r in got)
    first = b.answers.setdefault((op.kind, n_files, query), answer)
    if first != answer and op.error is None:
        op.error = f"{op.kind} answered {query!r} differently than before"


def fragment_lines(n_files: int, query: str) -> set[str]:
    """The golden context lines GRAPH_COMPLETION may return for ``query``.

    It scores only triples whose two ends are both in the query's memory
    fragment: the ``fragment_m`` entities nearest the query, which
    ``golden_entity_search`` gives. A query whose fragment holds fewer than
    ``top_k`` triples legitimately gets fewer context lines."""
    import inspect

    from cognee_spark import search as search_mod
    from cognee_spark.sources.golden import golden_entity_search, golden_triples

    m = inspect.signature(search_mod.search).parameters["fragment_m"].default
    fragment = {name for _rank, _id, name in golden_entity_search(n_files, query, m)}
    # rendered as golden_context_lines renders them
    return {
        f"{s} --[{p}]--> {o}" for s, p, o in golden_triples(n_files)
        if s in fragment and o in fragment
    }


def completion_context(prompt: str, query: str) -> list[str] | None:
    """The context lines of a graph-completion prompt, or None when the
    prompt is not the completion template filled in for ``query``."""
    from cognee_spark.operators.retrieval import COMPLETION_PROMPT_TEMPLATE

    head, tail = COMPLETION_PROMPT_TEMPLATE.split("{context}")
    head = head.format(question=query)
    if not (prompt.startswith(head) and prompt.endswith(tail)):
        return None
    context = prompt[len(head):len(prompt) - len(tail)]
    return context.split("\n---\n") if context else []


def _check_cycles(b: Bench, ops: list[Op], oracles: dict) -> None:
    """Output checks, outside the timers; then drop the cycles' stores."""
    for op in ops:
        if op.error is None:
            check_cognify_call(b, op, oracles)
    for op in ops:
        if op.kind == "COGNIFY":
            shutil.rmtree(op.query[1], ignore_errors=True)


def _ledger_triples(result) -> int:
    return next(c["rows"] for c in result["metrics"]["stages"] if c["stage"] == "triples")


def cognify_search(b: Bench, trace: bool) -> tuple[list[Op], dict, dict]:
    n = b.sizes.cognify_files
    repos = _corpus(b, n, "corpus")
    b.note("corpus written")
    oracles: dict = {}
    # the warm-up is one untimed cognify of the same corpus: JIT, generated
    # code and the Python workers are what a cold first call pays
    warm = [_cognify(b, repos, n, "w")]
    b.setup_s = time.perf_counter() - b.t0
    b.note("set up")
    _check_cycles(b, warm, oracles)

    def steps(tag):
        return lambda k, ops: _cycle(b, repos, n, tag, k, ops)

    ops, peak = b.measure(steps("m"))
    _check_cycles(b, ops, oracles)
    cognified = [op for op in ops if op.kind == "COGNIFY"]
    e2e = _e2e(b, ops, _median(
        _ledger_triples(op.result) / op.wall_s for op in cognified if op.error is None
    ))
    layers: dict = {"process.peak_rss_mb": peak}
    if trace:
        traced = b.traced(steps("t"))
        _check_cycles(b, traced, oracles)
        layers.update(_cognify_layers(b, [op for op in traced if op.kind == "COGNIFY"]))
        layers.update(_search_layers(b, [op for op in traced if op.kind != "COGNIFY"]))
        layers["trace.overhead_ms"] = _overhead_ms(ops, traced)
        ops = ops + traced
    return warm + ops, e2e, layers


def _cognify_layers(b: Bench, ops: list[Op]) -> dict:
    rows: dict[str, list[float]] = {}
    for op in ops:
        stages = b.fold.stages(op.lo, op.hi)
        jobs = b.fold.jobs(op.lo, op.hi)
        op_spans = [s for s in b.tracer.spans if s[5] == op.label]
        stage_spans = {s[1][len("stage:"):]: s for s in op_spans if s[1].startswith("stage:")}
        for name, span in stage_spans.items():
            kids = {s[1].split(":")[0]: s[3] - s[2] for s in op_spans if s[4] == span[0]}
            plan, write = kids.get("plan", 0.0), kids.get("write", 0.0)
            mine = [s for s in stages if s["description"] == f"stage:{name}"]
            wall = span[3] - span[2]
            for field, value in (
                ("wall_s", wall),
                ("plan_s", plan),
                ("write_s", write),
                ("commit_s", wall - plan - write),
                ("jvm_cpu_s", sum(s["jvm_cpu_s"] for s in mine)),
                ("shuffle_write_mb", sum(s["shuffle_write_mb"] for s in mine)),
                ("spark_jobs", sum(j["description"] == f"stage:{name}" for j in jobs)),
            ):
                rows.setdefault(f"stage.{name}.{field}", []).append(value)
        rows.setdefault("pipeline.gc_s", []).append(sum(s["gc_s"] for s in stages))
        rows.setdefault("pipeline.spill_mb", []).append(sum(s["spill_mb"] for s in stages))
        largest = max(stages, key=lambda s: s["run_s"])
        rows.setdefault("pipeline.task_skew", []).append(b.fold.task_skew(largest))
        root = next(s for s in op_spans if s[1] == "op:COGNIFY")
        covered = union_length([(s[2], s[3]) for s in stage_spans.values()])
        rows.setdefault("pipeline.outside_stages_s", []).append(root[3] - root[2] - covered)
    return {name: _median(values) for name, values in rows.items()}


def _search_layers(b: Bench, ops: list[Op]) -> dict:
    rows: dict[str, list[float]] = {}
    for op in ops:
        rows.setdefault(f"search.{op.kind}.p50_ms", []).append(1e3 * op.wall_s)
        rows.setdefault(f"search.{op.kind}.spark_jobs", []).append(len(b.fold.jobs(op.lo, op.hi)))
    return {name: _median(values) for name, values in rows.items()}


# --- session_stream ------------------------------------------------------------


def events_table(seed: int, sizes: Sizes):
    """A seeded events table with the shape measured on the repository's
    sf0.01 ``events`` test table (README.md, "session_stream input"):
    timestamps uniform over 30 days, users uniform, the five event types
    equally likely, ``value`` exponential with mean 50, event ids in
    timestamp order."""
    import pyarrow as pa

    rng = random.Random(seed)
    n = sizes.events
    base = dt.datetime(2024, 1, 1)
    ts = sorted(base + dt.timedelta(seconds=rng.uniform(0, 30 * 86400)) for _ in range(n))
    kinds = ("error", "click", "view", "signup", "purchase")
    return pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array([rng.randrange(sizes.users) for _ in range(n)], pa.int64()),
        "event_type": [rng.choice(kinds) for _ in range(n)],
        "value": [round(rng.expovariate(1 / 50), 2) for _ in range(n)],
        "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(n)],
    })


def _drain_input(b: Bench, events, name: str, n_users: int) -> str:
    """A directory holding a seeded ``n_users`` subset as events.parquet."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    path = b.work / name
    rng = random.Random(f"{b.seed}:{name}")
    users = pa.array(rng.sample(range(b.sizes.users), n_users), pa.int64())
    path.mkdir(parents=True)
    pq.write_table(events.filter(pc.is_in(events["user_id"], users)), path / "events.parquet")
    return str(path)


def _normalize(value) -> str:
    if isinstance(value, float):
        return "nan" if math.isnan(value) else f"{value:.9g}"
    return str(value)


def rowset(cols, rows) -> list[tuple]:
    """Order-free, column-order-free comparable form of a result."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_normalize(r[i]) for i in order) for r in rows)


def oracle_rows(events_dir: str) -> tuple[list[str], list[tuple]]:
    """DuckDB replay of the lifecycle drain's declared oracle: its columns
    and rows."""
    import duckdb

    import __spark_entry__ as entry

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{events_dir}/events.parquet')")
        res = con.execute(entry.oracle_sql()["stream_session_lifecycle"])
        return [d[0] for d in res.description], res.fetchall()
    finally:
        con.close()


def check_drain(op: Op) -> None:
    """A drain must emit rows, and exactly the oracle's rows."""
    cols, rows = op.result
    if not rows:
        op.error = "the session drain returned no rows"
        return
    want = rowset(*oracle_rows(op.query))
    if rowset(cols, rows) != want:
        op.error = f"drain rows differ from the DuckDB oracle ({len(rows)} vs {len(want)} sessions)"


def session_stream(b: Bench, trace: bool) -> tuple[list[Op], dict, dict]:
    import __spark_entry__ as entry

    events = events_table(b.seed, b.sizes)

    def drain(label: str, events_dir: str) -> Op:
        def call():
            df = entry.stream_session_lifecycle(b.spark, events_dir)
            return df.columns, [tuple(r) for r in df.collect()]

        return b.timed(label, "DRAIN", call, query=events_dir)

    # two warm-up drains: the first pays the cold start, and the second one
    # still ran about 40 % slower than later drains
    warm = [
        drain(f"perfbench:drain:{name}", _drain_input(b, events, name, b.sizes.warmup_users))
        for name in ("events_w0", "events_w1")
    ]
    b.setup_s = time.perf_counter() - b.t0
    b.note("set up")

    def steps(tag):
        def step(k, ops):
            name = f"events_{tag}{k}"
            ops.append(drain(f"perfbench:drain:{name}", _drain_input(b, events, name, b.sizes.drain_users)))

        return step

    ops, peak = b.measure(steps("m"))
    for op in warm + ops:
        if op.error is None:
            check_drain(op)
    good = [op for op in ops if op.error is None]
    e2e = _e2e(b, ops, _median(len(op.result[1]) / op.wall_s for op in good))
    layers: dict = {"process.peak_rss_mb": peak}
    if trace:
        probe = StreamProbe()
        b.spark.streams.addListener(probe)
        try:
            traced = b.traced(steps("t"))
            progress = probe.take(terminated=len(traced))
        finally:
            b.spark.streams.removeListener(probe)
        for op in traced:
            if op.error is None:
                check_drain(op)
        layers.update(_stream_layers(b, traced, progress))
        layers["trace.overhead_ms"] = _overhead_ms(ops, traced)
        ops = ops + traced
    return warm + ops, e2e, layers


def _stream_layers(b: Bench, ops: list[Op], progress: list) -> dict:
    """Per-drain means of the streaming progress events and the status-store
    fold of the drains' Spark stages."""
    run = cpu = 0.0
    for op in ops:
        for s in b.fold.stages(op.lo, op.hi):
            run += s["run_s"]
            cpu += s["jvm_cpu_s"]
    n = len(ops)
    states = [so for p in progress for so in p.stateOperators]
    return {
        "stream.batches": len(progress) / n,
        "stream.add_batch_ms": sum(p.durationMs.get("addBatch", 0) for p in progress) / n,
        "stream.state_rows": max((so.numRowsTotal for so in states), default=0),
        "stream.state_commit_ms": sum(so.commitTimeMs for so in states) / n,
        "stream.jvm_cpu_s": cpu / n,
        "stream.python_wait_s": (run - cpu) / n,
    }


WORKLOADS = {"cognify_search": cognify_search, "session_stream": session_stream}
