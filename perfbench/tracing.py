"""Per-layer measurement from outside the engine.

Sources, all of which exist without touching the engine:

* Spark's event log (uncompressed, not rolling): jobs, stages, tasks and the
  SQL metrics of each stage, including the Python worker timers of the
  ``mapInPandas`` operators;
* the call site PySpark records for each job (``callSite.short``), the output
  path of write jobs, and the job description the benchmark sets around each
  call into a layer; together they map every job to a layer;
* ``StreamingQuery.recentProgress`` for the streaming layer;
* ``TracedBackend``, a wrapper around the labeling backend passed through the
  public ``backend=`` parameter of ``build_kg_fused``;
* a single-thread driver replay of the decode functions over a fixed sample
  of the workload's sentences;
* ``/proc`` for the peak resident memory of the JVM and the Python workers,
  and for the CPU time of the benchmark's process tree.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field

from openie_with_entities_spark.extract.backends import DeterministicBackend
from openie_with_entities_spark.extract.labeler import conj_label_matrix, oie_label_matrix
from openie_with_entities_spark.extract.mentions import normalize_surface
from openie_with_entities_spark.functions.decode import (
    SENTINELS,
    decode_coordinations,
    decode_extractions,
    normalize_quotes,
    split_by_coordinations,
)
from openie_with_entities_spark.oracle import MAX_WORDS_WITH_SENTINELS, segment_text

MB = 1024 * 1024

# ------------------------------------------------------------------ memory


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:  # the process ended between listing and reading
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:
        pass
    return out


def _cmd(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def descendants(pid: int) -> list[int]:
    out, todo = [], _children(pid)
    while todo:
        child = todo.pop()
        out.append(child)
        todo += _children(child)
    return out


def wait_gone(pids: list[int], timeout_s: float = 30.0) -> None:
    """Wait for processes to exit; kill the ones still there at the deadline."""
    deadline = time.monotonic() + timeout_s
    live = [p for p in pids if os.path.exists(f"/proc/{p}")]
    while live and time.monotonic() < deadline:
        time.sleep(0.1)
        live = [p for p in live if os.path.exists(f"/proc/{p}")]
    for p in live:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


def _cpu_s(pid: int) -> float:
    """utime + stime of a process and of its children it has waited for."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:  # the process ended between listing and reading
        return 0.0
    return sum(map(int, fields[11:15])) / os.sysconf("SC_CLK_TCK")


def tree_cpu_s(launcher_pid: int) -> float:
    """CPU seconds spent so far by this process, the Spark launcher and the
    JVM under it, and the Python daemon and workers under the JVM.

    A worker that exits is counted in its parent's children time once it is
    waited for; the daemon waits for its workers, and reuses them."""
    t = os.times()
    own = t.user + t.system + t.children_user + t.children_system
    return own + sum(_cpu_s(p) for p in [launcher_pid] + descendants(launcher_pid))


class MemoryPeaks:
    """Peak RSS (VmHWM) of the Spark JVM and of the largest Python worker.

    Workers are the Python descendants of the JVM. Each reading keeps the
    largest VmHWM seen so far, so call ``sample`` after every pass: a worker
    that exits between two samples is missed."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.jvm_kb = 0
        self.worker_kb = 0

    def sample(self) -> None:
        self.jvm_kb = max(self.jvm_kb, _status_kb(self.jvm_pid, "VmHWM"))
        for pid in descendants(self.jvm_pid):
            if "python" in _cmd(pid):
                self.worker_kb = max(self.worker_kb, _status_kb(pid, "VmHWM"))


def jvm_pid(spark) -> int:
    """PID of the driver JVM that PySpark launched (``java`` exec'd in place
    of spark-submit, or its child)."""
    pid = spark.sparkContext._gateway.proc.pid
    if "java" in _cmd(pid).split(" ")[0]:
        return pid
    for child in _children(pid):
        if "java" in _cmd(child).split(" ")[0]:
            return child
    return pid


# ----------------------------------------------------------------- backend

BACKEND_COUNTERS = (
    "conj_calls", "conj_sentences", "conj_ns", "oie_calls", "oie_sentences", "oie_ns",
)


class TracedBackend:
    """Labeling backend that counts calls, sentences and nanoseconds per call
    kind into Spark accumulators, then delegates to the deterministic backend."""

    def __init__(self, sc):
        self.inner = DeterministicBackend()
        self.acc = {k: sc.accumulator(0) for k in BACKEND_COUNTERS}

    def _add(self, kind: str, n: int, t0: int) -> None:
        self.acc[f"{kind}_calls"].add(1)
        self.acc[f"{kind}_sentences"].add(n)
        self.acc[f"{kind}_ns"].add(time.perf_counter_ns() - t0)

    def conj_batch(self, token_lists):
        t0 = time.perf_counter_ns()
        out = self.inner.conj_batch(token_lists)
        self._add("conj", len(token_lists), t0)
        return out

    def oie_batch(self, token_lists):
        t0 = time.perf_counter_ns()
        out = self.inner.oie_batch(token_lists)
        self._add("oie", len(token_lists), t0)
        return out

    def values(self) -> dict[str, int]:
        return {k: a.value for k, a in self.acc.items()}


# ------------------------------------------------------------ decode replay


def decode_replay(turn_texts: list[str], repeats: int = 3) -> dict[str, float]:
    """Per-sentence microseconds of each decode-layer function, single thread
    on the driver, over the sentences of ``turn_texts`` (best of ``repeats``)."""
    sents = [normalize_quotes(s) for t in turn_texts for s in segment_text(t)]
    toks = [
        s.split() + SENTINELS
        for s in sents
        if len(s.split()) + len(SENTINELS) <= MAX_WORDS_WITH_SENTINELS
    ]
    conj = [conj_label_matrix(t) for t in toks]
    coords = [decode_coordinations(m) for m in conj]
    split_toks = [
        s.split("[unused1]")[0].strip().split() + SENTINELS
        for c, t in zip(coords, toks)
        for s in (split_by_coordinations(c, t)[0] or [" ".join(t)])
    ]
    oie = [oie_label_matrix(t) for t in split_toks]
    args = [
        a
        for (rows, confs), t in zip(oie, split_toks)
        for (a1, _r, a2, _c) in decode_extractions(rows, t, confs)
        for a in (a1, a2)
    ]
    raw_sents = [s for t in turn_texts for s in segment_text(t)]
    cases = {
        "oracle.segment_text_us": (lambda: [segment_text(t) for t in turn_texts], len(sents)),
        "functions.decode.normalize_quotes_us": (
            lambda: [normalize_quotes(s) for s in raw_sents], len(raw_sents)),
        "extract.labeler.conj_label_matrix_us": (
            lambda: [conj_label_matrix(t) for t in toks], len(toks)),
        "functions.decode.decode_coordinations_us": (
            lambda: [decode_coordinations(m) for m in conj], len(conj)),
        "functions.decode.split_by_coordinations_us": (
            lambda: [split_by_coordinations(c, t) for c, t in zip(coords, toks)], len(toks)),
        "extract.labeler.oie_label_matrix_us": (
            lambda: [oie_label_matrix(t) for t in split_toks], len(split_toks)),
        "functions.decode.decode_extractions_us": (
            lambda: [decode_extractions(r, t, c) for (r, c), t in zip(oie, split_toks)],
            len(split_toks)),
        "extract.mentions.normalize_surface_us": (
            lambda: [normalize_surface(a) for a in args], len(args)),
    }
    out = {}
    for name, (fn, n) in cases.items():
        best = min(_timed(fn) for _ in range(repeats))
        out[name] = best * 1e6 / max(n, 1)
    return out


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


# --------------------------------------------------------------- event log

# engine module of a job's call site → layer name
MODULE_LAYERS = {
    "linking.py": "linking",
    "checkpoint.py": "plans.checkpoint",
    "production.py": "plans.production",
    "canonicalize.py": "canonicalize",
    "ingest.py": "streaming.ingest",
}
# last directory of a write job's output path → layer name
PATH_LAYERS = {
    "triples": "plans.checkpoint",
    "entity_nodes": "canonicalize",
    "graph_edges": "plans.production",
    "metrics": "plans.production",
    "stage_counters": "plans.production",
    "stream_out": "streaming.ingest",
}


def _plan_nodes(plan: str) -> list[tuple[str, str]]:
    """(operator name, ``Arguments:`` line) of each node in a formatted plan."""
    nodes = []
    for block in plan.split("\n\n"):
        head, _, body = block.partition("\n")
        if head.startswith("("):
            args = next((ln[len("Arguments: "):] for ln in body.split("\n")
                         if ln.startswith("Arguments: ")), "")
            nodes.append((head.split(") ", 1)[-1], args))
    return nodes


@dataclass
class Stage:
    sid: int
    submit: int = 0
    complete: int = 0
    acc: dict = field(default_factory=lambda: defaultdict(float))
    tasks: list = field(default_factory=list)  # (launch ms, finish ms)
    gc_ms: int = 0
    shuffle_write: int = 0
    exec_id: int | None = None
    layer: str = ""

    @property
    def python(self) -> bool:
        return "time to run Python workers" in self.acc


@dataclass
class Job:
    jid: int
    submit: int
    complete: int = 0
    stage_ids: list = field(default_factory=list)
    layer: str = "unattributed"
    exec_id: int | None = None


class EventLog:
    def __init__(self, path: str):
        self.jobs: dict[int, Job] = {}
        self.stages: dict[int, Stage] = {}
        self.plans: dict[int, str] = {}  # SQL execution id → last plan text
        self.sql_spans: dict[int, list[int]] = {}  # SQL execution id → [start, end]
        raw_layers: dict[int, tuple[str | None, str | None]] = {}
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    exec_id = props.get("spark.sql.execution.id")
                    job = Job(e["Job ID"], e["Submission Time"], stage_ids=e["Stage IDs"],
                              exec_id=int(exec_id) if exec_id is not None else None)
                    self.jobs[job.jid] = job
                    raw_layers[job.jid] = (props.get("callSite.short"),
                                           props.get("spark.job.description"))
                    for sid in e["Stage IDs"]:
                        self.stages.setdefault(sid, Stage(sid)).exec_id = job.exec_id
                elif kind == "SparkListenerJobEnd":
                    self.jobs[e["Job ID"]].complete = e["Completion Time"]
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    st = self.stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
                    st.submit = info.get("Submission Time", 0)
                    st.complete = info.get("Completion Time", 0)
                    for a in info.get("Accumulables", []):
                        name = a.get("Name") or ""
                        if name.startswith("internal.metrics."):
                            continue
                        try:
                            st.acc[name] += float(a.get("Value", 0))
                        except (TypeError, ValueError):
                            pass
                elif kind == "SparkListenerTaskEnd":
                    st = self.stages.setdefault(e["Stage ID"], Stage(e["Stage ID"]))
                    ti = e["Task Info"]
                    st.tasks.append((ti["Launch Time"], ti["Finish Time"]))
                    tm = e.get("Task Metrics") or {}
                    st.gc_ms += tm.get("JVM GC Time", 0)
                    st.shuffle_write += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    self.plans[e["executionId"]] = e.get("physicalPlanDescription", "")
                    self.sql_spans[e["executionId"]] = [e["time"], e["time"]]
                elif kind.endswith("SparkListenerSQLExecutionEnd"):
                    if e["executionId"] in self.sql_spans:
                        self.sql_spans[e["executionId"]][1] = e["time"]
                elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    self.plans[e["executionId"]] = e.get("physicalPlanDescription", "")
        for jid, (site, desc) in raw_layers.items():
            job = self.jobs[jid]
            job.layer = self._layer(site, desc, job.exec_id)
            for sid in job.stage_ids:
                self.stages[sid].layer = job.layer

    def _layer(self, site, desc, exec_id) -> str:
        if site:
            module = os.path.basename(site.rsplit(":", 1)[0])
            if module in MODULE_LAYERS:
                return MODULE_LAYERS[module]
        for name, args in self.nodes(exec_id):
            if name.endswith("InsertIntoHadoopFsRelationCommand"):
                parts = args.split(",", 1)[0].rstrip("/").split("/")
                for part in reversed(parts[-3:]):
                    if part in PATH_LAYERS:
                        return PATH_LAYERS[part]
        if desc and "runId = " in desc:  # set by Structured Streaming per batch
            return "streaming.ingest"
        return desc or "unattributed"

    def python_stage_kind(self, st: Stage) -> str:
        """'fused' or 'mentions', from the output columns of the stage's
        MapInPandas operator in its SQL plan."""
        outs = [args for name, args in self.nodes(st.exec_id) if name == "MapInPandas"]
        if any("arg1_surface#" in o for o in outs):
            return "fused"
        if any("surface_norm#" in o for o in outs):
            return "mentions"
        # a stream epoch runs the fused stage while persisting the batch, so
        # its plan shows only the InMemoryRelation; it is the epoch's only
        # Python stage
        return "fused" if st.layer == "streaming.ingest" else "other"

    def nodes(self, exec_id: int | None) -> list[tuple[str, str]]:
        return _plan_nodes(self.plans.get(exec_id, "")) if exec_id is not None else []

    def in_windows(self, windows) -> list[Job]:
        return [j for j in self.jobs.values() if any(a <= j.submit <= b for a, b in windows)]


def _union_ms(intervals) -> float:
    total = 0
    end = None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return float(total)


def pass_layers(log: EventLog, windows: list[tuple[int, int]], cores: int) -> dict[str, float]:
    """Per-layer metrics of the jobs submitted in the pass's timed windows
    (epoch ms)."""
    jobs = log.in_windows(windows)
    stages = [log.stages[s] for j in jobs for s in j.stage_ids
              if s in log.stages and log.stages[s].tasks]
    fused = [s for s in stages if s.python and log.python_stage_kind(s) == "fused"]
    mentions = [s for s in stages if s.python and log.python_stage_kind(s) == "mentions"]
    fused_execs = {s.exec_id for s in fused}
    by_layer: dict[str, list[Job]] = defaultdict(list)
    for j in jobs:
        by_layer[j.layer].append(j)

    def layer_ms(name: str) -> float:
        return _union_ms((j.submit, j.complete) for j in by_layer.get(name, []))

    task_ms = sorted(f - l for s in fused for (l, f) in s.tasks)
    # share of the fused stages' task slots that ran a task, stage by stage
    slots = sum(
        cores * (max(f for _, f in s.tasks) - min(l for l, _ in s.tasks)) for s in fused)
    busy = sum(task_ms) / slots if slots > 0 else 0.0
    out = {
        "session.jobs": len(jobs),
        "session.stages": len(stages),
        "session.tasks": sum(len(s.tasks) for s in stages),
        "session.gc_ms": sum(s.gc_ms for s in stages),
        # jobs plus the SQL executions that ran them: an execution's span adds
        # the driver's physical planning before its first job
        "trace.job_coverage": sum(
            _union_ms(
                (max(s, a), min(e, b))
                for s, e in [(j.submit, j.complete) for j in jobs]
                + [tuple(log.sql_spans[x]) for x in {j.exec_id for j in jobs}
                   if x in log.sql_spans]
                if min(e, b) > max(s, a)
            )
            for a, b in windows
        ) / max(sum(b - a for a, b in windows), 1),
        "extract.fused.tasks": sum(len(s.tasks) for s in fused),
        "extract.fused.py_boot_ms": sum(s.acc["time to start Python workers"] for s in fused),
        "extract.fused.py_init_ms": sum(
            s.acc["time to initialize Python workers"] for s in fused),
        "extract.fused.py_run_ms": sum(s.acc["time to run Python workers"] for s in fused),
        "extract.fused.arrow_sent_mb": sum(
            s.acc["data sent to Python workers"] for s in fused) / MB,
        "extract.fused.arrow_recv_mb": sum(
            s.acc["data returned from Python workers"] for s in fused) / MB,
        "extract.fused.task_ms_p50": statistics.median(task_ms) if task_ms else 0.0,
        "extract.fused.task_ms_max": task_ms[-1] if task_ms else 0.0,
        "extract.fused.busy_frac": busy,
        "extract.stages.exchange_mb": sum(
            s.shuffle_write for s in stages if s.exec_id in fused_execs and not s.python) / MB,
        "extract.stages.sort_ms": sum(s.acc["sort time"] for s in fused),
        "extract.mentions.ms": _union_ms((s.submit, s.complete) for s in mentions),
        "linking.jobs": len(by_layer.get("linking", [])),
        "linking.ms": layer_ms("linking"),
        "plans.checkpoint.jobs": len(by_layer.get("plans.checkpoint", [])),
        "plans.checkpoint.write_ms": layer_ms("plans.checkpoint"),
        "canonicalize.jobs": len(by_layer.get("canonicalize", [])),
        "canonicalize.ms": layer_ms("canonicalize"),
        "plans.production.tail_ms": layer_ms("plans.production"),
    }
    return out


# ----------------------------------------------------------------- streams


def stream_layers(progress: list[dict]) -> dict[str, float]:
    """Streaming-layer metrics from ``StreamingQuery.recentProgress``."""
    live = [p for p in progress if p.get("numInputRows", 0) > 0]

    def p50(key: str) -> float:
        vals = [p["durationMs"].get(key, 0) for p in live]
        return float(statistics.median(vals)) if vals else 0.0

    last_state = (progress[-1].get("stateOperators") or [{}]) if progress else [{}]
    return {
        "streaming.ingest.epochs": len(live),
        "streaming.ingest.add_batch_ms_p50": p50("addBatch"),
        "streaming.ingest.planning_ms_p50": p50("queryPlanning"),
        "streaming.ingest.wal_commit_ms_p50": p50("walCommit"),
        "streaming.ingest.state_rows": sum(o.get("numRowsTotal", 0) for o in last_state),
        "streaming.ingest.state_mb": sum(o.get("memoryUsedBytes", 0) for o in last_state) / MB,
    }


def epoch_seconds(progress: list[dict]) -> list[float]:
    return [p["durationMs"]["triggerExecution"] / 1000.0
            for p in progress if p.get("numInputRows", 0) > 0]


def find_event_log(log_dir: str) -> str:
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])
