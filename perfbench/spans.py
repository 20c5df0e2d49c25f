"""Benchmark-side tracing: spans around public calls, process-tree RSS
sampling, and attribution of Spark's event log to those spans.

Nothing here reaches into the program.  Spans are recorded by wrapping the
public methods of the objects the benchmark creates (``DrainLoop.seed``,
``DrainLoop.run_batch``, ``Catalog.commit``, ``Catalog.read``,
``Catalog.read_buckets``) and each query call.  Spark jobs are attributed
to the innermost span open at their submission time, because most jobs
have no useful call site: the drain runs lazily inside one fused collect
and commit writes come from a thread pool.
"""

from __future__ import annotations

import ast
import contextlib
import functools
import glob
import json
import os
import re
import threading
import time
from collections import Counter, defaultdict
from dataclasses import dataclass, field

MB = 1024 * 1024


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, the clock the event log uses
    end: float = float("inf")
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder.  One stack gives each span its parent; a
    span opened on another thread (commit reads buckets from a thread pool)
    nests under whichever span is innermost when it opens."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()

    def open(self, name: str, **attrs) -> int:
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            self.spans.append(Span(name, time.time(), parent=parent, attrs=attrs))
            idx = len(self.spans) - 1
            self._stack.append(idx)
            return idx

    def close(self, idx: int) -> Span:
        with self._lock:
            span = self.spans[idx]
            span.end = time.time()
            self._stack.remove(idx)
            return span

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        idx = self.open(name, **attrs)
        try:
            yield self.spans[idx]
        finally:
            self.close(idx)

    def wrap(self, obj, method: str, name: str) -> None:
        """Replace ``obj.method`` by a span-recording wrapper (instance
        attribute, so only this object is traced)."""
        fn = getattr(obj, method)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(obj, method, traced)

    def children(self, idx: int) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.parent == idx]

    def self_time(self, idx: int) -> float:
        """Span duration minus the part of it its child spans cover."""
        span = self.spans[idx]
        covered, edge = 0.0, span.start
        for c in sorted(self.children(idx), key=lambda i: self.spans[i].start):
            s, e = max(self.spans[c].start, edge), min(self.spans[c].end, span.end)
            if e > s:
                covered += e - s
                edge = e
        return span.duration - covered

    def within(self, idx: int) -> list[int]:
        """Indices of every span nested (at any depth) inside span ``idx``."""
        out, todo = [], [idx]
        while todo:
            cur = todo.pop()
            kids = self.children(cur)
            out.extend(kids)
            todo.extend(kids)
        return out

    def innermost(self, t: float) -> int | None:
        """The deepest span open at epoch time ``t``."""
        best, best_depth = None, -1
        for i, s in enumerate(self.spans):
            if s.start <= t <= s.end:
                d, p = 0, s.parent
                while p is not None:
                    d, p = d + 1, self.spans[p].parent
                if d > best_depth:
                    best, best_depth = i, d
        return best


def descendants(root_pid: int) -> list[int]:
    """Every live process below ``root_pid``."""
    parent_of = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    parent_of[int(entry)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    out, frontier = [], [root_pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent_of.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def tree_pss_bytes(root_pid: int) -> int:
    """Proportional set size of ``root_pid`` and its descendants: resident
    memory with each shared page split among the processes mapping it, so
    the forked Python workers' copy-on-write pages count once."""
    total = 0
    for pid in [root_pid] + descendants(root_pid):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class MemorySampler:
    """Background sampler of the whole process tree's memory (driver, JVM
    and Python workers).  ``stop()`` joins the thread and returns the peak
    in MB."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(pid))
            self._stop.wait(self.interval_s)

    def start(self) -> "MemorySampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_pss_bytes(os.getpid()))
        return self.peak / MB


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

PY_NODE = re.compile(r"Python|Pandas")
UDF_NAME = re.compile(r"([A-Za-z_][A-Za-z0-9_]*)\(")


def udf_modules(package_dir: str) -> dict[str, str]:
    """Function name -> module name (file stem) for every function defined
    *inside another function* in the package: the shape of every pandas UDF
    and mapInPandas/applyInPandas callback.  A name defined in several
    modules maps to all of them joined by ``|``."""
    found: dict[str, set[str]] = defaultdict(set)
    for path in glob.glob(os.path.join(package_dir, "**", "*.py"), recursive=True):
        mod = os.path.splitext(os.path.basename(path))[0]
        with open(path) as fh:
            tree = ast.parse(fh.read())
        for outer in ast.walk(tree):
            if isinstance(outer, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for inner in ast.walk(outer):
                    if inner is not outer and isinstance(inner, ast.FunctionDef):
                        found[inner.name].add(mod)
    return {k: "|".join(sorted(v)) for k, v in found.items()}


def _udf_names(node_name: str, simple: str) -> list[str]:
    """UDF names invoked by one Python plan node."""
    if node_name in ("ArrowEvalPython", "BatchEvalPython"):
        body = simple[len(node_name) :].split("], [", 1)[0]
        return [m for m in UDF_NAME.findall(body) if not m.isupper()]
    m = re.search(r"\],? ?([A-Za-z_][A-Za-z0-9_]*)\(", simple) or UDF_NAME.search(
        simple[len(node_name) :]
    )
    return [m.group(1)] if m else []


@dataclass
class EventLog:
    jobs: dict = field(default_factory=dict)  # job id -> {submit}
    stage_job: dict = field(default_factory=dict)  # stage id -> first job id
    task_run_ms: Counter = field(default_factory=Counter)  # stage -> executor run ms
    shuffle_write: Counter = field(default_factory=Counter)  # stage -> bytes
    spill: Counter = field(default_factory=Counter)  # stage -> disk bytes spilled
    acc_stage: dict = field(default_factory=lambda: defaultdict(Counter))  # acc -> stage -> sum
    acc_node: dict = field(default_factory=dict)  # acc id -> (node, simple, metric)


def read_event_log(log_dir: str) -> EventLog:
    files = [p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
             if os.path.isfile(p) and not os.path.basename(p).startswith((".", "appstatus"))]
    apps = {re.sub(r"^events_\d+_", "", os.path.basename(p)) for p in files}
    if len(apps) != 1:
        raise RuntimeError(f"expected one application's event log in {log_dir}, found {sorted(apps)}")

    def order(p):
        m = re.match(r"events_(\d+)_", os.path.basename(p))
        return int(m.group(1)) if m else 0

    log = EventLog()

    def walk(node):
        for m in node.get("metrics", []):
            log.acc_node[m["accumulatorId"]] = (node["nodeName"], node.get("simpleString", ""), m["name"])
        for c in node.get("children", []):
            walk(c)

    for path in sorted(files, key=order):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    log.jobs[jid] = {"submit": ev["Submission Time"] / 1000.0}
                    for s in ev["Stage IDs"]:
                        log.stage_job.setdefault(s, jid)
                elif kind == "SparkListenerTaskEnd":
                    stage = ev["Stage ID"]
                    tm = ev.get("Task Metrics") or {}
                    log.task_run_ms[stage] += tm.get("Executor Run Time", 0)
                    log.shuffle_write[stage] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    log.spill[stage] += tm.get("Disk Bytes Spilled", 0)
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        try:
                            log.acc_stage[acc["ID"]][stage] += int(acc.get("Update", 0))
                        except (TypeError, ValueError):
                            pass
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    walk(ev["sparkPlanInfo"])
    return log


class Attribution:
    """Event-log facts grouped by the span each job is attributed to."""

    def __init__(self, log: EventLog, tracer: Tracer, modules: dict[str, str]):
        self.log = log
        self.job_span = {j: tracer.innermost(info["submit"]) for j, info in log.jobs.items()}
        self.unattributed = sorted(j for j, s in self.job_span.items() if s is None)
        # UDF plan-node accumulators -> module
        self.acc_module: dict[int, tuple[str, str]] = {}
        for acc, (node, simple, metric) in log.acc_node.items():
            names = _udf_names(node, simple) if PY_NODE.search(node) else []
            if names:
                self.acc_module[acc] = (modules.get(names[0], "unknown:" + names[0]), metric)

    def jobs_in(self, spans: set[int]) -> list[int]:
        return sorted(j for j, s in self.job_span.items() if s in spans)

    def stages_of(self, jobs: list[int]) -> set[int]:
        js = set(jobs)
        return {s for s, j in self.log.stage_job.items() if j in js}

    def task_s(self, stages) -> float:
        return sum(self.log.task_run_ms[s] for s in stages) / 1000.0

    def shuffle_mb(self, stages) -> float:
        return sum(self.log.shuffle_write[s] for s in stages) / MB

    def spill_mb(self, stages) -> float:
        return sum(self.log.spill[s] for s in stages) / MB

    def _acc_sum(self, stages, accs) -> int:
        return sum(
            v for acc in accs for s, v in self.log.acc_stage.get(acc, {}).items() if s in stages
        )

    def py_metric(self, stages, module: str | None, metric: str) -> int:
        """Sum of one Python-node metric over ``stages`` for UDFs of
        ``module`` (every module when None)."""
        return self._acc_sum(stages, (
            acc for acc, (mod, name) in self.acc_module.items()
            if name == metric and (module is None or module in mod.split("|"))
        ))

    def node_metric(self, stages, pattern: re.Pattern, metric: str) -> int:
        """Sum of one metric over ``stages`` for plan nodes matching ``pattern``."""
        return self._acc_sum(stages, (
            acc for acc, (_node, simple, name) in self.log.acc_node.items()
            if name == metric and pattern.search(simple)
        ))

    def stages_reporting(self, accs) -> set[int]:
        """Stages whose tasks reported any of the accumulators ``accs``:
        the stages that ran those plan nodes, whichever SQL execution the
        job belongs to (a lazy ``localCheckpoint`` plans a node in one
        execution and runs it in a later one)."""
        out = set()
        for acc in accs:
            out.update(self.log.acc_stage.get(acc, {}))
        return out

    def module_stages(self, module: str) -> set[int]:
        return self.stages_reporting(
            a for a, (mod, _m) in self.acc_module.items() if module in mod.split("|")
        )

    def node_stages(self, pattern: re.Pattern) -> set[int]:
        return self.stages_reporting(
            a for a, (_node, simple, _m) in self.log.acc_node.items() if pattern.search(simple)
        )

    def jobs_running(self, jobs: list[int], stages: set[int]) -> list[int]:
        """The jobs among ``jobs`` that ran any of ``stages``."""
        ran = {self.log.stage_job[s] for s in stages if s in self.log.stage_job}
        return [j for j in jobs if j in ran]


def dir_stats(root: str) -> dict[str, int]:
    """path -> size for every file under ``root``."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out
