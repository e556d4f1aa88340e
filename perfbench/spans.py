"""Benchmark-side tracing: spans around the benchmark's own calls into
the program, engine counters from the Spark event log, and process
facts from ``/proc``.

Spans are kept in memory (``Tracer.spans``) and written out once, at the
end of a traced run.  A layer's self time is its span's duration minus
the part of that interval its child spans cover.  Every span also names
a Spark job group, so jobs in the event log are attributed to the
innermost span that was open when the job started.
"""

from __future__ import annotations

import glob
import json
import os
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op_id: int
    group: str


@dataclass
class Tracer:
    """In-memory span recorder.  ``sc`` (a SparkContext) is optional so
    the span arithmetic can be tested without Spark."""

    sc: object = None
    enabled: bool = True
    spans: list[Span] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=dict)
    _stack: list[int] = field(default_factory=list)
    op_id: int = 0

    def span(self, name: str):
        return _SpanCtx(self, name)

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts[name] = self.counts.get(name, 0.0) + value

    def _open(self, name: str) -> int | None:
        if not self.enabled:
            return None
        parent = self._stack[-1] if self._stack else None
        group = f"pb{self.op_id}-{len(self.spans)}"
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent,
                               self.op_id, group))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        self._set_group(group)
        return idx

    def _close(self, idx: int | None) -> None:
        if idx is None:
            return
        self.spans[idx].end = time.perf_counter()
        self._stack.pop()
        self._set_group(self.spans[self._stack[-1]].group
                        if self._stack else None)

    def _set_group(self, group: str | None) -> None:
        if self.sc is None:
            return
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name, self.idx = tracer, name, None

    def __enter__(self):
        self.idx = self.tracer._open(self.name)
        return self

    def __exit__(self, *exc):
        self.tracer._close(self.idx)
        return False


def self_times(spans: list[Span]) -> list[float]:
    """Per-span self time: duration minus the union of its children's
    intervals (children of one parent run sequentially here, but the
    union is computed anyway so overlapping children never count
    twice)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in sorted(kids.get(i, [])):
            a, b = max(a, s.start), min(b, s.end)
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out.append((s.end - s.start) - covered)
    return out


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


@dataclass
class JobStats:
    jobs: int = 0
    tasks: int = 0
    wscg_spans: int = 0
    exchanges: int = 0
    shuffle_bytes: float = 0.0
    executor_cpu_s: float = 0.0
    jvm_gc_s: float = 0.0
    spill_bytes: float = 0.0
    python_exec_s: float = 0.0
    scheduler_wait_s: float = 0.0

    def add(self, other: "JobStats") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


#: physical operators that run Python workers (RDD scope names)
PYTHON_OPERATORS = ("MapInPandas", "MapInArrow", "FlatMapGroupsInPandas",
                    "FlatMapCoGroupsInPandas", "ArrowEvalPython",
                    "BatchEvalPython", "AggregateInPandas", "WindowInPandas")


def parse_event_log(log_dir: str) -> dict[str, JobStats]:
    """Engine counters per job group from every event log under
    *log_dir*.  Jobs started outside any group land under ``""``."""
    stage_group: dict[int, str] = {}
    stats: dict[str, JobStats] = {}
    exec_group: dict[int, str] = {}
    exec_plan: dict[int, tuple[int, int]] = {}
    python_stages: set[int] = set()
    paths = sorted(glob.glob(os.path.join(log_dir, "**", "*"),
                             recursive=True))
    for path in paths:
        name = os.path.basename(path)
        if os.path.isdir(path) or not name.startswith("events_"):
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    g = props.get("spark.jobGroup.id") or ""
                    stats.setdefault(g, JobStats()).jobs += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                    eid = props.get("spark.sql.execution.id")
                    if eid is not None:
                        exec_group.setdefault(int(eid), g)
                elif kind in _SQL_PLAN_EVENTS:
                    info = ev.get("sparkPlanInfo")
                    if info is not None:
                        exec_plan[int(ev["executionId"])] = _plan_nodes(info)
                elif kind == "SparkListenerStageSubmitted":
                    info = ev.get("Stage Info") or {}
                    if _runs_python(info):
                        python_stages.add(info.get("Stage ID"))
                elif kind == "SparkListenerTaskEnd":
                    sid = ev.get("Stage ID")
                    st = stats.setdefault(stage_group.get(sid, ""), JobStats())
                    _add_task(st, ev, sid in python_stages)
    for eid, (wscg, exch) in exec_plan.items():
        st = stats.setdefault(exec_group.get(eid, ""), JobStats())
        st.wscg_spans += wscg
        st.exchanges += exch
    return stats


_SQL_UI = "org.apache.spark.sql.execution.ui."
_SQL_PLAN_EVENTS = (_SQL_UI + "SparkListenerSQLExecutionStart",
                    _SQL_UI + "SparkListenerSQLAdaptiveExecutionUpdate")


def _plan_nodes(info: dict) -> tuple[int, int]:
    """(whole-stage-codegen spans, shuffle + broadcast exchanges) in the
    latest physical plan of one SQL execution (AQE's final plan once the
    adaptive updates have arrived)."""
    wscg = exch = 0
    todo = [info]
    while todo:
        node = todo.pop()
        name = node.get("nodeName", "")
        wscg += name.startswith("WholeStageCodegen")
        exch += name in ("Exchange", "BroadcastExchange")
        todo += node.get("children", [])
    return wscg, exch


def _runs_python(stage_info: dict) -> bool:
    for rdd in stage_info.get("RDD Info", []):
        try:
            scope = json.loads(rdd.get("Scope") or "{}").get("name", "")
        except ValueError:
            continue
        if scope in PYTHON_OPERATORS:
            return True
    return False


def _add_task(st: JobStats, ev: dict, python: bool) -> None:
    """Add one task's metrics.  ``python_exec_s`` is the executor run
    time of tasks in stages that contain a Python operator (the task
    metrics carry no separate Python timer)."""
    st.tasks += 1
    m = ev.get("Task Metrics") or {}
    info = ev.get("Task Info") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    st.shuffle_bytes += sw.get("Shuffle Bytes Written", 0)
    st.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
    st.jvm_gc_s += m.get("JVM GC Time", 0) / 1e3
    st.spill_bytes += (m.get("Memory Bytes Spilled", 0)
                       + m.get("Disk Bytes Spilled", 0))
    run = m.get("Executor Run Time", 0)
    dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    busy = (run + m.get("Executor Deserialize Time", 0)
            + m.get("Result Serialization Time", 0))
    st.scheduler_wait_s += max(dur - busy, 0) / 1e3
    if python:
        st.python_exec_s += run / 1e3


# ---------------------------------------------------------------------------
# /proc
# ---------------------------------------------------------------------------


def _children(pid: int) -> list[int]:
    out = []
    for tdir in glob.glob(f"/proc/{pid}/task/*"):
        try:
            with open(os.path.join(tdir, "children")) as fh:
                out += [int(x) for x in fh.read().split()]
        except OSError:
            pass
    return out


def process_tree(root: int | None = None) -> list[int]:
    """*root* (default: this process) and all its descendants."""
    root = root or os.getpid()
    seen, todo = [], [root]
    while todo:
        p = todo.pop()
        if p in seen:
            continue
        seen.append(p)
        todo += _children(p)
    return seen


def _status(pid: int) -> dict[str, str]:
    try:
        with open(f"/proc/{pid}/status") as fh:
            return dict(line.split(":", 1) for line in fh if ":" in line)
    except OSError:
        return {}


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, with pages shared between
    processes split among them."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return _rss_kb(pid)


def _rss_kb(pid: int) -> int:
    v = _status(pid).get("VmRSS")
    return int(v.split()[0]) if v else 0


def tree_rss_mb() -> float:
    """Current resident memory of this process and every descendant (the
    JVM, the Python worker daemon and its forked workers).  The forked
    workers share most pages with their daemon, so Python descendants
    count their PSS (each shared page once); the driver and the JVM share
    nothing and count their RSS, which is far cheaper to read for a
    multi-GB JVM."""
    me, kb = os.getpid(), 0
    for p in process_tree():
        python = _status(p).get("Name", "").strip().startswith("python")
        kb += _pss_kb(p) if python and p != me else _rss_kb(p)
    return kb / 1024.0


def python_workers() -> int:
    """Forked Python worker processes: descendants of this driver that
    are Python processes whose parent is also a Python process other
    than the driver (the JVM-spawned worker daemon forks them)."""
    me = os.getpid()
    procs = {p: _status(p) for p in process_tree()}
    py = {p for p, st in procs.items()
          if p != me and st.get("Name", "").strip().startswith("python")}
    return sum(1 for p in py
               if int(procs[p].get("PPid", "0").strip() or 0) in py)


def host_steal_s() -> float:
    """CPU time the hypervisor gave other guests while this host's vCPUs
    were runnable (the ``steal`` column of ``/proc/stat``), summed over
    all CPUs; 0 where the kernel does not report it."""
    try:
        with open("/proc/stat") as fh:
            f = fh.readline().split()
    except OSError:
        return 0.0
    steal = int(f[8]) if len(f) > 8 else 0
    return steal / os.sysconf("SC_CLK_TCK")
