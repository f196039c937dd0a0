"""Tracing from outside the library: spans, Spark event-log joins, /proc.

Three sources, all read without touching library code:

- spans the benchmark records around each public call and each action;
- the Spark event log (uncompressed JSON lines), whose jobs carry the job
  group the benchmark sets for each operation, and whose SQL events carry
  each executed plan with its metric values;
- ``/proc``, read for the CPU time and resident memory of the whole
  process tree and the number of Python worker processes.

``join_layers`` turns one operation's spans plus its event-log jobs into
the per-layer row documented in README.md.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# task accumulables that Spark's Python runners report (ms and bytes)
PY_ACCUMS = {
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.bytes_in",
    "data returned from Python workers": "python.bytes_out",
}


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float  # epoch seconds, the clock Spark's event log uses
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Records spans in memory. Each operation is a root span whose id is
    also the Spark job group of every job it starts. Disabled, it records
    nothing and sets no job group."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        s = Span(len(self.spans), self._stack[-1] if self._stack else None,
                 name, time.time(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    @contextmanager
    def op(self, kind: str):
        with self.span(kind, op=True) as s:
            if s is not None:
                self.sc.setJobGroup(group_id(s.id), kind)
            try:
                yield s
            finally:
                if s is not None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def children(self, sid: int) -> list[Span]:
        return [s for s in self.spans if s.parent == sid]

    def descendants(self, sid: int) -> list[Span]:
        out, todo = [], [sid]
        while todo:
            kids = self.children(todo.pop())
            out += kids
            todo += [k.id for k in kids]
        return out


def group_id(span_id: int) -> str:
    return f"perfbench-op-{span_id}"


def union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(tracer: Tracer, span: Span) -> float:
    """Span duration minus the part of it its child spans cover."""
    kids = [(max(k.start, span.start), min(k.end, span.end))
            for k in tracer.children(span.id)]
    return (span.end - span.start) - union_length([k for k in kids if k[1] > k[0]])


# --------------------------------------------------------------- event log


def _empty_group() -> dict:
    return {
        "jobs": 0, "tasks": 0, "stage_spans": [],
        "exec.cpu_s": 0.0, "exec.run_s": 0.0, "exec.gc_s": 0.0,
        "exec.spill_bytes": 0, "exec.peak_mem_bytes": 0,
        "shuffle.write_bytes": 0, "shuffle.read_bytes": 0,
        "shuffle.fetch_wait_s": 0.0,
        "sources.bytes_read": 0, "sources.rows_read": 0,
        "sources.bytes_written": 0,
        "plan.files_read": 0.0, "plan.files_read_filtered": 0.0, "plan.join_rows_max": 0.0,
        **{v: 0.0 for v in PY_ACCUMS.values()},
    }


def event_log_files(log_dir: str) -> list[str]:
    """The event log files under ``log_dir``, one per application."""
    return sorted(os.path.join(root, f) for root, _, files in os.walk(log_dir) for f in files)


def parse_event_log(paths) -> dict:
    """Aggregate jobs, stages and tasks of a Spark event log by job group,
    and the SQL metrics of the plans each group executed (the ``plan.*``
    totals). Returns {group id: totals}; jobs without a group land under
    None."""
    stage_group: dict[int, str | None] = {}
    stage_span: dict[int, tuple[float, float]] = {}
    groups: dict[str | None, dict] = {}
    exec_group: dict[int, str | None] = {}
    plans: dict[int, dict] = {}
    sql_acc: dict[int, float] = {}

    def grp(g):
        return groups.setdefault(g, _empty_group())

    for path in paths:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"].rsplit(".", 1)[-1]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    g = props.get("spark.jobGroup.id")
                    grp(g)["jobs"] += 1
                    for sid in e["Stage IDs"]:
                        stage_group[sid] = g
                    if props.get("spark.sql.execution.id") is not None:
                        exec_group[int(props["spark.sql.execution.id"])] = g
                elif kind in ("SparkListenerSQLExecutionStart",
                              "SparkListenerSQLAdaptiveExecutionUpdate"):
                    # adaptive execution re-posts the whole plan; the last
                    # one is the plan that ran
                    plans[e["executionId"]] = e["sparkPlanInfo"]
                elif kind == "SparkListenerDriverAccumUpdates":
                    for aid, v in e["accumUpdates"]:
                        sql_acc[aid] = sql_acc.get(aid, 0.0) + float(v)
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    sub, done = info.get("Submission Time"), info.get("Completion Time")
                    if sub is not None and done is not None:
                        stage_span[info["Stage ID"]] = (sub / 1e3, done / 1e3)
                elif kind == "SparkListenerTaskEnd":
                    g = grp(stage_group.get(e["Stage ID"]))
                    _add_task(g, e)
                    for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                        if acc.get("Metadata") == "sql" and acc.get("Update") is not None:
                            sql_acc[acc["ID"]] = sql_acc.get(acc["ID"], 0.0) + float(acc["Update"])
    for sid, span in stage_span.items():
        if sid in stage_group:
            grp(stage_group[sid])["stage_spans"].append(span)
    for eid, plan in plans.items():
        if eid in exec_group:
            _add_plan(grp(exec_group[eid]), plan, sql_acc, filtered=False)
    return groups


JOIN_NODES = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct")


def _add_plan(g: dict, node: dict, acc: dict, filtered: bool) -> None:
    """Walk one executed plan, adding its SQL metric values to the group:
    files read by file scans (and by those that feed a row ``Filter``),
    and the largest row count a join operator produced."""
    name = node["nodeName"]
    vals = {m["name"]: acc.get(m["accumulatorId"], 0.0) for m in node.get("metrics", [])}
    if name.startswith("Scan parquet"):
        files = vals.get("number of files read", 0.0)
        g["plan.files_read"] += files
        if filtered:
            g["plan.files_read_filtered"] += files
    if name in JOIN_NODES:
        g["plan.join_rows_max"] = max(g["plan.join_rows_max"], vals.get("number of output rows", 0.0))
    for child in node.get("children", []):
        _add_plan(g, child, acc, filtered or name == "Filter")


def _add_task(g: dict, e: dict) -> None:
    g["tasks"] += 1
    m = e.get("Task Metrics") or {}
    g["exec.cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    g["exec.run_s"] += m.get("Executor Run Time", 0) / 1e3
    g["exec.gc_s"] += m.get("JVM GC Time", 0) / 1e3
    g["exec.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    g["exec.peak_mem_bytes"] = max(g["exec.peak_mem_bytes"], m.get("Peak Execution Memory", 0))
    sr = m.get("Shuffle Read Metrics") or {}
    g["shuffle.read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    g["shuffle.fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
    g["shuffle.write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    im = m.get("Input Metrics") or {}
    g["sources.bytes_read"] += im.get("Bytes Read", 0)
    g["sources.rows_read"] += im.get("Records Read", 0)
    g["sources.bytes_written"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    for acc in (e.get("Task Info") or {}).get("Accumulables", []):
        key = PY_ACCUMS.get(acc.get("Name"))
        if key is not None and acc.get("Update") is not None:
            v = float(acc["Update"])
            g[key] += v / 1e3 if key.endswith("_s") else v


def join_layers(tracer: Tracer, op: Span, groups: dict) -> dict:
    """One operation's layer row: its spans joined with the event-log
    totals of its job group."""
    g = groups.get(group_id(op.id)) or _empty_group()
    wall = op.end - op.start
    inside = [(max(s, op.start), min(e, op.end)) for s, e in g["stage_spans"]]
    stage_union = union_length([iv for iv in inside if iv[1] > iv[0]])
    calls = [s for s in tracer.children(op.id) if s.name.startswith("call:")]
    row = {k: v for k, v in g.items() if k != "stage_spans"}
    row.update({
        "kind": op.name,
        "wall_s": wall,
        "driver.call_s": sum(s.end - s.start for s in calls),
        "driver.gap_s": max(wall - stage_union, 0.0),
        "driver.jobs": g["jobs"],
        "driver.tasks": g["tasks"],
        "self_s": {s.name: self_time(tracer, s) for s in [op, *tracer.descendants(op.id)]},
    })
    row.update({k: v for k, v in op.attrs.items() if k != "op"})
    return row


# -------------------------------------------------------------------- /proc


def _proc_table() -> dict[int, tuple[int, int, float, str]]:
    """pid -> (ppid, rss bytes, CPU seconds, cmdline) for every readable
    process. CPU counts user and system time of the process and of its
    children that have exited and been waited for."""
    page = os.sysconf("SC_PAGE_SIZE")
    tick = os.sysconf("SC_CLK_TCK")
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
            with open(f"/proc/{d}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        cpu = sum(int(v) for v in fields[11:15]) / tick
        out[int(d)] = (int(fields[1]), int(fields[21]) * page, cpu, cmd)
    return out


def tree_sample(root_pid: int) -> tuple[int, int, float]:
    """(RSS, Python worker count, CPU seconds) of ``root_pid`` and all its
    descendants: the driver, its JVM and the JVM's Python workers."""
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    rss, workers, cpu, todo = 0, 0, 0.0, [root_pid]
    while todo:
        pid = todo.pop()
        if pid not in table:
            continue
        _, p_rss, p_cpu, cmd = table[pid]
        rss += p_rss
        cpu += p_cpu
        if "pyspark.daemon" in cmd or "pyspark.worker" in cmd:
            workers += 1
        todo += kids.get(pid, [])
    return rss, workers, cpu


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants."""
    return tree_sample(os.getpid())[2]


class ProcSampler:
    """Background thread sampling the process tree every ``period`` s."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.peak_rss = 0
        self.peak_workers = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            rss, workers, _ = tree_sample(os.getpid())
            self.peak_rss = max(self.peak_rss, rss)
            self.peak_workers = max(self.peak_workers, workers)
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
