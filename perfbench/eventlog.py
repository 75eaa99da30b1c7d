"""Reader for Spark's JSON event log, joined with the benchmark's spans.

Spark writes one JSON object per line when ``spark.eventLog.enabled`` is on
(uncompressed, not rolled). This module keeps what the per-layer table
needs:

- jobs: submission and completion time, job group, stages;
- tasks: CPU and GC time, spill, peak execution memory, shuffle write
  bytes and fetch wait, input bytes and records;
- SQL metrics: accumulator ids named by the plan nodes that own them (from
  execution start and adaptive re-plan events), summed over task updates
  and driver-side updates.

Each job is attributed to one benchmark span: the span named by its job
group (``pb:<span id>``) when the benchmark set one, otherwise the innermost
span open at the job's submission time. The benchmark is a single closed-loop
client, so exactly one operation is in flight at any time; jobs started from
other threads (a streaming query's micro-batches) land on the operation that
started them.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field

GROUP_PREFIX = "pb:"

#: Plan nodes that cross the Python/Arrow boundary.
_PYTHON_NODE_MARKERS = ("Pandas", "Python", "Arrow")

_SQL_EVENT = "org.apache.spark.sql.execution.ui."


@dataclass
class Job:
    id: int
    group: str | None
    t0: float  # seconds since the epoch
    t1: float | None = None
    stages: list[int] = field(default_factory=list)


@dataclass
class StageStats:
    tasks: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    spill_bytes: int = 0
    peak_exec_mem_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_fetch_wait_s: float = 0.0
    input_bytes: int = 0
    input_rows: int = 0
    acc: dict[int, float] = field(default_factory=lambda: defaultdict(float))


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, StageStats] = field(default_factory=lambda: defaultdict(StageStats))
    #: accumulator id -> (plan node name, metric name, metric type)
    accums: dict[int, tuple[str, str, str]] = field(default_factory=dict)
    #: SQL execution id -> start time (seconds)
    exec_t0: dict[int, float] = field(default_factory=dict)
    #: SQL execution id -> {accumulator id: value} from the driver side
    driver_acc: dict[int, dict[int, float]] = field(default_factory=lambda: defaultdict(dict))


def _walk_plan(node: dict, accums: dict[int, tuple[str, str, str]]) -> None:
    for m in node.get("metrics", []):
        accums[int(m["accumulatorId"])] = (node.get("nodeName", ""), m["name"], m.get("metricType", ""))
    for child in node.get("children", []):
        _walk_plan(child, accums)


def _task_end(ev: dict, log: EventLog) -> None:
    st = log.stages[int(ev["Stage ID"])]
    st.tasks += 1
    tm = ev.get("Task Metrics") or {}
    st.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
    st.gc_s += tm.get("JVM GC Time", 0) / 1e3
    st.spill_bytes += tm.get("Disk Bytes Spilled", 0)
    st.peak_exec_mem_bytes = max(
        st.peak_exec_mem_bytes,
        tm.get("Peak Execution Memory", 0) + tm.get("Peak On Heap Execution Memory", 0),
    )
    st.shuffle_write_bytes += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    st.shuffle_fetch_wait_s += (tm.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0) / 1e3
    inp = tm.get("Input Metrics") or {}
    st.input_bytes += inp.get("Bytes Read", 0)
    st.input_rows += inp.get("Records Read", 0)
    for a in (ev.get("Task Info") or {}).get("Accumulables", []):
        upd = a.get("Update")
        if isinstance(upd, (int, float)) or (isinstance(upd, str) and upd.lstrip("-").isdigit()):
            st.acc[int(a["ID"])] += float(upd)


def read_event_log(path: str) -> EventLog:
    """Parse one uncompressed, non-rolled event log file."""
    log = EventLog()
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            line = line.strip()
            if not line:
                continue
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                log.jobs[int(ev["Job ID"])] = Job(
                    id=int(ev["Job ID"]),
                    group=props.get("spark.jobGroup.id"),
                    t0=ev["Submission Time"] / 1e3,
                    stages=[int(s) for s in ev.get("Stage IDs", [])],
                )
            elif kind == "SparkListenerJobEnd":
                job = log.jobs.get(int(ev["Job ID"]))
                if job is not None:
                    job.t1 = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerTaskEnd":
                _task_end(ev, log)
            elif kind == _SQL_EVENT + "SparkListenerSQLExecutionStart":
                log.exec_t0[int(ev["executionId"])] = ev["time"] / 1e3
                _walk_plan(ev["sparkPlanInfo"], log.accums)
            elif kind == _SQL_EVENT + "SparkListenerSQLAdaptiveExecutionUpdate":
                _walk_plan(ev["sparkPlanInfo"], log.accums)
            elif kind == _SQL_EVENT + "SparkListenerSQLAdaptiveSQLMetricUpdates":
                for m in ev.get("sqlPlanMetrics", []):
                    log.accums.setdefault(int(m["accumulatorId"]), ("", m["name"], m.get("metricType", "")))
            elif kind == _SQL_EVENT + "SparkListenerDriverAccumUpdates":
                upd = log.driver_acc[int(ev["executionId"])]
                for acc_id, value in ev.get("accumUpdates", []):
                    upd[int(acc_id)] = float(value)
    return log


# ---- join with spans --------------------------------------------------------


def _innermost(spans: list[dict], t: float) -> dict | None:
    """Innermost span open at time ``t`` (latest start wins among nested)."""
    best = None
    for s in spans:
        if s["t0"] <= t <= s["t1"] and (best is None or s["t0"] >= best["t0"]):
            best = s
    return best


def attribute_jobs(log: EventLog, spans: list[dict]) -> dict[int, int | None]:
    """job id -> span id (None when no span covers it)."""
    by_id = {s["id"]: s for s in spans}
    out: dict[int, int | None] = {}
    for job in log.jobs.values():
        sid = None
        if job.group and job.group.startswith(GROUP_PREFIX):
            try:
                sid = int(job.group[len(GROUP_PREFIX):])
            except ValueError:
                sid = None
            if sid not in by_id:
                sid = None
        if sid is None:
            s = _innermost(spans, job.t0)
            sid = s["id"] if s is not None else None
        out[job.id] = sid
    return out


def attribute_executions(log: EventLog, spans: list[dict]) -> dict[int, int | None]:
    """SQL execution id -> span id open when the execution started."""
    out = {}
    for eid, t0 in log.exec_t0.items():
        s = _innermost(spans, t0)
        out[eid] = s["id"] if s is not None else None
    return out


def covered_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _is_python_node(node: str) -> bool:
    return any(m in node for m in _PYTHON_NODE_MARKERS)


def _sql_value(value: float, mtype: str) -> float:
    """Normalise a SQL metric to seconds (timings) or raw units."""
    if mtype == "timing":
        return value / 1e3
    if mtype == "nsTiming":
        return value / 1e9
    return value


def engine_metrics(log: EventLog, spans: list[dict], span_ids: set[int]) -> dict[str, float]:
    """Spark engine, scan and Python-boundary totals over the jobs and SQL
    executions attributed to ``span_ids``."""
    job_span = attribute_jobs(log, spans)
    jobs = [j for j in log.jobs.values() if job_span.get(j.id) in span_ids]
    stage_ids = sorted({s for j in jobs for s in j.stages if s in log.stages})
    stages = [log.stages[s] for s in stage_ids]
    out = {
        "spark.jobs": float(len(jobs)),
        "spark.tasks": float(sum(s.tasks for s in stages)),
        "spark.exchanges": float(sum(1 for s in stages if s.shuffle_write_bytes > 0)),
        "spark.shuffle_write_bytes": float(sum(s.shuffle_write_bytes for s in stages)),
        "spark.shuffle_fetch_wait_s": sum(s.shuffle_fetch_wait_s for s in stages),
        "spark.executor_cpu_s": sum(s.cpu_s for s in stages),
        "spark.jvm_gc_s": sum(s.gc_s for s in stages),
        "spark.spill_bytes": float(sum(s.spill_bytes for s in stages)),
        "spark.peak_exec_mem_bytes": float(max((s.peak_exec_mem_bytes for s in stages), default=0)),
        "sources.scan_bytes": float(sum(s.input_bytes for s in stages)),
        "sources.scan_rows": float(sum(s.input_rows for s in stages)),
    }
    py = {"time to run Python workers": 0.0, "data sent to Python workers": 0.0,
          "data returned from Python workers": 0.0, "rows": 0.0}
    for s in stages:
        for acc_id, v in s.acc.items():
            node, name, mtype = log.accums.get(acc_id, ("", "", ""))
            if name in py:
                py[name] += _sql_value(v, mtype)
            elif name == "number of output rows" and _is_python_node(node):
                py["rows"] += v
    out["operators.python_s"] = py["time to run Python workers"]
    out["operators.python_bytes_sent"] = py["data sent to Python workers"]
    out["operators.python_bytes_returned"] = py["data returned from Python workers"]
    out["operators.python_rows"] = py["rows"]
    exec_span = attribute_executions(log, spans)
    files = 0.0
    for eid, upd in log.driver_acc.items():
        if exec_span.get(eid) not in span_ids:
            continue
        for acc_id, v in upd.items():
            if log.accums.get(acc_id, ("", "", ""))[1] == "number of files read":
                files += v
    out["sources.scan_files"] = files
    return out


def job_intervals(log: EventLog, spans: list[dict]) -> dict[int, list[tuple[float, float]]]:
    """span id -> [(start, end)] of the jobs attributed to it."""
    job_span = attribute_jobs(log, spans)
    out: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for j in log.jobs.values():
        sid = job_span.get(j.id)
        if sid is not None and j.t1 is not None:
            out[sid].append((j.t0, j.t1))
    return out


def self_times(log: EventLog, spans: list[dict]) -> dict[int, dict[str, float]]:
    """Per span: duration, time its child spans cover, time its own Spark
    jobs cover outside those children, and the remaining self time."""
    children: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s.get("parent") is not None:
            children[s["parent"]].append(s)
    jobs = job_intervals(log, spans)
    out = {}
    for s in spans:
        kids = [(c["t0"], c["t1"]) for c in children[s["id"]]]
        dur = s["t1"] - s["t0"]
        in_kids = covered_s(kids, s["t0"], s["t1"])
        in_jobs = covered_s(kids + jobs.get(s["id"], []), s["t0"], s["t1"]) - in_kids
        out[s["id"]] = {
            "busy_s": dur,
            "children_s": in_kids,
            "jobs_s": in_jobs,
            "self_s": max(0.0, dur - in_kids - in_jobs),
            "jobs": float(len(jobs.get(s["id"], []))),
        }
    return out
