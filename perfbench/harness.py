"""Run-time plumbing shared by the workloads: host facts and provenance,
Spark launch and shutdown, peak-RSS sampling and span recording.

Spark is launched through the library's own session factory
(``session.get_spark``); everything the benchmark decides about the host is
passed as launch settings in the environment, so the library is driven as a
user would drive it.
"""

from __future__ import annotations

import hashlib
import json
import os
import platform
import shlex
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time
from contextlib import contextmanager

from perfbench.eventlog import GROUP_PREFIX

PAGE = os.sysconf("SC_PAGE_SIZE")


# ---- host facts and provenance ---------------------------------------------


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_kb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory() -> str:
    """A quarter of physical memory, between 1 GiB and 8 GiB, in MiB."""
    mb = mem_total_kb() // 1024 // 4
    return f"{min(max(mb, 1024), 8192)}m"


def source_digest(root: str) -> str:
    """sha256 over the library sources and the data generator, so a result
    names the code it measured even where the checkout is not a git tree."""
    h = hashlib.sha256()
    files = [os.path.join(root, "tools", "gen_scale_data.py")]
    for dirpath, dirnames, filenames in os.walk(os.path.join(root, "arrow_parquet_logs_spark")):
        dirnames.sort()
        files += [os.path.join(dirpath, f) for f in sorted(filenames) if f.endswith(".py")]
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit(root: str) -> str | None:
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
    except OSError:
        return None
    return out.stdout.strip() or None


def provenance(root: str, seed: int) -> dict:
    import duckdb
    import pandas
    import pyarrow
    import pyspark

    return {
        "nproc": nproc(),
        "mem_total_kb": mem_total_kb(),
        "driver_memory": driver_memory(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "pandas": pandas.__version__,
        "git_commit": git_commit(root),
        "source_sha256_16": source_digest(root),
        "seed": seed,
    }


def cpu_snapshot() -> list[int]:
    """System-wide CPU jiffies: user nice system idle iowait irq softirq steal."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def cpu_shares(before: list[int], after: list[int]) -> dict:
    """Busy, idle and steal shares of the machine's CPU time between two
    snapshots; steal is time the hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    return {
        "cpu_busy_frac": round((d[0] + d[1] + d[2] + d[5] + d[6]) / total, 4),
        "cpu_idle_frac": round((d[3] + d[4]) / total, 4),
        "cpu_steal_frac": round(d[7] / total, 4),
    }


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process, its live descendants, and
    the descendants they have already reaped."""
    tick = os.sysconf("SC_CLK_TCK")
    me = os.getpid()
    total = 0
    for pid in [me] + descendants(me):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / tick


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, filenames in os.walk(path):
        for f in filenames:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


# ---- process tree and memory -----------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * PAGE
    except (OSError, IndexError, ValueError):
        return 0


class PeakRss:
    """Samples the summed RSS of this process and all its descendants (the
    Spark JVM and its Python workers) on a background thread."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def sample(self) -> None:
        me = os.getpid()
        total = sum(_rss_bytes(p) for p in [me] + descendants(me))
        self.peak = max(self.peak, total)
        self.samples += 1

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def start(self) -> "PeakRss":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; peak in MB."""
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak / 1e6


# ---- Spark launch -------------------------------------------------------------


def launch_spark(run_dir: str, root: str, app: str, eventlog_dir: str | None):
    """Start a local session sized to this host, with every scratch path
    under ``run_dir`` and the UI off. ``eventlog_dir`` turns on Spark's event
    log there (uncompressed, not rolled)."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    confs = {
        "spark.hadoop.hadoop.tmp.dir": tmp,
        "spark.ui.showConsoleProgress": "false",
    }
    if eventlog_dir is not None:
        os.makedirs(eventlog_dir, exist_ok=True)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file:" + os.path.abspath(eventlog_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = []
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    args += ["--driver-java-options", jvm_opts, "pyspark-shell"]
    os.environ.update({
        "SPARK_LAUNCHER_OPTS": jvm_opts,  # the JVM that builds the driver's command line
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_DRIVER_MEMORY": driver_memory(),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": shlex.join(args),
        "PYSPARK_PYTHON": sys.executable,
    })
    os.environ.pop("SPARK_GRAFT_UI", None)
    tempfile.tempdir = tmp
    from arrow_parquet_logs_spark.session import get_spark

    return get_spark(app)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, then anything either left running;
    wait for each to end."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    reap_children()


def reap_children(timeout_s: float = 10.0) -> None:
    """Terminate and wait for every remaining descendant process."""
    me = os.getpid()
    left = descendants(me)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            for pid in list(left):
                try:
                    done, _ = os.waitpid(pid, os.WNOHANG)
                except ChildProcessError:  # not our direct child: poll /proc
                    done = pid if not os.path.exists(f"/proc/{pid}") else 0
                if done:
                    left.remove(pid)
            if not left:
                return
            time.sleep(0.05)


# ---- spans ---------------------------------------------------------------------


class Tracer:
    """In-memory spans around every public call the benchmark makes.

    A span is ``{id, parent, name, kind, workload, t0, t1, dur, attrs}``:
    epoch-second start and end (to join Spark's event log) and a
    monotonic-clock duration (for latencies). Spans are always recorded, because the end-to-end latencies are
    read from them; ``traced`` additionally labels Spark jobs with the
    span's id as job group (``pb:<id>``) and a readable description."""

    def __init__(self, workload: str, traced: bool, spark=None) -> None:
        self.workload = workload
        self.traced = traced
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, kind: str = "op", **attrs):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": sid,
            "parent": parent,
            "name": name,
            "kind": kind,
            "workload": self.workload,
            "t0": 0.0,
            "t1": 0.0,
            "dur": 0.0,
            "attrs": attrs,
        }
        self.spans.append(rec)
        if self.traced and self.spark is not None:
            desc = " ".join([self.workload, name] + [f"{k}={v}" for k, v in attrs.items()])
            self._label(f"{GROUP_PREFIX}{sid}", desc)
        self._stack.append(sid)
        rec["t0"] = time.time()
        p0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - p0
            rec["t1"] = time.time()
            self._stack.pop()
            if self.traced and self.spark is not None:
                if parent is None:
                    self._label(None, None)
                else:
                    self._label(f"{GROUP_PREFIX}{parent}", self.spans[parent]["name"])

    def _label(self, group: str | None, desc: str | None) -> None:
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", group)
        sc.setLocalProperty("spark.job.description", desc)

    def durations(self, name: str, kind: str = "op") -> list[float]:
        return [s["dur"] for s in self.spans if s["name"] == name and s["kind"] == kind]

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
