#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload logstore_mixed --seed 1 --seconds 15 --trace 0

Run from the repository root. The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0``
the end-to-end metrics, with ``--trace 1`` the per-layer metrics read from
the benchmark's spans joined with Spark's event log. The lines before it
give every metric with its unit and sample count, the provenance of the
run, and any failed check. The exit code is 0 only when every output check
passed.

Files: generated data under ``.perfbench_data/`` (reused per sf and seed),
scratch under ``.perfbench_runs/`` (removed at exit), and per-run results,
spans and event logs under ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import traceback
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: end-to-end metrics every workload reports, with their units
E2E_METRICS = {
    "setup_s": "s",
    "pass_s": "s",
    "cpu_s_per_pass": "s",
}

WORKLOAD_NAMES = ("logstore_mixed", "llm_sf001")

#: a run must end within this many seconds
DEADLINE_S = 175


@dataclass
class Context:
    root: str
    workload: str
    seed: int
    seconds: float
    trace: bool
    run_dir: str
    eventlog_dir: str | None


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric a traced run reports, with its unit."""
    from perfbench.wl_queries import LLM_ROWS

    names = {
        "spark.jobs": "count",
        "spark.tasks": "count",
        "spark.exchanges": "count",
        "spark.shuffle_write_bytes": "bytes",
        "spark.spill_bytes": "bytes",
        "spark.peak_exec_mem_bytes": "bytes",
        "spark.driver_gap_s": "s",
        "spark.executor_cpu_s": "s",
        "sources.scan_bytes": "bytes",
        "sources.scan_files": "count",
        "sources.scan_rows": "count",
        "operators.python_bytes_sent": "bytes",
        "operators.python_bytes_returned": "bytes",
        "operators.python_rows": "count",
        "logstore.write_logs.calls": "count",
        "logstore.write_logs.rows": "count",
        "logstore.read_logs.calls": "count",
        "logstore.read_logs.files_scanned_p50": "count",
        "logstore.read_logs.useful_row_frac": "ratio",
        "logstore.landing_files_max": "count",
        "logstore.compact.calls": "count",
        "logstore.compact.input_files": "count",
        "logstore.compact.bytes_rewritten": "bytes",
        "logstore.vacuum.removed_versions": "count",
        "streaming.ingest.batches": "count",
        "streaming.ingest.rows": "count",
        "trace.pass_s": "s",
    }
    for r in LLM_ROWS:
        names[f"queries.{r}.jobs"] = "count"
    return names


def _trace_only_units() -> dict[str, str]:
    """Per-layer times printed by a traced run but left out of its JSON
    line, because they are zero on workloads that never call the layer."""
    from perfbench.wl_queries import LLM_ROWS

    names = {
        "spark.jvm_gc_s": "s",
        "spark.shuffle_fetch_wait_s": "s",
        "operators.python_s": "s",
        "logstore.write_logs.busy_s": "s",
        "logstore.read_logs.busy_s": "s",
        "logstore.compact.busy_s": "s",
        "logstore.maintain.busy_s": "s",
        "streaming.ingest.busy_s": "s",
        "streaming.ingest.trigger_ms_p50": "ms",
        "streaming.ingest.add_batch_ms_p50": "ms",
        "streaming.ingest.planning_ms_p50": "ms",
        "trace.read_ms_p50": "ms",
        "queries.build_s": "s",
        "queries.exec_s": "s",
    }
    for r in LLM_ROWS:
        names[f"queries.{r}.build_s"] = "s"
        names[f"queries.{r}.exec_s"] = "s"
    return names


def _workload(name: str):
    if name == "logstore_mixed":
        from perfbench import wl_logstore as wl
    else:
        from perfbench import wl_queries as wl
    return wl


def layer_metrics(ctx: Context, result: dict) -> tuple[dict[str, float], dict[str, dict]]:
    """Join the run's spans with its event log into the per-layer table, and
    a per-call table of busy, Spark-job and self time (totals per pass)."""
    from perfbench.eventlog import engine_metrics, read_event_log, self_times

    spans = result["tracer"].spans
    logs = [os.path.join(ctx.eventlog_dir, f) for f in os.listdir(ctx.eventlog_dir)]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {ctx.eventlog_dir}, found {len(logs)}")
    log = read_event_log(logs[0])
    ops = {s["id"] for s in spans if s["kind"] == "op"}
    n = sum(1 for s in spans if s["kind"] == "pass")
    eng = engine_metrics(log, spans, ops)
    selft = self_times(log, spans)
    out = {k: (v if k == "spark.peak_exec_mem_bytes" else v / n) for k, v in eng.items()}
    out["spark.driver_gap_s"] = sum(selft[i]["self_s"] for i in ops) / n
    out["trace.pass_s"] = result["report"]["pass_s"][0]
    out.update(_workload(ctx.workload).layers(result, selft))
    calls: dict[str, dict] = {}
    for s in spans:
        if s["kind"] == "op":
            row = calls.setdefault(s["name"], {"calls": 0, "busy_s": 0.0, "jobs": 0.0, "jobs_s": 0.0, "self_s": 0.0})
            row["calls"] += 1
            for k in ("busy_s", "jobs", "jobs_s", "self_s"):
                row[k] += selft[s["id"]][k] / n
    # layers the workload never calls read 0
    return {**{k: 0.0 for k in {**per_layer_names(), **_trace_only_units()}}, **out}, calls


def run(ctx: Context) -> dict:
    from perfbench.harness import provenance

    prov = provenance(ctx.root, ctx.seed)
    result = _workload(ctx.workload).run(ctx)
    result["info"].update(prov)
    return result


def _fmt(v: float) -> str:
    return f"{v:.6g}"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in ("arrow_parquet_logs_spark", os.path.join("tools", "gen_scale_data.py"),
                           os.path.join("tests", "parity.py"))
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: the library is not in {ROOT}: missing {missing}", file=sys.stderr)
        return 2
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    out_dir = os.path.join(ROOT, ".perfbench_out", tag)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    run_dir = os.path.join(ROOT, ".perfbench_runs", f"{tag}-{os.getpid()}")
    ctx = Context(
        root=ROOT, workload=args.workload, seed=args.seed, seconds=args.seconds,
        trace=bool(args.trace), run_dir=run_dir,
        eventlog_dir=os.path.join(out_dir, "eventlog") if args.trace else None,
    )

    def _deadline(signum, frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    def _terminate(signum, frame):
        raise SystemExit(f"terminated by signal {signum}")

    signal.signal(signal.SIGALRM, _deadline)
    signal.signal(signal.SIGTERM, _terminate)
    signal.alarm(DEADLINE_S)
    try:
        result = run(ctx)
        layer, calls = layer_metrics(ctx, result) if ctx.trace else (None, None)
    except Exception:
        traceback.print_exc()
        print("perfbench: run aborted; no result", file=sys.stderr)
        return 1
    finally:
        signal.alarm(0)
        shutil.rmtree(run_dir, ignore_errors=True)

    errors = result["errors"]
    attempted = result["attempted"]
    lines = [f"perfbench {args.workload} seed={args.seed} trace={args.trace}"]
    lines.append("provenance " + json.dumps(result["info"], sort_keys=True))
    report = dict(result["report"])
    report["ops_failed_frac"] = (len(errors) / attempted, "fraction", attempted)
    for name, (v, unit, n) in report.items():
        lines.append(f"  {name:<34} {_fmt(v):>12} {unit:<9} n={n}")
    if layer is not None:
        units = {**per_layer_names(), **_trace_only_units()}
        lines.append("per-layer (engine and source metrics per pass):")
        other = ("queries.",) if ctx.workload == "logstore_mixed" else ("logstore.", "streaming.", "trace.read")
        for name in sorted(n for n in layer if not n.startswith(other)):
            lines.append(f"  {name:<46} {_fmt(layer[name]):>14} {units[name]}")
        lines.append("per call, per pass:          calls     busy_s   spark-job_s    self_s   jobs")
        for name, c in sorted(calls.items()):
            lines.append(f"  {name:<22} {c['calls']:>8} {c['busy_s']:>10.3f} {c['jobs_s']:>13.3f} "
                         f"{c['self_s']:>9.3f} {c['jobs']:>6.1f}")
    for e in errors:
        lines.append(f"FAILED {e}")

    if layer is None:
        metrics = {k: {"value": report[k][0], "unit": u} for k, u in E2E_METRICS.items()}
    else:
        metrics = {k: {"value": float(layer[k]), "unit": u} for k, u in per_layer_names().items()}
    final = {"correct": not errors, "attempted": attempted, "failed": len(errors), "metrics": metrics}

    with open(os.path.join(out_dir, "result.json"), "w", encoding="utf-8") as fh:
        json.dump({"result": final, "report": {k: list(v) for k, v in report.items()},
                   "layer": layer, "calls": calls, "errors": errors, "info": result["info"],
                   "pass_times": result.get("pass_times")}, fh, indent=1)
    if ctx.trace:
        result["tracer"].dump(os.path.join(out_dir, "spans.jsonl"))
    print("\n".join(lines))
    print(json.dumps(final), flush=True)
    return 0 if not errors else 1


if __name__ == "__main__":
    sys.exit(main())
