"""``llm_sf001``: passes over the 11 LLM-pipeline registry bench rows.

Each row is driven through its registry callable: ``fn(spark, data_dir)``
builds the DataFrame (including any eager jobs of the build step), then
the plan is executed to the ``noop`` sink. One untimed warm pass collects every
row's result, which is compared with the row's DuckDB oracle over the same
generated parquet; the timed passes follow. Before every row the cache is
cleared, the JVM collects garbage and the row gets a fresh scratch
directory, so no pass reads frames an earlier pass persisted.
"""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

from perfbench import harness
from perfbench.checks import diff_results


#: generated scale factor of ``llm_sf001``; at sf0.1 two of the rows' DuckDB
#: oracles alone take longer than a run may last
SF = 0.01

LLM_ROWS = (
    "ann_cosine_topk_pandas",
    "ann_ivfpq_search",
    "embeddings_pq_adc",
    "dedup_embedding_cosine_fast",
    "dedup_minhash_lsh_fast",
    "dedup_ngram_jaccard_fast",
    "dedup_semantic_keep",
    "docs_quality_score",
    "docs_token_freq",
    "docs_token_lift",
    "pipeline_training_set",
)

def data_dir(root: str, sf: float, seed: int) -> str:
    """Generated tables for (sf, seed), made once per checkout with the
    repository's seeded generator; the benchmark's preparation, not timed."""
    out = os.path.join(root, ".perfbench_data", f"sf{sf:g}-seed{seed}")
    if os.path.exists(os.path.join(out, "COMPLETE")):
        return out
    tmp = harness.fresh_dir(out + ".partial")
    subprocess.run(
        [sys.executable, os.path.join(root, "tools", "gen_scale_data.py"),
         "--sf", f"{sf:g}", "--out", tmp, "--seed", str(seed)],
        check=True, stdout=subprocess.DEVNULL, cwd=root, timeout=600,
    )
    open(os.path.join(tmp, "COMPLETE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


def oracle_answers(ddir: str, rows: tuple[str, ...]) -> dict:
    """Each row's DuckDB oracle result over the generated parquet."""
    from arrow_parquet_logs_spark.queries import REGISTRY
    from tests.parity import duck_connect

    con = duck_connect(ddir)
    try:
        return {r: con.sql(REGISTRY[r].oracle).df() for r in rows}
    finally:
        con.close()


def settle(spark, scratch_root: str, tag: str) -> None:
    """Flatten the engine before a row: cached frames dropped, JVM garbage
    collected, a fresh scratch directory for the row's own files, and one
    trivial job so asynchronous clean-up ends before the clock starts."""
    spark.catalog.clearCache()
    spark.sparkContext._jvm.java.lang.System.gc()
    harness.fresh_dir(scratch_root)
    tempfile.tempdir = harness.fresh_dir(os.path.join(scratch_root, tag))
    spark.range(1).count()


def run(ctx) -> dict:
    from arrow_parquet_logs_spark.queries import bench_queries

    registry = bench_queries()
    fns = {r: registry[r] for r in LLM_ROWS}
    ddir = data_dir(ctx.root, SF, ctx.seed)
    want = oracle_answers(ddir, LLM_ROWS)

    rss = harness.PeakRss().start()
    t_setup = time.perf_counter()
    spark = harness.launch_spark(ctx.run_dir, ctx.root, f"perfbench-{ctx.workload}", ctx.eventlog_dir)
    tracer = harness.Tracer(ctx.workload, ctx.trace, spark)
    scratch = os.path.join(ctx.run_dir, "scratch")
    errors: list[str] = []
    attempted = 0
    got = {}
    try:
        with tracer.span("setup", kind="setup"):
            for r in LLM_ROWS:
                settle(spark, scratch, f"warm-{r}")
                attempted += 1
                try:
                    got[r] = fns[r](spark, ddir).toPandas()
                except Exception as e:  # reported as a failed row; the run goes on
                    errors.append(f"{r}: warm pass raised {type(e).__name__}: {e}")
        setup_s = time.perf_counter() - t_setup
        for r in LLM_ROWS:
            if r in got:
                d = diff_results(got[r], want[r])
                if d is not None:
                    errors.append(f"{r}: result differs from oracle: {d}")
        got.clear()

        passes: list[dict[str, tuple[float, float]]] = []
        cpu_s: list[float] = []  # CPU seconds of the process tree per pass
        completed = 0
        cpu0, tcpu0 = harness.cpu_snapshot(), harness.tree_cpu_s()
        t_loop = time.perf_counter()
        while True:
            times: dict[str, tuple[float, float]] = {}
            cpu_s.append(0.0)
            with tracer.span("pass", kind="pass", n=len(passes)):
                for r in LLM_ROWS:
                    with tracer.span("settle", kind="settle", row=r):
                        settle(spark, scratch, f"p{len(passes)}-{r}")
                    attempted += 1
                    c0 = harness.tree_cpu_s()
                    try:
                        with tracer.span("queries.build", row=r) as b:
                            df = fns[r](spark, ddir)
                        with tracer.span("queries.exec", row=r) as x:
                            df.write.format("noop").mode("overwrite").save()
                    except Exception as e:  # reported as a failed row; the run goes on
                        errors.append(f"{r}: timed pass raised {type(e).__name__}: {e}")
                        continue
                    times[r] = (b["dur"], x["dur"])
                    cpu_s[-1] += harness.tree_cpu_s() - c0
                    completed += 1
            passes.append(times)
            if time.perf_counter() - t_loop >= ctx.seconds:
                break
        loop_s = time.perf_counter() - t_loop
        cpu = harness.cpu_shares(cpu0, harness.cpu_snapshot())
        cpu["loop_cpu_s"] = harness.tree_cpu_s() - tcpu0
        cpu["loop_s"] = loop_s
    finally:
        peak_mb = rss.stop()
        harness.stop_spark(spark)

    pass_s = [sum(b + x for b, x in p.values()) for p in passes]
    report = {
        "setup_s": (setup_s, "s", 1),
        "pass_s": (statistics.median(pass_s), "s", len(pass_s)),
        "cpu_s_per_pass": (statistics.median(cpu_s), "s", len(cpu_s)),
        "ops_per_s": (completed / loop_s, "1/s", completed),
        "peak_rss_mb": (peak_mb, "MB", rss.samples),
    }
    out = {
        "attempted": attempted,
        "errors": errors,
        "report": report,
        "info": {**cpu, "sf": SF, "data_dir_bytes": harness.dir_bytes(ddir), "passes": len(passes),
                 "rows": list(LLM_ROWS)},
        "tracer": tracer,
        "pass_times": passes,
    }
    return out


def layers(result: dict, selft: dict[int, dict[str, float]]) -> dict[str, float]:
    """Query-layer metrics of a traced run: build and execute time per row
    (median over passes) and Spark jobs per row per pass."""
    times = result["pass_times"]
    spans = result["tracer"].spans
    out = {}
    for r in LLM_ROWS:
        b = [p[r][0] for p in times if r in p]
        x = [p[r][1] for p in times if r in p]
        out[f"queries.{r}.build_s"] = statistics.median(b) if b else 0.0
        out[f"queries.{r}.exec_s"] = statistics.median(x) if x else 0.0
        jobs = sum(selft[s["id"]]["jobs"] for s in spans if s["kind"] == "op" and s["attrs"].get("row") == r)
        out[f"queries.{r}.jobs"] = jobs / len(times)
    out["queries.build_s"] = statistics.median(sum(b for b, _ in p.values()) for p in times)
    out["queries.exec_s"] = statistics.median(sum(x for _, x in p.values()) for p in times)
    return out
