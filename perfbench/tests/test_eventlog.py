"""The event-log reader on its committed fixture.

The fixture is a trimmed event log of one traced two-call pass:

- span 1 (job group ``pb:1``): two parquet files → repartition →
  ``mapInPandas`` → group-by → collect;
- span 2 (job group ``pb:2``): ``spark.range(1000).count()``;
- two more jobs after the pass with no group and no covering span.
"""

import json
import os

import pytest

from perfbench.eventlog import (
    attribute_executions,
    attribute_jobs,
    covered_s,
    engine_metrics,
    read_event_log,
    self_times,
)

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


@pytest.fixture(scope="module")
def log():
    return read_event_log(os.path.join(FIXTURES, "eventlog.jsonl"))


@pytest.fixture(scope="module")
def spans():
    with open(os.path.join(FIXTURES, "spans.jsonl"), encoding="utf-8") as fh:
        return [json.loads(line) for line in fh]


def test_jobs_are_read_with_groups_and_times(log):
    assert sorted(log.jobs) == list(range(8))
    assert [log.jobs[j].group for j in range(8)] == ["pb:1"] * 4 + ["pb:2"] * 2 + [None] * 2
    assert all(j.t1 is not None and j.t1 >= j.t0 for j in log.jobs.values())


def test_jobs_and_executions_join_their_spans(log, spans):
    assert attribute_jobs(log, spans) == {0: 1, 1: 1, 2: 1, 3: 1, 4: 2, 5: 2, 6: None, 7: None}
    assert attribute_executions(log, spans) == {0: 1, 1: 2, 2: None}


def test_ungrouped_job_falls_back_to_the_open_span(log, spans):
    log.jobs[4].group = "other-thread"
    try:
        assert attribute_jobs(log, spans)[4] == 2
    finally:
        log.jobs[4].group = "pb:2"


def test_engine_scan_and_python_metrics_of_the_pandas_call(log, spans):
    m = engine_metrics(log, spans, {1})
    assert m["spark.jobs"] == 4
    assert m["spark.tasks"] == 6
    assert m["spark.exchanges"] == 2
    assert m["spark.shuffle_write_bytes"] == 1547
    assert m["sources.scan_files"] == 2
    assert m["sources.scan_rows"] == 100
    assert m["sources.scan_bytes"] == 1104
    assert m["operators.python_rows"] == 100
    assert m["operators.python_bytes_sent"] == 2096
    assert m["operators.python_bytes_returned"] == 2048
    assert m["operators.python_s"] == pytest.approx(4.889)
    assert m["spark.executor_cpu_s"] == pytest.approx(1.18727, rel=1e-4)
    assert m["spark.jvm_gc_s"] == pytest.approx(0.158)
    assert m["spark.spill_bytes"] == 0


def test_call_without_python_nodes_has_no_python_metrics(log, spans):
    m = engine_metrics(log, spans, {2})
    assert m["spark.jobs"] == 2
    assert m["sources.scan_files"] == 0
    assert m["operators.python_rows"] == m["operators.python_s"] == 0


def test_self_time_excludes_children_and_jobs(log, spans):
    st = self_times(log, spans)
    assert st[0]["jobs"] == 0 and st[0]["self_s"] == pytest.approx(0.007, abs=1e-3)
    assert st[1]["jobs"] == 4
    assert st[1]["jobs_s"] == pytest.approx(5.019, abs=1e-3)
    for s in spans:
        t = st[s["id"]]
        assert t["self_s"] + t["children_s"] + t["jobs_s"] == pytest.approx(t["busy_s"], abs=1e-6)


def test_covered_s_merges_overlaps_and_clips():
    assert covered_s([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered_s([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2
    assert covered_s([], 0, 1) == 0
    assert covered_s([(2, 3)], 0, 1) == 0
