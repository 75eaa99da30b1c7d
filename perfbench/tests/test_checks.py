"""Output checks catch a perturbed query result and a wrong read count."""

import random
from datetime import datetime, timezone

import pandas as pd

from perfbench import harness, wl_logstore
from perfbench.checks import AckModel, canonical_rows, diff_results, ts_us


def _oracle():
    return pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, None], "s": ["a", "b", "c"]})


def test_identical_results_pass_in_any_row_and_column_order():
    got = _oracle().iloc[::-1][["s", "v", "k"]]
    assert diff_results(got, _oracle()) is None
    assert canonical_rows(got) == canonical_rows(_oracle())


def test_perturbed_value_is_detected():
    got = _oracle()
    got.loc[1, "v"] = 1.2500000001
    msg = diff_results(got, _oracle())
    assert msg is not None and "differs" in msg


def test_missing_row_and_renamed_column_are_detected():
    assert "row count" in diff_results(_oracle().iloc[:2], _oracle())
    assert "columns" in diff_results(_oracle().rename(columns={"v": "w"}), _oracle())


def test_ack_model_counts_inclusive_windows():
    m = AckModel()
    m.ack(("c", "s"), [30, 10, 20, 20])
    assert m.count(("c", "s"), 10, 20) == 3
    assert m.count(("c", "s"), 11, 19) == 0
    assert m.count(("c", "s"), 20, 30) == 3
    assert m.total(("c", "s")) == 4 and m.total(("c", "x")) == 0
    assert m.keys() == [("c", "s")]


def test_ts_us_treats_naive_as_utc():
    aware = datetime(2024, 3, 1, 12, 0, 0, 5, tzinfo=timezone.utc)
    assert ts_us(aware) == ts_us(aware.replace(tzinfo=None)) == 1709294400000005


class _FakeStore:
    """In-memory stand-in for LogStore's write and read calls; ``drop``
    makes every read lose one row."""

    drop = False

    def __init__(self, spark, root):
        self.root = root
        self.rows = {}

    def write_logs(self, container, session, rows):
        self.rows.setdefault((container, session), []).extend(rows)
        return len(rows)

    def read_logs(self, container, session, start_ts, end_ts):
        lo, hi = (datetime.fromisoformat(t).replace(tzinfo=timezone.utc) for t in (start_ts, end_ts))
        out = [
            r for r in self.rows.get((container, session), [])
            if lo <= datetime.fromisoformat(r["timestamp"].replace("Z", "+00:00")) <= hi
        ]
        return out[1:] if self.drop and out else out


def _client(monkeypatch, tmp_path, drop):
    import arrow_parquet_logs_spark.logstore as logstore

    monkeypatch.setattr(logstore, "LogStore", type("Fake", (_FakeStore,), {"drop": drop}))
    return wl_logstore._Client(None, harness.Tracer("test", False), str(tmp_path), random.Random(3), False)


def test_client_reads_match_the_model(monkeypatch, tmp_path):
    c = _client(monkeypatch, tmp_path, drop=False)
    for _ in range(5):
        c.write()
    for i in range(5):
        c.read(i / 5)
    assert c.errors == [] and c.completed == c.attempted == 10


def test_client_flags_a_wrong_read_count(monkeypatch, tmp_path):
    c = _client(monkeypatch, tmp_path, drop=True)
    for _ in range(5):
        c.write()
    c.read(0.0)
    assert len(c.errors) == 1 and "read_logs" in c.errors[0]
    assert c.completed == 5 and c.attempted == 6
