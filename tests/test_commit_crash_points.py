"""Crash-point injection over the commit sequences that share the
VersionedTable protocol (logstore/table.py): ``LogStore.compact``,
``apply_cluster_pairs_batch`` and ``apply_cuped_batch``.

A dry run counts the sequence's file writes, renames and deletes. Then, for
every k up to that count, the k-th one fails the way a killed process does
(an exception no ``except Exception`` can swallow), the operation is replayed
as a restart would replay it, and two things must hold: the final state
equals the run with no crash, and a second replay changes nothing.

Lock files are not injection points: a crashed holder's lock is the
stale-takeover path of ``locks.file_lock``, tested with the store and the
table."""

from __future__ import annotations

import builtins
import json
import os
import shutil
from collections import Counter

import pytest
from pyspark.sql.readwriter import DataFrameWriter

from arrow_parquet_logs_spark.logstore import LogStore
from arrow_parquet_logs_spark.logstore.table import VersionedTable
from arrow_parquet_logs_spark.operators.dedup import apply_cluster_pairs_batch
from arrow_parquet_logs_spark.streaming import start_ingest
from arrow_parquet_logs_spark.streaming.cuped import apply_cuped_batch, read_cuped_mv


class _Crash(BaseException):
    """The process died at an injected file operation."""


class _Injector:
    """Counts file writes, renames and deletes under ``root``; the
    ``fail_at``-th one raises ``_Crash`` instead of running (0: count only)."""

    def __init__(self, monkeypatch, root: str):
        self.root = os.path.abspath(root)
        self.ops: list[tuple[str, str]] = []
        self.fail_at = 0
        real_open = builtins.open

        def _open(file, mode="r", *a, **kw):
            if isinstance(file, (str, os.PathLike)) and any(c in mode for c in "wax+"):
                self._hit("write", file)
            return real_open(file, mode, *a, **kw)

        def wrap(kind, fn):
            def run(path, *a, **kw):
                self._hit(kind, a[0] if kind == "rename" else path)  # renames: the target
                return fn(path, *a, **kw)

            return run

        real_parquet = DataFrameWriter.parquet

        def _parquet(writer, path, *a, **kw):
            self._hit("spark-write", path)
            return real_parquet(writer, path, *a, **kw)

        monkeypatch.setattr(builtins, "open", _open)
        monkeypatch.setattr(os, "replace", wrap("rename", os.replace))
        monkeypatch.setattr(os, "remove", wrap("delete", os.remove))
        monkeypatch.setattr(shutil, "rmtree", wrap("delete", shutil.rmtree))
        monkeypatch.setattr(DataFrameWriter, "parquet", _parquet)

    def _hit(self, kind: str, path) -> None:
        p = os.path.abspath(os.fspath(path))
        if not p.startswith(self.root) or ".lock" in os.path.basename(p):
            return
        self.ops.append((kind, os.path.relpath(p, self.root)))
        if len(self.ops) == self.fail_at:
            self.fail_at = 0
            raise _Crash(f"injected crash at {kind} {p}")


# ---- the three sequences ----------------------------------------------------
# Each builds its pre-crash template under ``tpl`` once and returns
# ``(run, state)``: ``run(root)`` performs the operation on a copy of the
# template at ``root`` the way a fresh process would; ``state(root)`` is the
# check — a value two runs must agree on.


def _log_rows(n0: int, n: int, day: int) -> list[dict]:
    return [
        {"timestamp": f"2024-01-0{day}T00:{i // 60:02d}:{i % 60:02d}Z",
         "level": ("INFO", "ERROR")[i % 2], "message": f"m{i}"}
        for i in range(n0, n0 + n)
    ]


def _compact_sequence(spark, tpl: str):
    store = LogStore(spark, tpl)
    for i in range(3):
        store.write_logs("a", "s1", _log_rows(10 * i, 10, 1))
    store.compact("a", "s1")  # v1 consumes three batch files
    for i in range(3, 5):
        store.write_logs("a", "s1", _log_rows(10 * i, 10, 2))
    # streamed landing files: partition-stripped keys, a different writer
    src = os.path.join(os.path.dirname(tpl), "ingest_src")
    os.makedirs(src)
    with open(os.path.join(src, "b.json"), "w") as fh:
        for r in _log_rows(50, 10, 3):
            fh.write(json.dumps({**r, "container": "a", "session": "s1"}) + "\n")
    q = start_ingest(spark, src, tpl, os.path.join(os.path.dirname(tpl), "ingest_ckpt"))
    q.awaitTermination()

    def run(root):
        LogStore(spark, root).compact("a", "s1")

    def state(root):
        s = LogStore(spark, root)
        rows = s.read_df("a", "s1", ordered=False).collect()
        return s.count(container="a", session="s1"), Counter(map(tuple, rows))

    return run, state


def _cluster_sequence(spark, tpl: str):
    ckpt = os.path.join(os.path.dirname(tpl), "pairs_ckpt")
    pairs = [[(1, 2), (5, 6)], [(2, 5), (8, 9)]]  # batch 1 bridges batch 0's clusters

    def frame(i):
        return spark.createDataFrame(pairs[i], "a_id long, b_id long")

    assert apply_cluster_pairs_batch(VersionedTable(spark, tpl, ["doc_id"]), frame(0), 0, ckpt)

    def run(root):
        apply_cluster_pairs_batch(VersionedTable(spark, root, ["doc_id"]), frame(1), 1, ckpt)

    def state(root):
        t = VersionedTable(spark, root, ["doc_id"])
        labels = sorted(map(tuple, t.read().select("doc_id", "cluster_id").collect()))
        return labels, t.txn(os.path.abspath(ckpt))

    return run, state


def _cuped_sequence(spark, tpl: str):
    import datetime as dt

    rows = [
        (dt.datetime(2024, 1, d, 12), u, float(u * 3 + d) / 4)
        for u in range(1, 30)
        for d in range(1, 31, 4)
    ]
    third = len(rows) // 3

    def frame(i):
        return spark.createDataFrame(
            rows[i * third:(i + 1) * third], "ts timestamp, user_id long, value double"
        )

    os.makedirs(tpl)
    for i in range(2):
        assert apply_cuped_batch(frame(i), i, tpl, keep_versions=2)

    def run(root):
        # keep_versions=2 makes the sequence end with a vacuum
        apply_cuped_batch(frame(2), 2, root, keep_versions=2)

    def state(root):
        return sorted(map(tuple, read_cuped_mv(spark, root).collect()))

    return run, state


@pytest.mark.parametrize(
    "sequence", [_compact_sequence, _cluster_sequence, _cuped_sequence],
    ids=["logstore_compact", "cluster_pairs_batch", "cuped_batch"],
)
def test_every_crash_point_replays_to_the_uncrashed_state(spark, tmp_path, monkeypatch, sequence):
    tpl = str(tmp_path / "tpl")
    run, state = sequence(spark, tpl)
    inj = _Injector(monkeypatch, str(tmp_path))

    def fresh(name):
        root = str(tmp_path / name)
        shutil.copytree(tpl, root)
        return root

    clean = fresh("clean")
    inj.ops.clear()  # the copy's own writes are not part of the sequence
    run(clean)
    ops = list(inj.ops)
    n = len(ops)
    want = state(clean)
    # the commit point must be among the injection points
    assert any(k == "rename" and p.endswith("CURRENT") for k, p in ops), ops

    for k in range(1, n + 1):
        root = fresh(f"crash{k}")
        inj.ops.clear()
        inj.fail_at = k
        with pytest.raises(_Crash):
            run(root)
        crashed_at = inj.ops[-1]
        run(root)  # the restart replays the operation
        got = state(root)
        assert got == want, f"crash at op {k}/{n} {crashed_at}: replay diverged"
        run(root)  # a second replay is a no-op
        assert state(root) == got, f"crash at op {k}/{n} {crashed_at}: second replay changed state"
