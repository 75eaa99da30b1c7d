"""VersionedTable: MERGE/DELETE semantics, partition-granular copy-on-write,
cross-version file references, and file-liveness vacuum."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from arrow_parquet_logs_spark.logstore.table import VersionedTable


@pytest.fixture()
def table(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"), key_cols=["k"], partition_col="seg")
    rows = [(k, f"seg{k % 3}", k * 10) for k in range(30)]
    t.write(spark.createDataFrame(rows, "k long, seg string, val long"))
    return t


def _as_dict(df):
    return {r.k: (r.seg, r.val) for r in df.collect()}


def test_upsert_merge_semantics_and_partition_carry(table, spark):
    updates = spark.createDataFrame(
        [(3, "seg0", 999), (100, "seg0", 111)], "k long, seg string, val long"
    )
    r = table.upsert(updates)
    assert r["version"] == 2
    # seg1/seg2 files carried by reference, only seg0 rewritten
    assert r["carried_files"] > 0
    man = table._current()
    assert any(f.startswith("v1/") for f in man["files"]), man["files"]
    # rewritten files land in the optimistic staging area, carried by ref
    assert any(f.startswith("_staged/") for f in man["files"]), man["files"]
    got = _as_dict(table.read())
    assert got[3] == ("seg0", 999)      # matched -> updated
    assert got[100] == ("seg0", 111)    # unmatched -> inserted
    assert got[4] == ("seg1", 40)       # untouched partition intact
    assert got[6] == ("seg0", 60)       # same partition, different key intact
    assert len(got) == 31
    # time travel: v1 still has the original row
    assert _as_dict(table.read(version=1))[3] == ("seg0", 30)


def test_delete_where_and_unpartitioned_merge(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "u"), key_cols=["k"])
    t.write(spark.createDataFrame([(k, k * 10) for k in range(10)], "k long, val long"))
    t.upsert(spark.createDataFrame([(1, -1), (50, -5)], "k long, val long"))
    t.delete_where("val < 0")
    got = {r.k: r.val for r in t.read().collect()}
    assert 1 not in got and 50 not in got and got[2] == 20 and len(got) == 9


def test_delete_where_partitioned(table):
    r = table.delete_where(F.col("k") % 3 == 0)  # hits every seg0 row... k%3==0 -> seg0
    assert r["version"] == 2
    got = _as_dict(table.read())
    assert all(k % 3 != 0 for k in got) and len(got) == 20


def test_vacuum_respects_carried_file_liveness(table, spark):
    """After an upsert carries v1 files forward, vacuuming v1 must keep
    every carried file on disk (only the manifest and dead files go)."""
    table.upsert(
        spark.createDataFrame([(0, "seg0", 1)], "k long, seg string, val long")
    )
    man = table._current()
    carried = [f for f in man["files"] if f.startswith("v1/")]
    assert carried
    r = table.vacuum(keep_versions=1)
    assert r["removed_versions"] == [1]
    for f in carried:  # carried files survive their home version's vacuum
        assert os.path.exists(os.path.join(table.path, f)), f
    # v1 no longer time-travelable, CURRENT still reads fully
    with pytest.raises(ValueError, match="no version 1"):
        table.read(version=1)
    assert table.read().count() == 30
    # dead seg0 file from v1 was removed
    dead = [
        f for f in os.listdir(os.path.join(table.path, "v1", "__pt=seg0"))
    ] if os.path.isdir(os.path.join(table.path, "v1", "__pt=seg0")) else []
    assert not [f for f in dead if f.endswith(".parquet")]


def test_upsert_into_empty_writes_snapshot(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "e"), key_cols=["k"])
    r = t.upsert(spark.createDataFrame([(1, 10)], "k long, val long"))
    assert r["version"] == 1
    assert t.read().count() == 1


def test_snapshot_isolation_across_upsert(table, spark):
    """A reader that resolved CURRENT keeps its snapshot even if a new
    version commits before it executes — old version files are immutable
    until vacuum (the manifest protocol's read-side guarantee)."""
    snapshot = table.read()  # resolves v1's file list lazily
    table.upsert(
        spark.createDataFrame([(3, "seg0", 999)], "k long, seg string, val long")
    )
    got = _as_dict(snapshot)  # executes AFTER the v2 commit
    assert got[3] == ("seg0", 30)  # still the v1 value
    assert _as_dict(table.read())[3] == ("seg0", 999)


def test_streaming_cdc_upserts(table, spark, tmp_path):
    """foreachBatch CDC: each micro-batch lands as one MERGE commit; the
    final state equals applying the batches sequentially."""
    import json as _json

    src = tmp_path / "cdc"
    src.mkdir()
    with open(src / "b1.json", "w") as fh:
        fh.write(_json.dumps({"k": 1, "seg": "seg1", "val": -1}) + "\n")
        fh.write(_json.dumps({"k": 200, "seg": "seg2", "val": 7}) + "\n")
    stream = spark.readStream.schema("k long, seg string, val long").json(str(src))
    q = table.start_stream_upsert(stream, str(tmp_path / "cdc_ck"))
    q.awaitTermination()
    got = _as_dict(table.read())
    assert got[1] == ("seg1", -1) and got[200] == ("seg2", 7) and len(got) == 31
    # second file, restart from checkpoint: only the new batch applies
    with open(src / "b2.json", "w") as fh:
        fh.write(_json.dumps({"k": 200, "seg": "seg2", "val": 8}) + "\n")
    q = table.start_stream_upsert(stream, str(tmp_path / "cdc_ck"))
    q.awaitTermination()
    got = _as_dict(table.read())
    assert got[200] == ("seg2", 8) and len(got) == 31


def test_upsert_moves_key_across_partitions(table, spark):
    """An update that changes a key's partition value must rewrite BOTH the
    old and the new partition — the old copy disappears, exactly one row
    per key survives."""
    r = table.upsert(
        spark.createDataFrame([(3, "seg2", 777)], "k long, seg string, val long")
    )
    got = _as_dict(table.read())
    assert got[3] == ("seg2", 777)
    assert len([k for k in got if k == 3]) == 1 and len(got) == 30
    # seg1 untouched -> carried; seg0 (old home) and seg2 (new home) rewritten
    man = table._current()
    carried_parts = {
        table._file_partition(f) for f in man["files"] if f.startswith("v1/")
    }
    assert "seg1" in carried_parts and "seg0" not in carried_parts and "seg2" not in carried_parts


def test_writer_lock_blocks_concurrent_mutation(table, spark):
    lock = os.path.join(table.path, ".write.lock")
    with open(lock, "w") as fh:
        fh.write("held")
    with pytest.raises(RuntimeError, match="another writer"):
        table.upsert(spark.createDataFrame([(1, "seg1", 0)], "k long, seg string, val long"))
    os.remove(lock)
    assert table.upsert(
        spark.createDataFrame([(1, "seg1", 0)], "k long, seg string, val long")
    )["version"] == 2


def test_vacuum_orphan_sweep_reclaims_dropped_carries(table, spark):
    """Files in a manifest-less directory (their version was vacuumed while
    carried) must be reclaimed once no surviving manifest references them —
    otherwise they leak forever."""
    table.upsert(spark.createDataFrame([(0, "seg0", 1)], "k long, seg string, val long"))
    table.vacuum(keep_versions=1)          # v1 manifest gone, seg1/seg2 files carried
    assert os.path.isdir(os.path.join(table.path, "v1"))
    table.write(table.read())              # v3: full snapshot, no carries
    r = table.vacuum(keep_versions=1)      # v2 doomed; v1 orphans now dead
    assert r["orphan_files_removed"] > 0, r
    assert not os.path.isdir(os.path.join(table.path, "v1"))
    assert table.read().count() == 30      # CURRENT unaffected


def test_stale_writer_lock_expires_without_lost_commit(table, spark, tmp_path):
    """A writer that CRASHED mid-commit (lock on disk, partial version
    files, CURRENT never swapped) must not wedge the table: a fresh lock
    blocks, a stale one (older than lock_stale_after) is taken over, the
    takeover commit succeeds, and the pre-crash committed state was never
    lost or mixed with the crashed attempt's partial files."""
    import time

    lock = os.path.join(table.path, ".write.lock")
    # simulate the crash: held lock + a partial, uncommitted v2 write
    with open(lock, "w") as fh:
        fh.write("{\"pid\": 999999}")
    partial = os.path.join(table.path, "v2", "delta")
    os.makedirs(partial, exist_ok=True)
    with open(os.path.join(partial, "part-crashed.parquet"), "w") as fh:
        fh.write("not parquet")
    up = spark.createDataFrame([(3, "seg0", 777)], "k long, seg string, val long")

    # fresh lock -> loud failure, nothing mutated
    with pytest.raises(RuntimeError, match="another writer"):
        table.upsert(up)
    assert table._current()["version"] == 1

    # age the lock past the staleness horizon -> takeover succeeds
    old = time.time() - table.lock_stale_after - 1
    os.utime(lock, (old, old))
    r = table.upsert(up)
    assert r["version"] == 2
    got = _as_dict(table.read())
    assert got[3] == ("seg0", 777)  # the takeover commit applied
    assert got[4] == ("seg1", 40)   # pre-crash state intact (no lost commit)
    # the crashed attempt's partial file is not referenced by any manifest
    assert not any("part-crashed" in f for f in table._current()["files"])
    # takeover released the lock; the next mutation proceeds normally
    assert not os.path.exists(lock)
    assert table.upsert(
        spark.createDataFrame([(5, "seg2", 1)], "k long, seg string, val long")
    )["version"] == 3


def test_stale_compaction_lock_expires(spark, tmp_path):
    """Same crash-recovery contract for the LogStore per-session lock."""
    import time

    from arrow_parquet_logs_spark.logstore import LogStore
    from arrow_parquet_logs_spark.logstore import locks as L

    store = LogStore(spark, str(tmp_path / "store"))
    store.write_logs("a", "s1", [
        {"timestamp": "2024-01-01T00:00:00Z", "level": "INFO", "message": "m1"}
    ])
    adir = store._part_dir(store._archive_root(), "a", "s1")
    os.makedirs(adir, exist_ok=True)
    lock = os.path.join(adir, ".compact.lock")
    with open(lock, "w") as fh:
        fh.write("held")
    with pytest.raises(RuntimeError, match="already in progress"):
        store.compact("a", "s1")
    old = time.time() - L.DEFAULT_STALE_AFTER - 1
    os.utime(lock, (old, old))
    assert store.compact("a", "s1")["compacted"]
    assert store.count(container="a", session="s1") == 1
    assert not os.path.exists(lock)


def test_schema_evolution_upsert_adds_column(table, spark):
    """An upsert may ADD columns: carried files lack them and must read as
    null under the manifest schema (no mergeSchema footer sweep); rewritten
    partitions carry the new values; time travel shows each version with
    ITS OWN schema."""
    up = spark.createDataFrame(
        [(1, "seg1", 111, "gold"), (99, "seg0", 990, "silver")],
        "k long, seg string, val long, label string",
    )
    table.upsert(up)
    cur = table.read()
    assert "label" in cur.columns
    got = {r.k: (r.val, r.label) for r in cur.collect()}
    assert got[1] == (111, "gold") and got[99] == (990, "silver")
    # rows in untouched (carried) partitions read label as null
    untouched = [k for k in range(30) if k % 3 == 2]
    assert all(got[k] == (k * 10, None) for k in untouched)
    # and rewritten-partition rows that weren't updated are null too
    assert got[4] == (40, None)
    # time travel: version 1 still has the original schema
    assert "label" not in table.read(version=1).columns
    # a later delete preserves the evolved schema
    table.delete_where(F.col("k") == 99)
    after = table.read()
    assert "label" in after.columns and 99 not in {r.k for r in after.collect()}


def test_schema_evolution_upsert_missing_column(table, spark):
    """Updates may OMIT columns (full-row MERGE replace): replaced rows get
    null for the omitted column, untouched rows keep their values."""
    up = spark.createDataFrame([(2, "seg2")], "k long, seg string")
    table.upsert(up)
    got = _as_dict(table.read())
    assert got[2] == ("seg2", None)  # replaced row: omitted val -> null
    assert got[5] == ("seg2", 50)  # untouched row keeps its value


def test_overrun_writer_does_not_remove_successor_lock(tmp_path):
    """A writer that overran stale_after (its lock stolen + replaced by a
    waiter) must NOT delete the successor's lock on exit — release is
    token-checked."""
    import json

    from arrow_parquet_logs_spark.logstore.locks import file_lock

    lock = str(tmp_path / "l.lock")
    with file_lock(lock, "busy"):
        # simulate the takeover: successor removed our stale lock and
        # re-acquired with its own token while we were still running
        os.remove(lock)
        with open(lock, "w") as fh:
            json.dump({"token": "successor"}, fh)
    with open(lock) as fh:
        assert json.load(fh)["token"] == "successor"  # left untouched
    os.remove(lock)
    # and a clean acquire/release still removes its own lock
    with file_lock(lock, "busy"):
        assert os.path.exists(lock)
    assert not os.path.exists(lock)


def test_stale_takeover_restores_displaced_fresh_lock(tmp_path, monkeypatch):
    """TOCTOU guard: if a concurrent waiter completes its takeover between
    our stat and our rename, we displaced a FRESH lock — it must be
    restored and the takeover reported as failed."""
    import json
    import time

    from arrow_parquet_logs_spark.logstore import locks as L

    lock = str(tmp_path / "l.lock")
    with open(lock, "w") as fh:
        fh.write("{}")
    old = time.time() - L.DEFAULT_STALE_AFTER - 10
    os.utime(lock, (old, old))

    real_rename = os.rename

    def racing_rename(src, dst):
        # interleave: the concurrent winner sweeps the stale lock and
        # O_EXCL-creates its fresh one just before our rename lands
        # (create while the old file still exists so the inode differs,
        # as a real O_EXCL re-acquire would)
        fresh = src + ".fresh"
        with open(fresh, "w") as fh:
            json.dump({"token": "winner"}, fh)
        os.replace(fresh, src)
        real_rename(src, dst)

    monkeypatch.setattr(L.os, "rename", racing_rename)
    assert L._takeover_if_stale(lock, L.DEFAULT_STALE_AFTER) is False
    monkeypatch.undo()
    # the displaced fresh lock is back in place, content intact
    with open(lock) as fh:
        assert json.load(fh)["token"] == "winner"
    # no stray claim temp files left behind
    assert [p for p in os.listdir(tmp_path) if ".stale-" in p] == []


def test_stale_takeover_identity_match_removes_and_reacquires(tmp_path):
    """The normal stale path: same inode as observed -> expired, removed,
    and file_lock acquires on retry."""
    import time

    from arrow_parquet_logs_spark.logstore import locks as L

    lock = str(tmp_path / "l.lock")
    with open(lock, "w") as fh:
        fh.write("{}")
    old = time.time() - L.DEFAULT_STALE_AFTER - 10
    os.utime(lock, (old, old))
    with L.file_lock(lock, "busy"):
        assert os.path.exists(lock)
    assert not os.path.exists(lock)
    assert [p for p in os.listdir(tmp_path) if ".stale-" in p] == []


@pytest.mark.scale
def test_optimize_bin_packs_small_files(table, spark):
    """N micro-upserts accumulate one file per partition per commit;
    optimize() rewrites each multi-file partition into a bounded file
    count as a DATA-IDENTICAL new version, keeps time travel to every
    pre-optimize version, and carries single-file partitions by
    reference."""
    for i in range(5):
        table.upsert(
            spark.createDataFrame([(i, "seg0", 1000 + i)], "k long, seg string, val long")
        )
    man = table._current()
    seg0_files = [f for f in man["files"] if table._file_partition(f) == "seg0"]
    assert len(seg0_files) > 1, "upserts should have accumulated seg0 files"
    before = _as_dict(table.read())
    v_before = man["version"]

    r = table.optimize()
    assert r["version"] == v_before + 1
    assert r["rewritten_partitions"] >= 1
    # data identical
    assert _as_dict(table.read()) == before
    # hot partition packed to ceil(bytes/target)=1 file
    man2 = table._current()
    seg0_after = [f for f in man2["files"] if table._file_partition(f) == "seg0"]
    assert len(seg0_after) == 1, seg0_after
    # time travel to the pre-optimize version intact
    assert _as_dict(table.read(version=v_before)) == before
    # a second optimize on an already-packed table is a no-op commit-wise
    r2 = table.optimize()
    assert r2.get("noop") and r2["version"] == r["version"]
    # vacuum later reclaims the small files without touching CURRENT
    table.vacuum(keep_versions=1)
    assert _as_dict(table.read()) == before


def test_optimize_unpartitioned_and_snapshot_isolation(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "u"), key_cols=["k"])
    for i in range(4):
        t.upsert(spark.createDataFrame([(i, i * 10)], "k long, val long"))
    before = {r.k: r.val for r in t.read().collect()}
    v_before = t._current()["version"]
    # snapshot isolation: a reader's plan captured before optimize still
    # resolves (old files remain until vacuum)
    old_reader = t.read(version=v_before)
    r = t.optimize()
    assert r["version"] == v_before + 1
    assert {x.k: x.val for x in t.read().collect()} == before
    assert len(t._current()["files"]) == 1
    assert {x.k: x.val for x in old_reader.collect()} == before


@pytest.mark.scale
def test_stream_upsert_auto_optimize(spark, tmp_path):
    """CDC stream with optimize_every: file count stays bounded across
    many micro-batch commits."""
    import glob as _glob

    src = str(tmp_path / "src")
    os.makedirs(src)
    t = VersionedTable(spark, str(tmp_path / "t2"), key_cols=["k"], partition_col="seg")
    t.write(spark.createDataFrame([(0, "seg0", 0), (1, "seg1", 1)], "k long, seg string, val long"))
    for i in range(4):
        spark.createDataFrame(
            [(100 + i, "seg0", i)], "k long, seg string, val long"
        ).write.mode("append").parquet(src)
    stream = spark.readStream.schema("k long, seg string, val long").option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    q = t.start_stream_upsert(stream, str(tmp_path / "ckpt"), optimize_every=2)
    q.awaitTermination(120)
    got = {r.k for r in t.read().collect()}
    assert {0, 1, 100, 101, 102, 103} <= got
    man = t._current()
    seg0_files = [f for f in man["files"] if t._file_partition(f) == "seg0"]
    # without auto-optimize this would be ~5 files; bounded by compaction
    assert len(seg0_files) <= 2, seg0_files


def test_changes_cdf_between_versions(table, spark):
    """changes(v_from, v_to): inserts, deletes, and pre/post update images
    between any two time-travelable versions; a no-change pair is empty;
    schema evolution surfaces as updates with the new column."""
    table.upsert(
        spark.createDataFrame(
            [(3, "seg0", 999), (100, "seg0", 111)], "k long, seg string, val long"
        )
    )  # v2: update k=3, insert k=100
    table.delete_where(F.col("k") == 7)  # v3: delete k=7
    ch = table.changes(1, 3)
    got = {(r.k, r._change_type): (r.seg, r.val) for r in ch.collect()}
    assert got[(100, "insert")] == ("seg0", 111)
    assert got[(7, "delete")] == ("seg1", 70)
    assert got[(3, "update_preimage")] == ("seg0", 30)
    assert got[(3, "update_postimage")] == ("seg0", 999)
    assert len(got) == 4
    # identical versions -> empty feed
    assert table.changes(3, 3).count() == 0
    # evolution: adding a column surfaces as an update with the new value
    table.upsert(
        spark.createDataFrame([(4, "seg1", 40, "gold")], "k long, seg string, val long, label string")
    )  # v4
    ch2 = {(r.k, r._change_type): r.label for r in table.changes(3, 4).collect()}
    assert ch2[(4, "update_postimage")] == "gold"
    assert ch2[(4, "update_preimage")] is None


def test_rewrite_scan_is_manifest_pruned(table):
    """The rewrite-side scan of upsert/delete/optimize must open ONLY the
    affected partitions' files — the manifest is the partition index; no
    full-table filter scan at rewrite time."""
    man = table._current()
    seg0 = [f for f in man["files"] if table._file_partition(f) == "seg0"]
    df = table._read_manifest_files(man, seg0)
    got = {
        os.path.relpath(p.replace("file:", ""), table.path) for p in df.inputFiles()
    }
    assert got == set(seg0)
    assert df.count() == 10  # the k % 3 == 0 rows
    # empty selection: zero-row frame under the manifest schema, not a crash
    empty = table._read_manifest_files(man, [])
    assert empty.count() == 0 and set(empty.columns) == {"k", "seg", "val"}


def _lock_stress_worker(lockpath, counterpath, iters):
    import time as _time

    from arrow_parquet_logs_spark.logstore.locks import file_lock

    for _ in range(iters):
        while True:
            try:
                with file_lock(lockpath, "busy", stale_after=60):
                    with open(counterpath) as fh:
                        v = int(fh.read())
                    _time.sleep(0.0005)  # widen the race window
                    with open(counterpath, "w") as fh:
                        fh.write(str(v + 1))
                break
            except RuntimeError:
                _time.sleep(0.0005)


def test_file_lock_mutual_exclusion_stress(tmp_path):
    """8 processes x 25 critical sections under the lock: a read-modify-
    write counter tears if two writers ever hold the lock together — the
    end count proves mutual exclusion under real contention (including
    the token-checked release and identity-checked takeover paths)."""
    import multiprocessing as mp

    lockpath = str(tmp_path / "l.lock")
    counter = str(tmp_path / "counter")
    with open(counter, "w") as fh:
        fh.write("0")
    procs = [
        mp.Process(target=_lock_stress_worker, args=(lockpath, counter, 25))
        for _ in range(8)
    ]
    for p in procs:
        p.start()
    for p in procs:
        p.join(timeout=120)
        assert p.exitcode == 0
    with open(counter) as fh:
        assert int(fh.read()) == 8 * 25
    assert not os.path.exists(lockpath)


def test_restore_rolls_back_without_copying(table, spark):
    """restore(v): a bad commit rolls back as a NEW version referencing the
    old files — no data copied, the bad version stays time-travelable, and
    a later vacuum keeps every file the restore still references."""
    bad = spark.createDataFrame([(0, "seg0", -1)], "k long, seg string, val long")
    table.upsert(bad)  # v2: the mistake
    before = _as_dict(table.read(version=1))
    r = table.restore(1)
    assert r["version"] == 3 and r["restored_from"] == 1
    assert _as_dict(table.read()) == before           # rolled back
    assert _as_dict(table.read(version=2))[0] == ("seg0", -1)  # audit trail
    # restore wrote no new data files
    assert not any(f.startswith("v3/") for f in table._current()["files"])
    # vacuum keeps the restored (v1) files alive via the v3 references
    table.vacuum(keep_versions=1)
    assert _as_dict(table.read()) == before
    with pytest.raises(ValueError, match="no version 99"):
        table.restore(99)


def test_changes_cdf_key_only_table(spark, tmp_path):
    """CDF on a table whose schema is keys-only (no value columns): inserts
    and deletes still report; the update classes cannot occur."""
    t = VersionedTable(spark, str(tmp_path / "ko"), key_cols=["k"])
    t.write(spark.createDataFrame([(1,), (2,)], "k long"))
    t.upsert(spark.createDataFrame([(3,)], "k long"))
    t.delete_where(F.col("k") == 1)
    got = {(r.k, r._change_type) for r in t.changes(1, 3).collect()}
    assert got == {(3, "insert"), (1, "delete")}


# ---- optimistic concurrency ------------------------------------------------

def test_disjoint_upserts_commit_without_conflict(table, spark):
    """Two upserts staged from the SAME snapshot, touching disjoint
    partitions: the second commits by REBASE (carrying the first's files),
    no retry, and both changes land."""
    man0 = table._current()
    up_a = spark.createDataFrame([(3, "seg0", 999)], "k long, seg string, val long")
    up_b = spark.createDataFrame([(4, "seg1", 888)], "k long, seg string, val long")
    plan_a = table._stage_upsert(up_a, man0)
    plan_b = table._stage_upsert(up_b, man0)   # data writes fully overlap
    with table._mutate_lock():
        ra = table._commit_staged(plan_a, table._current())
    assert ra["version"] == man0["version"] + 1 and not ra["rebased"]
    man1 = table._current()
    assert not table._upsert_conflicts(man0, man1, plan_b)
    with table._mutate_lock():
        rb = table._commit_staged(plan_b, man1)
    assert rb["version"] == man0["version"] + 2 and rb["rebased"]
    got = _as_dict(table.read())
    assert got[3] == ("seg0", 999) and got[4] == ("seg1", 888) and len(got) == 30


def test_overlapping_upsert_retries_exactly_once(table, spark):
    """A commit landing on the SAME partition between an upsert's stage and
    its commit forces exactly one retry; the retry re-merges against the
    new snapshot so both writes survive, last-writer-wins per key."""
    stage_calls = {"n": 0}
    orig = table._stage_upsert

    def hooked(updates, man):
        plan = orig(updates, man)
        if stage_calls["n"] == 0:
            stage_calls["n"] += 1
            # competing writer commits an overlapping (seg0) upsert while
            # our data write is "in flight"
            t2 = VersionedTable(table.spark, table.path, key_cols=["k"], partition_col="seg")
            t2.upsert(
                table.spark.createDataFrame(
                    [(6, "seg0", 606)], "k long, seg string, val long"
                )
            )
        stage_calls["n"] += 1
        return plan

    table._stage_upsert = hooked
    base = table._current()["version"]
    r = table.upsert(
        table.spark.createDataFrame([(3, "seg0", 303)], "k long, seg string, val long")
    )
    assert stage_calls["n"] == 3        # first stage + hook + retried stage
    assert r["version"] == base + 2     # competitor committed base+1
    got = _as_dict(table.read())
    assert got[3] == ("seg0", 303) and got[6] == ("seg0", 606)


def test_disjoint_interleaved_upsert_rebases_without_retry(table, spark):
    """Same interleaving as above but the competing commit touches a
    DIFFERENT partition: no retry (one staging), rebase commit."""
    stage_calls = {"n": 0}
    orig = table._stage_upsert

    def hooked(updates, man):
        plan = orig(updates, man)
        if stage_calls["n"] == 0:
            t2 = VersionedTable(table.spark, table.path, key_cols=["k"], partition_col="seg")
            t2.upsert(
                table.spark.createDataFrame(
                    [(4, "seg1", 404)], "k long, seg string, val long"
                )
            )
        stage_calls["n"] += 1
        return plan

    table._stage_upsert = hooked
    base = table._current()["version"]
    r = table.upsert(
        table.spark.createDataFrame([(3, "seg0", 303)], "k long, seg string, val long")
    )
    assert stage_calls["n"] == 1 and r["rebased"]
    assert r["version"] == base + 2
    got = _as_dict(table.read())
    assert got[3] == ("seg0", 303) and got[4] == ("seg1", 404)


def test_threaded_disjoint_upserts_both_succeed(table, spark):
    """True concurrency: four threads upserting four different partitions'
    keys in parallel; every change lands, versions advance by four."""
    import threading

    base = table._current()["version"]
    errs = []

    def w(i):
        try:
            t = VersionedTable(table.spark, table.path, key_cols=["k"], partition_col="seg")
            t.upsert(
                spark.createDataFrame(
                    [(1000 + i, f"seg{i % 3}", i)], "k long, seg string, val long"
                )
            )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts = [threading.Thread(target=w, args=(i,)) for i in range(4)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    assert table._current()["version"] == base + 4
    got = _as_dict(table.read())
    for i in range(4):
        assert got[1000 + i] == (f"seg{i % 3}", i)


def test_concurrent_dv_delete_conflicts_upsert_no_resurrect(table, spark):
    """A delete_where_dv landing between an upsert's stage and its commit
    moves NO data files — the partition map alone can't see it — but the
    staged rewrite anti-joined only the old snapshot's DV, so a rebase
    would resurrect the concurrently-tombstoned rows. The DV delta must
    force a retry; after it, both the delete and the upsert hold."""
    stage_calls = {"n": 0}
    orig = table._stage_upsert

    def hooked(updates, man):
        plan = orig(updates, man)
        if stage_calls["n"] == 0:
            # concurrent DV delete of k=4 (seg1 — DISJOINT from the
            # upsert's seg0, so the partition-map check alone passes)
            t2 = VersionedTable(table.spark, table.path, key_cols=["k"], partition_col="seg")
            t2.delete_where_dv(F.col("k") == 4)
        stage_calls["n"] += 1
        return plan

    table._stage_upsert = hooked
    base = table._current()["version"]
    r = table.upsert(
        spark.createDataFrame([(3, "seg0", 303)], "k long, seg string, val long")
    )
    assert stage_calls["n"] == 2          # DV delta conflicted: one retry
    assert r["version"] == base + 2       # dv commit was base+1
    got = _as_dict(table.read())
    assert got[3] == ("seg0", 303)
    assert 4 not in got                    # tombstoned row did NOT resurrect


def test_concurrent_constraint_add_conflicts_upsert_revalidates(table, spark):
    """An add_constraint landing between an upsert's stage and its commit
    must conflict: the input was validated against the OLD constraint set,
    and committing would carry the new constraint over unvalidated data.
    The retry re-validates — a violating input now fails loudly instead of
    landing under a constraint it breaks."""
    stage_calls = {"n": 0}
    orig = table._stage_upsert

    def hooked(updates, man):
        plan = orig(updates, man)
        if stage_calls["n"] == 0:
            t2 = VersionedTable(table.spark, table.path, key_cols=["k"], partition_col="seg")
            t2.add_constraint("val_nonneg", "val >= 0")
        stage_calls["n"] += 1
        return plan

    table._stage_upsert = hooked
    with pytest.raises(ValueError, match="val_nonneg"):
        table.upsert(
            spark.createDataFrame([(3, "seg0", -5)], "k long, seg string, val long")
        )
    assert stage_calls["n"] == 1          # staged once; retry failed validation
    got = _as_dict(table.read())
    assert got[3] == ("seg0", 30)         # violating upsert never landed
    # a clean input still commits under the new constraint
    table._stage_upsert = orig
    table.upsert(spark.createDataFrame([(3, "seg0", 7)], "k long, seg string, val long"))
    assert _as_dict(table.read())[3] == ("seg0", 7)


def test_conflict_loser_staged_files_cleaned_and_vacuumed(table, spark):
    """A staged dir abandoned by a crashed writer is swept by vacuum once
    aged past the staleness horizon — but never while referenced or young."""
    man0 = table._current()
    plan = table._stage_upsert(
        spark.createDataFrame([(3, "seg0", 1)], "k long, seg string, val long"), man0
    )
    sdir = os.path.join(table.path, "_staged", plan["token"])
    assert os.path.isdir(sdir)
    table.vacuum(keep_versions=1)
    assert os.path.isdir(sdir)          # young: kept
    # age every staged file past the horizon
    import time
    old = time.time() - table.lock_stale_after - 10
    for root, _, fs in os.walk(sdir):
        for f in fs:
            os.utime(os.path.join(root, f), (old, old))
    table.vacuum(keep_versions=1)
    assert not os.path.isdir(sdir)      # aged orphan: swept


# ---- manifest column stats / data skipping --------------------------------

def test_stats_prune_point_read_to_one_file(spark, tmp_path):
    """A keyed point read via read_where opens O(1) files of a multi-file
    version (manifest min/max pruning), with results identical to the
    unpruned filter, and time travel intact."""
    t = VersionedTable(spark, str(tmp_path / "s"), key_cols=["k"])
    df = spark.createDataFrame(
        [(k, k * 10) for k in range(800)], "k long, val long"
    ).repartitionByRange(8, "k")
    t.write(df)
    man = t._current()
    assert len(man["files"]) == 8 and man.get("stats")
    pruned = t._prune_files(man, [("k", "=", 5)])
    assert len(pruned) == 1, pruned
    got = {r.k: r.val for r in t.read_where([("k", "=", 5)]).collect()}
    assert got == {5: 50}
    # range predicate: a fraction of files, exact rows
    pr = t._prune_files(man, [("k", ">=", 700)])
    assert len(pr) <= 2
    assert t.read_where([("k", ">=", 700)]).count() == 100
    # stats survive an upsert: carried files keep theirs, new files get theirs
    t.upsert(spark.createDataFrame([(5, -5)], "k long, val long"))
    got2 = {r.k: r.val for r in t.read_where([("k", "=", 5)]).collect()}
    assert got2 == {5: -5}
    # time travel reads the old value through the same pruned path
    got1 = {r.k: r.val for r in t.read_where([("k", "=", 5)], version=1).collect()}
    assert got1 == {5: 50}


def test_stats_prune_timestamp_predicates(spark, tmp_path):
    """Timestamp min/max stats prune a time-range read; string-literal and
    datetime predicates agree."""
    import datetime as dt

    t = VersionedTable(spark, str(tmp_path / "ts"), key_cols=["k"])
    rows = [(k, dt.datetime(2024, 1, 1 + k // 100, 12, 0, 0)) for k in range(300)]
    df = spark.createDataFrame(rows, "k long, ts timestamp").repartitionByRange(3, "ts")
    t.write(df)
    man = t._current()
    pruned = t._prune_files(man, [("ts", ">=", "2024-01-03T00:00:00")])
    assert len(pruned) == 1, (pruned, man.get("stats"))
    assert t.read_where([("ts", ">=", "2024-01-03T00:00:00")]).count() == 100
    assert t.read_where([("ts", ">=", dt.datetime(2024, 1, 3))]).count() == 100


def test_changes_with_predicates_prunes_and_matches(table, spark):
    """Predicate-scoped CDF equals the full CDF filtered to the predicate,
    for a key-range question."""
    table.upsert(
        spark.createDataFrame(
            [(3, "seg0", 111), (4, "seg1", 222)], "k long, seg string, val long"
        )
    )
    full = {
        (r.k, r._change_type): r.val
        for r in table.changes(1, 2).where("k = 3").collect()
    }
    scoped = {
        (r.k, r._change_type): r.val
        for r in table.changes(1, 2, predicates=[("k", "=", 3)]).collect()
    }
    assert scoped == full
    assert (3, "update_postimage") in {(k, c) for k, c in scoped}


def test_optimize_zorder_tightens_stats_pruning(spark, tmp_path):
    """OPTIMIZE ZORDER BY + manifest stats composition: hash-partitioned
    files span the full key range (stats prune nothing); after a Z-order
    rewrite each file covers a tight key envelope and a point read opens
    O(1) of them. Data identical throughout."""
    t = VersionedTable(spark, str(tmp_path / "z"), key_cols=["k"])
    df = spark.createDataFrame(
        [(k, float(k % 977)) for k in range(4000)], "k long, v double"
    ).repartition(8)  # hash layout: every file spans ~the full key range
    t.write(df)
    man = t._current()
    assert len(man["files"]) == 8
    pre = t._prune_files(man, [("k", "=", 42)])
    assert len(pre) == len(man["files"])  # nothing prunable

    total = sum(os.path.getsize(os.path.join(t.path, f)) for f in man["files"])
    r = t.optimize(target_file_bytes=total // 8 + 1, zorder_cols=["k"])
    assert r["rewritten_files"] >= 4, r
    man2 = t._current()
    post = t._prune_files(man2, [("k", "=", 42)])
    assert len(post) <= 2, (len(post), len(man2["files"]))
    got = {row.k: row.v for row in t.read_where([("k", "=", 42)]).collect()}
    assert got == {42: 42.0}
    assert t.read().count() == 4000
    # range scan also prunes
    rng_files = t._prune_files(man2, [("k", ">=", 3500)])
    assert len(rng_files) < len(man2["files"])
    assert t.read_where([("k", ">=", 3500)]).count() == 500


# ---- deletion vectors (merge-on-read deletes) -------------------------------


def test_dv_delete_no_rewrite_and_read_paths(table):
    """delete_where_dv removes rows from read()/read_where() WITHOUT
    touching any data file (manifest file list identical, 0 rewrites);
    a second DV delete merges; already-dead rows are not re-counted."""
    files_before = table._current()["files"]
    r = table.delete_where_dv(F.col("k").isin(3, 6, 100))  # 100 absent
    assert r == {"version": 2, "rows_deleted": 2, "rewritten_files": 0}
    assert table._current()["files"] == files_before
    got = _as_dict(table.read())
    assert 3 not in got and 6 not in got and len(got) == 28
    # read_where (stats-pruned path) honors the DV too
    keyed = table.read_where([("k", "=", 3)])
    assert keyed.count() == 0
    # second delete merges with the first; re-deleting k=3 adds nothing
    r2 = table.delete_where_dv(F.col("k").isin(3, 9))
    assert r2["rows_deleted"] == 1
    got = _as_dict(table.read())
    assert {3, 6, 9}.isdisjoint(got) and len(got) == 27
    # time travel: v1 has all rows, v2 is missing exactly {3, 6}
    assert len(_as_dict(table.read(version=1))) == 30
    assert set(_as_dict(table.read(version=2))) == set(range(30)) - {3, 6}


def test_dv_delete_cdf_and_upsert_no_resurrect(table, spark):
    """changes() emits the DV-deleted rows as deletes; a later upsert that
    rewrites the affected partition does NOT resurrect them (the rewrite
    scan reads through the DV), and carried partitions keep tombstones."""
    table.delete_where_dv(F.col("k").isin(3, 4))  # seg0 and seg1
    ch = {(r.k, r._change_type) for r in table.changes(1, 2).collect()}
    assert ch == {(3, "delete"), (4, "delete")}
    # upsert rewrites seg0 only; k=3 (seg0) must stay dead post-rewrite,
    # k=4 (seg1, carried file + carried DV) must stay dead too
    table.upsert(spark.createDataFrame([(0, "seg0", -1)], "k long, seg string, val long"))
    got = _as_dict(table.read())
    assert 3 not in got and 4 not in got and got[0] == ("seg0", -1)
    assert len(got) == 28


def test_dv_optimize_retires_tombstones_and_vacuum_keeps_dv(table, spark):
    """OPTIMIZE materializes the post-DV rows into fresh files (the DV rows
    for rewritten files become inert); vacuum keeps carried DV parquet
    files alive while any surviving manifest references them; restore
    re-attaches the DV of the restored version."""
    table.delete_where_dv(F.col("k") < 6)
    before = set(_as_dict(table.read()))
    table.optimize(target_file_bytes=1 << 30, min_files=1)
    assert set(_as_dict(table.read())) == before
    # restore back to the DV version: tombstones still apply
    table.restore(2)
    assert set(_as_dict(table.read())) == before
    # vacuum down to the last version; the carried DV files must survive
    # while the manifest references them
    man = table._current()
    assert man.get("dv"), man
    table.vacuum(keep_versions=1)
    for f in man.get("dv_files", []):
        assert os.path.exists(os.path.join(table.path, f)), f
    assert set(_as_dict(table.read())) == before


# ---- commit timestamps: history() and AS-OF time travel ---------------------


def test_history_and_as_of_timestamp(table, spark):
    """Every commit carries a strictly increasing wall-clock; read(as_of=)
    resolves the version live at that instant; boundary semantics are
    at-or-before; pre-first-commit instants raise; version+as_of together
    raise."""
    import datetime

    import pytest as _pytest

    table.delete_where_dv(F.col("k") < 3)          # v2
    table.upsert(spark.createDataFrame([(0, "seg0", -5)], "k long, seg string, val long"))  # v3
    hist = table.history()
    assert [h["version"] for h in hist] == [1, 2, 3]
    stamps = [h["committed_at"] for h in hist]
    assert all(s is not None for s in stamps) and stamps == sorted(stamps)
    assert hist[1]["has_dv"] and not hist[0]["has_dv"]
    # as_of exactly at v2's commit -> v2 (at-or-before); just before -> v1
    assert table.version_as_of(stamps[1]) == 2
    t1 = datetime.datetime.fromisoformat(stamps[1]) - datetime.timedelta(microseconds=1)
    assert table.version_as_of(t1) == 1
    assert table.read(as_of=stamps[0]).count() == 30           # v1: all rows
    assert table.read(as_of=stamps[1]).count() == 27           # v2: DV-deleted 3
    # far future -> CURRENT
    assert table.version_as_of("2999-01-01T00:00:00+00:00") == 3
    with _pytest.raises(ValueError, match="at or before"):
        table.version_as_of("1999-01-01T00:00:00+00:00")
    with _pytest.raises(ValueError, match="not both"):
        table.read(version=1, as_of=stamps[0])


def test_as_of_survives_vacuum_and_restore(table, spark):
    """vacuum prunes history (as_of to a pruned instant raises, never
    silently resolves wrong); restore commits a NEW version with a NEW
    timestamp, so as_of just before the restore still sees the pre-restore
    state."""
    import pytest as _pytest

    table.delete_where(F.col("k") < 10)   # v2 (rewrite delete)
    table.upsert(spark.createDataFrame([(29, "seg9", 0)], "k long, seg string, val long"))  # v3
    pre = [h["committed_at"] for h in table.history()]
    table.restore(1)                      # v4 = content of v1
    assert table.version_as_of(pre[2]) == 3
    assert table.read(as_of=pre[2]).count() == 20
    assert table.read().count() == 30
    table.vacuum(keep_versions=1)
    with _pytest.raises(ValueError, match="at or before"):
        table.version_as_of(pre[0])


def test_dv_rows_tracked_and_broadcast_gate(table):
    """Manifests carry the cumulative tombstone count; shrinking the
    broadcast cap flips the read-side anti-join to the planner-chosen
    form with identical results (the mass-delete safety valve)."""
    table.delete_where_dv(F.col("k") < 4)
    table.delete_where_dv(F.col("k").isin(4, 5))
    man = table._current()
    assert man["dv_rows"] == 6
    want = set(_as_dict(table.read()))
    old = type(table).DV_BROADCAST_MAX_ROWS
    try:
        type(table).DV_BROADCAST_MAX_ROWS = 0  # force the non-broadcast regime
        assert set(_as_dict(table.read())) == want
    finally:
        type(table).DV_BROADCAST_MAX_ROWS = old


# ---- shallow clone ---------------------------------------------------------

def _parquet_bytes_under(root):
    total = 0
    for dirpath, _, fs in os.walk(root):
        for f in fs:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(dirpath, f))
    return total


def test_clone_is_zero_copy_and_reads_identically(table, spark, tmp_path):
    clone = table.clone_to(str(tmp_path / "c"))
    assert _as_dict(clone.read()) == _as_dict(table.read())
    # zero data copied: no parquet under the clone root (no DV here)
    assert _parquet_bytes_under(str(tmp_path / "c")) == 0
    assert clone._current()["cloned_from"]["version"] == 1


def test_clone_mutations_are_independent_both_ways(table, spark, tmp_path):
    clone = table.clone_to(str(tmp_path / "c"))
    # clone-side upsert copy-on-writes only the touched partition
    clone.upsert(spark.createDataFrame([(3, "seg0", 777)], "k long, seg string, val long"))
    assert _as_dict(clone.read())[3] == ("seg0", 777)
    assert _as_dict(table.read())[3] == ("seg0", 30)  # source untouched
    man = clone._current()
    carried = [f for f in man["files"] if os.path.isabs(f)]
    local = [f for f in man["files"] if not os.path.isabs(f)]
    assert carried and local  # untouched partitions stay absolute refs
    # source-side evolution is invisible to the clone (snapshot pinning)
    table.upsert(spark.createDataFrame([(4, "seg1", 888)], "k long, seg string, val long"))
    assert _as_dict(clone.read())[4] == ("seg1", 40)


def test_clone_carries_deletion_vector_remapped(table, spark, tmp_path):
    table.delete_where_dv("k = 7")
    clone = table.clone_to(str(tmp_path / "c"))
    got = _as_dict(clone.read())
    assert 7 not in got and len(got) == 29
    # and the clone can stack its own DV deletes on top
    clone.delete_where_dv("k = 8")
    assert 8 not in _as_dict(clone.read())
    assert 8 in _as_dict(table.read())  # source unaffected


def test_clone_validation_and_vacuum_safety(table, spark, tmp_path):
    with pytest.raises(ValueError, match="itself"):
        table.clone_to(table.path)
    clone = table.clone_to(str(tmp_path / "c"))
    with pytest.raises(ValueError, match="not an empty table"):
        table.clone_to(str(tmp_path / "c"))
    # clone's vacuum must never delete under the source root
    clone.upsert(spark.createDataFrame([(3, "seg0", 1)], "k long, seg string, val long"))
    clone.upsert(spark.createDataFrame([(3, "seg0", 2)], "k long, seg string, val long"))
    before = _parquet_bytes_under(table.path)
    clone.vacuum(keep_versions=1)
    assert _parquet_bytes_under(table.path) == before
    assert _as_dict(clone.read())[3] == ("seg0", 2)


# ---- CHECK constraints -----------------------------------------------------

def test_constraint_blocks_bad_writes_and_certifies_existing(table, spark):
    from arrow_parquet_logs_spark.logstore.table import ConstraintViolation

    table.add_constraint("val_nonneg", "val >= 0")
    man = table._current()
    assert man["constraints"] == {"val_nonneg": "val >= 0"}
    # violating upsert: refused before anything stages, table unchanged
    v_before = man["version"]
    with pytest.raises(ConstraintViolation, match="val_nonneg"):
        table.upsert(spark.createDataFrame([(3, "seg0", -1)], "k long, seg string, val long"))
    assert table._current()["version"] == v_before
    assert _as_dict(table.read())[3] == ("seg0", 30)
    # valid upsert passes, and the constraint survives the commit
    table.upsert(spark.createDataFrame([(3, "seg0", 5)], "k long, seg string, val long"))
    assert table._current()["constraints"] == {"val_nonneg": "val >= 0"}
    # adding a constraint the EXISTING data violates is refused
    with pytest.raises(ConstraintViolation, match="val_small"):
        table.add_constraint("val_small", "val < 100")
    # NULL passes (SQL CHECK semantics): val IS NULL is not FALSE
    table.add_constraint("seg_known", "seg LIKE 'seg%'")
    table.upsert(
        spark.createDataFrame([(200, "seg1", None)], "k long, seg string, val long")
    )
    assert _as_dict(table.read())[200] == ("seg1", None)


def test_constraint_drop_and_clone_carry(table, spark, tmp_path):
    from arrow_parquet_logs_spark.logstore.table import ConstraintViolation

    table.add_constraint("val_nonneg", "val >= 0")
    clone = table.clone_to(str(tmp_path / "c"))
    with pytest.raises(ConstraintViolation):
        clone.upsert(spark.createDataFrame([(1, "seg1", -5)], "k long, seg string, val long"))
    clone.drop_constraint("val_nonneg")
    clone.upsert(spark.createDataFrame([(1, "seg1", -5)], "k long, seg string, val long"))
    assert _as_dict(clone.read())[1] == ("seg1", -5)
    # dropping on the clone never affects the source
    with pytest.raises(ConstraintViolation):
        table.upsert(spark.createDataFrame([(1, "seg1", -5)], "k long, seg string, val long"))
    with pytest.raises(ValueError, match="no constraint"):
        table.drop_constraint("nope")
    with pytest.raises(ValueError, match="identifier"):
        table.add_constraint("bad name", "val >= 0")
    with pytest.raises(ValueError, match="already exists"):
        table.add_constraint("val_nonneg", "val >= 1")


# ---- integrity verify ------------------------------------------------------

def test_verify_clean_tampered_and_missing(table, spark):
    assert table.verify() == {
        "ok": True, "version": 1, "files_checked": len(table._current()["files"]),
        "missing": [], "unreadable": [], "stats_mismatch": [], "dv_ok": True,
    }
    table.delete_where_dv("k = 5")
    assert table.verify()["ok"] is True and table.verify()["dv_ok"] is True
    man = table._current()
    # tamper: truncate one data file -> unreadable (parquet magic gone)
    victim = os.path.join(table.path, man["files"][0])
    orig = open(victim, "rb").read()
    with open(victim, "wb") as fh:
        fh.write(orig[: len(orig) // 2])
    r = table.verify()
    assert r["ok"] is False and r["unreadable"] == [man["files"][0]]
    # remove it entirely -> missing
    os.remove(victim)
    r = table.verify()
    assert r["ok"] is False and r["missing"] == [man["files"][0]]
    with open(victim, "wb") as fh:
        fh.write(orig)  # restore
    assert table.verify()["ok"] is True
    # dv accounting: a vanished DV file flips dv_ok
    dvf = os.path.join(table.path, man["dv_files"][0])
    dv_orig = open(dvf, "rb").read()
    os.remove(dvf)
    assert table.verify()["dv_ok"] is False
    with open(dvf, "wb") as fh:
        fh.write(dv_orig)
    assert table.verify()["ok"] is True
    # historic versions are auditable too
    assert table.verify(version=1)["ok"] is True


def test_verify_catches_stats_drift(table, spark):
    """A file swapped for a VALID parquet with different contents must
    surface as stats_mismatch — the corruption pruned reads can't survive."""
    man = table._current()
    victim = next(f for f in man["files"] if f in man.get("stats", {}))
    other = spark.createDataFrame(
        [(99999, "seg0", 1)], "k long, seg string, val long"
    )
    import tempfile
    tmp = tempfile.mkdtemp()
    other.coalesce(1).write.mode("overwrite").parquet(tmp)
    swapped = next(
        os.path.join(tmp, f) for f in os.listdir(tmp) if f.endswith(".parquet")
    )
    dst = os.path.join(table.path, victim)
    orig = open(dst, "rb").read()
    with open(dst, "wb") as fh:
        fh.write(open(swapped, "rb").read())
    r = table.verify()
    assert r["ok"] is False and victim in r["stats_mismatch"]
    with open(dst, "wb") as fh:
        fh.write(orig)
    assert table.verify()["ok"] is True


# ---- incremental manifests / checkpointing ---------------------------------

def test_manifest_growth_sublinear_1000_commits(spark, tmp_path):
    """1000 steady-state CDC commits (one file swapped per commit over a
    500-file table): incremental manifests keep total manifest storage
    sub-linear in versions x files — deltas record the CHANGE, full
    checkpoints land every MANIFEST_CHECKPOINT_EVERY commits — and any
    version resolves to exactly the state a full manifest would record."""
    t = VersionedTable(spark, str(tmp_path / "g"), key_cols=["k"])
    width = 500
    live = {f"v1/f{i}.parquet" for i in range(width)}
    stats = {f: {"k": {"lo": i, "hi": i, "t": "num"}} for i, f in enumerate(sorted(live))}
    schema = {"type": "struct", "fields": [{"name": "k", "type": "long",
                                            "nullable": True, "metadata": {}}]}
    states = {}
    for v in range(1, 1001):
        if v > 1:
            dropped = sorted(live)[v % width]
            live.discard(dropped)
            stats.pop(dropped, None)
            added = f"v{v}/f0.parquet"
            live.add(added)
            stats[added] = {"k": {"lo": v, "hi": v + 1, "t": "num"}}
        t._commit({"version": v, "files": sorted(live), "schema": schema,
                   "stats": dict(stats)})
        if v in (1, 17, 250, 777, 1000):
            states[v] = (sorted(live), dict(stats))
    # resolution correctness at spot versions (incl. delta + checkpoint slots)
    for v, (files, st) in states.items():
        man = t._manifest_at(v)
        assert man["files"] == files and man["stats"] == st and man["version"] == v
    assert t._current()["files"] == states[1000][0]
    # growth pin: deltas are O(change), checkpoints O(width). With one swap
    # per commit, total bytes must be far below 1000 full manifests; pin at
    # <20% of the all-full counterfactual (measured ~12%).
    import glob as _glob
    total = sum(os.path.getsize(p) for p in _glob.glob(str(tmp_path / "g" / "v*" / "MANIFEST.json")))
    full_size = os.path.getsize(str(tmp_path / "g" / "v1000" / "MANIFEST.json"))
    assert str(open(str(tmp_path / "g" / "v1000" / "MANIFEST.json")).read()).find('"format": "delta"') == -1
    assert total < 0.2 * (1000 * full_size), (total, full_size)
    # a non-checkpoint manifest really is a delta and is small
    import json

    raw999 = json.load(open(str(tmp_path / "g" / "v999" / "MANIFEST.json")))
    assert raw999["format"] == "delta" and len(raw999["adds"]) == 1 and len(raw999["removes"]) == 1


@pytest.mark.scale
def test_manifest_vacuum_materializes_survivor_deltas(table, spark):
    """vacuum must never break a surviving version whose incremental
    manifest chains through a vacuumed parent: survivors are materialized
    to full manifests first, and reads/time travel/restore stay exact."""
    # build a delta chain: v1 full (checkpoint slot rules: v2..v9 deltas)
    for i in range(5):
        table.upsert(spark.createDataFrame([(3, "seg0", 100 + i)],
                                           "k long, seg string, val long"))
    assert table._current()["version"] == 6
    raw = table._read_manifest_raw("v6")
    assert raw.get("format") == "delta"        # chain exists
    before = _as_dict(table.read())
    v5 = _as_dict(table.read(version=5))
    table.vacuum(keep_versions=2)              # v1..v4 manifests go
    # survivors were materialized: no delta format remains among survivors
    for v in table.versions():
        assert table._read_manifest_raw(f"v{v}").get("format") != "delta"
    assert _as_dict(table.read()) == before    # current intact
    assert _as_dict(table.read(version=5)) == v5  # kept time travel intact
    r = table.restore(5)                       # restore over vacuumed chain
    assert _as_dict(table.read()) == v5 and r["restored_from"] == 5
    assert table.verify()["ok"]


@pytest.mark.scale
def test_reader_racing_vacuum_retries_via_materialized_child(table, spark):
    """ADVICE r6: a lock-free reader that loaded a surviving DELTA manifest
    before vacuum materialized it must not crash walking the chain into a
    vacuumed parent — _resolve_manifest re-reads the survivor from disk
    (vacuum materializes survivors BEFORE deleting parents, so the re-read
    finds the full form). Simulated by capturing the raw delta dict, then
    vacuuming, then resolving the stale dict."""
    for i in range(5):
        table.upsert(spark.createDataFrame([(3, "seg0", 200 + i)],
                                           "k long, seg string, val long"))
    stale = table._read_manifest_raw("v6")
    assert stale.get("format") == "delta"
    expected = table._resolve_manifest(dict(stale))  # resolved pre-vacuum
    table.vacuum(keep_versions=2)                    # parents v1..v4 gone
    import os
    assert not os.path.exists(os.path.join(table.path, "v4", "MANIFEST.json"))
    got = table._resolve_manifest(dict(stale))       # stale dict, post-vacuum
    assert got["files"] == expected["files"]
    assert got.get("stats", {}) == expected.get("stats", {})
    # a stale delta for a version that was ITSELF vacuumed propagates the
    # genuine missing-version error (not an infinite retry)
    stale_doomed = dict(stale)
    stale_doomed["version"] = 3
    stale_doomed["parent"] = 2
    with pytest.raises(FileNotFoundError):
        table._resolve_manifest(stale_doomed)


@pytest.mark.scale
def test_cdc_feed_maintains_lsh_index_append_equals_rebuild(spark, tmp_path):
    """The dedup_lsh_cdc_merge composition at unit scale: MERGE commits
    drive the incremental MinHash index through the change feed, and the
    CDC-maintained index must equal a from-scratch rebuild over the final
    table state as a (sid, band_key) multiset; the accumulated pairs must
    equal the one-shot full-corpus run."""
    from arrow_parquet_logs_spark.logstore.table import VersionedTable
    from arrow_parquet_logs_spark.operators.dedup import (
        append_to_minhash_index,
        materialize_minhash_index,
        minhash_lsh_pairs,
        minhash_pairs_incremental,
    )

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [(i, base + f" tail{i % 4}") for i in range(30)]
    rows += [(i, f"unique document {i} words entirely of its own kind here") for i in range(30, 45)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    t = VersionedTable(spark, str(tmp_path / "tbl"), key_cols=["doc_id"])
    t.write(docs.where("doc_id % 3 = 0"))
    idx = str(tmp_path / "idx")
    materialize_minhash_index(t.read(), idx)
    pairs = {
        (r.a_id, r.b_id): round(r.jaccard, 9)
        for r in minhash_lsh_pairs(t.read(), collapse_exact=False).collect()
    }
    for i in (1, 2):
        pre_v = t.history()[-1]["version"]
        t.upsert(docs.where(f"doc_id % 3 = {i}"))
        feed = t.changes(pre_v, t.history()[-1]["version"])
        ins = feed.where("_change_type = 'insert'").select("doc_id", "text")
        inc = minhash_pairs_incremental(spark, idx, ins, t.read(version=pre_v))
        for r in inc.collect():
            key = (r.a_id, r.b_id)
            assert key not in pairs, f"pair {key} found twice across commits"
            pairs[key] = round(r.jaccard, 9)
        append_to_minhash_index(ins, idx)

    want = {
        (r.a_id, r.b_id): round(r.jaccard, 9)
        for r in minhash_lsh_pairs(docs, collapse_exact=False).collect()
    }
    assert pairs == want and len(want) > 0

    rebuilt = str(tmp_path / "idx2")
    materialize_minhash_index(t.read(), rebuilt)
    a = sorted(map(tuple, spark.read.parquet(idx).collect()))
    b = sorted(map(tuple, spark.read.parquet(rebuilt).collect()))
    assert a == b


def test_cluster_maintain_merge_rewrites_only_touched(spark, tmp_path):
    """VERDICT r9 #1 end-to-end scope pin: folding a bridging commit's
    pairs into a cluster-state VersionedTable via MERGE produces a change
    feed that touches exactly the merged clusters' members and the new
    endpoint — nothing else is rewritten."""
    from arrow_parquet_logs_spark.logstore.table import VersionedTable
    from arrow_parquet_logs_spark.operators.dedup import update_clusters_incremental

    t = VersionedTable(spark, str(tmp_path / "clusters"), key_cols=["doc_id"])
    t.write(
        spark.createDataFrame(
            [(1, 1), (2, 1), (5, 5), (6, 5), (8, 8), (9, 8)],
            "doc_id long, cluster_id long",
        )
    )
    pre = t.history()[-1]["version"]
    upd = update_clusters_incremental(
        t.read(), spark.createDataFrame([(2, 7), (5, 7)], "a_id long, b_id long")
    )
    t.upsert(upd)
    feed = t.changes(pre, t.history()[-1]["version"]).collect()
    by_type: dict = {}
    for r in feed:
        by_type.setdefault(r["_change_type"], set()).add((r.doc_id, r.cluster_id))
    assert by_type.get("insert") == {(7, 1)}
    assert by_type.get("update_postimage") == {(5, 1), (6, 1)}
    assert by_type.get("update_preimage") == {(5, 5), (6, 5)}
    assert "delete" not in by_type
