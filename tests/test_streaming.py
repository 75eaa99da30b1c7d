"""Streaming tier: availableNow ingest into the LogStore layout,
read-your-writes, watermarked windowed aggs, custom stateful operator."""

from __future__ import annotations

import json

import pytest

from arrow_parquet_logs_spark.logstore import LogStore
from arrow_parquet_logs_spark.streaming import run_windowed_counts_once, start_ingest, start_quarantine
from arrow_parquet_logs_spark.streaming.stateful import track_session_counts
from arrow_parquet_logs_spark.streaming.ingest import read_log_stream


def _write_batch(src, name, rows):
    with open(src / name, "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")


@pytest.fixture()
def src(tmp_path):
    d = tmp_path / "incoming"
    d.mkdir()
    _write_batch(
        d,
        "b1.json",
        [
            {"timestamp": "2024-01-01T00:00:00Z", "level": "INFO", "message": "m1", "container": "a", "session": "s1"},
            {"timestamp": "2024-01-01T00:01:00Z", "level": "ERROR", "message": "m2", "container": "a", "session": "s1"},
            {"timestamp": "2024-01-01T00:07:00Z", "level": "INFO", "message": "m3", "container": "a", "session": "s2"},
        ],
    )
    return d


def test_stream_ingest_lands_in_logstore(spark, tmp_path, src):
    store_root = str(tmp_path / "store")
    q = start_ingest(spark, str(src), store_root, str(tmp_path / "ckpt"))
    q.awaitTermination()
    store = LogStore(spark, store_root)
    rows = store.read_logs(container="a", session="s1")
    assert [r["message"] for r in rows] == ["m1", "m2"]
    # partitionBy strips container/session from file data — the read path
    # must restore them (regression: they came back as None)
    assert [(r["container"], r["session"]) for r in rows] == [("a", "s1")] * 2
    # and session-only filtering must actually filter
    assert {r["session"] for r in store.read_logs(session="s2")} == {"s2"}
    # second micro-batch: restart with same checkpoint → no reprocessing dupes
    _write_batch(
        src,
        "b2.json",
        [{"timestamp": "2024-01-01T00:02:00Z", "level": "INFO", "message": "m4", "container": "a", "session": "s1"}],
    )
    q2 = start_ingest(spark, str(src), store_root, str(tmp_path / "ckpt"))
    q2.awaitTermination()
    assert [r["message"] for r in store.read_logs(container="a", session="s1")] == ["m1", "m2", "m4"]
    # streamed rows then compact exactly-once — and the archive must carry
    # real keys, not NULLs baked from partition-stripped files
    store.compact("a", "s1")
    assert store.count(container="a", session="s1") == 3
    archived = store.read_logs(container="a", session="s1")
    assert {(r["container"], r["session"]) for r in archived} == {("a", "s1")}


def test_poison_rows_quarantined_not_fatal(spark, tmp_path, src):
    """A malformed timestamp must not wedge the micro-batch (ANSI cast would
    throw and the file would be retried forever) — it is filtered from the
    landing stream and captured by the quarantine stream."""
    _write_batch(
        src,
        "poison.json",
        [
            {"timestamp": "garbage", "level": "INFO", "message": "bad-ts", "container": "a", "session": "s1"},
            {"level": "INFO", "message": "no-ts", "container": "a", "session": "s1"},
        ],
    )
    store_root = str(tmp_path / "store")
    q = start_ingest(spark, str(src), store_root, str(tmp_path / "ckpt"))
    q.awaitTermination()
    store = LogStore(spark, store_root)
    assert [r["message"] for r in store.read_logs(container="a", session="s1")] == ["m1", "m2"]
    qq = start_quarantine(spark, str(src), str(tmp_path / "quar"), str(tmp_path / "ckq"))
    qq.awaitTermination()
    quar = spark.read.parquet(str(tmp_path / "quar"))
    assert {r.message for r in quar.collect()} == {"bad-ts", "no-ts"}
    assert {r.reject_reason for r in quar.collect()} == {"bad_timestamp"}


def test_windowed_level_counts(spark, src):
    out = run_windowed_counts_once(spark, str(src), query_name="t_wlc")
    rows = {(r.window_start.isoformat(), r.level): r.n for r in out.collect()}
    assert rows[("2024-01-01T00:00:00", "INFO")] == 1
    assert rows[("2024-01-01T00:00:00", "ERROR")] == 1
    assert rows[("2024-01-01T00:05:00", "INFO")] == 1


def test_stream_dedup_within_watermark(spark, tmp_path, src):
    """Producer-retry duplicates collapse to one row inside the watermark."""
    from arrow_parquet_logs_spark.streaming.ingest import dedup_log_stream

    _write_batch(
        src,
        "dup.json",
        [
            {"timestamp": "2024-01-01T00:00:00Z", "level": "INFO", "message": "m1", "container": "a", "session": "s1"},
            {"timestamp": "2024-01-01T00:09:00Z", "level": "INFO", "message": "fresh", "container": "a", "session": "s1"},
        ],
    )
    q = (
        dedup_log_stream(read_log_stream(spark, str(src)))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_dedup")
        .option("checkpointLocation", str(tmp_path / "ckd"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    msgs = sorted(r.message for r in spark.table("t_dedup").collect())
    assert msgs.count("m1") == 1  # the duplicate collapsed
    assert "fresh" in msgs


def test_stateful_session_counts(spark, tmp_path, src):
    stream = read_log_stream(spark, str(src))
    q = (
        track_session_counts(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("t_state")
        .option("checkpointLocation", str(tmp_path / "state_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {(r.container, r.session): r.total_rows for r in spark.table("t_state").collect()}
    assert rows == {("a", "s1"): 2, ("a", "s2"): 1}


def test_stream_stream_error_context_join(spark, tmp_path, src):
    """Stream-stream interval join ≡ the same join run as batch: every ERROR
    paired with same-session non-error rows within the 5-minute lookback."""
    from pyspark.sql import functions as F

    from arrow_parquet_logs_spark.streaming.ingest import error_context_join

    _write_batch(
        src,
        "b2.json",
        [
            # context rows inside / outside the 5-min lookback of m2's error
            {"timestamp": "2024-01-01T00:00:30Z", "level": "WARN", "message": "w1", "container": "a", "session": "s1"},
            {"timestamp": "2023-12-31T23:54:00Z", "level": "INFO", "message": "old", "container": "a", "session": "s1"},
            # same-timestamp, different session — must NOT join
            {"timestamp": "2024-01-01T00:00:30Z", "level": "WARN", "message": "w2", "container": "a", "session": "s2"},
            # a second error with its own context
            {"timestamp": "2024-01-01T00:08:00Z", "level": "ERROR", "message": "e2", "container": "a", "session": "s2"},
        ],
    )
    stream = read_log_stream(spark, str(src))
    out_dir, ckpt = str(tmp_path / "joined"), str(tmp_path / "jckpt")
    q = (
        error_context_join(stream, stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r.session, r.e_message, r.c_message)
        for r in spark.read.parquet(out_dir).collect()
    )

    # batch oracle: identical join over the same files, no streaming machinery
    batch = spark.read.json(str(src)).select(
        F.try_to_timestamp("timestamp").alias("timestamp"), "level", "message", "container", "session"
    )
    e = batch.where(F.col("level") == "ERROR").selectExpr(
        "container AS e_container", "session AS e_session", "timestamp AS e_ts", "message AS e_message"
    )
    c = batch.where(F.col("level") != "ERROR").selectExpr(
        "container AS c_container", "session AS c_session", "timestamp AS c_ts", "message AS c_message"
    )
    expected = sorted(
        (r.e_session, r.e_message, r.c_message)
        for r in e.join(
            c,
            (F.col("e_container") == F.col("c_container"))
            & (F.col("e_session") == F.col("c_session"))
            & (F.col("c_ts") >= F.col("e_ts") - F.expr("INTERVAL 5 minutes"))
            & (F.col("c_ts") <= F.col("e_ts")),
        ).collect()
    )
    assert got == expected
    assert ("s1", "m2", "w1") in got  # in-window context joined
    assert all(m != "old" for _, _, m in got)  # outside lookback excluded
    assert all(not (s == "s1" and m == "w2") for s, _, m in got)  # session isolation


def test_bad_names_quarantined_not_escaped(spark, tmp_path):
    """Container/session values outside the store's strict charset must not
    reach partitionBy (which URL-escapes them onto disk as 'a%3Ab' — a name
    that never round-trips through the catalog). They are filtered from the
    landing stream and quarantined with reject_reason=bad_name."""
    d = tmp_path / "incoming"
    d.mkdir()
    _write_batch(
        d,
        "b1.json",
        [
            {"timestamp": "2024-01-01T00:00:00Z", "level": "INFO", "message": "ok", "container": "a", "session": "s1"},
            {"timestamp": "2024-01-01T00:01:00Z", "level": "INFO", "message": "colon", "container": "a:b", "session": "s1"},
            {"timestamp": "2024-01-01T00:02:00Z", "level": "INFO", "message": "dots", "container": "a", "session": ".."},
            {"timestamp": "2024-01-01T00:03:00Z", "level": "INFO", "message": "noname", "container": None, "session": "s1"},
        ],
    )
    store_root = str(tmp_path / "store")
    q = start_ingest(spark, str(d), store_root, str(tmp_path / "ckpt"))
    q.awaitTermination()
    store = LogStore(spark, store_root)
    assert [r["message"] for r in store.read_logs()] == ["ok"]
    assert store.list_containers() == ["a"]
    qq = start_quarantine(spark, str(d), str(tmp_path / "quar"), str(tmp_path / "ckq"))
    qq.awaitTermination()
    quar = {r.message: r.reject_reason for r in spark.read.parquet(str(tmp_path / "quar")).collect()}
    assert quar == {"colon": "bad_name", "dots": "bad_name", "noname": "bad_name"}


def test_production_rollup_sink_append_equals_batch(spark, tmp_path, sf_dir):
    """The production rollup path (append mode + watermark → dt-partitioned
    parquet) must emit exactly the batch answer for every window the
    watermark closed, and emit each window once. Windows inside the final
    watermark horizon legitimately stay open on a finite input."""
    from pyspark.sql import functions as F

    from arrow_parquet_logs_spark.sources.tables import load_table, read_events_stream
    from arrow_parquet_logs_spark.streaming import start_hourly_rollup

    stream = read_events_stream(spark, sf_dir)
    out = str(tmp_path / "rollup")
    q = start_hourly_rollup(stream, out, str(tmp_path / "ck"))
    q.awaitTermination()

    got = {
        (r.window_start, r.n_events, r.dt)
        for r in spark.read.parquet(out).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    batch = (
        ev.groupBy(F.date_trunc("hour", "ts").alias("window_start"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .withColumn("dt", F.to_date("window_start"))
    )
    want_all = {(r.window_start, r.n_events, r.dt) for r in batch.collect()}
    # emitted rows are a subset of the batch answer, bitwise
    assert got <= want_all, got - want_all
    # every window the watermark provably closed was emitted
    from datetime import timedelta

    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    wm = max_ts - timedelta(hours=2)
    closed = {t for t in want_all if t[0] + timedelta(hours=1) < wm}
    assert closed <= got, sorted(closed - got)[:5]
    # no duplicate emission (exactly-once via the file-sink commit log)
    n_rows = spark.read.parquet(out).count()
    assert n_rows == len(got)
    # dt partition directories exist (file-level pruning for readers)
    import os

    assert any(d.startswith("dt=") for d in os.listdir(out)), os.listdir(out)


def test_streaming_heavy_hitters_misra_gries(spark, tmp_path):
    """Bounded-state streaming top-k: the Misra-Gries summary must (a) hold
    at most k counters per key, (b) bracket every reported token's true
    count, and (c) contain EVERY token whose true frequency exceeds
    N/(k+1) — checked against exact batch counts over the same files."""
    import collections

    from pyspark.sql import functions as F

    from arrow_parquet_logs_spark.streaming.stateful import track_heavy_hitters

    d = tmp_path / "incoming"
    d.mkdir()
    words = (["the"] * 40 + ["quick"] * 25 + ["fox"] * 12 + ["lazy"] * 6
             + [f"rare{i}" for i in range(30)])
    rows = [
        {"timestamp": f"2024-01-01T00:{i//60:02d}:{i%60:02d}Z", "level": "INFO",
         "message": w, "container": "a", "session": "s1"}
        for i, w in enumerate(words)
    ]
    _write_batch(d, "b1.json", rows[: len(rows) // 2])
    _write_batch(d, "b2.json", rows[len(rows) // 2 :])
    stream = read_log_stream(spark, str(d)).select(
        "container", F.explode(F.split("message", " ")).alias("token")
    )
    k = 8
    q = (
        track_heavy_hitters(stream, k=k)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("t_hh")
        .option("checkpointLocation", str(tmp_path / "hh_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # last emission per token wins (update mode re-emits refined brackets)
    got = {}
    for r in spark.table("t_hh").collect():
        got[r.token] = (r.min_count, r.max_count)
    spark.catalog.dropTempView("t_hh")
    assert len(got) <= k
    true = collections.Counter(words)
    n = len(words)
    for tok, (lo, hi) in got.items():
        assert lo <= true[tok] <= hi, (tok, lo, true[tok], hi)
    for tok, cnt in true.items():
        if cnt > n / (k + 1):
            assert tok in got, (tok, cnt, got)


def test_ts_normalizer_covers_every_storage_drift(spark, tmp_path, sf_dir):
    """The r2 regression was a timestamp *storage* drift in driver parquet
    (µs NTZ where r1 shipped ns longs) hitting a streaming path that
    duplicated the normalization ladder. Pin the whole family in one place:

    1. every driver table with an event-time-able column streams through
       ``normalize_ts_for_streaming`` and analyzes under ``withWatermark``;
    2. synthetic parquet in each physical shape Spark can surface — long
       ns, TIMESTAMP_NTZ µs, TIMESTAMP (LTZ) µs — drains through the
       production rollup agg to the same counts.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from arrow_parquet_logs_spark.sources.tables import normalize_ts_for_streaming

    # --- 1. driver tables: analysis must succeed on every timestamp column
    for name, col in [("events", "ts"), ("orders", "o_orderdate"), ("lineitem", "l_shipdate")]:
        raw_schema = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
        stream = (
            spark.readStream.schema(raw_schema)
            .option("pathGlobFilter", f"{name}.parquet")
            .parquet(sf_dir)
        )
        norm = normalize_ts_for_streaming(stream, col)
        assert norm.schema[col].dataType.typeName() == "timestamp", (name, col)
        # withWatermark is analysis-time: EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE
        # surfaces here if the normalizer missed a shape
        norm.withWatermark(col, "1 hour").groupBy(F.window(col, "1 hour")).count()

    # --- 2. synthetic drift corpus: same instants in three physical shapes
    micros = [1704067200_000_000 + i * 600_000_000 for i in range(18)]  # 3h of 10-min ticks
    shapes = {
        "ns_long": pa.table({"ts": pa.array([m * 1000 for m in micros], pa.int64())}),
        "ntz_us": pa.table({"ts": pa.array(micros, pa.timestamp("us"))}),
        "ltz_us": pa.table({"ts": pa.array(micros, pa.timestamp("us", tz="UTC"))}),
    }
    counts = {}
    for shape, tbl in shapes.items():
        d = tmp_path / shape
        d.mkdir()
        pq.write_table(tbl, d / "part.parquet")
        raw_schema = spark.read.parquet(str(d)).schema
        stream = spark.readStream.schema(raw_schema).parquet(str(d))
        from arrow_parquet_logs_spark.streaming import start_hourly_rollup

        out = str(tmp_path / f"out_{shape}")
        q = start_hourly_rollup(stream, out, str(tmp_path / f"ck_{shape}"), watermark="0 seconds")
        q.awaitTermination()
        counts[shape] = sorted(
            (r.window_start, r.n_events) for r in spark.read.parquet(out).collect()
        )
    assert counts["ns_long"] == counts["ntz_us"] == counts["ltz_us"], counts


@pytest.mark.scale
def test_rollup_upsert_materialized_view(spark, sf_dir, tmp_path):
    """Update-mode rollup → VersionedTable MERGE commits: after the stream
    drains, the table equals the batch rollup EXACTLY — including windows
    the watermark never closed (append mode withholds those) — and a
    checkpointed restart re-MERGEs nothing new (idempotent final state)."""
    import os

    from pyspark.sql import functions as F

    from arrow_parquet_logs_spark.logstore.table import VersionedTable
    from arrow_parquet_logs_spark.sources.tables import load_table
    from arrow_parquet_logs_spark.streaming.rollup import start_rollup_upsert

    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") < 20000)
    src = str(tmp_path / "src")
    # split source files by TIME (a real stream arrives roughly in event-time
    # order): an id-interleaved split would make every later file "late"
    # beyond the watermark and the state store would rightly drop it
    for lo, hi in (("2024-01-01", "2024-01-11"), ("2024-01-11", "2024-01-21"),
                   ("2024-01-21", "2024-02-01")):
        ev.where(
            (F.col("ts") >= F.lit(lo).cast("timestamp"))
            & (F.col("ts") < F.lit(hi).cast("timestamp"))
        ).select("event_id", "ts").coalesce(1).write.mode("append").parquet(src)
    t = VersionedTable(
        spark, str(tmp_path / "rollup_t"), key_cols=["window_start"], partition_col="dt"
    )
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = start_rollup_upsert(stream, t, str(tmp_path / "ckpt"))
    q.awaitTermination(300)

    batch = (
        ev.groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("window.start").alias("window_start"), "n_events")
    )
    got = {r.window_start: r.n_events for r in t.read().collect()}
    exp = {r.window_start: r.n_events for r in batch.collect()}
    assert got == exp and got  # open windows included
    v_before = t._current()["version"]
    # restart: checkpoint replays nothing — no new version commits
    q = start_rollup_upsert(stream, t, str(tmp_path / "ckpt"))
    q.awaitTermination(300)
    assert t._current()["version"] == v_before
    assert {r.window_start: r.n_events for r in t.read().collect()} == exp


def test_transform_with_state_tracker_or_loud_gate(spark, tmp_path):
    """Spark 4 ``transformWithStateInPandas`` tracker: when the protobuf-6
    worker runtime exists the streaming snapshot must equal the batch
    aggregate under hostile micro-batch slicing; when it does not (this
    sandbox), the operator must refuse LOUDLY — never a silent fallback."""
    import pytest
    from pyspark.sql import functions as F

    from arrow_parquet_logs_spark.streaming.stateful import (
        track_user_spend,
        transform_with_state_available,
    )

    rows = [(1, "click", 150), (1, "view", 250), (2, "click", -50),
            (1, "click", 100), (2, "buy", -999), (3, "view", 0)]
    src = str(tmp_path / "src")
    df = spark.createDataFrame(rows, "user_id long, event_type string, cents long")
    df.repartition(3).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema("user_id long, event_type string, cents long")
        .option("maxFilesPerTrigger", 1)  # hostile slicing: one file per batch
        .parquet(src)
    )

    if not transform_with_state_available():
        with pytest.raises(NotImplementedError, match="protobuf"):
            track_user_spend(stream)
        return

    out = track_user_spend(stream)
    q = (
        out.writeStream.format("memory").queryName("tws_pytest")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    snap = spark.table("tws_pytest")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    final = {
        r["user_id"]: (r["n_events"], r["total_cents"], r["max_cents"], r["n_types"])
        for r in snap.withColumn("_rn", F.row_number().over(w))
        .where("_rn = 1").collect()
    }
    spark.catalog.dropTempView("tws_pytest")
    want = {
        r["user_id"]: (r["n"], r["t"], r["m"], r["k"])
        for r in df.groupBy("user_id").agg(
            F.count("*").alias("n"), F.sum("cents").alias("t"),
            F.max("cents").alias("m"), F.countDistinct("event_type").alias("k"),
        ).collect()
    }
    assert final == want


def test_drain_stream_zero_batch_returns_empty_frame(spark, sf_dir):
    """ADVICE r6: an availableNow stream that produces ZERO batches never
    creates the parquet sink directory — _drain_stream must still return a
    valid (empty) DataFrame with the declared schema, not path-not-found."""
    from arrow_parquet_logs_spark.queries.events import _drain_stream
    from arrow_parquet_logs_spark.sources.tables import read_events_stream
    from pyspark.sql import functions as F

    stream = read_events_stream(spark, sf_dir).where(F.lit(False)).select(
        "event_id", "event_type"
    )
    out = _drain_stream(stream, "drain_empty_")
    assert out.count() == 0
    assert out.columns == ["event_id", "event_type"]


@pytest.mark.scale
def test_stream_cluster_maintain_equals_batch_loop(spark, tmp_path):
    """VERDICT r10 #4: the foreachBatch form of CDC cluster maintenance.
    A pair stream folded through start_stream_cluster_maintain — including
    a STOP/RESUME across batches and an explicit replay of a committed
    batch — must land exactly the batch loop's cluster state, and the
    replay must be a measured no-op on both state rows and table version
    (the fold's idempotence + ledger skip, see apply_cluster_pairs_batch)."""
    import os

    from pyspark.sql import functions as F

    from arrow_parquet_logs_spark.logstore.table import VersionedTable
    from arrow_parquet_logs_spark.operators.dedup import (
        apply_cluster_pairs_batch,
        start_stream_cluster_maintain,
        update_clusters_incremental,
    )

    # three "commits" of pairs: fresh clusters, a bridging merge, growth
    batches = [
        [(1, 2), (5, 6)],
        [(2, 5), (8, 9)],          # bridges {1,2} and {5,6}
        [(9, 10), (1, 11)],
    ]
    src = tmp_path / "pairs_src"
    src.mkdir()

    def land(i):
        spark.createDataFrame(batches[i], "a_id long, b_id long").coalesce(
            1
        ).write.mode("overwrite").parquet(str(src / f"b{i}"))

    # batch-loop reference state
    ref: dict[int, int] = {}
    for chunk in batches:
        st = (
            spark.createDataFrame(list(ref.items()), "doc_id long, cluster_id long")
            if ref
            else None
        )
        upd = update_clusters_incremental(
            st, spark.createDataFrame(chunk, "a_id long, b_id long")
        )
        for r in upd.collect():
            ref[r.doc_id] = r.cluster_id

    cstate = VersionedTable(spark, str(tmp_path / "clusters"), key_cols=["doc_id"])
    ckpt = str(tmp_path / "ckpt")
    stream_src = (
        spark.readStream.schema("a_id long, b_id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "b*"))
    )

    # phase 1: first two commits, then STOP
    land(0)
    land(1)
    q = start_stream_cluster_maintain(cstate, stream_src, ckpt)
    q.awaitTermination(120)
    mid = {(r.doc_id, r.cluster_id) for r in cstate.read().collect()}
    assert mid, "first two batches must build state"

    # phase 2: RESUME from the same checkpoint with one more commit landed
    land(2)
    q = start_stream_cluster_maintain(cstate, stream_src, ckpt)
    q.awaitTermination(120)
    got = {r.doc_id: r.cluster_id for r in cstate.read().collect()}
    assert got == ref, f"stream-built state != batch loop: {got} vs {ref}"

    # explicit replay of a committed batch id: ledger-skips, state and
    # version untouched
    v_before = cstate.history()[-1]["version"]
    replay = spark.createDataFrame(batches[0], "a_id long, b_id long")
    assert not apply_cluster_pairs_batch(cstate, replay, 0, ckpt)
    assert cstate.history()[-1]["version"] == v_before
    assert {r.doc_id: r.cluster_id for r in cstate.read().collect()} == ref

    # the idempotence safety net itself (crash between MERGE and ledger
    # write): re-folding already-merged pairs through the RAW fold — no
    # ledger involved — must write nothing
    upd = update_clusters_incremental(cstate.read(), replay)
    assert upd.isEmpty()

    # a NEW batch id with genuinely new pairs still applies after all that
    fresh = spark.createDataFrame([(20, 21)], "a_id long, b_id long")
    assert apply_cluster_pairs_batch(cstate, fresh, 99, ckpt)
    assert cstate.read().where(F.col("doc_id") == 20).count() == 1
