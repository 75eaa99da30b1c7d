"""Arrow IPC migration source, response envelope, salted skew operators."""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from arrow_parquet_logs_spark.logstore import LogStore
from arrow_parquet_logs_spark.operators.relational import salted_agg, salted_join
from arrow_parquet_logs_spark.sources.arrow_ipc import read_arrow_ipc, write_arrow_ipc
from arrow_parquet_logs_spark.sources.tables import load_table


def _buffer_table(messages, session="s1", start_sec=0):
    schema = pa.schema(
        [
            pa.field("timestamp", pa.timestamp("us", tz="UTC")),
            pa.field("level", pa.string()),
            pa.field("message", pa.string()),
            pa.field("container", pa.string()),
            pa.field("session", pa.string()),
        ]
    )
    n = len(messages)
    return pa.table(
        {
            "timestamp": pa.array(
                [dt.datetime(2024, 1, 1, 0, 0, start_sec + i, tzinfo=dt.timezone.utc) for i in range(n)],
                type=schema.field(0).type,
            ),
            "level": ["INFO"] * n,
            "message": messages,
            "container": ["a"] * n,
            "session": [session] * n,
        },
        schema=schema,
    )


def test_read_arrow_ipc_roundtrip(spark, tmp_path):
    p = str(tmp_path / "buffer-0001.arrow")
    write_arrow_ipc(_buffer_table(["m1", "m2"]), p)
    df = read_arrow_ipc(spark, [p])
    assert [r.message for r in df.orderBy("timestamp").collect()] == ["m1", "m2"]
    with pytest.raises(ValueError):
        read_arrow_ipc(spark, [])


def test_import_arrow_buffers_into_logstore(spark, tmp_path):
    """Reference hot-tier migration: .arrow buffers → landing tier →
    ordinary reads and exactly-once compaction."""
    p1, p2 = str(tmp_path / "buffer-0001.arrow"), str(tmp_path / "buffer-0002.arrow")
    write_arrow_ipc(_buffer_table(["m1", "m2"]), p1)
    write_arrow_ipc(_buffer_table(["m3"], start_sec=10), p2)
    store = LogStore(spark, str(tmp_path / "store"))
    assert store.import_arrow_buffers("a", "s1", [p1, p2]) == 3
    assert [r["message"] for r in store.read_logs(container="a", session="s1")] == ["m1", "m2", "m3"]
    store.compact("a", "s1")
    assert store.count(container="a", session="s1") == 3


def test_read_response_envelope(spark, tmp_path):
    store = LogStore(spark, str(tmp_path / "store"))
    empty = store.read_response("a", "s1")
    assert empty == {"logs": [], "total_rows": 0, "files_scanned": 0, "filter": {"start_ts": None, "end_ts": None}}
    store.write_logs("a", "s1", [{"timestamp": "2024-01-01T00:00:00Z", "level": "I", "message": "m"}])
    resp = store.read_response("a", "s1", start_ts="2024-01-01 00:00:00")
    assert resp["total_rows"] == 1 and resp["files_scanned"] == 1
    assert resp["filter"]["start_ts"] == "2024-01-01 00:00:00"


def test_salted_agg_matches_direct(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    direct = {
        (r.l_returnflag): (r.n, r.q)
        for r in li.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("l_quantity").cast("decimal(12,2)")).alias("q"))
        .collect()
    }
    salted = {
        (r.l_returnflag): (r.n, r.q)
        for r in salted_agg(
            li,
            ["l_returnflag"],
            [F.count(F.lit(1)).alias("pn"), F.sum(F.col("l_quantity").cast("decimal(12,2)")).alias("pq")],
            [F.sum("pn").alias("n"), F.sum("pq").alias("q")],
        ).collect()
    }
    assert salted == direct


def test_salted_join_matches_direct(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    direct = li.join(orders, "l_orderkey").count()
    assert salted_join(li, orders, "l_orderkey", salt=4).count() == direct


def test_orc_roundtrip_pushdown_and_fidelity(spark, tmp_path, sf_dir):
    """ORC source: written partitioned ORC reads back with (a) the partition
    filter pruning directories, (b) the data filter pushed to the ORC scan,
    and (c) bit-identical values vs the parquet original."""
    from pyspark.sql import functions as F

    from arrow_parquet_logs_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    root = str(tmp_path / "orc")
    orders.write.mode("overwrite").partitionBy("o_orderstatus").orc(root)

    back = spark.read.orc(root)
    q = back.where(
        (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 100000.0)
    ).select("o_orderkey", "o_totalprice")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "o_totalprice" in plan.split("PushedFilters")[1][:200]
    # partition filter must NOT appear as a data filter (it prunes dirs)
    got = sorted((r["o_orderkey"], r["o_totalprice"]) for r in q.collect())
    want = sorted(
        (r["o_orderkey"], r["o_totalprice"])
        for r in orders.where(
            (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 100000.0)
        ).select("o_orderkey", "o_totalprice").collect()
    )
    assert got == want and len(got) > 0

    # timestamp fidelity through ORC under the pinned UTC session
    a = sorted(r["o_orderdate"] for r in back.select("o_orderdate").collect())
    b = sorted(r["o_orderdate"] for r in orders.select("o_orderdate").collect())
    assert a == b


@pytest.mark.scale
def test_interval_overlap_pair_budget_guard(spark):
    """The opt-in density guard prices Σ|a_cell|·|b_cell| exactly and
    fails LOUDLY when the bucketized join would be quadratic; under
    budget it returns the identical overlap pairs."""
    import datetime as dt

    from arrow_parquet_logs_spark.operators.relational import interval_overlap_join

    def ts(h):
        return dt.datetime(2024, 1, 1) + dt.timedelta(hours=h)

    a = spark.createDataFrame(
        [(i, ts(0), ts(20)) for i in range(40)], "a_key long, s timestamp, e timestamp"
    )
    b = spark.createDataFrame(
        [(i, ts(10), ts(30)) for i in range(40)], "b_key long, s timestamp, e timestamp"
    )
    # all intervals share the same day cells: candidates = sum na*nb = 40*40*shared_cells
    with pytest.raises(ValueError, match="pair_budget"):
        interval_overlap_join(a, b, pair_budget=100)
    ok = interval_overlap_join(a, b, pair_budget=10_000)
    unguarded = interval_overlap_join(a, b)
    assert sorted(map(tuple, ok.collect())) == sorted(map(tuple, unguarded.collect()))
    assert ok.count() == 1600  # every pair genuinely overlaps (10:00-20:00)
