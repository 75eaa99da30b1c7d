"""Avro Object Container File codec guarantees (sources/avro.py) — the
container layer is pure Python, so these run without a SparkSession.
Spark-side roundtrip coverage lives in the `source_avro_roundtrip` registry
query (driver-oracle-gated)."""

from __future__ import annotations

import datetime

import pytest

from arrow_parquet_logs_spark.sources.avro import (
    MAGIC,
    _zz_encode,
    parse_container,
    write_container,
)

SCHEMA = {
    "type": "record",
    "name": "row",
    "fields": [
        {"name": "id", "type": ["null", "long"]},
        {"name": "name", "type": ["null", "string"]},
        {"name": "score", "type": ["null", "double"]},
        {"name": "ts", "type": ["null", {"type": "long", "logicalType": "timestamp-micros"}]},
    ],
}


def _rows(n):
    return [
        {
            "id": (i - 3) * 1234567,  # negative and positive zigzag paths
            "name": None if i % 5 == 0 else f"nämé{i}✓",
            "score": i / 7.0,
            "ts": datetime.datetime(2024, 1, 1) + datetime.timedelta(minutes=i),
        }
        for i in range(n)
    ]


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_container_roundtrip(tmp_path, codec):
    p = str(tmp_path / "t.avro")
    rows = _rows(5000)
    n = write_container(p, SCHEMA, iter(rows), codec=codec, block_rows=700)
    sch, cod, it = parse_container(open(p, "rb").read())
    assert n == 5000 and cod == codec and sch["type"] == "record"
    assert list(it) == rows


def test_zigzag_varint_boundaries():
    # spec examples: 0→00, -1→01, 1→02, -2→03, 2147483647→fe ff ff ff 0f
    assert _zz_encode(0) == b"\x00"
    assert _zz_encode(-1) == b"\x01"
    assert _zz_encode(1) == b"\x02"
    assert _zz_encode(-2) == b"\x03"
    assert _zz_encode(2147483647) == bytes.fromhex("feffffff0f")
    assert _zz_encode(-2147483648) == bytes.fromhex("ffffffff0f")


def test_corrupt_sync_marker_is_loud(tmp_path):
    p = str(tmp_path / "t.avro")
    write_container(p, SCHEMA, iter(_rows(100)), codec="null", block_rows=50)
    data = bytearray(open(p, "rb").read())
    data[-1] ^= 0xFF  # flip a bit in the final sync marker
    _, _, it = parse_container(bytes(data))
    with pytest.raises(ValueError, match="sync marker"):
        list(it)


def test_truncated_file_is_loud(tmp_path):
    p = str(tmp_path / "t.avro")
    write_container(p, SCHEMA, iter(_rows(100)), codec="null")
    data = open(p, "rb").read()
    _, _, it = parse_container(data[: len(data) - 9])
    with pytest.raises(EOFError):
        list(it)


def test_not_avro_is_loud():
    with pytest.raises(ValueError, match="not an Avro"):
        parse_container(b"PAR1" + b"\x00" * 64)
    assert MAGIC == b"Obj\x01"  # the spec magic, pinned


def test_unsupported_schema_is_loud(tmp_path):
    bad = {"type": "record", "name": "r",
           "fields": [{"name": "xs", "type": {"type": "array", "items": "long"}}]}
    with pytest.raises(NotImplementedError, match="outside the tabular subset"):
        write_container(str(tmp_path / "x.avro"), bad, iter([{"xs": [1]}]))


def test_empty_container(tmp_path):
    p = str(tmp_path / "e.avro")
    assert write_container(p, SCHEMA, iter([])) == 0
    _, _, it = parse_container(open(p, "rb").read())
    assert list(it) == []


@pytest.mark.scale
def test_spark_write_avro_preserves_float_nan(tmp_path, request):
    """Genuine IEEE NaN in a double column must round-trip as NaN (the
    spark-avro behavior), NOT be silently mapped to the union's null
    branch; genuine SQL NULL must stay null. Requires the Arrow-side
    writer (mapInArrow) — a pandas float64 column cannot tell them apart."""
    import math

    spark = request.getfixturevalue("spark")
    from arrow_parquet_logs_spark.sources.avro import read_avro, write_avro

    df = spark.createDataFrame(
        [(1, float("nan")), (2, None), (3, 2.5)], "id long, score double"
    )
    out = str(tmp_path / "nan_avro")
    wrote = write_avro(df, out).agg({"n_rows": "sum"}).collect()[0][0]
    assert wrote == 3
    got = {
        r["id"]: r["score"]
        for r in read_avro(spark, out + "/*.avro", "id long, score double").collect()
    }
    assert math.isnan(got[1])          # NaN survived as IEEE NaN
    assert got[2] is None              # NULL stayed null
    assert got[3] == 2.5
