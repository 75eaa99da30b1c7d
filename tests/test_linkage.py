"""Record linkage: Jaro-Winkler bit parity and sorted-neighborhood regimes."""

from __future__ import annotations

import random

import duckdb
import pytest

from arrow_parquet_logs_spark.operators.linkage import (
    jaro_winkler,
    link_sorted_neighborhood,
    sorted_neighborhood_pairs,
)


def test_jaro_winkler_bit_equals_duckdb():
    con = duckdb.connect()
    cases = [
        ("martha", "marhta"), ("dixon", "dicksonx"), ("jellyfish", "smellyfish"),
        ("DWAYNE", "DUANE"), ("abc", "abc"), ("a", ""), ("", ""), ("", "xyz"),
        ("Customer#000001", "Customer#000010"), ("hello world", "world hello"),
    ]
    rng = random.Random(3)
    alpha = "abcdefgh #123"
    cases += [
        ("".join(rng.choice(alpha) for _ in range(rng.randint(0, 12))),
         "".join(rng.choice(alpha) for _ in range(rng.randint(0, 12))))
        for _ in range(300)
    ]
    for a, b in cases:
        duck = con.execute("SELECT jaro_winkler_similarity(?, ?)", [a, b]).fetchone()[0]
        assert jaro_winkler(a, b) == duck, (a, b)


def _pairset(df):
    return {(r.id_a, r.id_b) for r in df.collect()}


def test_pairs_known_small_case(spark):
    rows = [(i, k) for i, k in enumerate(["aa", "ab", "ac", "ad", "ae"])]
    df = spark.createDataFrame(rows, "id long, k string")
    got = _pairset(sorted_neighborhood_pairs(df, "k", "id", window=2))
    assert got == {(0, 1), (0, 2), (1, 2), (1, 3), (2, 3), (2, 4), (3, 4)}


@pytest.mark.scale
def test_range_partitioned_regime_equals_spec(spark):
    rng = random.Random(11)
    rows = [(i, f"name_{rng.randint(0, 400):04d}_{i}") for i in range(300)]
    df = spark.createDataFrame(rows, "id long, k string")
    spec = _pairset(sorted_neighborhood_pairs(df, "k", "id", window=3))
    for p in (2, 5, 8):
        ranged = _pairset(sorted_neighborhood_pairs(df, "k", "id", window=3, partitions=p))
        assert ranged == spec, p
    assert len(spec) == 3 * 300 - (1 + 2 + 3)  # n*w minus the tail shortfall


def test_tiny_bucket_fallback_is_exact(spark):
    # 12 rows over 8 partitions -> buckets < window -> loud fallback path
    rows = [(i, f"k{i:02d}") for i in range(12)]
    df = spark.createDataFrame(rows, "id long, k string")
    spec = _pairset(sorted_neighborhood_pairs(df, "k", "id", window=4))
    ranged = _pairset(sorted_neighborhood_pairs(df, "k", "id", window=4, partitions=8))
    assert ranged == spec


def test_link_threshold_and_validation(spark):
    rows = [(1, "jonathan smith"), (2, "jonathan smyth"), (3, "zzz totally other")]
    df = spark.createDataFrame(rows, "id long, k string")
    got = {(r.id_a, r.id_b): r.jw for r in
           link_sorted_neighborhood(df, "k", "id", window=2, threshold=0.9).collect()}
    assert set(got) == {(1, 2)}
    assert got[(1, 2)] == jaro_winkler("jonathan smith", "jonathan smyth")
    with pytest.raises(ValueError, match="window"):
        sorted_neighborhood_pairs(df, "k", "id", window=0)
