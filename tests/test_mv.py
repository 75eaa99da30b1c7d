"""Operator tests for CDF-driven rollup maintenance (operators/mv.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from arrow_parquet_logs_spark.functions.numeric import dec
from arrow_parquet_logs_spark.operators.mv import maintain_count_sum_rollup


def _rollup(df):
    return df.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec("v", 12, 2)).cast("double").alias("total"),
    )


def _rows(df):
    return sorted(map(tuple, df.select("g", "n", "total").collect()))


def _cdf(spark, rows):
    return spark.createDataFrame(rows, "g string, v double, _change_type string")


def test_maintained_equals_recompute(spark):
    base = spark.createDataFrame(
        [("a", 1.25), ("a", 2.50), ("b", 10.00), ("c", 5.00)], "g string, v double"
    )
    view = _rollup(base)
    # Edit script: update a(1.25 -> 4.25), delete b(10.00), insert d(7.75),
    # and MOVE c's row from group c to group b (pre in c, post in b).
    changes = _cdf(spark, [
        ("a", 1.25, "update_preimage"),
        ("a", 4.25, "update_postimage"),
        ("b", 10.00, "delete"),
        ("d", 7.75, "insert"),
        ("c", 5.00, "update_preimage"),
        ("b", 5.00, "update_postimage"),
    ])
    final = spark.createDataFrame(
        [("a", 2.50), ("a", 4.25), ("b", 5.00), ("d", 7.75)], "g string, v double"
    )
    got = maintain_count_sum_rollup(
        view, changes, ["g"], "n", {"total": "v"}
    )
    assert _rows(got) == _rows(_rollup(final))


def test_group_death_disappears(spark):
    base = spark.createDataFrame([("a", 3.00)], "g string, v double")
    changes = _cdf(spark, [("a", 3.00, "delete")])
    got = maintain_count_sum_rollup(_rollup(base), changes, ["g"], "n", {"total": "v"})
    assert got.count() == 0


def test_group_birth_appears(spark):
    base = spark.createDataFrame([("a", 3.00)], "g string, v double")
    changes = _cdf(spark, [("z", 1.00, "insert"), ("z", 2.00, "insert")])
    got = maintain_count_sum_rollup(_rollup(base), changes, ["g"], "n", {"total": "v"})
    rows = {r["g"]: (r["n"], r["total"]) for r in got.collect()}
    assert rows["z"] == (2, 3.00) and rows["a"] == (1, 3.00)


def test_empty_delta_is_identity(spark):
    base = spark.createDataFrame([("a", 3.00), ("b", 4.00)], "g string, v double")
    view = _rollup(base)
    changes = spark.createDataFrame([], "g string, v double, _change_type string")
    got = maintain_count_sum_rollup(view, changes, ["g"], "n", {"total": "v"})
    assert _rows(got) == _rows(view)


def test_delta_only_touches_changed_groups(spark):
    # The delta side aggregates ONLY the CDF rows — the base table never
    # re-enters the plan (the O(|delta|+|view|) claim).
    base = spark.createDataFrame([("a", 3.00), ("b", 4.00)], "g string, v double")
    view = _rollup(base)
    changes = _cdf(spark, [("a", 1.00, "insert")])
    got = maintain_count_sum_rollup(view, changes, ["g"], "n", {"total": "v"})
    rows = {r["g"]: (r["n"], r["total"]) for r in got.collect()}
    assert rows == {"a": (2, 4.00), "b": (1, 4.00)}


def test_unknown_change_type_fails_loudly(spark):
    import pytest as _pt

    base = spark.createDataFrame([("a", 3.00)], "g string, v double")
    changes = _cdf(spark, [("a", 1.00, "upsert")])  # not a CDF verb
    bad = maintain_count_sum_rollup(_rollup(base), changes, ["g"], "n", {"total": "v"})
    with _pt.raises(Exception, match="unknown _change_type"):
        bad.collect()


# ---- equi-join view maintenance --------------------------------------------

def _jrows(df):
    return sorted(map(tuple, (r for r in df.collect())))


def test_join_view_maintained_equals_recompute(spark):
    """Inserts, deletes, a value update, and a KEY-CHANGE update (a row
    moving between join keys — the case the pre-image must invalidate),
    against duplicate join keys on the A side."""
    from arrow_parquet_logs_spark.operators.mv import maintain_equijoin_view

    a0 = spark.createDataFrame(
        [(1, "k1", 10), (2, "k1", 20), (3, "k2", 30), (4, "k3", 40)],
        "id long, k string, val long",
    )
    b0 = spark.createDataFrame(
        [("k1", "x"), ("k2", "y"), ("k3", "z"), ("k4", "w")], "k string, attr string"
    )
    view0 = a0.join(b0, "k")
    # edits: delete id=3 (k2); insert id=5 on k4; move id=4 from k3 -> k1;
    # b-side: k1 attr changes
    a1 = spark.createDataFrame(
        [(1, "k1", 10), (2, "k1", 20), (4, "k1", 40), (5, "k4", 50)],
        "id long, k string, val long",
    )
    b1 = spark.createDataFrame(
        [("k1", "X"), ("k2", "y"), ("k3", "z"), ("k4", "w")], "k string, attr string"
    )
    # CDF key frames: pre- AND post-image keys of every touched row
    a_ch = spark.createDataFrame(
        [("k2",), ("k4",), ("k3",), ("k1",)], "k string"
    )
    b_ch = spark.createDataFrame([("k1",)], "k string")
    got = maintain_equijoin_view(view0, a1, b1, ["k"], a_ch, b_ch)
    assert _jrows(got) == _jrows(a1.join(b1, "k"))


def test_join_view_untouched_keys_not_recomputed(spark):
    """Keys outside both deltas must come from the stored view verbatim —
    prove it by poisoning the 'current' snapshots outside the delta keys:
    if the operator rejoined them, the poison would leak."""
    from arrow_parquet_logs_spark.operators.mv import maintain_equijoin_view

    a0 = spark.createDataFrame([(1, "k1", 10), (2, "k2", 20)], "id long, k string, val long")
    b0 = spark.createDataFrame([("k1", "x"), ("k2", "y")], "k string, attr string")
    view0 = a0.join(b0, "k")
    a1 = spark.createDataFrame(
        [(1, "k1", 999), (2, "k2", 21)], "id long, k string, val long"
    )  # k1 poisoned, only k2 in the delta
    b1 = b0
    got = maintain_equijoin_view(
        view0, a1, b1, ["k"],
        spark.createDataFrame([("k2",)], "k string"),
        spark.createDataFrame([], "k string"),
    )
    rows = {r.id: r.val for r in got.collect()}
    assert rows[1] == 10  # stored view, not the poisoned snapshot
    assert rows[2] == 21  # recomputed slice


# ---------------------------------------------------- streaming CUPED MV ----
def _ev(spark, rows):
    return spark.createDataFrame(
        rows, "ts timestamp, user_id long, value double"
    )


@pytest.mark.scale
def test_cuped_mv_replay_and_crash_window(spark, tmp_path):
    """The CUPED MV's exactly-once commit protocol (streaming/cuped.py):
    (a) folding batches equals the one-shot batch readout bit-for-bit,
    (b) a replay of a committed batch id is a no-op,
    (c) a replay after a crash BEFORE the pointer moved (simulated by
    rewinding CURRENT) deterministically reproduces the same version,
    (d) old versions are pruned, the committed one never."""
    import datetime as dt
    import os

    from arrow_parquet_logs_spark.streaming.cuped import (
        apply_cuped_batch,
        cuped_per_user_cents,
        cuped_readout,
        mv_current_version,
        mv_versions,
        read_cuped_mv,
        read_cuped_state,
        with_cuped_arm,
    )

    def t(day):
        return dt.datetime(2024, 1, day, 12, 0, 0)

    rows = [
        (t(d), u, float(u * 3 + d) / 4)
        for u in range(1, 40)
        for d in range(1, 31, 3)
    ]
    full = _ev(spark, rows)
    state = str(tmp_path / "mv")
    os.makedirs(state, exist_ok=True)

    b0, b1 = rows[: len(rows) // 2], rows[len(rows) // 2:]
    assert apply_cuped_batch(_ev(spark, b0), 0, state)
    assert apply_cuped_batch(_ev(spark, b1), 1, state)
    assert mv_current_version(state) == 1

    want = sorted(map(tuple, cuped_readout(
        with_cuped_arm(cuped_per_user_cents(full))
    ).collect()))
    got = sorted(map(tuple, read_cuped_mv(spark, state).collect()))
    assert got == want, "stream-folded state must read out ≡ batch"

    # (b) replay of a committed batch: skipped, nothing changes
    assert not apply_cuped_batch(_ev(spark, b1), 1, state)
    assert sorted(map(tuple, read_cuped_mv(spark, state).collect())) == want

    # (c) crash window: pointer rewound to v0, batch 1 replays -> same bits
    with open(os.path.join(state, "CURRENT"), "w") as fh:
        fh.write("v1")
    assert apply_cuped_batch(_ev(spark, b1), 1, state)
    assert mv_current_version(state) == 1
    assert sorted(map(tuple, read_cuped_mv(spark, state).collect())) == want

    # (d) version pruning keeps the newest, never the committed one
    for i in range(2, 6):
        assert apply_cuped_batch(_ev(spark, b1[:5]), i, state, keep_versions=2)
    vs = mv_versions(state)
    assert 5 in vs and len(vs) <= 2

    # (e) VERDICT r9 #4: after the retention sweep, CURRENT reads are
    # unaffected and the per-version decision replay (the
    # events_stream_sequential_decision shape) still runs against every
    # KEPT version — pruning bounds storage without breaking the
    # dashboard's peeking path
    from arrow_parquet_logs_spark.streaming.cuped import cuped_sequential_readout

    assert mv_current_version(state) == 5
    assert read_cuped_mv(spark, state).count() == 2  # two arms at CURRENT
    for name in vs:
        pu = with_cuped_arm(read_cuped_state(spark, state, name))
        assert cuped_sequential_readout(pu).count() == 1


def test_cuped_mv_empty_batch_is_noop(spark, tmp_path):
    from arrow_parquet_logs_spark.streaming.cuped import (
        apply_cuped_batch,
        mv_current_version,
    )

    state = str(tmp_path / "mv")
    import os

    os.makedirs(state, exist_ok=True)
    assert not apply_cuped_batch(_ev(spark, []), 0, state)
    assert mv_current_version(state) == -1


def test_cuped_sequential_readout_matches_numpy_reference(spark):
    """Independent reference for the decision arithmetic (the DuckDB oracle
    shares the formula TEXT; this does not): numpy computes theta, the
    CUPED-adjusted Welch z, and the mSPRT always-valid p straight from the
    per-user panel, and the pinned Spark pipeline must agree to the
    quantization (1e-6 on rounded columns)."""
    import math
    import random

    import numpy as np

    from arrow_parquet_logs_spark.streaming.cuped import cuped_sequential_readout

    rng = random.Random(29)
    rows = [
        (rng.randint(0, 1), rng.randint(0, 5000), rng.randint(0, 5000))
        for _ in range(500)
    ]
    pu = spark.createDataFrame(rows, "arm int, x bigint, y bigint")
    got = cuped_sequential_readout(pu).collect()[0]

    a = np.array(rows, dtype=np.float64)
    arm, x, y = a[:, 0], a[:, 1], a[:, 2]
    n = len(rows)
    theta = ((n * (x * y).sum() - x.sum() * y.sum())
             / (n * (x * x).sum() - x.sum() ** 2))
    xbar = x.mean()
    adj = (y - theta * (x - xbar)) / 100.0
    m0, m1 = adj[arm == 0].mean(), adj[arm == 1].mean()
    n0, n1 = int((arm == 0).sum()), int((arm == 1).sum())
    v0 = adj[arm == 0].var()  # population variance, ddof=0 — the pipeline's form
    v1 = adj[arm == 1].var()
    se2 = v0 / n0 + v1 / n1
    diff = m1 - m0
    log_lambda = 0.5 * math.log(se2 / (se2 + 1.0)) + diff * diff / (2 * se2 * (se2 + 1.0))
    p = min(1.0, math.exp(-log_lambda))
    srm = ((n0 - n / 2) ** 2 + (n1 - n / 2) ** 2) / (n / 2)

    assert got.n_users == n and got.n_0 == n0 and got.n_1 == n1
    for name, want in [
        ("srm_chisq", srm), ("diff_adj", diff),
        ("se", math.sqrt(se2)), ("z", diff / math.sqrt(se2)),
        ("log_lambda", log_lambda), ("p_always_valid", p),
    ]:
        assert abs(got[name] - want) < 2e-6, (name, got[name], want)
    assert got.significant == (got.p_always_valid < 0.05)
