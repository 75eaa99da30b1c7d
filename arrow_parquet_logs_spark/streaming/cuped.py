"""Streaming CUPED materialized view — the always-on experiment dashboard.

The batch readout (queries/events.py `events_cuped_adjusted_lift`, Deng et
al. WSDM'13) answers "what is the variance-reduced lift right now" with one
corpus scan. An experimentation platform asks that question continuously
while events arrive; re-scanning history per refresh is the anti-pattern.
This module maintains the readout incrementally:

- **state** = per-user ``(x, y)`` period sums in integer cents — the ONLY
  thing CUPED needs from history, bounded by user cardinality (panel-sized,
  never event-sized). Each micro-batch folds its own per-user partial sums
  into the state with one union + re-aggregate; integer cents make the
  merge exact and order-free, so stream-built state ≡ batch state
  bit-for-bit.
- **readout** = θ and per-arm adjusted means recomputed from the merged
  state each version (a 1-row moment frame broadcast onto the 2-row arm
  frame — the batch query's own shape, via the shared `cuped_readout`).
- **versioned exactly-once commit**: the MV directory is a
  :class:`~arrow_parquet_logs_spark.logstore.table.VersionedTable` and each
  applied batch is ONE commit of its protocol — a manifest naming that
  batch's state and readout files, with the batch id as the commit's
  ``txns`` entry. foreachBatch is at-least-once; a replay either rewrites
  the same uncommitted ``v<N>/`` directory (crash before the commit) or is
  skipped outright (``batch_id <=`` the id at CURRENT), and readers follow
  CURRENT so they never observe a half-written version.

At 100 TB scale the state merge is one user-keyed shuffle of panel-sized
frames and the readout is two bounded aggregates — per micro-batch cost is
independent of history length.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from arrow_parquet_logs_spark.logstore.table import VersionedTable

#: default experiment split point — days 1–15 vs 16–30 of the driver
#: events span (same literal as the batch query and its DuckDB oracle)
CUPED_CUT = "2024-01-16 00:00:00"


def cuped_per_user_cents(
    ev: DataFrame,
    cut: str = CUPED_CUT,
    ts_col: str = "ts",
    user_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Per-user pre/post period sums as exact integer cents: each value is
    quantized to DECIMAL(12,2) BEFORE summing, the DECIMAL sum ×100 lands
    in BIGINT. Users absent from a period contribute an exact zero. The
    cents discipline is what makes partial (per-batch) sums mergeable by
    plain integer addition with no float drift."""
    cutc = F.lit(cut).cast("timestamp")
    dec0 = F.lit(0).cast("decimal(12,2)")

    def cents(cond) -> F.Column:
        return (
            F.sum(F.when(cond, F.col(value_col).cast("decimal(12,2)")).otherwise(dec0))
            * 100
        ).cast("bigint")

    return ev.groupBy(F.col(user_col).alias("user_id")).agg(
        cents(F.col(ts_col) < cutc).alias("x"),
        cents(F.col(ts_col) >= cutc).alias("y"),
    )


def with_cuped_arm(per_user: DataFrame, user_col: str = "user_id") -> DataFrame:
    """Hash-split a per-user sums frame into the two arms (portable md5
    assignment — the repo's split convention, identical to the oracle)."""
    from arrow_parquet_logs_spark.functions.hashing import hash64

    return per_user.select(
        (hash64(F.concat(F.lit("cuped:"), F.col(user_col).cast("string"))) % 2)
        .cast("int")
        .alias("arm"),
        "x",
        "y",
    )


def cuped_readout(per_user: DataFrame) -> DataFrame:
    """θ + per-arm adjusted means from a per-user ``(arm, x, y)`` cents
    frame — ONE pinned double-op sequence shared by the batch query
    (queries/events.py `events_cuped_adjusted_lift`) and this module's MV,
    so stream-built state reads out bit-identically to the batch readout.
    Moments multiply with DECIMAL(38,0) operands (integer-exact; BIGINT
    x·y would overflow only past the 10¹⁰-row design floor)."""
    from arrow_parquet_logs_spark.functions.numeric import qfloor

    st = per_user.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * y")).cast("double").alias("sxy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).cast("double").alias("sxx"),
    )
    arms = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).cast("double").alias("na"),
        F.sum("x").cast("double").alias("sxa"),
        F.sum("y").cast("double").alias("sya"),
    )
    j = arms.crossJoin(F.broadcast(st))
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx = F.col("sxy"), F.col("sxx")
    na, sxa, sya = F.col("na"), F.col("sxa"), F.col("sya")
    theta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return j.select(
        "arm",
        na.cast("bigint").alias("n_users"),
        qfloor((sya / na) / F.lit(100.0)).alias("mean_post"),
        qfloor(((sya / na) - theta * ((sxa / na) - (sx / n))) / F.lit(100.0)).alias(
            "mean_adj"
        ),
        qfloor(theta).alias("theta"),
    ).orderBy("arm")


def cuped_sequential_readout(per_user: DataFrame) -> DataFrame:
    """The 1-row experiment DECISION from a per-user ``(arm, x, y)`` cents
    frame: SRM chi-square guard, CUPED-adjusted lift + Welch SE, and the
    always-valid mixture-SPRT p-value (tau^2 = 1; Johari et al. KDD'17).
    One aggregation pass builds every pooled and per-arm moment
    integer-exact; shared by the batch row `events_cuped_sequential_test`
    and the per-MV-version readout `events_stream_sequential_decision`, so
    a dashboard reading the MV at every version applies the identical
    pinned arithmetic the batch oracle checks.

    Contract edge: a DEGENERATE panel (an empty arm, or zero adjusted
    variance in both arms — e.g. one user per arm) has no defined test;
    there Spark yields NULL columns (x/0 and log(0) are NULL) while the
    DuckDB oracle raises on ln(0). Every driver SF has thousands of users
    per arm; callers on tiny panels should gate on n_0/n_1 first."""
    from arrow_parquet_logs_spark.functions.numeric import qfloor

    def d38(c: str) -> F.Column:
        return F.expr(f"CAST({c} AS DECIMAL(38,0))")

    def asum(a: int, expr) -> F.Column:
        z0 = F.lit(0).cast("decimal(38,0)")
        return F.sum(F.when(F.col("arm") == a, expr).otherwise(z0)).cast("double")

    m = per_user.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * y")).cast("double").alias("sxy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).cast("double").alias("sxx"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("double").alias("n0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("double").alias("n1"),
        asum(0, d38("x")).alias("sx0"), asum(1, d38("x")).alias("sx1"),
        asum(0, d38("y")).alias("sy0"), asum(1, d38("y")).alias("sy1"),
        asum(0, F.expr("CAST(y AS DECIMAL(38,0)) * y")).alias("syy0"),
        asum(1, F.expr("CAST(y AS DECIMAL(38,0)) * y")).alias("syy1"),
        asum(0, F.expr("CAST(x AS DECIMAL(38,0)) * y")).alias("sxy0"),
        asum(1, F.expr("CAST(x AS DECIMAL(38,0)) * y")).alias("sxy1"),
        asum(0, F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("sxx0"),
        asum(1, F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("sxx1"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    theta = (n * F.col("sxy") - sx * sy) / (n * F.col("sxx") - sx * sx)
    xbar = sx / n
    e = m.select(
        "n", "n0", "n1", theta.alias("theta"), xbar.alias("xbar"),
        "sx0", "sx1", "sy0", "sy1", "syy0", "syy1", "sxy0", "sxy1", "sxx0", "sxx1",
    )
    th = F.col("theta")

    def mean_adj(a: int) -> F.Column:
        return (
            F.col(f"sy{a}") / F.col(f"n{a}")
            - th * (F.col(f"sx{a}") / F.col(f"n{a}") - F.col("xbar"))
        ) / F.lit(100.0)

    def var_adj(a: int) -> F.Column:
        na = F.col(f"n{a}")
        cm = (F.col(f"sy{a}") - th * F.col(f"sx{a}")) / na
        return (
            (F.col(f"syy{a}") - 2 * th * F.col(f"sxy{a}") + th * th * F.col(f"sxx{a}")) / na
            - cm * cm
        ) / F.lit(10000.0)

    v = e.select(
        "n", "n0", "n1", "theta",
        (mean_adj(1) - mean_adj(0)).alias("diff"),
        (var_adj(0) / F.col("n0") + var_adj(1) / F.col("n1")).alias("se2"),
    )
    n, n0, n1 = F.col("n"), F.col("n0"), F.col("n1")
    diff, se2 = F.col("diff"), F.col("se2")
    log_lambda = 0.5 * F.log(se2 / (se2 + F.lit(1.0))) + (diff * diff) / (
        2 * se2 * (se2 + F.lit(1.0))
    )
    p = F.least(F.lit(1.0), F.exp(-log_lambda))
    return v.select(
        n.cast("bigint").alias("n_users"),
        n0.cast("bigint").alias("n_0"),
        n1.cast("bigint").alias("n_1"),
        qfloor(((n0 - n / 2) * (n0 - n / 2) + (n1 - n / 2) * (n1 - n / 2)) / (n / 2)).alias("srm_chisq"),
        qfloor(diff).alias("diff_adj"),
        F.round(F.sqrt(se2), 6).alias("se"),
        F.round(diff / F.nullif(F.sqrt(se2), F.lit(0.0)), 6).alias("z"),
        F.round(log_lambda, 6).alias("log_lambda"),
        F.round(p, 6).alias("p_always_valid"),
        (F.round(p, 6) < 0.05).alias("significant"),
    )


# ------------------------------------------------------------------ MV ----
#: the MV's ``txns`` key: one view is fed by one stream of batch ids
_MV_APP = "cuped_mv"


def _mv_table(state_dir: str, spark: SparkSession | None = None) -> VersionedTable:
    return VersionedTable(spark or SparkSession.active(), state_dir, key_cols=["user_id"])


def mv_current_version(state_dir: str) -> int:
    """Last committed version (batch id); -1 before the first commit."""
    return _mv_table(state_dir).txn(_MV_APP)


def mv_versions(state_dir: str) -> list[int]:
    """Batch ids of the versions still kept on disk, oldest first."""
    t = _mv_table(state_dir)
    return [t.txn(_MV_APP, v) for v in t.versions()]


def _mv_read(spark: SparkSession, t: VersionedTable, man: dict, kind: str) -> DataFrame:
    """The ``kind`` ("state" | "readout") files of one MV manifest."""
    return spark.read.parquet(
        *[os.path.join(t.path, f) for f in man["files"] if f.split("/")[1] == kind]
    )


def apply_cuped_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    cut: str = CUPED_CUT,
    ts_col: str = "ts",
    user_col: str = "user_id",
    value_col: str = "value",
    keep_versions: int = 3,
) -> bool:
    """Fold one micro-batch into the MV: merge the batch's per-user cents
    partials into the CURRENT state, recompute the readout, and commit both
    as the next table version with ``batch_id`` as its ``txns`` entry.
    Idempotent under at-least-once delivery by construction — a replay
    before the commit deterministically rewrites the same uncommitted
    version directory (overwrite mode), a replay after is skipped
    (``batch_id <=`` the id at CURRENT); there is no torn middle state
    because readers only follow CURRENT. One stream feeds one MV, so the
    data writes need no lock. Returns True when applied.

    ``keep_versions`` vacuums versions outside the newest N AFTER the commit
    (never the committed version), bounding MV storage to N panel-sized
    snapshots."""
    if batch_df.isEmpty():
        return False
    spark = batch_df.sparkSession
    t = _mv_table(state_dir, spark)
    man = t._current()
    if batch_id <= man["txns"].get(_MV_APP, -1):
        return False
    v = man["version"] + 1
    agg = cuped_per_user_cents(batch_df, cut, ts_col, user_col, value_col)
    if v > 1:
        merged = (
            _mv_read(spark, t, man, "state")
            .unionByName(agg)
            .groupBy("user_id")
            .agg(
                F.sum("x").cast("bigint").alias("x"),
                F.sum("y").cast("bigint").alias("y"),
            )
        )
    else:
        merged = agg
    merged.write.mode("overwrite").parquet(f"{t.path}/v{v}/state")
    # readout derives from the WRITTEN state bytes, not a recompute of the
    # merge plan — what the commit will expose is exactly what was read out
    state = spark.read.parquet(f"{t.path}/v{v}/state")
    cuped_readout(with_cuped_arm(state)).write.mode("overwrite").parquet(
        f"{t.path}/v{v}/readout"
    )
    t._commit({"version": v, "files": t._parquet_files(f"v{v}")}, (_MV_APP, batch_id))
    if keep_versions is not None and keep_versions >= 1:
        t.vacuum(keep_versions)
    return True


def start_stream_cuped_mv(
    stream: DataFrame,
    state_dir: str,
    checkpoint: str,
    cut: str = CUPED_CUT,
    ts_col: str = "ts",
    user_col: str = "user_id",
    value_col: str = "value",
    available_now: bool = True,
):
    """Maintain the CUPED MV from an event stream (foreachBatch — the same
    Structured Streaming → storage wiring as the rollup/CDC sinks). Each
    micro-batch costs one panel-sized merge + two bounded aggregates,
    independent of history length; `apply_cuped_batch` documents the
    exactly-once commit protocol."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        apply_cuped_batch(
            batch_df, batch_id, state_dir, cut, ts_col, user_col, value_col
        )

    writer = stream.writeStream.foreachBatch(_apply).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_cuped_mv(spark: SparkSession, state_dir: str) -> DataFrame:
    """The dashboard read: the readout at CURRENT (2 arm rows)."""
    t = _mv_table(state_dir, spark)
    man = t._current()
    if man["version"] == 0:
        raise FileNotFoundError(f"no committed CUPED MV version under {state_dir}")
    return _mv_read(spark, t, man, "readout")


def read_cuped_state(spark: SparkSession, state_dir: str, batch_id: int) -> DataFrame:
    """Per-user ``(user_id, x, y)`` cents state as of the commit that
    applied ``batch_id`` — any version still kept (see ``mv_versions``)."""
    t = _mv_table(state_dir, spark)
    vs = [v for v in t.versions() if t.txn(_MV_APP, v) == batch_id]
    if not vs:
        raise FileNotFoundError(f"CUPED MV batch {batch_id} is not kept under {state_dir}")
    return _mv_read(spark, t, t._manifest_at(vs[0]), "state")
