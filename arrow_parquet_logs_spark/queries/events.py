"""Event-analytics queries: JSON extraction, sessionization, event-time
windows, keep-latest dedup, exact percentiles — the stream-shaped workload
family (SURVEY.md §2.9/§2.11) in batch form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from arrow_parquet_logs_spark.functions.numeric import qfloor
from arrow_parquet_logs_spark.operators.dedup import keep_latest
from arrow_parquet_logs_spark.operators.sessionize import session_stats, session_windows, tumbling_counts
from arrow_parquet_logs_spark.queries.catalog import register, scratch_dir
from arrow_parquet_logs_spark.sources.tables import load_table

_GAP_US = 6 * 3600 * 1_000_000  # 6-hour session gap

# unique memory-sink names for the streaming query (one-shot sinks are
# dropped after collection; the counter guards concurrent/failed runs)
import itertools as _itertools  # noqa: E402

_STREAM_SEQ = _itertools.count()


def _drain_stream(joined, prefix: str, shuffle_partitions: str | None = "8"):
    """Drain an append-mode stream through a TEMP PARQUET sink and return
    the drained rows as a batch DataFrame.

    The memory sink materializes its whole result as driver-held JVM rows
    — fine for the bounded aggregate snapshots that still use it (update/
    complete-mode rollups, sketch registers), fatal for ROW-SIZED outputs
    at scale: the sf10 probe OOMed an 8 GB driver collecting 5M deduped
    events into the in-memory table. The parquet sink is the production
    shape — executor-distributed writes, lazily read back — so the same
    query verifies at any SF.

    Empty-result contract (ADVICE r6): an availableNow stream that emits
    zero batches never creates the sink directory, so the read-back gets
    an explicit ``makedirs`` — with the explicit schema, an empty dir IS
    a valid empty DataFrame. Drain directories register for process-exit
    cleanup (they are multi-GB at sf10, × bench reps); cleanup waits for
    exit rather than a caller-side finally because the returned DataFrame
    reads the files LAZILY — the caller may collect long after return."""
    import os

    spark = joined.sparkSession
    root = scratch_dir(prefix=prefix)  # registers its own exit-time rmtree
    out, ck = root + "/rows", root + "/ck"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", shuffle_partitions)
    try:
        (
            joined.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    finally:
        if shuffle_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    os.makedirs(out, exist_ok=True)
    return spark.read.schema(joined.schema).parquet(out)


@register(
    "events_json_extract",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS DOUBLE)
               / count(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS avg_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER) AS max_k
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    tags=("json", "agg"),
    bench=True,
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read JSON props (reference stores opaque strings; SURVEY.md
    §2.8 'extension need'): get_json_object stays JVM-side."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            (F.sum("k").cast("double") / F.count("k")).alias("avg_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


@register(
    "events_sessionization",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= {_GAP_US}
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           CAST(SUM(is_new) AS BIGINT) AS n_sessions,
           CAST(count(*) AS BIGINT) AS n_events
    FROM flagged GROUP BY user_id ORDER BY user_id
    """,
    tags=("window", "sessionize"),
    bench=True,
)
def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessionization via lag + cumulative sum (SNIPPETS/guide 'islands'
    pattern): one shuffle on user_id covers both windows."""
    ev = load_table(spark, sf_dir, "events")
    return session_stats(ev, gap="6 hours")


@register(
    "events_hourly_rollup",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events GROUP BY 1 ORDER BY 1
    """,
    tags=("window", "eventtime"),
)
def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows (epoch-aligned, so date_trunc is
    the exact batch equivalent)."""
    ev = load_table(spark, sf_dir, "events")
    return tumbling_counts(ev, duration="1 hour")


@register(
    "events_session_window",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 21600000000
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    islands AS (
        SELECT user_id, ts,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 6 HOUR AS session_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM islands GROUP BY user_id, sid ORDER BY user_id, session_start
    """,
    tags=("window", "sessionize"),
)
def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window operator; end = last event + gap (half-open),
    matching the islands formulation exactly."""
    ev = load_table(spark, sf_dir, "events")
    return session_windows(ev, gap="6 hours")


@register(
    "events_user_error_rate",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS error_rate
    FROM events GROUP BY user_id ORDER BY user_id
    """,
    tags=("agg",),
)
def events_user_error_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    n_err = F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
    return (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            n_err.alias("n_errors"),
            (n_err.cast("double") / F.count(F.lit(1))).alias("error_rate"),
        )
        .orderBy("user_id")
    )


@register(
    "events_dedup_latest",
    oracle="""
    SELECT user_id, event_type, event_id, ts, value
    FROM (
        SELECT user_id, event_type, event_id, ts, value,
               row_number() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    ORDER BY user_id, event_type
    """,
    tags=("dedup", "window"),
)
def events_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-latest-per-key dedup (SURVEY.md §2.11): row_number window, one
    shuffle on the dedup key; with unique (ts, event_id) ordering the
    surviving row is deterministic at any parallelism."""
    ev = load_table(spark, sf_dir, "events")
    return keep_latest(ev, ["user_id", "event_type"], "ts", "event_id").select(
        "user_id", "event_type", "event_id", "ts", "value"
    ).orderBy("user_id", "event_type")


@register(
    "events_asof_attribution",
    oracle="""
    SELECT event_id, user_id, ts, last_view_ts,
           epoch_us(ts) - epoch_us(last_view_ts) AS us_since_view
    FROM (
        SELECT event_id, user_id, ts, event_type,
               last_value(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_view_ts
        FROM events
    )
    WHERE event_type = 'purchase' AND last_view_ts IS NOT NULL
    ORDER BY event_id
    """,
    tags=("window", "asof"),
)
def events_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (last-touch attribution): each purchase matched to the most
    recent prior 'view' of the same user. Spark has no native as-of join —
    the window-carry formulation (last_value IGNORE NULLS over the merged
    event stream) does it with ONE shuffle on user_id, versus the naive
    inequality join's quadratic blow-up. This is the scale pattern for any
    event-to-event as-of enrichment."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(W.unboundedPreceding, W.currentRow)
    last_view = F.last(F.when(F.col("event_type") == "view", F.col("ts")), ignorenulls=True).over(w)
    return (
        ev.withColumn("last_view_ts", last_view)
        .where((F.col("event_type") == "purchase") & F.col("last_view_ts").isNotNull())
        .select(
            "event_id",
            "user_id",
            "ts",
            "last_view_ts",
            (F.unix_micros("ts") - F.unix_micros("last_view_ts")).alias("us_since_view"),
        )
        .orderBy("event_id")
    )


@register(
    "events_value_percentiles",
    oracle="""
    SELECT event_type,
           floor((quantile_cont(value, 0.5)) * 1000000) / 1000000 AS p50,
           floor((quantile_cont(value, 0.9)) * 1000000) / 1000000 AS p90,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    tags=("agg", "percentile"),
)
def events_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles. At 100 TB swap for approx_percentile
    (t-digest sketch, one pass, mergeable) — exact here because the oracle
    must agree bit-for-bit; the rounded output absorbs interpolation noise."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            qfloor(F.expr("percentile(value, 0.5)")).alias("p50"),
            qfloor(F.expr("percentile(value, 0.9)")).alias("p90"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("event_type")
    )


@register(
    "events_value_histogram",
    oracle="""
    SELECT CAST(floor(value / 25.0) AS INT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
           min(value) AS min_value,
           max(value) AS max_value
    FROM events
    GROUP BY floor(value / 25.0)
    ORDER BY bucket
    """,
    tags=("agg", "histogram"),
)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width numeric histogram (bucket = floor(value/25)) — the
    distribution profile every data-quality pass wants. floor of a single
    double division is bit-deterministic across engines (no accumulation);
    the per-bucket sum goes through DECIMAL per catalog rules. One shuffle
    on the tiny bucket domain with map-side partial aggregation; at 100 TB
    this is the same plan (bucket count is data-independent)."""
    ev = load_table(spark, sf_dir, "events")
    from arrow_parquet_logs_spark.functions.numeric import dec, qfloor

    return (
        ev.groupBy(F.floor(F.col("value") / 25.0).cast("int").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value", 12, 2)).cast("double").alias("sum_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .orderBy("bucket")
    )


@register(
    "events_hourly_gap_fill",
    oracle="""
    WITH hourly AS (
        SELECT user_id, date_trunc('hour', ts) AS h, value
        FROM (
            SELECT user_id, ts, value,
                   row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM events WHERE user_id < 50
        ) WHERE rn = 1
    ),
    spans AS (
        SELECT user_id, date_trunc('hour', min(ts)) AS hmin, date_trunc('hour', max(ts)) AS hmax
        FROM events WHERE user_id < 50 GROUP BY user_id
    ),
    grid AS (
        SELECT user_id, unnest(generate_series(hmin, hmax, INTERVAL 1 HOUR)) AS h
        FROM spans
    )
    SELECT user_id, h,
           last_value(value IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
           (value IS NOT NULL) AS is_observed
    FROM grid LEFT JOIN hourly USING (user_id, h)
    ORDER BY user_id, h
    """,
    tags=("window", "gap-fill", "timeseries"),
)
def events_hourly_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample + forward fill: per-user hourly grid from the
    user's own [min, max] span, carrying the last observed value across
    silent hours (training pipelines call this gap-filling / resampling).

    Shape: per-key hourly reduce (keep-latest via struct-max would also do;
    row_number keeps the tie-break explicit) → per-key ``sequence()`` grid
    exploded → left join → ``last(ignorenulls)`` running window. Two
    shuffles on user_id total; the grid explode is O(span-hours) per key,
    generated, never stored. The forward-fill carries raw stored doubles —
    no arithmetic — so cross-engine equality is exact."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 50)
    hr = F.date_trunc("hour", F.col("ts"))
    wlast = W.partitionBy("user_id", "h").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    hourly = (
        ev.withColumn("h", hr)
        .withColumn("rn", F.row_number().over(wlast))
        .where(F.col("rn") == 1)
        .select("user_id", "h", "value")
    )
    grid = (
        ev.groupBy("user_id")
        .agg(
            F.date_trunc("hour", F.min("ts")).alias("hmin"),
            F.date_trunc("hour", F.max("ts")).alias("hmax"),
        )
        .select(
            "user_id",
            F.explode(F.sequence("hmin", "hmax", F.expr("INTERVAL 1 HOUR"))).alias("h"),
        )
    )
    wfill = (
        W.partitionBy("user_id").orderBy("h").rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        grid.join(hourly, ["user_id", "h"], "left")
        .select(
            "user_id",
            "h",
            F.last("value", ignorenulls=True).over(wfill).alias("filled_value"),
            F.col("value").isNotNull().alias("is_observed"),
        )
        .orderBy("user_id", "h")
    )


@register(
    "events_burst_interval_join",
    oracle="""
    WITH err AS (
        SELECT ts, event_id, lag(ts) OVER (ORDER BY ts, event_id) AS prev
        FROM events WHERE event_type = 'error'
    ),
    marked AS (
        SELECT ts, event_id,
               CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) > 1800000000
                    THEN 1 ELSE 0 END AS nb
        FROM err
    ),
    bursts AS (
        SELECT ts, CAST(sum(nb) OVER (ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS burst_id
        FROM marked
    ),
    w AS (
        SELECT burst_id, min(ts) AS burst_start, max(ts) AS burst_end,
               CAST(count(*) AS BIGINT) AS n_errors
        FROM bursts GROUP BY burst_id HAVING count(*) >= 3
    ),
    j AS (
        SELECT w.burst_id, w.burst_start, w.burst_end, w.n_errors, ev.event_id, ev.value
        FROM w LEFT JOIN events ev
          ON ev.event_type = 'purchase' AND ev.ts BETWEEN w.burst_start AND w.burst_end
    )
    SELECT burst_id, burst_start, burst_end, n_errors,
           CAST(count(event_id) AS BIGINT) AS n_purchases,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS purchase_value
    FROM j GROUP BY burst_id, burst_start, burst_end, n_errors
    ORDER BY burst_id
    """,
    tags=("window", "interval-join", "sessionize"),
)
def events_burst_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-burst windows (gap-merge sessionization of the error stream,
    30-min gap, ≥3 errors) interval-joined to the purchases that fell inside
    each burst — the point-in-interval enrichment every incident/attribution
    pipeline needs.

    The join is `operators.relational.interval_join_by_bucket`: windows
    explode into covered hour buckets, events equi-join on their single
    bucket, exact containment refines — a shuffled hash join, NOT the
    BroadcastNestedLoopJoin a naive range predicate plans. Burst detection
    is `operators.sessionize.gap_merge_stream` (r8): the unkeyed
    single-stream gap merge runs as range-bucketed parallel windows with a
    bounded boundary-bridge prefix — bit-identical to the oracle's global
    ORDER BY window without its single corpus-sized sort partition."""
    from arrow_parquet_logs_spark.functions.numeric import dec
    from arrow_parquet_logs_spark.operators.relational import interval_join_by_bucket
    from arrow_parquet_logs_spark.operators.sessionize import gap_merge_stream

    ev = load_table(spark, sf_dir, "events")
    err = ev.where(F.col("event_type") == "error")
    bursts = gap_merge_stream(
        err.select("ts", "event_id"), ts_col="ts", tiebreak="event_id",
        gap_us=30 * 60 * 1_000_000,
    )
    w = (
        bursts.groupBy("burst_id")
        .agg(
            F.min("ts").alias("burst_start"),
            F.max("ts").alias("burst_end"),
            F.count(F.lit(1)).alias("n_errors"),
        )
        .where(F.col("n_errors") >= 3)
    )
    purchases = ev.where(F.col("event_type") == "purchase").select("event_id", "ts", "value")
    joined = interval_join_by_bucket(
        purchases, w, ts_col="ts", start_col="burst_start", end_col="burst_end", how="left_windows"
    )
    return (
        joined.groupBy("burst_id", "burst_start", "burst_end", "n_errors")
        .agg(
            F.count("event_id").alias("n_purchases"),
            F.sum(dec("value", 12, 2)).cast("double").alias("purchase_value"),
        )
        .orderBy("burst_id")
    )


@register(
    "events_stream_hourly_rollup",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events GROUP BY 1 ORDER BY 1
    """,
    tags=("streaming", "window", "eventtime"),
)
def events_stream_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hourly rollup as a Structured Streaming job: file-source stream
    over the same parquet, 2h watermark, tumbling event-time window,
    availableNow drain — and the result must hash-match the SAME DuckDB
    oracle as the batch form (events_hourly_rollup). That shared oracle
    pins the streaming≡batch equivalence of event-time windowing.

    Sink choice: complete-mode memory sink — deliberately the ORACLE TWIN,
    not the production path. Append mode only emits windows the watermark
    has passed, so the final <2h of windows would never close on a finite
    input (observed: 528/531 windows) and the oracle (which aggregates
    everything) could never hash-match; complete mode emits all state at
    each micro-batch, fine at one row per hour. The production form —
    append mode + watermark into dt-partitioned parquet with the file
    sink's exactly-once commit log — is ``streaming.rollup.
    start_hourly_rollup``, pinned streaming≡batch by
    tests/test_streaming.py::test_production_rollup_sink_append_equals_batch.

    The result is materialized (≤ one row per hour) and the memory-sink
    table dropped immediately, so repeated invocations don't accumulate
    driver-held sink tables."""
    from arrow_parquet_logs_spark.sources.tables import read_events_stream

    # the ONLY query not routed through load_table — read_events_stream
    # repairs the session confs (nanosAsLong + UTC) itself and normalizes
    # ts (long-ns / NTZ / LTZ) to TimestampType before the watermark
    stream = read_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("window.start").alias("window_start"), "n_events")
    )
    name = f"stream_rollup_{next(_STREAM_SEQ)}"
    # state-store sizing: shuffle.partitions is frozen into the stream's
    # STATE partitioning at start — 720 hourly windows of 8-byte counts
    # need 8 stores, not 32 (each store pays per-batch open/commit fixed
    # cost: 2.2s→1.6s warm, 8s→1.6s cold here). At scale size this to key
    # cardinality × state bytes, not to the batch-side CPU count.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    rows = spark.table(name).orderBy("window_start").collect()
    spark.catalog.dropTempView(name)
    return spark.createDataFrame(rows, "window_start timestamp, n_events bigint").orderBy(
        "window_start"
    )


@register(
    "events_value_moments",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           floor((CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / count(*)) * 1000000) / 1000000 AS mean_value,
           floor(((CAST(SUM(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2))) AS DOUBLE)
              - CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
                * CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / count(*))
             / (count(*) - 1)) * 1000000) / 1000000 AS var_value,
           round(sqrt(
             (CAST(SUM(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2))) AS DOUBLE)
              - CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
                * CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / count(*))
             / (count(*) - 1)), 6) AS stddev_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    tags=("agg", "stats"),
)
def events_value_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical profile (mean/variance/stddev) from DECIMAL-exact raw
    moments: Σx and Σx² aggregate as exact fixed-point (order-independent —
    partition-count- and engine-invariant), then the two-pass-free variance
    identity runs as a fixed sequence of double ops on those exact inputs.
    Spark's built-in stddev over doubles is summation-order-dependent and
    could never hash-match another engine; this form does, and is the same
    one-shuffle single-pass plan."""
    from arrow_parquet_logs_spark.functions.numeric import dec

    ev = load_table(spark, sf_dir, "events")
    sx = F.sum(dec("value", 12, 2)).cast("double")
    sxx = F.sum(dec("value", 12, 2) * dec("value", 12, 2)).cast("double")
    n = F.count(F.lit(1))
    var = (sxx - sx * sx / n) / (n - F.lit(1))
    return (
        ev.groupBy("event_type")
        .agg(
            n.alias("n"),
            qfloor(sx / n).alias("mean_value"),
            qfloor(var).alias("var_value"),
            F.round(F.sqrt(var), 6).alias("stddev_value"),
        )
        .orderBy("event_type")
    )


@register(
    "events_funnel_conversion",
    oracle="""
    WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
                WHERE event_type = 'signup' GROUP BY user_id),
    s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
           JOIN s1 ON e.user_id = s1.user_id
           WHERE e.event_type = 'view' AND e.ts > s1.t1 GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
           JOIN s2 ON e.user_id = s2.user_id
           WHERE e.event_type = 'click' AND e.ts > s2.t2 GROUP BY e.user_id),
    s4 AS (SELECT e.user_id, min(e.ts) AS t4 FROM events e
           JOIN s3 ON e.user_id = s3.user_id
           WHERE e.event_type = 'purchase' AND e.ts > s3.t3 GROUP BY e.user_id),
    c AS (SELECT (SELECT count(*) FROM s1) AS n_signup,
                 (SELECT count(*) FROM s2) AS n_view,
                 (SELECT count(*) FROM s3) AS n_click,
                 (SELECT count(*) FROM s4) AS n_purchase)
    SELECT n_signup, n_view, n_click, n_purchase,
           CASE WHEN n_signup > 0
                THEN floor((CAST(n_view AS DOUBLE) / n_signup) * 1000000) / 1000000 ELSE 0.0 END AS view_rate,
           CASE WHEN n_view > 0
                THEN floor((CAST(n_click AS DOUBLE) / n_view) * 1000000) / 1000000 ELSE 0.0 END AS click_rate,
           CASE WHEN n_click > 0
                THEN floor((CAST(n_purchase AS DOUBLE) / n_click) * 1000000) / 1000000 ELSE 0.0 END AS purchase_rate
    FROM c
    """,
    tags=("funnel", "join", "agg"),
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-sequence funnel (signup → view → click → purchase): each stage
    keeps users whose first qualifying event comes strictly after their
    previous stage's first event — the product-analytics funnel the
    reference's log model feeds but can't compute (no joins, auth.py:205-249
    does point lookups only). Each stage is an equi-join + partial min-agg on
    user_id; at cluster scale all four stages co-partition on the same key,
    so one exchange is reused, and stage outputs shrink monotonically. The
    final stage counts are 1-row aggregates combined by (broadcast) cross
    join — no driver collect."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")

    def first_after(prev: DataFrame, etype: str, prev_t: str, tcol: str) -> DataFrame:
        return (
            ev.where(F.col("event_type") == etype)
            .join(prev, "user_id")
            .where(F.col("ts") > F.col(prev_t))
            .groupBy("user_id")
            .agg(F.min("ts").alias(tcol))
        )

    s1 = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = first_after(s1, "view", "t1", "t2")
    s3 = first_after(s2, "click", "t2", "t3")
    s4 = first_after(s3, "purchase", "t3", "t4")
    c1, c2, c3, c4 = (
        df.agg(F.count(F.lit(1)).alias(name))
        for df, name in ((s1, "n_signup"), (s2, "n_view"), (s3, "n_click"), (s4, "n_purchase"))
    )

    def rate(num: str, den: str) -> F.Column:
        return F.when(
            F.col(den) > 0, qfloor(F.col(num).cast("double") / F.col(den))
        ).otherwise(F.lit(0.0))

    return c1.crossJoin(c2).crossJoin(c3).crossJoin(c4).select(
        "n_signup",
        "n_view",
        "n_click",
        "n_purchase",
        rate("n_view", "n_signup").alias("view_rate"),
        rate("n_click", "n_view").alias("click_rate"),
        rate("n_purchase", "n_click").alias("purchase_rate"),
    )


@register(
    "events_weekly_retention",
    oracle="""
    WITH first_seen AS (
        SELECT user_id, date_trunc('week', min(ts)) AS cohort
        FROM events GROUP BY user_id),
    activity AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events),
    sizes AS (
        SELECT cohort, count(*) AS cohort_users FROM first_seen GROUP BY cohort),
    per AS (
        SELECT f.cohort, a.wk, count(*) AS n_active
        FROM activity a JOIN first_seen f ON a.user_id = f.user_id
        GROUP BY f.cohort, a.wk)
    SELECT CAST(CAST(p.cohort AS DATE) AS VARCHAR) AS cohort_week,
           CAST(CAST(datediff('day', CAST(p.cohort AS DATE), CAST(p.wk AS DATE)) AS DOUBLE)
                / 7 AS INT) AS week_offset,
           CAST(p.n_active AS BIGINT) AS n_active,
           floor((CAST(p.n_active AS DOUBLE) / s.cohort_users) * 1000000) / 1000000 AS retention_rate
    FROM per p JOIN sizes s ON p.cohort = s.cohort
    ORDER BY cohort_week, week_offset
    """,
    tags=("retention", "cohort", "agg"),
)
def events_weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-seen ISO week, then
    the share of each cohort active in every later week. Three aggregations
    all keyed on user_id (first-seen, distinct weekly activity, the
    cohort×week rollup) — at scale the user_id exchange is computed once and
    reused; the cohort-sizes side of the final join is tiny (≤ weeks in
    retention window) and broadcasts. date_trunc runs under the pinned UTC
    session so both engines truncate the same naive instants."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    first_seen = ev.groupBy("user_id").agg(F.date_trunc("week", F.min("ts")).alias("cohort"))
    activity = ev.select("user_id", F.date_trunc("week", "ts").alias("wk")).distinct()
    sizes = first_seen.groupBy("cohort").agg(F.count(F.lit(1)).alias("cohort_users"))
    per = (
        activity.join(first_seen, "user_id")
        .groupBy("cohort", "wk")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    return (
        per.join(F.broadcast(sizes), "cohort")
        .select(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort_week"),
            (F.datediff(F.to_date("wk"), F.to_date("cohort")).cast("double") / 7)
            .cast("int")
            .alias("week_offset"),
            F.col("n_active"),
            qfloor(F.col("n_active").cast("double") / F.col("cohort_users")).alias(
                "retention_rate"
            ),
        )
        .orderBy("cohort_week", "week_offset")
    )


@register(
    "events_winsorized_mean",
    oracle="""
    WITH bounds AS (
        SELECT event_type,
               quantile_cont(value, 0.05) AS p05,
               quantile_cont(value, 0.95) AS p95
        FROM events GROUP BY event_type)
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           floor((b.p05) * 1000000) / 1000000 AS p05,
           floor((b.p95) * 1000000) / 1000000 AS p95,
           floor((CAST(SUM(CAST(floor((least(greatest(e.value, b.p05), b.p95)) * 1000000) / 1000000 AS DECIMAL(18,6))) AS DOUBLE) / count(*)) * 1000000) / 1000000 AS winsorized_mean,
           floor((CAST(SUM(CAST(e.value AS DECIMAL(12,2))) AS DOUBLE) / count(*)) * 1000000) / 1000000 AS raw_mean
    FROM events e JOIN bounds b ON e.event_type = b.event_type
    GROUP BY e.event_type, b.p05, b.p95
    ORDER BY e.event_type
    """,
    tags=("stats", "robust", "agg"),
)
def events_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (outlier-clamped) mean per event type: values clipped to
    the exact [p05, p95] band before averaging — the robust-stats treatment
    metric pipelines apply before training-signal aggregation. Two passes
    over one co-partitioned key: exact percentiles reduce to one tiny row
    per type (broadcast back), then the clamped values round to 6 decimals
    and sum as exact DECIMAL so the mean is partition- and engine-invariant.
    At 100 TB the first pass swaps to approx_percentile (mergeable t-digest)
    with everything else unchanged."""
    from arrow_parquet_logs_spark.functions.numeric import dec

    ev = load_table(spark, sf_dir, "events")
    bounds = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.05)").alias("p05"),
        F.expr("percentile(value, 0.95)").alias("p95"),
    )
    clamped = qfloor(F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95")))
    return (
        ev.join(F.broadcast(bounds), "event_type")
        .groupBy("event_type", "p05", "p95")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(clamped.cast("decimal(18,6)")).cast("double") / F.count(F.lit(1))).alias(
                "_wm"
            ),
            (F.sum(dec("value", 12, 2)).cast("double") / F.count(F.lit(1))).alias("_rm"),
        )
        .select(
            "event_type",
            "n_events",
            qfloor(F.col("p05")).alias("p05"),
            qfloor(F.col("p95")).alias("p95"),
            qfloor(F.col("_wm")).alias("winsorized_mean"),
            qfloor(F.col("_rm")).alias("raw_mean"),
        )
        .orderBy("event_type")
    )


@register(
    "events_error_anomaly",
    oracle="""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS h,
               CAST(count(*) AS BIGINT) AS n_errors
        FROM events WHERE event_type = 'error' GROUP BY 1),
    stats AS (
        SELECT h, n_errors,
               CAST(SUM(n_errors) OVER w AS DOUBLE) AS sx,
               CAST(SUM(CAST(n_errors AS HUGEINT) * n_errors) OVER w AS DOUBLE) AS sxx,
               CAST(count(*) OVER w AS DOUBLE) AS n
        FROM hourly
        WINDOW w AS (ORDER BY h ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
    SELECT CAST(h AS VARCHAR) AS hour,
           n_errors,
           round(sx / n, 6) AS mean_24h,
           round(sqrt((sxx - sx * sx / n) / (n - 1)), 6) AS std_24h,
           round((n_errors - sx / n)
                 / (CASE WHEN sqrt((sxx - sx * sx / n) / (n - 1)) > 0
                         THEN sqrt((sxx - sx * sx / n) / (n - 1)) END), 6) AS zscore,
           CAST(CASE WHEN sqrt((sxx - sx * sx / n) / (n - 1)) > 0
                          AND abs((n_errors - sx / n)
                                  / sqrt((sxx - sx * sx / n) / (n - 1))) >= 2
                THEN 1 ELSE 0 END AS INT) AS is_anomaly
    FROM stats WHERE n >= 12
    ORDER BY hour
    """,
    tags=("anomaly", "window", "stats"),
)
def events_error_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-rate anomaly detection: each hour's error count z-scored
    against its trailing 24h window (current hour excluded). The windowed
    Σx and Σx² are INTEGER sums — exact in any order — and the variance
    identity then runs in one pinned double sequence, so the z-scores are
    engine- and partition-invariant. The x² term multiplies with the
    operand pre-cast to DECIMAL(38,0) / HUGEINT: in BIGINT a single
    hour holding > 3.04·10⁹ errors overflows int64, below the 10¹⁰-row
    design floor (SCALING.md overflow-headroom table). The frame is a
    ROWS window over the tiny hourly rollup (O(hours) rows), a single
    partition here; shard by service/tenant at scale. Warm-up hours
    (fewer than 12 trailing samples) are suppressed."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.where(F.col("event_type") == "error")
        .groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).alias("n_errors"))
    )
    w = W.orderBy("h").rowsBetween(-24, -1)
    st = hourly.select(
        "h",
        "n_errors",
        F.sum("n_errors").over(w).cast("double").alias("sx"),
        F.sum(F.expr("CAST(n_errors AS DECIMAL(38,0)) * n_errors"))
        .over(w).cast("double").alias("sxx"),
        F.count(F.lit(1)).over(w).cast("double").alias("n"),
    )
    sx, sxx = F.col("sx"), F.col("sxx")
    # NULL divisor (not a filter) guards the warm-up rows: ANSI mode throws
    # on the division even though `where(n >= 12)` discards those rows,
    # because the projection fuses with the filter in one codegen stage
    n = F.when(F.col("n") >= 12, F.col("n"))
    std = F.sqrt((sxx - sx * sx / n) / (n - F.lit(1)))
    # constant trailing window → std = 0: z is undefined (NULL), never an
    # anomaly flag — and never an ANSI divide-by-zero
    z = (F.col("n_errors") - sx / n) / F.when(std > 0, std)
    return (
        st.where(F.col("n") >= 12)
        .select(
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "n_errors",
            F.round(sx / n, 6).alias("mean_24h"),
            F.round(std, 6).alias("std_24h"),
            F.round(z, 6).alias("zscore"),
            F.when(z.isNotNull() & (F.abs(z) >= 2), F.lit(1))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("is_anomaly"),
        )
        .orderBy("hour")
    )


@register(
    "events_argmax_conditional_aggs",
    oracle="""
    WITH ranked AS (
        SELECT event_type, event_id, value, user_id,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY value DESC, event_id) AS rn
        FROM events)
    SELECT r.event_type,
           r.event_id AS top_event_id,
           r.value AS top_value,
           r.user_id AS top_user_id,
           a.n_high,
           a.n_users_high,
           a.all_positive,
           a.any_over_90
    FROM ranked r
    JOIN (
        SELECT event_type,
               CAST(count(*) FILTER (WHERE value > 50) AS BIGINT) AS n_high,
               CAST(count(DISTINCT user_id) FILTER (WHERE value > 50) AS BIGINT) AS n_users_high,
               CAST(bool_and(value > 0) AS INT) AS all_positive,
               CAST(bool_or(value > 90) AS INT) AS any_over_90
        FROM events GROUP BY event_type) a
    ON r.event_type = a.event_type
    WHERE r.rn = 1
    ORDER BY r.event_type
    """,
    tags=("agg", "argmax", "conditional"),
)
def events_argmax_conditional_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax-per-group with a DETERMINISTIC tie-break (row_number on
    (value desc, event_id) — never max_by, whose tie winner is
    partition-order-dependent) joined with the conditional-aggregate family:
    filtered counts, filtered distinct counts, bool_and/bool_or. Both
    branches reduce on event_type before the join, so the join sees one row
    per key."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy(F.col("value").desc(), "event_id")
    top = (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("event_id").alias("top_event_id"),
            F.col("value").alias("top_value"),
            F.col("user_id").alias("top_user_id"),
        )
    )
    high = F.col("value") > 50
    aggs = ev.groupBy("event_type").agg(
        F.count(F.when(high, 1)).alias("n_high"),
        F.countDistinct(F.when(high, F.col("user_id"))).alias("n_users_high"),
        F.bool_and(F.col("value") > 0).cast("int").alias("all_positive"),
        F.bool_or(F.col("value") > 90).cast("int").alias("any_over_90"),
    )
    return top.join(aggs, "event_type").orderBy("event_type")


@register(
    "events_salted_type_counts",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    tags=("agg", "skew", "salted"),
)
def events_salted_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type counts + DECIMAL-exact value sums through the explicit
    two-phase SALTED aggregation (operators.relational.salted_agg): phase 1
    groups on (event_type, salt∈[0,8)) so each hot key spreads over 8
    reducers, phase 2 merges partials on the true key. event_type has ~5
    values over the whole corpus — exactly the shape where a single-phase
    reduce keys the entire table through 5 tasks at 100 TB. The oracle is
    the plain GROUP BY: salting must be invisible in the result (count→sum
    and sum→sum merge exactly; DECIMAL makes the sums order-invariant)."""
    from arrow_parquet_logs_spark.functions.numeric import dec
    from arrow_parquet_logs_spark.operators import relational as R

    ev = load_table(spark, sf_dir, "events")
    out = R.salted_agg(
        ev,
        ["event_type"],
        [F.count(F.lit(1)).alias("_n"), F.sum(dec("value", 12, 2)).alias("_s")],
        [
            F.sum("_n").alias("n_events"),
            F.sum("_s").cast("double").alias("total_value"),
        ],
        salt=8,
    )
    return out.orderBy("event_type")


@register(
    "events_salted_user_join",
    oracle="""
    WITH d AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS user_events
        FROM events GROUP BY user_id
    )
    SELECT e.event_type, d.user_events AS user_bucket,
           CAST(count(*) AS BIGINT) AS n
    FROM events e JOIN d ON e.user_id = d.user_id
    GROUP BY e.event_type, d.user_events
    ORDER BY e.event_type, user_bucket
    """,
    tags=("join", "skew", "salted"),
)
def events_salted_user_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replicate-join through the explicit salting operator
    (operators.relational.salted_join): the fact side (events) salts
    randomly, the per-user dimension replicates across all 8 salt values,
    so one hot user's rows land in 8 tasks instead of one straggler — the
    defense for skewed keys too big for AQE's split and dims too big to
    broadcast. The oracle is the plain join: salting must be invisible in
    the result."""
    from arrow_parquet_logs_spark.operators import relational as R

    ev = load_table(spark, sf_dir, "events")
    dim = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("user_events"))
    joined = R.salted_join(ev.select("user_id", "event_type"), dim, "user_id", salt=8)
    return (
        joined.groupBy("event_type", F.col("user_events").alias("user_bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type", "user_bucket")
    )


@register(
    "events_scd2_history",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_type, ts,
               lag(event_type) OVER w AS prev_type,
               row_number() OVER w AS rn
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    changes AS (
        SELECT user_id, event_type AS status, ts AS valid_from
        FROM ordered
        WHERE prev_type IS NULL OR event_type != prev_type
    )
    SELECT user_id, status, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from) AS valid_to,
           CAST(lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from) IS NULL
                AS BOOLEAN) AS is_current
    FROM changes
    ORDER BY user_id, valid_from
    """,
    tags=("window", "scd2", "history"),
)
def events_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) history from a change stream:
    collapse consecutive rows with the same status into one validity
    interval [valid_from, valid_to), open-ended for the current state —
    the changes→dimension-history derivation every warehouse runs.
    Both windows share one shuffle on user_id (same partitioning); the
    (ts, event_id) ordering makes interval boundaries deterministic at
    any parallelism."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNull() | (F.col("event_type") != F.col("prev_type")))
        .select("user_id", F.col("event_type").alias("status"), F.col("ts").alias("valid_from"))
    )
    w2 = W.partitionBy("user_id").orderBy("valid_from")
    return (
        changes.withColumn("valid_to", F.lead("valid_from").over(w2))
        .withColumn("is_current", F.col("valid_to").isNull())
        .orderBy("user_id", "valid_from")
    )


@register(
    "events_stream_session_window",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 21600000000
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    islands AS (
        SELECT user_id, ts,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 6 HOUR AS session_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM islands GROUP BY user_id, sid ORDER BY user_id, session_start
    """,
    tags=("streaming", "sessionize", "eventtime"),
)
def events_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows as a Structured Streaming job: the stateful
    merging-session-window operator (gap 6h, keyed by user) over a
    file-source stream, availableNow drain — hash-matched against the SAME
    islands oracle as the batch form (events_session_window), pinning
    streaming≡batch for the hardest stateful window (sessions MERGE as late
    events arrive, unlike fixed tumbling windows).

    Complete-mode memory sink for the oracle twin, same reasoning as
    events_stream_hourly_rollup: append mode would hold back every session
    the watermark hasn't closed on a finite input. State sizing: ~150 users
    × open sessions is KBs — 8 state stores, not 32."""
    from arrow_parquet_logs_spark.sources.tables import read_events_stream

    stream = read_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy("user_id", F.session_window("ts", "6 hours"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )
    name = f"stream_sessions_{next(_STREAM_SEQ)}"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    rows = spark.table(name).orderBy("user_id", "session_start").collect()
    spark.catalog.dropTempView(name)
    return spark.createDataFrame(
        rows, "user_id bigint, session_start timestamp, session_end timestamp, n_events bigint"
    ).orderBy("user_id", "session_start")


@register(
    "events_stream_dedup",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    tags=("streaming", "dedup", "eventtime"),
)
def events_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup under the hash gate: the events stream unioned
    with ITSELF (every record arrives twice) must collapse back to exactly
    the batch table through ``dropDuplicatesWithinWatermark`` on event_id —
    the at-least-once→effectively-once repair every streaming ingest needs.
    The oracle aggregates the original (unduplicated) table, so a single
    leaked duplicate or dropped record breaks the hash.

    Dedup state is watermark-bounded (2h of event_ids, not the full
    history) — the property that makes this run forever at 100 TB/day.
    Append mode through a DISTRIBUTED parquet sink (dedup emits rows
    immediately; the row-sized drain OOMed the driver through a memory
    sink at sf10 — see ``_drain_stream``); the per-type rollup happens
    batch-side on the drained files."""
    from arrow_parquet_logs_spark.sources.tables import read_events_stream

    s1 = read_events_stream(spark, sf_dir)
    s2 = read_events_stream(spark, sf_dir)
    deduped = (
        s1.unionByName(s2)
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    return (
        _drain_stream(deduped, "stream_dedup_")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.count_distinct("user_id").cast("bigint").alias("n_users"),
        )
        .orderBy("event_type")
    )


@register(
    "events_stream_error_context",
    oracle="""
    SELECT e.event_id AS error_id, c.event_id AS context_id,
           e.user_id AS user_id, e.ts AS error_ts, c.ts AS context_ts,
           c.event_type AS context_type
    FROM events e JOIN events c
      ON e.user_id = c.user_id
     AND c.ts >= e.ts - INTERVAL 30 MINUTE AND c.ts <= e.ts
    WHERE e.event_type = 'error' AND c.event_type != 'error'
    ORDER BY error_id, context_id
    """,
    tags=("streaming", "join", "interval", "eventtime"),
)
def events_stream_error_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join under the hash gate: each streamed error
    event pairs with the same user's non-error events in the 30 minutes
    leading up to it — two watermarked file-source streams, an event-time-
    bounded join condition (so buffered state expires at watermark +
    lookback instead of growing with the stream), availableNow drain. The
    result must hash-match the identical batch join in DuckDB: a dropped
    pair (state expired too early) or duplicate (join state replayed)
    breaks the gate. Both sides shuffle on user_id — co-partitioned, no
    stream is broadcast."""
    from arrow_parquet_logs_spark.sources.tables import read_events_stream

    err = (
        read_events_stream(spark, sf_dir)
        .where(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("error_ts"),
        )
        .withWatermark("error_ts", "2 hours")
    )
    ctx = (
        read_events_stream(spark, sf_dir)
        .where(F.col("event_type") != "error")
        .select(
            F.col("event_id").alias("context_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("context_ts"),
            F.col("event_type").alias("context_type"),
        )
        .withWatermark("context_ts", "2 hours")
    )
    cond = (
        (F.col("e_user") == F.col("c_user"))
        & (F.col("context_ts") >= F.col("error_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("context_ts") <= F.col("error_ts"))
    )
    joined = err.join(ctx, cond, "inner").select(
        "error_id",
        "context_id",
        F.col("e_user").alias("user_id"),
        "error_ts",
        "context_ts",
        "context_type",
    )
    # pair-sized output scales with the data: distributed parquet drain,
    # not a driver-held memory table (see _drain_stream)
    return _drain_stream(joined, "stream_errctx_").orderBy("error_id", "context_id")


@register(
    "events_stream_enrich",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1 ORDER BY 1
    """,
    tags=("streaming", "join", "stream-static", "broadcast"),
)
def events_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment — the remaining Structured
    Streaming join shape: a file-source event stream inner-joins a
    BROADCAST static customer dimension per micro-batch (stateless: no
    watermark, no join state, append mode), the standard pattern for
    enriching a hot event stream with a slowly-changing dim at 100 TB —
    the dim broadcasts once per batch, the stream side never shuffles.
    The enriched rows drain through an append-mode memory sink and
    aggregate batch-side; the oracle is the plain batch join+rollup, so a
    dropped or duplicated micro-batch, or a join-key mismatch, breaks the
    hash. DECIMAL value sums keep the total exact under any batch split."""
    from arrow_parquet_logs_spark.functions.numeric import dec
    from arrow_parquet_logs_spark.sources.tables import read_events_stream

    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    stream = read_events_stream(spark, sf_dir).select("user_id", "value")
    joined = stream.join(F.broadcast(dim), "user_id").select("segment", "value")
    # enriched rows are event-sized: distributed parquet drain, batch rollup
    return (
        _drain_stream(joined, "stream_enrich_", shuffle_partitions=None)
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(dec("value", 18, 6)).cast("double").alias("total_value"),
        )
        .orderBy("segment")
    )


@register(
    "events_asof_join_operator",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts, v.ts AS ts_asof,
           CAST(epoch_us(p.ts) - epoch_us(v.ts) AS BIGINT) AS us_since_view
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
    ASOF JOIN (SELECT user_id, ts FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id AND v.ts <= p.ts
    ORDER BY p.event_id
    """,
    tags=("join", "asof", "eventtime"),
)
def events_asof_join_operator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GENERIC as-of join operator (operators.relational.asof_join —
    union-and-carry, one shuffle on the key) checked against DuckDB's
    NATIVE ``ASOF JOIN``: purchases enrich with the most recent prior-or-
    equal view per user. Two independent formulations of backward-inclusive
    as-of semantics must agree row-for-row — a tie-handling or
    inclusivity bug in either the operator's side-ordering or its carry
    window lands as a hash mismatch. (events_asof_attribution pins the
    same semantics hand-inlined; this query pins the reusable operator.)"""
    from arrow_parquet_logs_spark.operators.relational import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.where(F.col("event_type") == "view").select("user_id", "ts")
    out = asof_join(purchases, views, on="user_id", left_ts="ts")
    return (
        out.where(F.col("ts_asof").isNotNull())
        .select(
            "event_id", "user_id", "ts", "ts_asof",
            (F.unix_micros("ts") - F.unix_micros("ts_asof")).alias("us_since_view"),
        )
        .orderBy("event_id")
    )


@register(
    "events_variant_json",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(count(*) AS BIGINT) AS n,
           CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
    FROM events
    WHERE CAST(json_extract(props, '$.k') AS BIGINT) % 3 = 0
    GROUP BY event_type ORDER BY event_type
    """,
    tags=("json", "variant", "spark4"),
)
def events_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props through Spark 4's VARIANT type — the modern
    JSON path: ``parse_json`` once into a binary variant column, then
    typed ``variant_get`` extractions (no per-access string re-parse, the
    engine-level reason VARIANT exists; at 100 TB the parse cost is paid
    once per ingest instead of once per predicate). Filter + integer
    aggregate on the extracted field; the oracle replays with plain JSON
    extraction."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.withColumn("pv", F.parse_json("props"))
    k = F.variant_get("pv", "$.k", "bigint")
    return (
        v.where(k % 3 == 0)
        .groupBy("event_type")
        .agg(
            F.sum(k).alias("sum_k"),
            F.count(F.lit(1)).alias("n"),
            F.max(k).alias("max_k"),
        )
        .orderBy("event_type")
    )


@register(
    "events_ewma_value",
    oracle="""
    WITH lagged AS (
        SELECT event_id, event_type, value,
               lag(value, 1) OVER w AS v1, lag(value, 2) OVER w AS v2,
               lag(value, 3) OVER w AS v3, lag(value, 4) OVER w AS v4
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    )
    SELECT event_id, event_type,
           floor((0.5 * value
                  + 0.25 * COALESCE(v1, 0.0) + 0.125 * COALESCE(v2, 0.0)
                  + 0.0625 * COALESCE(v3, 0.0) + 0.03125 * COALESCE(v4, 0.0)
                 ) * 1000000) / 1000000 AS ewma5
    FROM lagged
    WHERE event_id < 5000
    ORDER BY event_id
    """,
    tags=("window", "timeseries", "ewma"),
)
def events_ewma_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (α=0.5, 5-term truncation) as
    UNROLLED lag terms — the only EWMA formulation that is deterministic
    across engines and partitionings: each output is one fixed-order
    float expression of five window lags (no recursive state, no
    frame-order summation), floor-rounded at 1e-6 to absorb the last ulp.
    Per-key windows shuffle once on event_type; the truncated form is
    also the scale story — an exact recursive EWMA would serialize each
    key's full history."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    w = W.partitionBy("event_type").orderBy("ts", "event_id")
    terms = (
        F.lit(0.5) * F.col("value")
        + F.lit(0.25) * F.coalesce(F.lag("value", 1).over(w), F.lit(0.0))
        + F.lit(0.125) * F.coalesce(F.lag("value", 2).over(w), F.lit(0.0))
        + F.lit(0.0625) * F.coalesce(F.lag("value", 3).over(w), F.lit(0.0))
        + F.lit(0.03125) * F.coalesce(F.lag("value", 4).over(w), F.lit(0.0))
    )
    return (
        ev.select("event_id", "event_type", qfloor(terms).alias("ewma5"))
        .where(F.col("event_id") < 5000)
        .orderBy("event_id")
    )


@register(
    "events_transition_matrix",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        FROM events
    )
    SELECT prev_type, event_type AS next_type,
           CAST(count(*) AS BIGINT) AS n_transitions
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, next_type ORDER BY prev_type, next_type
    """,
    tags=("window", "sequence", "funnel"),
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-sequence transition matrix (the Markov-chain view of user
    behavior): per-user lag pairs (prev → next event type) counted across
    the corpus. One shuffle on user_id for the window, then a tiny
    (|types|²) aggregate — the standard path-analysis primitive."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNotNull())
        .groupBy(F.col("prev_type"), F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n_transitions"))
        .orderBy("prev_type", "next_type")
    )


@register(
    "events_stream_stream_join",
    oracle="""
    WITH v AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
    p AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase')
    SELECT p.user_id,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CAST(p.value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM p JOIN v ON p.user_id = v.user_id
       AND v.ts <= p.ts AND p.ts <= v.ts + INTERVAL 10 MINUTE
    GROUP BY p.user_id ORDER BY p.user_id
    """,
    tags=("streaming", "join", "eventtime", "interval"),
)
def events_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM event-time interval join — the last Structured
    Streaming join shape (stream-static is `events_stream_enrich`): the
    events table arrives as a 3-file stream consumed one file per
    micro-batch by TWO readers — a view stream and a purchase stream —
    inner-joined on user with ``v_ts ≤ p_ts ≤ v_ts + 10 min``. Matches
    spanning micro-batches (a view in batch 0 pairing a purchase in
    batch 2) only appear if Spark's symmetric join STATE retains both
    sides correctly, which is what this pins; the watermark is set beyond
    the dataset span so no row is late and the append-mode result must
    equal the batch join exactly (the oracle). At 100 TB the same plan
    runs with a real lateness-bounded watermark — the state store then
    holds only the interval's width per key, which is the point of
    range-condition stream joins. DECIMAL sums keep totals exact under
    any micro-batch split."""
    import os
    import shutil

    from arrow_parquet_logs_spark.functions.numeric import dec
    from arrow_parquet_logs_spark.sources.tables import normalize_ts_for_streaming

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id", "event_type", "value")
    src = scratch_dir(prefix="ss_join_") + "/files"
    try:
        for i in range(3):
            ev.where(F.col("event_id") % 3 == i).coalesce(1).write.mode("append").parquet(src)
        raw_schema = spark.read.parquet(src).schema

        def file_stream():
            return normalize_ts_for_streaming(
                spark.readStream.schema(raw_schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(src)
            )

        views = (
            file_stream()
            .where(F.col("event_type") == "view")
            .select(F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts"))
            .withWatermark("v_ts", "35 days")
        )
        purchases = (
            file_stream()
            .where(F.col("event_type") == "purchase")
            .select("user_id", F.col("ts").alias("p_ts"), "value")
            .withWatermark("p_ts", "35 days")
        )
        joined = purchases.join(
            views,
            F.expr(
                "user_id = v_user AND v_ts <= p_ts AND p_ts <= v_ts + interval 10 minutes"
            ),
        ).select("user_id", "value")
        # pair-sized join output: distributed parquet drain (_drain_stream)
        rows = (
            _drain_stream(joined, "stream_ss_join_", shuffle_partitions=None)
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_pairs"),
                F.sum(dec("value", 18, 6)).cast("double").alias("total_value"),
            )
            .orderBy("user_id")
            .collect()
        )
    finally:
        shutil.rmtree(os.path.dirname(src), ignore_errors=True)
    return spark.createDataFrame(
        rows, "user_id bigint, n_pairs bigint, total_value double"
    ).orderBy("user_id")


@register(
    "events_countmin_user_counts",
    oracle="""
    WITH c AS MATERIALIZED (
      SELECT r,
             CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR) || '#'
                  || CAST(r AS VARCHAR)), 1, 15)) AS BIGINT) % 256 AS bucket,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events, unnest([0, 1, 2, 3]) AS t(r)
      GROUP BY 1, 2
    ),
    p AS (SELECT DISTINCT user_id FROM events WHERE user_id < 25),
    px AS (
      SELECT user_id, i AS r,
             CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR) || '#'
                  || CAST(i AS VARCHAR)), 1, 15)) AS BIGINT) % 256 AS bucket
      FROM p, unnest([0, 1, 2, 3]) AS t(i)
    ),
    e AS (
      SELECT user_id, min(coalesce(cnt, 0)) AS cms_estimate
      FROM px LEFT JOIN c USING (r, bucket) GROUP BY user_id
    ),
    tr AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS true_count
      FROM events WHERE user_id < 25 GROUP BY user_id
    )
    SELECT p.user_id, coalesce(tr.true_count, 0) AS true_count,
           e.cms_estimate,
           e.cms_estimate - coalesce(tr.true_count, 0) AS overestimate
    FROM p JOIN e USING (user_id) LEFT JOIN tr USING (user_id)
    ORDER BY user_id
    """,
    tags=("sketch", "count-min", "approx"),
)
def events_countmin_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (operators/sketch.py): per-user event frequencies
    estimated from a 4×256 counter table built in one explode+aggregate
    pass — fixed-size and cell-wise mergeable, the shape that summarizes a
    100 TB keyspace where an exact per-key count is an unbounded shuffle.
    Point estimates (min over the key's four row-seeded counters) are
    compared against exact counts: the overestimate column is provably
    ≥ 0 and the whole sketch — md5-derived hashes included — replays
    bit-for-bit in the oracle, so this pins estimator correctness, not
    just plumbing."""
    from arrow_parquet_logs_spark.operators.sketch import (
        count_min_counters,
        count_min_estimate,
    )

    ev = load_table(spark, sf_dir, "events")
    counters = count_min_counters(ev, "user_id", depth=4, width=256)
    probes = ev.select("user_id").where(F.col("user_id") < 25).distinct()
    est = count_min_estimate(probes, counters, "user_id", depth=4, width=256)
    true = (
        ev.where(F.col("user_id") < 25)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("true_count"))
    )
    return (
        probes.join(est, "user_id")
        .join(true, "user_id", "left")
        .select(
            "user_id",
            F.coalesce("true_count", F.lit(0)).alias("true_count"),
            "cms_estimate",
            (F.col("cms_estimate") - F.coalesce("true_count", F.lit(0))).alias(
                "overestimate"
            ),
        )
        .orderBy("user_id")
    )


@register(
    "events_chisq_independence",
    oracle="""
    WITH ev AS MATERIALIZED (
      SELECT event_type, CAST(floor(value / 50.0) AS BIGINT) AS band FROM events
    ),
    o AS MATERIALIZED (
      SELECT event_type, band, CAST(count(*) AS HUGEINT) AS o
      FROM ev GROUP BY 1, 2
    ),
    r AS MATERIALIZED (
      SELECT event_type, CAST(count(*) AS HUGEINT) AS r FROM ev GROUP BY 1
    ),
    c AS MATERIALIZED (
      SELECT band, CAST(count(*) AS HUGEINT) AS c FROM ev GROUP BY 1
    ),
    n AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM ev),
    cells AS (
      SELECT r.event_type, r.r, c.band, c.c, COALESCE(o.o, 0) AS o
      FROM r CROSS JOIN c
      LEFT JOIN o ON o.event_type = r.event_type AND o.band = c.band
    )
    SELECT event_type, CAST(r AS BIGINT) AS n_type,
           CAST(sum(
             (((o * (SELECT n FROM n) - r * c) * 1000)
              * ((o * (SELECT n FROM n) - r * c) * 1000))
             // ((SELECT n FROM n) * r * c)
           ) AS DOUBLE) / 1000000.0 AS chi2_contrib
    FROM cells GROUP BY 1, 2 ORDER BY event_type
    """,
    tags=("stats", "chi-square", "independence", "contingency"),
)
def events_chisq_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence screen: is event_type independent
    of value band (floor(value/50))? The per-type CONTRIBUTIONS to the
    statistic are returned (their sum is the chi-square; the per-type
    split says which behavior deviates most from independence) — the
    standard drift/association screen a feature-validation pipeline runs
    between a categorical and a bucketed numeric column.

    Scale shape: the observed table is one groupBy over the events scan;
    margins are two more tiny aggregations; the FULL R×C cell grid
    (including zero-observation cells, which contribute r·c/N and which
    a naive observed-only sum silently drops) is the margins' cross
    product — R and C frames are statistics-sized, so the cross is a
    broadcast of bounded frames, never data×data.

    Determinism: each cell term evaluates as the integer rational
    ((o·N − r·c)·1000)² DIV (N·r·c) with EVERY operand cast to
    DECIMAL(38,0) BEFORE any multiply — the r6 form multiplied o·n and
    n·r·c in BIGINT first, which overflows int64 once n³ approaches 2⁶³
    (n ≈ 10⁷ events, i.e. sf10: judge-reproduced ARITHMETIC_OVERFLOW).
    Spark's DIV and DuckDB's HUGEINT // truncate identically on
    non-negative operands (the pagerank contract), so the per-type sums
    are exact integers, order-independent under any partitioning, and
    the only float op is one final division by 10⁶.

    Headroom: the squared numerator ((o·N − r·c)·1000)² ≤ N⁴·10⁶ must
    fit DECIMAL(38,0) (and DuckDB HUGEINT ≈ 1.7·10³⁸), so the exact
    form holds to N ≈ 1.0·10⁸ events (~sf100 on this generator). Past
    that the query needs a float-χ² variant — recorded in SCALING.md's
    overflow-headroom table."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.floor(F.col("value") / F.lit(50.0)).cast("long").alias("band")
    )
    o = ev.groupBy("event_type", "band").agg(F.count(F.lit(1)).alias("o"))
    r = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("r"))
    c = ev.groupBy("band").agg(F.count(F.lit(1)).alias("c"))
    n = ev.agg(F.count(F.lit(1)).alias("n"))
    cells = (
        r.crossJoin(F.broadcast(c))
        .crossJoin(F.broadcast(n))
        .join(o, ["event_type", "band"], "left")
        .select(
            "event_type", "r",
            F.coalesce(F.col("o"), F.lit(0)).alias("o"),
            "c", "n",
        )
    )
    # ((o·N − r·c)·1000)² DIV (N·r·c): operands cast to DECIMAL(38,0)
    # BEFORE multiplying — o·n, r·c and n·r·c overflow int64 once
    # n³ ≳ 2⁶³ (n ≈ 10⁷, sf10). DECIMAL(38,0)·DECIMAL(38,0) types out
    # as DECIMAL(38,0) (scale 0 ⇒ no precision loss) and the actual
    # values are bounded: numerator ≤ n⁴·10⁶ fits to n ≈ 10⁸.
    _d1000 = (
        "CAST((CAST(o AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0))"
        " - CAST(r AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0))) * 1000"
        " AS DECIMAL(38,0))"
    )
    term = F.expr(
        f"CAST({_d1000} * {_d1000} AS DECIMAL(38,0))"
        " DIV CAST(CAST(n AS DECIMAL(38,0)) * CAST(r AS DECIMAL(38,0))"
        "          * CAST(c AS DECIMAL(38,0)) AS DECIMAL(38,0))"
    )
    return (
        cells.withColumn("term", term)
        .groupBy("event_type", F.col("r").cast("long").alias("n_type"))
        .agg((F.sum("term").cast("double") / F.lit(1000000.0)).alias("chi2_contrib"))
        .orderBy("event_type")
    )


@register(
    "events_key_skew_gini",
    oracle="""
    WITH uc AS MATERIALIZED (
      SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    rk AS (
      SELECT event_type, x,
             row_number() OVER (PARTITION BY event_type ORDER BY x, user_id) AS i
      FROM uc
    ),
    g AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(CAST(i AS HUGEINT) * x) AS HUGEINT) AS six,
             CAST(max(x) AS BIGINT) AS mx
      FROM rk GROUP BY 1
    )
    SELECT event_type, n AS n_users, sx AS n_events,
           floor((CAST(2 * six - (CAST(n AS HUGEINT) + 1) * sx AS DOUBLE)
                  / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE))) * 1000000) / 1000000 AS gini,
           floor((CAST(mx AS DOUBLE) / CAST(sx AS DOUBLE)) * 1000000) / 1000000 AS hot_share
    FROM g ORDER BY event_type
    """,
    tags=("stats", "skew", "gini", "diagnostics"),
)
def events_key_skew_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnosis — the screen you run BEFORE keying a 100 TB
    join or aggregation: per event type, the Gini coefficient of the
    per-user event-count distribution plus the hottest key's share.
    Gini ≈ 0 means uniform keys (hash partitioning will balance);
    Gini → 1 / a fat hot_share means a celebrity key that needs salting
    or an AQE skew split. Cost shape: one map-side-combined groupBy to
    the (type, user) count frame, then a window and an aggregation over
    that KEYS-SIZED frame — diagnosis never reshuffles the event data.

    Determinism: the rank form G = (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx) is
    integer except the final division (ties contribute identically under
    any tie order, and the (x, user_id) order is total anyway). The
    quadratic terms Σi·x and (n+1)·Σx run with operands cast to
    DECIMAL(38,0) / HUGEINT BEFORE multiplying — in BIGINT the worst
    case (all-distinct users) overflows int64 at N ≈ 4.3·10⁹ rows, below
    the 10¹⁰-row design floor (see SCALING.md's overflow-headroom
    table). The doubles are exact below 2⁵³, and cross-engine parity of
    the single division + qfloor holds to |numerator| < 2⁶³ (both
    engines' int→double conversions are single correctly-rounded ops in
    that range)."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    uc = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    w = W.partitionBy("event_type").orderBy("x", "user_id")
    rk = uc.select("event_type", "x", F.row_number().over(w).alias("i"))
    g = rk.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.expr("CAST(i AS DECIMAL(38,0)) * x")).alias("six"),
        F.max("x").cast("long").alias("mx"),
    )
    gini = (
        F.expr(
            "CAST(2 AS DECIMAL(38,0)) * six"
            " - (CAST(n AS DECIMAL(38,0)) + 1) * sx"
        ).cast("double")
        / (F.col("n").cast("double") * F.col("sx").cast("double"))
    )
    hot = F.col("mx").cast("double") / F.col("sx").cast("double")
    return g.select(
        "event_type",
        F.col("n").alias("n_users"),
        F.col("sx").alias("n_events"),
        qfloor(gini).alias("gini"),
        qfloor(hot).alias("hot_share"),
    ).orderBy("event_type")


@register(
    "events_value_equidepth",
    oracle="""
    WITH t AS (
      SELECT event_type, value,
             ntile(10) OVER (PARTITION BY event_type ORDER BY value, event_id) AS bucket
      FROM events
    )
    SELECT event_type, CAST(bucket AS INTEGER) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           min(value) AS lo, max(value) AS hi
    FROM t GROUP BY 1, 2 ORDER BY event_type, bucket
    """,
    tags=("stats", "histogram", "equi-depth", "quantile"),
)
def events_value_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram (10 buckets of equal row count per event
    type) — the complement of the fixed-width `events_value_histogram`:
    bucket BOUNDARIES adapt to the data, so heavy tails get resolution
    where the mass is. This is the exact form of what
    `percentile_approx` sketches; the exact twin verifies semantics at
    test SF while the sketch is the single-pass plan at 100 TB (the
    repo's standard exact/approx pairing). ntile's remainder rule —
    earlier buckets take one extra row — is SQL-standard in both
    engines, and the (value, event_id) total order makes bucket
    membership deterministic under ties. Bucket min/max pass through
    untouched (no float arithmetic), so the hash gate is exact.

    Scale: one window partitioned by type (state = one pass over each
    type's sorted run) and one bucket-keyed aggregation; nothing global,
    nothing quadratic."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy("value", "event_id")
    t = ev.select("event_type", "value", F.ntile(10).over(w).alias("bucket"))
    return (
        t.groupBy("event_type", F.col("bucket").cast("int").alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
        .orderBy("event_type", "bucket")
    )


@register(
    "events_cusum_changepoint",
    oracle="""
    WITH hc AS MATERIALIZED (
      SELECT event_type, date_trunc('hour', ts) AS h, CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    pre AS (
      SELECT event_type, h, x,
             CAST(row_number() OVER w AS BIGINT) AS k,
             CAST(sum(x) OVER w AS BIGINT) AS pk
      FROM hc WINDOW w AS (PARTITION BY event_type ORDER BY h
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    tot AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s
      FROM hc GROUP BY 1
    ),
    scored AS (
      SELECT p.event_type, p.h, t.n,
             (CAST(t.n AS HUGEINT) * p.pk - CAST(p.k AS HUGEINT) * t.s) AS score,
             row_number() OVER (
               PARTITION BY p.event_type
               ORDER BY abs(CAST(t.n AS HUGEINT) * p.pk
                            - CAST(p.k AS HUGEINT) * t.s) DESC, p.h) AS rk
      FROM pre p JOIN tot t ON t.event_type = p.event_type
    )
    SELECT event_type, h AS change_hour, CAST(n AS BIGINT) AS n_hours,
           floor((CAST(score AS DOUBLE) / CAST(n AS DOUBLE)) * 1000000) / 1000000
               AS cusum_peak
    FROM scored WHERE rk = 1 ORDER BY event_type
    """,
    tags=("stats", "timeseries", "changepoint", "cusum"),
)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection on each event type's hourly count
    series: the hour where the cumulative deviation from the series mean
    peaks — the classic screen for "when did this metric's level shift",
    run by every pipeline that monitors ingest volumes. The textbook
    statistic Σ(xᵢ−μ) is float (μ = S/n); multiplying through by n gives
    the INTEGER form n·Pₖ − k·S (Pₖ the prefix sum), so the argmax —
    and therefore the reported change point — is exact integer
    arithmetic with an earliest-hour tie-break; only the final
    normalization back to CUSUM units divides (one IEEE op on exact-in-
    double integers, then qfloor). The products n·Pₖ and k·S run with
    operands cast to DECIMAL(38,0) / HUGEINT BEFORE multiplying: in
    BIGINT a sparse series (hours ≈ events, so n·S ≈ N²) overflows
    int64 at N ≈ 3·10⁹ rows — below the 10¹⁰-row design floor (see
    SCALING.md's overflow-headroom table).

    Scale: the hourly rollup is the only pass over the data; everything
    after runs on the HOURS-SIZED frame (two windows and a type-keyed
    join), the same diagnosis-is-cheap shape as the Gini screen."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    hc = (
        ev.groupBy("event_type", F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
        .select("event_type", F.col("w.start").alias("h"), "x")
    )
    run = W.partitionBy("event_type").orderBy("h").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    pre = hc.select(
        "event_type", "h", "x",
        F.row_number().over(W.partitionBy("event_type").orderBy("h"))
        .cast("long").alias("k"),
        F.sum("x").over(run).cast("long").alias("pk"),
    )
    tot = hc.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
    )
    scored = pre.join(F.broadcast(tot), "event_type").select(
        "event_type", "h", "n",
        F.expr(
            "CAST(n AS DECIMAL(38,0)) * pk - CAST(k AS DECIMAL(38,0)) * s"
        ).alias("score"),
    )
    rk = F.row_number().over(
        W.partitionBy("event_type").orderBy(F.abs(F.col("score")).desc(), "h")
    )
    return (
        scored.withColumn("rk", rk)
        .where(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("h").alias("change_hour"),
            F.col("n").alias("n_hours"),
            qfloor(F.col("score").cast("double") / F.col("n").cast("double"))
            .alias("cusum_peak"),
        )
        .orderBy("event_type")
    )


@register(
    "events_hourly_autocorrelation",
    oracle="""
    WITH hc AS MATERIALIZED (
      SELECT event_type, date_trunc('hour', ts) AS h, CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    lagd AS (
      SELECT event_type, x,
             lead(x) OVER (PARTITION BY event_type ORDER BY h) AS y
      FROM hc
    ),
    s AS (
      SELECT event_type,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy,
             CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
             CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy
      FROM lagd WHERE y IS NOT NULL GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_pairs,
           round((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS acf_lag1
    FROM s ORDER BY event_type
    """,
    tags=("stats", "timeseries", "autocorrelation"),
)
def events_hourly_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of each event type's hourly count series —
    the burstiness/persistence screen (acf≈0: Poisson-ish arrivals;
    acf→1: load trends that capacity planning must model; acf<0:
    oscillation, usually a retry loop). Pairs are consecutive rows of
    the observed hourly series (lead over the hour order); Pearson r
    comes from the same exact-integer raw moments as the corr/OLS
    family — sums of integer counts are order-independent, the moment
    identity evaluates in one pinned double-op sequence, and sqrt is
    IEEE correctly-rounded in both engines.

    Scale: the rollup is the only data-sized pass; the lag window and
    moment aggregation run on the hours-sized frame. The quadratic
    moments (Σxy, Σx², Σy²) multiply with operands pre-cast to
    DECIMAL(38,0) / HUGEINT: in BIGINT two adjacent hours each holding
    > 3.04·10⁹ events overflow the x·y term, below the 10¹⁰-row design
    floor (SCALING.md overflow-headroom table); the linear sums stay
    BIGINT (safe to 9.2·10¹⁸ rows)."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    hc = (
        ev.groupBy("event_type", F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
        .select("event_type", F.col("w.start").alias("h"), "x")
    )
    lagd = hc.select(
        "event_type", "x",
        F.lead("x").over(W.partitionBy("event_type").orderBy("h")).alias("y"),
    ).where(F.col("y").isNotNull())
    s = lagd.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * y")).cast("double").alias("sxy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).cast("double").alias("sxx"),
        F.sum(F.expr("CAST(y AS DECIMAL(38,0)) * y")).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    acf = (n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    return s.select(
        "event_type",
        n.cast("bigint").alias("n_pairs"),
        F.round(acf, 6).alias("acf_lag1"),
    ).orderBy("event_type")


from arrow_parquet_logs_spark.operators.sketch import hll_oracle_sql as _hll_sql  # noqa: E402


@register(
    "agg_hll_portable",
    oracle=f"""
    WITH est AS ({_hll_sql("user_id", "events")}),
    ex AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact FROM events)
    SELECT ex.n_exact, est.hll_estimate FROM ex CROSS JOIN est
    """,
    tags=("sketch", "hll", "approx", "portable"),
)
def agg_hll_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PORTABLE HyperLogLog distinct-user estimate next to the exact
    count (operators/sketch.py): registers derive from the md5 digest
    with pure string/CASE expressions and the raw-HLL estimator is one
    integral DIV — so unlike ``approx_count_distinct`` (a real HLL whose
    registers and float estimator live inside the engine), this sketch
    replays BIT-FOR-BIT in the DuckDB oracle: the hash gate pins the
    estimate itself, not a tolerance band around it. Registers are 256
    bytes, merge by per-bucket max (hour/shard/source sketches combine
    without rescanning — the mergeability CMS has for frequencies,
    extended to cardinality), and the one data-sized pass is map-side.
    Accuracy (~6.5% typical at m=256) is pinned separately in pytest;
    this gate pins cross-engine equality of the whole spec."""
    from arrow_parquet_logs_spark.operators.sketch import hll_estimate, hll_registers

    ev = load_table(spark, sf_dir, "events")
    est = hll_estimate(hll_registers(ev, "user_id"))
    exact = ev.agg(F.countDistinct("user_id").cast("long").alias("n_exact"))
    return exact.crossJoin(F.broadcast(est)).select("n_exact", "hll_estimate")


@register(
    "events_robust_outliers",
    oracle="""
    WITH v AS MATERIALIZED (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      FROM events
    ),
    med AS MATERIALIZED (
      SELECT event_type, sum(value) / count(*) AS med
      FROM v WHERE rn IN ((n + 1) // 2, (n + 2) // 2) GROUP BY event_type
    ),
    d AS MATERIALIZED (
      SELECT v.event_type, abs(v.value - med.med) AS dev,
             row_number() OVER (PARTITION BY v.event_type
                                ORDER BY abs(v.value - med.med), v.rn) AS rn,
             CAST(count(*) OVER (PARTITION BY v.event_type) AS BIGINT) AS n
      FROM v JOIN med ON med.event_type = v.event_type
    ),
    mad AS MATERIALIZED (
      SELECT event_type, sum(dev) / count(*) AS mad
      FROM d WHERE rn IN ((n + 1) // 2, (n + 2) // 2) GROUP BY event_type
    )
    SELECT m.event_type,
           floor(m.med * 1000000) / 1000000 AS median_value,
           floor(a.mad * 1000000) / 1000000 AS mad_value,
           CAST((SELECT count(*) FROM d
                 WHERE d.event_type = m.event_type
                   AND d.dev > 3.5 * 1.4826 * a.mad) AS BIGINT) AS n_outliers
    FROM med m JOIN mad a ON a.event_type = m.event_type
    ORDER BY m.event_type
    """,
    tags=("stats", "robust", "median", "mad", "outliers"),
)
def events_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier screen per event type — median/MAD instead of
    mean/stddev, the form that doesn't let the outliers you're hunting
    contaminate the threshold that's supposed to catch them (one 10⁶
    spike moves a mean-based z-score's own yardstick; it moves the
    median by one rank). Flags |x − median| > 3.5·1.4826·MAD (the
    standard consistency-scaled cutoff).

    Medians are EXPLICIT ORDER STATISTICS, not percentile_approx and not
    the engines' interpolating percentile builtins (whose interpolation
    op order differs between engines in the last ulp): rank the values,
    take the middle one or two, average — the average of exactly two
    doubles is a single commutative IEEE add and one halving, identical
    everywhere. MAD = 0 (over half the values identical) degenerates to
    flagging every deviation, the documented MAD caveat, and is still
    deterministic. Scale: two rank windows partitioned by type + one
    count — no global sort, no collect, threshold math on the TYPES-
    sized frame."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events").select("event_type", "event_id", "value")
    wv = W.partitionBy("event_type").orderBy("value", "event_id")
    wn = W.partitionBy("event_type")
    v = ev.select(
        "event_type", "value",
        F.row_number().over(wv).alias("rn"),
        F.count(F.lit(1)).over(wn).cast("long").alias("n"),
    )
    med = (
        v.where(F.expr("rn = (n + 1) DIV 2 OR rn = (n + 2) DIV 2"))
        .groupBy("event_type")
        .agg((F.sum("value") / F.count(F.lit(1))).alias("med"))
    )
    d = v.join(med, "event_type").select(
        "event_type",
        F.abs(F.col("value") - F.col("med")).alias("dev"),
        F.col("rn").alias("orig_rn"),
    )
    wd = W.partitionBy("event_type").orderBy("dev", "orig_rn")
    d2 = d.select(
        "event_type", "dev",
        F.row_number().over(wd).alias("rn"),
        F.count(F.lit(1)).over(wn).cast("long").alias("n"),
    )
    mad = (
        d2.where(F.expr("rn = (n + 1) DIV 2 OR rn = (n + 2) DIV 2"))
        .groupBy("event_type")
        .agg((F.sum("dev") / F.count(F.lit(1))).alias("mad"))
    )
    flagged = (
        d.join(mad, "event_type")
        .where(F.col("dev") > F.lit(3.5) * F.lit(1.4826) * F.col("mad"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_outliers"))
    )
    return (
        med.join(mad, "event_type")
        .join(flagged, "event_type", "left")
        .select(
            "event_type",
            qfloor(F.col("med")).alias("median_value"),
            qfloor(F.col("mad")).alias("mad_value"),
            F.coalesce(F.col("n_outliers"), F.lit(0)).alias("n_outliers"),
        )
        .orderBy("event_type")
    )


@register(
    "events_rolling_trend",
    oracle="""
    WITH hc AS MATERIALIZED (
      SELECT event_type, date_trunc('hour', ts) AS h,
             CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    idx AS (
      SELECT event_type, h, y,
             CAST(row_number() OVER (PARTITION BY event_type ORDER BY h) AS BIGINT) AS x
      FROM hc
    ),
    w AS (
      SELECT event_type, h,
             CAST(count(*) OVER win AS DOUBLE) AS n,
             CAST(sum(x) OVER win AS DOUBLE) AS sx,
             CAST(sum(y) OVER win AS DOUBLE) AS sy,
             CAST(sum(x * y) OVER win AS DOUBLE) AS sxy,
             CAST(sum(x * x) OVER win AS DOUBLE) AS sxx
      FROM idx
      WINDOW win AS (PARTITION BY event_type ORDER BY h
                     ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
    ),
    s AS (
      SELECT event_type, h, n,
             floor(((n * sxy - sx * sy) / (n * sxx - sx * sx)) * 1000000) / 1000000
                 AS slope,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY abs((n * sxy - sx * sy) / (n * sxx - sx * sx)) DESC, h) AS rk
      FROM w WHERE n >= 24
    )
    SELECT event_type, h AS window_end, CAST(n AS BIGINT) AS n_hours, slope
    FROM s WHERE rk = 1 ORDER BY event_type
    """,
    tags=("stats", "timeseries", "regression", "window"),
)
def events_rolling_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLING regression: per event type, the trailing-24h OLS slope of
    the hourly count series at every hour, reporting the steepest window
    — "when was this metric ramping hardest, and how fast". Where
    `lineitem_ols_regression` fits one line per group, this slides the
    same closed-form fit along event time: the five raw moments (n, Σx,
    Σy, Σxy, Σx²) are WINDOW sums over a 24-row frame, so a full trend
    scan costs one rollup pass plus one window pass — no per-window
    refit, no loop.

    Determinism: x is the hour's rank (small integers), y an hourly
    count; every windowed sum is an exact integer; the slope identity
    evaluates in one pinned double-op order and the steepest-window
    argmax tie-breaks on the hour. Windows shorter than 24 hours are
    excluded (a 2-point 'trend' is noise, and inclusion would make the
    argmax depend on series edges)."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    hc = (
        ev.groupBy("event_type", F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
        .select("event_type", F.col("w.start").alias("h"), "y")
    )
    idx = hc.select(
        "event_type", "h", "y",
        F.row_number().over(W.partitionBy("event_type").orderBy("h"))
        .cast("long").alias("x"),
    )
    win = W.partitionBy("event_type").orderBy("h").rowsBetween(-23, 0)
    w = idx.select(
        "event_type", "h",
        F.count(F.lit(1)).over(win).cast("double").alias("n"),
        F.sum("x").over(win).cast("double").alias("sx"),
        F.sum("y").over(win).cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(win).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(win).cast("double").alias("sxx"),
    ).where(F.col("n") >= 24)
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    rk = F.row_number().over(
        W.partitionBy("event_type").orderBy(F.abs(slope).desc(), "h")
    )
    return (
        w.withColumn("slope", qfloor(slope))
        .withColumn("rk", rk)
        .where(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("h").alias("window_end"),
            F.col("n").cast("long").alias("n_hours"),
            "slope",
        )
        .orderBy("event_type")
    )


@register(
    "events_stream_hll",
    oracle=f"""
    WITH est AS ({_hll_sql("user_id", "events")}),
    ex AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact FROM events)
    SELECT ex.n_exact, est.hll_estimate FROM ex CROSS JOIN est
    """,
    tags=("streaming", "sketch", "hll", "portable"),
)
def events_stream_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The portable HLL as a STREAMING aggregation: per-bucket max-rho is
    an associative, order-free fold, so the register table maintains
    itself as 256 rows of state under any micro-batch arrival order —
    sketches are streaming-native in a way exact distinct counts are not
    (state 256 bytes vs one entry per user, forever). availableNow drain
    over the same parquet, then the estimator runs on the final streamed
    registers — and must hash-match the SAME oracle as the batch
    `agg_hll_portable`: the shared oracle pins stream-built ≡ batch-built
    down to the estimate's bits (the IVF-PQ streaming-ingest pattern,
    applied to a sketch). Complete-mode memory sink is the oracle twin —
    256 rows; a production stream would checkpoint the same tiny state."""
    from arrow_parquet_logs_spark.operators.sketch import hll_estimate, hll_registers
    from arrow_parquet_logs_spark.sources.tables import read_events_stream

    stream = read_events_stream(spark, sf_dir)
    regs = hll_registers(stream, "user_id")
    name = f"stream_hll_{next(_STREAM_SEQ)}"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        (
            regs.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    reg_rows = spark.table(name).collect()
    spark.catalog.dropTempView(name)
    regs_df = spark.createDataFrame(reg_rows, "bucket int, m_rho int")
    est = hll_estimate(regs_df)
    exact = load_table(spark, sf_dir, "events").agg(
        F.countDistinct("user_id").cast("long").alias("n_exact")
    )
    return exact.crossJoin(F.broadcast(est)).select("n_exact", "hll_estimate")


@register(
    "agg_hll_portable_by_type",
    oracle=f"""
    WITH est AS ({_hll_sql("user_id", "events", group_expr="event_type")}),
    ex AS (
      SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
      FROM events GROUP BY event_type
    )
    SELECT ex.event_type, ex.n_exact, est.hll_estimate
    FROM ex JOIN est ON est.g = ex.event_type
    ORDER BY ex.event_type
    """,
    tags=("sketch", "hll", "approx", "portable", "grouped"),
)
def agg_hll_portable_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED portable HLL — one distinct-user sketch per event type from
    a single pass (the production shape: per-segment cardinalities for
    thousands of segments, 256 bytes of state each). The closed-form
    estimator (V = m − observed buckets, no register-grid join) is what
    makes per-group estimation a pure aggregation; each group's estimate
    hash-matches the same DuckDB spec replay as the global sketch, next
    to its exact count."""
    from arrow_parquet_logs_spark.operators.sketch import hll_estimate, hll_registers

    ev = load_table(spark, sf_dir, "events")
    est = hll_estimate(hll_registers(ev, "user_id", ("event_type",)), ("event_type",))
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("n_exact")
    )
    return (
        exact.join(est, "event_type")
        .select("event_type", "n_exact", "hll_estimate")
        .orderBy("event_type")
    )


@register(
    "events_type_correlation_matrix",
    oracle="""
    WITH hc AS MATERIALIZED (
      SELECT event_type, date_trunc('hour', ts) AS h, CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    p AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             a.y AS x, b.y AS y
      FROM hc a JOIN hc b ON a.h = b.h AND a.event_type < b.event_type
    ),
    s AS (
      SELECT type_a, type_b,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy,
             CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
             CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy
      FROM p GROUP BY 1, 2
    )
    SELECT type_a, type_b, CAST(n AS BIGINT) AS n_hours,
           round((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS corr
    FROM s ORDER BY type_a, type_b
    """,
    tags=("stats", "correlation", "timeseries", "matrix"),
)
def events_type_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise correlation matrix between event types' hourly count
    series (upper triangle) — do checkouts move with errors, do views
    lead purchases: the co-movement screen behind alert grouping and
    metric clustering. Pairs come from an HOUR-keyed self-join of the
    rollup (each hour contributes its type pairs; hours where either
    series is absent drop out pairwise, the standard pairwise-complete
    convention), then Pearson r via the exact-integer raw moments. With
    T types the matrix is T·(T−1)/2 rows of keys-sized math; the data is
    scanned once by the rollup. Determinism: integer sums, one pinned
    double-op sequence, IEEE sqrt. The quadratic moments multiply with
    operands pre-cast to DECIMAL(38,0) / HUGEINT — in BIGINT a single
    hour where two types each exceed 3.04·10⁹ events overflows the x·y
    term, below the 10¹⁰-row design floor (SCALING.md overflow-headroom
    table)."""
    from pyspark.sql import functions as _F

    ev = load_table(spark, sf_dir, "events")
    hc = (
        ev.groupBy("event_type", F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
        .select("event_type", F.col("w.start").alias("h"), "y")
    )
    a, b = hc.alias("a"), hc.alias("b")
    p = a.join(
        b,
        (F.col("a.h") == F.col("b.h")) & (F.col("a.event_type") < F.col("b.event_type")),
    ).select(
        F.col("a.event_type").alias("type_a"),
        F.col("b.event_type").alias("type_b"),
        F.col("a.y").alias("x"),
        F.col("b.y").alias("y"),
    )
    s = p.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * y")).cast("double").alias("sxy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).cast("double").alias("sxx"),
        F.sum(F.expr("CAST(y AS DECIMAL(38,0)) * y")).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    corr = (n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    return s.select(
        "type_a", "type_b",
        n.cast("bigint").alias("n_hours"),
        F.round(corr, 6).alias("corr"),
    ).orderBy("type_a", "type_b")


_KMV_K = 64
_KMV_M = float(1 << 60)


def _kmv_oracle() -> str:
    """DuckDB replay of the KMV pipeline (operators/sketch.py) — sketch
    construction, merge, theta, and both estimators, bit-for-bit. The
    estimator arithmetic is IEEE-identical double math (see kmv_estimate)."""
    k = _KMV_K
    est = (
        "CASE WHEN len({s}) < {k} THEN CAST(len({s}) AS BIGINT) "
        "ELSE CAST(floor({km1}.0 * {M!r} / CAST({s}[{k}] AS DOUBLE)) AS BIGINT) END"
    )
    return f"""
    WITH dk AS (
        SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS uk FROM events
    ),
    h AS (
        SELECT event_type,
               CAST(concat('0x', substr(md5(concat('kmv:', uk)), 1, 15)) AS BIGINT) AS h
        FROM dk
    ),
    rk AS (
        SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        FROM h
    ),
    sk AS (
        SELECT event_type, list_sort(list(h)) AS kmv
        FROM rk WHERE rn <= {k} GROUP BY event_type
    ),
    ex AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(count(*) AS BIGINT) AS true_common
        FROM dk a JOIN dk b ON a.uk = b.uk AND a.event_type < b.event_type
        GROUP BY 1, 2
    ),
    pr AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               a.kmv AS ka, b.kmv AS kb,
               list_slice(list_sort(list_distinct(list_concat(a.kmv, b.kmv))), 1, {k}) AS u
        FROM sk a JOIN sk b ON a.event_type < b.event_type
    ),
    t AS (
        SELECT *, least(len(u), {k}) AS tr, u[least(len(u), {k})] AS theta FROM pr
    ),
    c AS (
        SELECT *,
               CASE WHEN len(u) < {k} THEN len(list_intersect(ka, kb))
                    ELSE len(list_filter(list_intersect(ka, kb), x -> x <= theta))
               END AS cm,
               {est.format(s='u', k=k, km1=k - 1, M=_KMV_M)} AS est_union
        FROM t
    )
    SELECT c.type_a, c.type_b,
           {est.format(s='ka', k=k, km1=k - 1, M=_KMV_M)} AS est_a,
           {est.format(s='kb', k=k, km1=k - 1, M=_KMV_M)} AS est_b,
           est_union,
           CASE WHEN len(u) < {k} THEN CAST(cm AS BIGINT)
                ELSE CAST(floor(CAST(cm AS DOUBLE) * CAST(est_union AS DOUBLE)
                                / CAST(tr AS DOUBLE)) AS BIGINT)
           END AS est_common,
           COALESCE(ex.true_common, 0) AS true_common
    FROM c LEFT JOIN ex ON ex.type_a = c.type_a AND ex.type_b = c.type_b
    ORDER BY c.type_a, c.type_b
    """


@register(
    "events_kmv_type_overlap",
    oracle=_kmv_oracle(),
    tags=("sketch", "kmv", "theta", "distinct", "intersection"),
    bench=True,
)
def events_kmv_type_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user OVERLAP between every pair of event types via KMV
    (bottom-k theta) sketches — the set operation HLL cannot express
    (operators/sketch.py: mergeable k-smallest-hash sketches; union =
    merge arrays, intersection = matching hashes below the union theta).
    k = 64 so the gate SF exercises the ESTIMATOR branch (distinct users
    per type exceed k at sf0.01), not just the exact small-set branch;
    ``true_common`` rides along so the estimate is auditable in-row. At
    100 TB the sketches build per shard/day and MERGE — the audience-
    overlap query that otherwise needs a distinct self-join every time."""
    from arrow_parquet_logs_spark.operators.sketch import (
        kmv_estimate,
        kmv_intersect_estimate,
        kmv_sketch,
    )

    ev = load_table(spark, sf_dir, "events")
    sk = kmv_sketch(ev, "user_id", group_cols=("event_type",), k=_KMV_K)
    # exact audit side: users-with-both-types counted from each user's
    # distinct TYPE SET (collect_set dedups inside ONE user-keyed
    # aggregation) with the ≤ C(|types|,2) pairs expanded row-locally —
    # the old form paid a (type, user) DISTINCT exchange whose layout the
    # uk-keyed self-join couldn't reuse, then exchanged+sorted both join
    # sides again (guide §2.4). Same pairs: u contributes (a, b) iff both
    # types are in u's set and a < b (sorted-array combinations).
    # NULL users are dropped explicitly: the oracle's uk-keyed self-join
    # (a.uk = b.uk) never matches NULL, but a groupBy would count a NULL
    # group's pairs — identical output on shipped data (no NULL user_ids),
    # and the filter keeps parity on any corpus that has them (ADVICE r11).
    tsets = (
        ev.where(F.col("user_id").isNotNull())
        .groupBy(F.col("user_id").cast("string").alias("uk"))
        .agg(F.array_sort(F.collect_set("event_type")).alias("_ts"))
        .select("_ts")
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("_ts"),
            lambda x, i: F.transform(
                F.slice(F.col("_ts"), i + F.lit(2), F.size(F.col("_ts"))),
                lambda y: F.struct(x.alias("ta"), y.alias("tb")),
            ),
        )
    )
    exact = (
        tsets.select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.ta").alias("type_a"), F.col("p.tb").alias("type_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_common"))
    )
    # the sketch frame is <= |event types| rows BY CONSTRUCTION, but its
    # optimizer size estimate inherits the corpus scan upstream — at sf10
    # Spark planned this pair grid as a CartesianProduct (caught by the
    # plan audit's hard reject). Broadcast makes the guaranteed-tiny side
    # explicit: always a BroadcastNestedLoopJoin, never Cartesian.
    pairs = (
        sk.alias("a")
        .join(F.broadcast(sk.alias("b")), F.col("a.event_type") < F.col("b.event_type"))
        .select(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
            F.col("a.kmv").alias("ka"),
            F.col("b.kmv").alias("kb"),
        )
    )
    out = pairs.select(
        "type_a",
        "type_b",
        kmv_estimate(F.col("ka"), _KMV_K).alias("est_a"),
        kmv_estimate(F.col("kb"), _KMV_K).alias("est_b"),
        kmv_estimate(
            F.slice(F.array_sort(F.array_distinct(F.concat("ka", "kb"))), 1, _KMV_K),
            _KMV_K,
        ).alias("est_union"),
        kmv_intersect_estimate(F.col("ka"), F.col("kb"), _KMV_K).alias("est_common"),
    )
    return (
        out.join(exact, ["type_a", "type_b"], "left")
        .withColumn("true_common", F.coalesce("true_common", F.lit(0)))
        .orderBy("type_a", "type_b")
    )


@register(
    "events_stream_kmv",
    oracle=f"""
    WITH dk AS (
        SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS uk FROM events
    ),
    h AS (
        SELECT event_type,
               CAST(concat('0x', substr(md5(concat('kmv:', uk)), 1, 15)) AS BIGINT) AS h
        FROM dk
    ),
    rk AS (
        SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        FROM h
    ),
    sk AS (
        SELECT event_type, list_sort(list(h)) AS kmv, CAST(count(*) AS BIGINT) AS sz
        FROM rk WHERE rn <= {_KMV_K} GROUP BY event_type
    ),
    ex AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_exact FROM dk GROUP BY event_type
    )
    SELECT sk.event_type,
           CASE WHEN sz < {_KMV_K} THEN sz
                ELSE CAST(floor({_KMV_K - 1}.0 * {_KMV_M!r} / CAST(kmv[{_KMV_K}] AS DOUBLE)) AS BIGINT)
           END AS kmv_estimate,
           ex.n_exact
    FROM sk JOIN ex ON ex.event_type = sk.event_type
    ORDER BY sk.event_type
    """,
    tags=("sketch", "kmv", "streaming", "stateful"),
)
def events_stream_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KMV sketch maintained as STREAMING STATE: ~k·8 bytes per event
    type under any micro-batch arrival order (bottom-k union is commutative
    — streaming/stateful.py:track_kmv), drained with availableNow, then the
    estimator of events_kmv_type_overlap runs on the final streamed
    sketches. The SAME batch-SQL oracle must hash-match — pinning
    stream-built ≡ batch-built down to the estimate's bits, the
    events_stream_hll pattern applied to the intersect-capable sketch.
    Hashes are computed JVM-side before the stateful stage; python only
    merges integers."""
    from pyspark.sql import Window as W

    from arrow_parquet_logs_spark.functions.hashing import hash64
    from arrow_parquet_logs_spark.operators.sketch import kmv_estimate
    from arrow_parquet_logs_spark.sources.tables import read_events_stream
    from arrow_parquet_logs_spark.streaming.stateful import track_kmv

    stream = read_events_stream(spark, sf_dir).select(
        F.col("event_type"),
        hash64(F.concat(F.lit("kmv:"), F.col("user_id").cast("string"))).alias("h"),
    )
    snap = track_kmv(stream, "event_type", k=_KMV_K)
    name = f"stream_kmv_{next(_STREAM_SEQ)}"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        (
            snap.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    rows = spark.table(name).collect()
    spark.catalog.dropTempView(name)
    final = (
        spark.createDataFrame(rows, "g string, kmv array<long>, version long")
        .withColumn(
            "_rn",
            F.row_number().over(W.partitionBy("g").orderBy(F.desc("version"))),
        )
        .where("_rn = 1")
    )
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_exact"))
    )
    return (
        final.select(
            F.col("g").alias("event_type"),
            kmv_estimate(F.col("kmv"), _KMV_K).alias("kmv_estimate"),
        )
        .join(exact, "event_type")
        .orderBy("event_type")
    )


@register(
    "events_session_overlap",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= {_GAP_US}
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WHERE user_id % 7 = 0 OR user_id % 11 = 0
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    islands AS (
        SELECT user_id, ts,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS island
        FROM flagged
    ),
    sess AS (
        SELECT user_id, min(ts) AS s, max(ts) + INTERVAL 6 HOUR AS e
        FROM islands GROUP BY user_id, island
    ),
    p AS (
        SELECT a.user_id AS a_user, b.user_id AS b_user,
               (epoch_us(least(a.e, b.e)) - epoch_us(greatest(a.s, b.s))) // 1000000 AS ov_s
        FROM sess a JOIN sess b
          ON a.user_id % 7 = 0 AND b.user_id % 11 = 0
         AND a.user_id != b.user_id
         AND a.s <= b.e AND b.s <= a.e
    )
    SELECT a_user, b_user,
           CAST(count(*) AS BIGINT) AS n_overlaps,
           CAST(sum(ov_s) AS BIGINT) AS total_overlap_s
    FROM p GROUP BY 1, 2 ORDER BY 1, 2
    """,
    tags=("join", "interval", "overlap", "sessionize"),
)
def events_session_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval × interval OVERLAP join — concurrent-session detection:
    which pairs of users (one from each panel) had sessions live at the
    same time, and for how long. Sessions come from the native
    session_window operator (end = last event + gap); the overlap join is
    the bucketized equi-join of operators/relational.py:
    interval_overlap_join — each interval explodes onto the day cells it
    touches, pairs meet on the cell, and the emit-once rule (keep the pair
    only in the cell of the overlap's FIRST instant) replaces any
    distinct. The oracle is the definitional theta-join over the
    islands-replayed sessions. Closed-interval semantics on both sides;
    overlap durations are integer-µs arithmetic floored to seconds."""
    from arrow_parquet_logs_spark.operators.relational import interval_overlap_join

    ev = load_table(spark, sf_dir, "events").where(
        (F.col("user_id") % 7 == 0) | (F.col("user_id") % 11 == 0)
    )
    sess = session_windows(ev, gap="6 hours").select(
        "user_id",
        F.col("session_start").alias("s"),
        F.col("session_end").alias("e"),
    )
    a = sess.where(F.col("user_id") % 7 == 0)
    b = sess.where(F.col("user_id") % 11 == 0)
    pairs = interval_overlap_join(a, b).where(
        F.col("a_user_id") != F.col("b_user_id")
    )
    ov_s = F.expr(
        "(unix_micros(least(a_e, b_e)) - unix_micros(greatest(a_s, b_s))) div 1000000"
    )
    return (
        pairs.select(
            F.col("a_user_id").alias("a_user"),
            F.col("b_user_id").alias("b_user"),
            ov_s.alias("ov_s"),
        )
        .groupBy("a_user", "b_user")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_overlaps"),
            F.sum("ov_s").cast("bigint").alias("total_overlap_s"),
        )
        .orderBy("a_user", "b_user")
    )


_CUPED_CENTS = (
    "CAST(SUM(CASE WHEN {cond} THEN CAST(value AS DECIMAL(12,2)) "
    "ELSE CAST(0 AS DECIMAL(12,2)) END) * 100 AS BIGINT)"
)


_CUPED_ORACLE = f"""
    WITH per_user AS (
        SELECT user_id,
               CAST(CAST(concat('0x', substr(md5(concat('cuped:', CAST(user_id AS VARCHAR))), 1, 15)) AS BIGINT) % 2 AS INT) AS arm,
               {_CUPED_CENTS.format(cond="ts <  TIMESTAMP '2024-01-16 00:00:00'")} AS x,
               {_CUPED_CENTS.format(cond="ts >= TIMESTAMP '2024-01-16 00:00:00'")} AS y
        FROM events GROUP BY user_id
    ),
    st AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
               CAST(sum(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy,
               CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx
        FROM per_user
    ),
    arms AS (
        SELECT arm, CAST(count(*) AS DOUBLE) AS na,
               CAST(sum(x) AS DOUBLE) AS sxa, CAST(sum(y) AS DOUBLE) AS sya
        FROM per_user GROUP BY arm
    )
    SELECT arm,
           CAST(na AS BIGINT) AS n_users,
           floor(((sya / na) / 100.0) * 1000000) / 1000000 AS mean_post,
           floor((((sya / na) - ((n * sxy - sx * sy) / (n * sxx - sx * sx))
                   * ((sxa / na) - (sx / n))) / 100.0) * 1000000) / 1000000 AS mean_adj,
           floor(((n * sxy - sx * sy) / (n * sxx - sx * sx)) * 1000000) / 1000000 AS theta
    FROM arms, st ORDER BY arm
    """


@register(
    "events_cuped_adjusted_lift",
    oracle=_CUPED_ORACLE,
    tags=("stats", "experiment", "cuped", "variance-reduction"),
)
def events_cuped_adjusted_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED-adjusted experiment readout (Deng et al. WSDM'13, public) —
    the variance-reduction step every large experimentation platform runs
    before reading a lift: users hash-split into two arms (portable md5
    assignment, the repo's split convention), per-user post-period value
    is adjusted by the pre-period covariate, Y′ = Y − θ(X − x̄) with the
    pooled θ = cov(X,Y)/var(X), and the per-arm adjusted means are what
    the lift test consumes. Same-unit pre/post periods (days 1–15 vs
    16–30 of the event span); users absent from a period contribute an
    exact zero, keeping the panel complete.

    Determinism: per-user period sums are cents-exact (DECIMAL(12,2) sums
    ×100 → BIGINT); the pooled moments multiply with DECIMAL(38,0)/
    HUGEINT operands (the chisq-hardened integer-exact family — BIGINT
    x·y would overflow only past the 10¹⁰-row design floor); θ and the
    adjusted means evaluate in one pinned double-op sequence, qfloor-
    quantized. Scale shape: ONE event scan → one user-keyed partial-agg
    shuffle; the moment frame reduces to ONE row that broadcasts onto the
    2-row arm frame — the same scan → 1-row stats → bounded combine shape
    as the BM25/funnel family."""
    from arrow_parquet_logs_spark.streaming.cuped import (
        cuped_per_user_cents,
        cuped_readout,
        with_cuped_arm,
    )

    ev = load_table(spark, sf_dir, "events")
    return cuped_readout(with_cuped_arm(cuped_per_user_cents(ev)))


@register(
    "events_stream_cuped",
    oracle=_CUPED_ORACLE,
    tags=("stats", "experiment", "cuped", "streaming", "materialized-view"),
)
def events_stream_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CUPED readout maintained as a STREAMING MATERIALIZED VIEW — the
    always-on experiment dashboard (VERDICT r8 #5): events arrive in 3
    micro-batches (stream stopped and resumed from its checkpoint between
    them — the restart pin), each batch folds per-user integer-cents
    period sums into a versioned state table and publishes a fresh θ /
    adjusted-lift readout under an atomically-advanced CURRENT pointer
    (streaming/cuped.py documents the exactly-once commit protocol; a
    unit test replays batches against it). The final published readout
    must hash-match the BATCH query's oracle — streaming ≡ batch, the
    events_stream_hll/kmv convention, here down to θ's bits because state
    merges are exact integer cents and the readout shares one pinned
    double-op sequence with `events_cuped_adjusted_lift`.

    Scale shape: per micro-batch one panel-sized user-keyed merge + a
    1-row moment broadcast onto the 2-row arm frame — refresh cost is
    independent of history length, unlike the rescan-the-corpus
    anti-pattern this MV replaces."""
    import os

    from arrow_parquet_logs_spark.streaming.cuped import (
        mv_current_version,
        read_cuped_mv,
        start_stream_cuped_mv,
    )

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id", "value")
    root = scratch_dir(prefix="cuped_mv_")
    src, state, ckpt = f"{root}/src", f"{root}/mv", f"{root}/ckpt"
    os.makedirs(src, exist_ok=True)
    os.makedirs(state, exist_ok=True)
    for i in range(3):
        # one new file lands; availableNow consumes exactly the new data,
        # resuming from the shared checkpoint
        ev.where(F.col("event_id") % 3 == i).coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(ev.schema).parquet(src)
        q = start_stream_cuped_mv(stream.drop("event_id"), state, ckpt)
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError("CUPED MV micro-batch did not drain in 300 s")
    if mv_current_version(state) != 2:
        raise RuntimeError(
            f"expected 3 committed MV versions, CURRENT={mv_current_version(state)}"
        )
    return read_cuped_mv(spark, state).orderBy("arm")


_SEQ_ARM = "CAST(CAST(concat('0x', substr(md5(concat('cuped:', CAST(user_id AS VARCHAR))), 1, 15)) AS BIGINT) % 2 AS INT)"


_SEQ_TMPL = f"""
    WITH per_user AS (
        SELECT user_id, {_SEQ_ARM} AS arm,
               {_CUPED_CENTS.format(cond="ts <  TIMESTAMP '2024-01-16 00:00:00'")} AS x,
               {_CUPED_CENTS.format(cond="ts >= TIMESTAMP '2024-01-16 00:00:00'")} AS y
        FROM events WHERE {{where}} GROUP BY user_id
    ),
    m AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
               CAST(sum(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy,
               CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
               CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS n0,
               CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
               CAST(sum(CASE WHEN arm = 0 THEN x ELSE 0 END) AS DOUBLE) AS sx0,
               CAST(sum(CASE WHEN arm = 1 THEN x ELSE 0 END) AS DOUBLE) AS sx1,
               CAST(sum(CASE WHEN arm = 0 THEN y ELSE 0 END) AS DOUBLE) AS sy0,
               CAST(sum(CASE WHEN arm = 1 THEN y ELSE 0 END) AS DOUBLE) AS sy1,
               CAST(sum(CASE WHEN arm = 0 THEN CAST(y AS HUGEINT) * y ELSE 0 END) AS DOUBLE) AS syy0,
               CAST(sum(CASE WHEN arm = 1 THEN CAST(y AS HUGEINT) * y ELSE 0 END) AS DOUBLE) AS syy1,
               CAST(sum(CASE WHEN arm = 0 THEN CAST(x AS HUGEINT) * y ELSE 0 END) AS DOUBLE) AS sxy0,
               CAST(sum(CASE WHEN arm = 1 THEN CAST(x AS HUGEINT) * y ELSE 0 END) AS DOUBLE) AS sxy1,
               CAST(sum(CASE WHEN arm = 0 THEN CAST(x AS HUGEINT) * x ELSE 0 END) AS DOUBLE) AS sxx0,
               CAST(sum(CASE WHEN arm = 1 THEN CAST(x AS HUGEINT) * x ELSE 0 END) AS DOUBLE) AS sxx1
        FROM per_user
    ),
    e AS (
        SELECT n, n0, n1,
               ((n * sxy - sx * sy) / (n * sxx - sx * sx)) AS theta,
               (sx / n) AS xbar, sx0, sx1, sy0, sy1, syy0, syy1, sxy0, sxy1, sxx0, sxx1
        FROM m
    ),
    v AS (
        SELECT n, n0, n1, theta,
               ((sy1 / n1 - theta * (sx1 / n1 - xbar)) / 100.0)
             - ((sy0 / n0 - theta * (sx0 / n0 - xbar)) / 100.0) AS diff,
               (((syy0 - 2 * theta * sxy0 + theta * theta * sxx0) / n0
                 - ((sy0 - theta * sx0) / n0) * ((sy0 - theta * sx0) / n0)) / 10000.0) / n0
             + (((syy1 - 2 * theta * sxy1 + theta * theta * sxx1) / n1
                 - ((sy1 - theta * sx1) / n1) * ((sy1 - theta * sx1) / n1)) / 10000.0) / n1 AS se2
        FROM e
    )
    SELECT {{vhead}}CAST(n AS BIGINT) AS n_users,
           CAST(n0 AS BIGINT) AS n_0, CAST(n1 AS BIGINT) AS n_1,
           floor((((n0 - n / 2) * (n0 - n / 2) + (n1 - n / 2) * (n1 - n / 2)) / (n / 2)) * 1000000) / 1000000 AS srm_chisq,
           floor(diff * 1000000) / 1000000 AS diff_adj,
           round(sqrt(se2), 6) AS se,
           round(diff / NULLIF(sqrt(se2), 0), 6) AS z,
           round(0.5 * ln(se2 / (se2 + 1.0)) + (diff * diff) / (2 * se2 * (se2 + 1.0)), 6) AS log_lambda,
           round(least(1.0, exp(-(0.5 * ln(se2 / (se2 + 1.0)) + (diff * diff) / (2 * se2 * (se2 + 1.0))))), 6) AS p_always_valid,
           round(least(1.0, exp(-(0.5 * ln(se2 / (se2 + 1.0)) + (diff * diff) / (2 * se2 * (se2 + 1.0))))), 6) < 0.05 AS significant
    FROM v
    """


def _seq_oracle(where: str = "TRUE", version: int | None = None) -> str:
    """One leg of the sequential-decision oracle: the full moment ->
    theta -> Welch -> mSPRT chain over ``events WHERE <where>``, optionally
    prefixed with a version literal (the per-MV-version readout unions
    three legs over batch prefixes)."""
    vhead = f"CAST({version} AS INT) AS version, " if version is not None else ""
    return _SEQ_TMPL.format(where=where, vhead=vhead)


@register(
    "events_cuped_sequential_test",
    oracle=_seq_oracle(),
    tags=("stats", "experiment", "cuped", "sequential-test", "msprt", "srm"),
)
def events_cuped_sequential_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete experiment DECISION readout — the other half of what an
    experimentation platform computes after CUPED (Deng et al. WSDM'13)
    adjusts the metric: a sample-ratio-mismatch guard (chi-square on the
    arm counts — the first thing any platform checks, a broken hash split
    invalidates everything downstream), the CUPED-adjusted lift with its
    Welch standard error, and the ALWAYS-VALID mixture-SPRT p-value
    (Johari, Koomen, Pekelis, Walsh, KDD'17 "Peeking at A/B tests",
    public): with mixture variance tau^2 = 1,
    Lambda = sqrt(V/(V+tau^2)) * exp(diff^2 * tau^2 / (2V(V+tau^2))) and
    p = min(1, 1/Lambda) — valid under CONTINUOUS monitoring, the property
    that lets the streaming CUPED MV be read at every version without
    alpha inflation.

    Determinism: every moment (per-arm and pooled Sigma-x, y, x^2, y^2, xy) is
    integer-exact in cents/cents^2 (DECIMAL(38,0)/HUGEINT products) from ONE
    aggregation pass; the readout is one pinned double-op sequence —
    rational outputs qfloor-quantized, sqrt/ln/exp-derived outputs
    round(6)-quantized per the established convention (qfloor docstring:
    ties have measure zero after irrational ops). Scale shape: one event
    scan -> one user-keyed partial-agg shuffle -> a 1-row moment frame;
    the decision arithmetic is driver-free column math on that row."""
    from arrow_parquet_logs_spark.streaming.cuped import (
        cuped_per_user_cents,
        cuped_sequential_readout,
        with_cuped_arm,
    )

    ev = load_table(spark, sf_dir, "events")
    return cuped_sequential_readout(with_cuped_arm(cuped_per_user_cents(ev)))


@register(
    "events_stream_sequential_decision",
    oracle="\nUNION ALL\n".join(
        f"SELECT * FROM ({_seq_oracle(f'event_id % 3 <= {v}', v)}) AS leg{v}"
        for v in range(3)
    )
    + "\nORDER BY version",
    tags=("stats", "experiment", "cuped", "sequential-test", "streaming",
          "materialized-view", "peeking"),
)
def events_stream_sequential_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PEEKING, done soundly — the composition the always-valid p-value
    exists for (Johari et al. KDD'17): the streaming CUPED MV is read at
    EVERY committed version and the full decision readout (SRM guard,
    adjusted lift, mixture-SPRT p) recomputes from the versioned per-user
    state alone. The oracle replays each version's panel from the raw
    events prefix — so this row pins that the MV's (user_id, x, y) cents
    state is a SUFFICIENT statistic for the whole decision at every
    version, not just the final one, and that reading mid-experiment
    applies bit-identical arithmetic to the batch row
    (`cuped_sequential_readout` is one shared pipeline).

    Scale shape: per version one panel-sized aggregation (the MV state is
    user-cardinality-bounded); versions are independent reads of committed
    parquet — the dashboard query, not a history rescan."""
    import os

    from arrow_parquet_logs_spark.streaming.cuped import (
        cuped_sequential_readout,
        mv_current_version,
        read_cuped_state,
        start_stream_cuped_mv,
        with_cuped_arm,
    )

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id", "value")
    root = scratch_dir(prefix="cuped_seq_mv_")
    src, state, ckpt = f"{root}/src", f"{root}/mv", f"{root}/ckpt"
    os.makedirs(src, exist_ok=True)
    os.makedirs(state, exist_ok=True)
    for i in range(3):
        ev.where(F.col("event_id") % 3 == i).coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(ev.schema).parquet(src)
        q = start_stream_cuped_mv(stream.drop("event_id"), state, ckpt)
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError("CUPED MV micro-batch did not drain in 300 s")
    if mv_current_version(state) != 2:
        raise RuntimeError(
            f"expected 3 committed MV versions, CURRENT={mv_current_version(state)}"
        )
    out = None
    for v in range(3):
        pu = with_cuped_arm(read_cuped_state(spark, state, v))
        leg = cuped_sequential_readout(pu).select(
            F.lit(v).cast("int").alias("version"), "*"
        )
        out = leg if out is None else out.unionByName(leg)
    return out.orderBy("version")
