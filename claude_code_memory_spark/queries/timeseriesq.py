"""Time-series catalog: hypertable-style gap-fill + LOCF, rolling-window
anomaly detection, and the salted as-of join — the continuous-aggregate
surface a telemetry/training pipeline needs over the events table.

Determinism: every float aggregate follows the round-4 decimal recipe
(PLANS.md) — per-bucket sums are exact decimals, rolling sums are sums of
exact decimals (associative → partition-invariant), and double math only
happens on already-exact inputs with the identical expression tree on the
Spark and DuckDB sides.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from claude_code_memory_spark.operators.asof import asof_join_salted
from claude_code_memory_spark.queries.base import events_us as _events_us
from claude_code_memory_spark.queries.base import register

_HR_US = 3600 * 1_000_000  # 1-hour buckets


def _hourly_decimal_sums(spark, sf_dir):
    """Per (event_type, hour-bucket): row count + exact decimal value sum.
    One scan, one shuffle keyed on (type, bucket) with map-side combine —
    at 100 TB this is the continuous-aggregate refresh shape (the same
    expression Structured Streaming runs incrementally)."""
    e = _events_us(spark, sf_dir)
    return e.groupBy(
        "event_type", F.expr(f"ts_us div {_HR_US}").alias("bucket_id")
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("decimal(18,6)")
        .alias("d1"),
    )


@register(
    "timeseries_gapfill_locf",
    headline=True,
    oracle=f"""
    WITH b AS (
      SELECT event_type, epoch_us(ts) // {_HR_US} AS bucket_id,
             count(*) AS n,
             CAST(round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)), 4)
                  AS DOUBLE) AS bucket_value
      FROM events GROUP BY 1, 2),
    span AS (SELECT event_type, min(bucket_id) AS lo, max(bucket_id) AS hi
             FROM b GROUP BY 1),
    grid AS (SELECT event_type, unnest(generate_series(lo, hi)) AS bucket_id
             FROM span)
    SELECT event_type, bucket_id,
           coalesce(b.n, 0) AS n,
           last_value(b.bucket_value IGNORE NULLS) OVER (
             PARTITION BY event_type ORDER BY bucket_id
             ROWS UNBOUNDED PRECEDING) AS locf_value,
           b.n IS NULL AS is_gap
    FROM grid LEFT JOIN b USING (event_type, bucket_id)
    """,
)
def timeseries_gapfill_locf(spark, sf_dir):
    """Hypertable-style gap-fill: densify each series' hourly bucket grid
    (`sequence` + explode — generated, not scanned), then carry the last
    observed value forward (LOCF) across empty buckets.

    Scale shape: the grid's size is series x time-span (metadata-sized
    relative to the events that produced it); the only data-sized stage
    is the bucket aggregate (one shuffle, map-side combined). The LOCF
    window partitions by series key, and its per-partition row count is
    bounded by the time span — never by event volume."""
    b = _hourly_decimal_sums(spark, sf_dir).withColumn(
        "bucket_value", F.round(F.col("d1"), 4).cast("double")
    )
    span = b.groupBy("event_type").agg(
        F.min("bucket_id").alias("lo"), F.max("bucket_id").alias("hi")
    )
    grid = span.select(
        "event_type", F.explode(F.sequence("lo", "hi")).alias("bucket_id")
    )
    filled = grid.join(b, ["event_type", "bucket_id"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return filled.select(
        "event_type",
        "bucket_id",
        F.coalesce("n", F.lit(0)).alias("n"),
        F.last("bucket_value", ignorenulls=True).over(w).alias("locf_value"),
        F.col("n").isNull().alias("is_gap"),
    )


@register(
    "timeseries_interpolate_linear",
    oracle=f"""
    WITH b AS (
      SELECT event_type, epoch_us(ts) // {_HR_US} AS bucket_id,
             CAST(round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)), 4)
                  AS DOUBLE) AS bucket_value
      FROM events GROUP BY 1, 2),
    span AS (SELECT event_type, min(bucket_id) AS lo, max(bucket_id) AS hi
             FROM b GROUP BY 1),
    grid AS (SELECT event_type, unnest(generate_series(lo, hi)) AS bucket_id
             FROM span),
    f AS (SELECT event_type, bucket_id, b.bucket_value
          FROM grid LEFT JOIN b USING (event_type, bucket_id)),
    ctx AS (
      SELECT event_type, bucket_id, bucket_value,
             last_value(bucket_value IGNORE NULLS) OVER wp AS pv,
             last_value(CASE WHEN bucket_value IS NOT NULL THEN bucket_id END
                        IGNORE NULLS) OVER wp AS pb,
             first_value(bucket_value IGNORE NULLS) OVER wn AS nv,
             first_value(CASE WHEN bucket_value IS NOT NULL THEN bucket_id END
                         IGNORE NULLS) OVER wn AS nb
      FROM f
      WINDOW wp AS (PARTITION BY event_type ORDER BY bucket_id
                    ROWS UNBOUNDED PRECEDING),
             wn AS (PARTITION BY event_type ORDER BY bucket_id
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    SELECT event_type, bucket_id,
           coalesce(bucket_value,
                    round(pv + (nv - pv) * ((bucket_id - pb) / (nb - pb)), 4))
             AS interp_value,
           bucket_value IS NULL AS is_interpolated
    FROM ctx
    """,
)
def timeseries_interpolate_linear(spark, sf_dir):
    """Linear-interpolation gap-fill (the `interpolate()` companion to
    LOCF): each empty bucket gets the value linearly interpolated between
    its nearest observed neighbors. The series' first/last buckets are
    observed by construction (the grid spans min..max per series), so
    every gap is interior and both neighbors exist; observed rows
    degenerate to their own value exactly (fraction = 0).

    Determinism: neighbor values are exact decimal-rounded doubles and
    the interpolation expression tree is identical on both engines.
    Same scale shape as the LOCF query — two windows over the
    metadata-sized grid, partitioned by series."""
    b = _hourly_decimal_sums(spark, sf_dir).withColumn(
        "bucket_value", F.round(F.col("d1"), 4).cast("double")
    )
    span = b.groupBy("event_type").agg(
        F.min("bucket_id").alias("lo"), F.max("bucket_id").alias("hi")
    )
    grid = span.select(
        "event_type", F.explode(F.sequence("lo", "hi")).alias("bucket_id")
    )
    f = grid.join(
        b.select("event_type", "bucket_id", "bucket_value"),
        ["event_type", "bucket_id"],
        "left",
    )
    wp = (
        Window.partitionBy("event_type")
        .orderBy("bucket_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = (
        Window.partitionBy("event_type")
        .orderBy("bucket_id")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    observed_bucket = F.when(
        F.col("bucket_value").isNotNull(), F.col("bucket_id")
    )
    ctx = f.select(
        "event_type",
        "bucket_id",
        "bucket_value",
        F.last("bucket_value", ignorenulls=True).over(wp).alias("pv"),
        F.last(observed_bucket, ignorenulls=True).over(wp).alias("pb"),
        F.first("bucket_value", ignorenulls=True).over(wn).alias("nv"),
        F.first(observed_bucket, ignorenulls=True).over(wn).alias("nb"),
    )
    frac = (F.col("bucket_id") - F.col("pb")) / (F.col("nb") - F.col("pb"))
    # observed rows short-circuit to their own value: pb == nb == bucket_id
    # there, and a 0/0 division's NULL/NaN semantics differ across engines
    return ctx.select(
        "event_type",
        "bucket_id",
        F.coalesce(
            F.col("bucket_value"),
            F.round(F.col("pv") + (F.col("nv") - F.col("pv")) * frac, 4),
        ).alias("interp_value"),
        F.col("bucket_value").isNull().alias("is_interpolated"),
    )


@register(
    "anomaly_rolling_zscore",
    headline=True,
    oracle=f"""
    WITH b AS (
      SELECT event_type, epoch_us(ts) // {_HR_US} AS bucket_id,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(16,6)) AS d1
      FROM events GROUP BY 1, 2),
    -- mixed-width square: DuckDB multiplies two INT64-class decimals IN
    -- int64 and overflows at sf0.1 bucket sums; one DECIMAL(19,6)
    -- operand forces the INT128 path -> exact DECIMAL(35,12), and Spark's
    -- (16,6)x(19,6) -> (36,12) is exact too (a (19,6)^2 would exceed
    -- Spark's 38-digit cap and silently round to scale 11)
    b2 AS (SELECT *, d1 * CAST(d1 AS DECIMAL(19,6)) AS d2 FROM b),
    roll AS (
      SELECT event_type, bucket_id, CAST(d1 AS DOUBLE) AS x,
             CAST(sum(d1) OVER w AS DOUBLE) AS s1,
             CAST(sum(d2) OVER w AS DOUBLE) AS s2,
             count(d1) OVER w AS m
      FROM b2
      WINDOW w AS (PARTITION BY event_type ORDER BY bucket_id
                   ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
    SELECT event_type, bucket_id,
           round(x, 4) AS bucket_value,
           round((x - s1 / m) / sqrt(greatest(s2 / m - (s1 / m) * (s1 / m), 0)
                                     + 1e-9), 4) AS z,
           abs(round((x - s1 / m) / sqrt(greatest(s2 / m - (s1 / m) * (s1 / m), 0)
                                         + 1e-9), 4)) >= 3.0 AS is_anomaly
    FROM roll WHERE m = 24
    """,
)
def anomaly_rolling_zscore(spark, sf_dir):
    """Rolling-window anomaly detection: each hourly bucket's value sum is
    z-scored against the trailing 24 observed buckets of its own series
    (frame excludes the current row, so a spike cannot mask itself).

    Determinism (the reason this hashes identically in DuckDB): the
    rolling mean/variance come from rolling sums of EXACT decimals (d1
    and d1², both exactly representable), cast to double only at the
    end; the double expression tree is written identically on both
    sides, so even sliding-frame evaluation-order differences between
    engines cannot produce a differing bit. Double `stddev` over a
    sliding frame would not survive this test.

    Scale shape: one data-sized shuffle (the bucket aggregate); the
    rolling window runs over series x span rows, partitioned by series."""
    b = _hourly_decimal_sums(spark, sf_dir).withColumn(
        "d1", F.col("d1").cast("decimal(16,6)")
    ).withColumn("d2", F.col("d1") * F.col("d1").cast("decimal(19,6)"))
    wroll = (
        Window.partitionBy("event_type").orderBy("bucket_id").rowsBetween(-24, -1)
    )
    roll = b.select(
        "event_type",
        "bucket_id",
        F.col("d1").cast("double").alias("x"),
        F.sum("d1").over(wroll).cast("double").alias("s1"),
        F.sum("d2").over(wroll).cast("double").alias("s2"),
        F.count("d1").over(wroll).alias("m"),
    ).filter(F.col("m") == 24)
    mean = F.col("s1") / F.col("m")
    var = F.greatest(
        F.col("s2") / F.col("m") - mean * mean, F.lit(0.0)
    )
    z = F.round((F.col("x") - mean) / F.sqrt(var + F.lit(1e-9)), 4)
    return roll.select(
        "event_type",
        "bucket_id",
        F.round(F.col("x"), 4).alias("bucket_value"),
        z.alias("z"),
        (F.abs(z) >= 3.0).alias("is_anomaly"),
    )


@register(
    "asof_join_salted_events",
    oracle="""
    WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
               FROM events WHERE event_type = 'purchase'),
         v AS (SELECT user_id, epoch_us(ts) AS ts_us, value
               FROM events WHERE event_type = 'view')
    SELECT p.event_id, p.user_id, p.ts_us, p.value,
           v.ts_us AS matched_ts_us, v.value AS matched_value
    FROM p ASOF LEFT JOIN v
      ON p.user_id = v.user_id AND p.ts_us >= v.ts_us
    """,
)
def asof_join_salted_events(spark, sf_dir):
    """The skew-proof as-of join (operators/asof.py::asof_join_salted,
    1-day buckets) against DuckDB's NATIVE ASOF JOIN — the same oracle as
    `asof_join_events`, so the driver independently proves the salted
    decomposition (bucket split + carry-in patch-up) is semantics-
    preserving, not just self-consistent."""
    e = _events_us(spark, sf_dir)
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_us", "value"
    )
    views = e.filter(F.col("event_type") == "view").select(
        "user_id", "ts_us", "value"
    )
    return asof_join_salted(
        purchases,
        views,
        on="user_id",
        ts_col="ts_us",
        payload_cols=("ts_us", "value"),
        bucket_width=24 * _HR_US,
    ).select(
        "event_id",
        "user_id",
        "ts_us",
        "value",
        "matched_ts_us",
        "matched_value",
    )


@register(
    "timeseries_ewma_window",
    oracle=f"""
    WITH e AS (
      SELECT user_id, value, epoch_us(ts) AS ts_us,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id) AS rn
      FROM events WHERE event_type = 'purchase'),
    w AS (
      SELECT a.user_id, a.rn,
             CAST(sum(CAST(b.value * pow(0.5, a.rn - b.rn) AS DECIMAL(38,12))) AS DOUBLE) AS num,
             sum(pow(0.5, a.rn - b.rn)) AS den
      FROM e a JOIN e b
        ON a.user_id = b.user_id AND b.rn BETWEEN a.rn - 19 AND a.rn
      GROUP BY a.user_id, a.rn)
    SELECT user_id, CAST(max(rn) AS BIGINT) AS n_events,
           round(max_by(num / den, rn), 6) AS last_ewma
    FROM w GROUP BY user_id
    ORDER BY user_id LIMIT 50
    """,
)
def timeseries_ewma_window(spark, sf_dir):
    """Exponentially weighted moving average over a bounded trailing
    window (20 events, alpha = 0.5), normalized over the weights present
    — the warm-up-correct EWMA a metrics pipeline smooths with. The
    unbounded recursive form is not expressible as a window; the bounded
    form is: weight = 0.5^lag inside a 19-preceding frame, so the whole
    smoothing is two window sums, no UDF, no recursion. alpha = 0.5 is
    numerically deliberate: 0.5^lag is EXACTLY representable, so Spark's
    and DuckDB's pow agree bit-for-bit and the oracle replays (an
    arbitrary alpha could differ in the last ulp). The per-user window
    partitions by user_id — corpus-parallel, never global. Reported per
    user: event count + final smoothed value."""
    e = _events_us(spark, sf_dir).filter(F.col("event_type") == "purchase")
    wo = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    e = e.withColumn("rn", F.row_number().over(wo))
    # self-join on the bounded lag range replays the oracle's exact sum
    # order-insensitively: both sides sum the identical 20 products
    a = e.select("user_id", F.col("rn").alias("a_rn"))
    b = e.select(
        F.col("user_id").alias("b_uid"),
        F.col("rn").alias("b_rn"),
        F.col("value").alias("b_val"),
    )
    w = (
        a.join(
            b,
            (F.col("user_id") == F.col("b_uid"))
            & (F.col("b_rn") >= F.col("a_rn") - 19)
            & (F.col("b_rn") <= F.col("a_rn")),
        )
        .groupBy("user_id", "a_rn")
        .agg(
            # cast each term to decimal(38,12) — the cast IS the 12-dp
            # rounding; exact decimals add associatively, so partition
            # order can never move the 6-dp output boundary (the round-4
            # determinism recipe)
            F.sum(
                (F.col("b_val") * F.pow(F.lit(0.5), F.col("a_rn") - F.col("b_rn")))
                .cast("decimal(38,12)")
            ).cast("double").alias("num"),
            F.sum(F.pow(F.lit(0.5), F.col("a_rn") - F.col("b_rn"))).alias("den"),
        )
    )
    return (
        w.groupBy("user_id")
        .agg(
            F.max("a_rn").cast("long").alias("n_events"),
            F.round(
                F.max_by(F.col("num") / F.col("den"), F.col("a_rn")), 6
            ).alias("last_ewma"),
        )
        .orderBy("user_id")
        .limit(50)
    )
