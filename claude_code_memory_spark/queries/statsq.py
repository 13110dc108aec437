"""Statistical-aggregate query shapes not covered elsewhere in the catalog:
exact interpolated percentiles, second-moment statistics (stddev / corr /
covar), and pivoted conditional aggregation. All pure JVM aggregates — each
query is one scan + one shuffle on a low-cardinality group key, the shape
that holds at any scale factor.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from claude_code_memory_spark.queries.base import register, table, ts_us_col


@register(
    "agg_value_percentiles",
    oracle="""
    SELECT event_type,
           round(quantile_cont(value, 0.50), 4) AS p50,
           round(quantile_cont(value, 0.90), 4) AS p90,
           round(quantile_cont(value, 0.99), 4) AS p99
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def agg_value_percentiles(spark, sf_dir):
    """Exact interpolated percentiles per event type. Spark's `percentile`
    and DuckDB's `quantile_cont` share the linear-interpolation definition,
    so the oracle is bit-comparable after rounding. (`approx_percentile`
    is the 100 TB path — t-digest sketch, one pass, mergeable — but its
    results are engine-specific, so the exact twin is what gets
    oracle-checked.)"""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.50)"), 4).alias("p50"),
            F.round(F.expr("percentile(value, 0.90)"), 4).alias("p90"),
            F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
        )
        .orderBy("event_type")
    )


@register(
    "agg_second_moments",
    oracle="""
    SELECT event_type,
           round(stddev_samp(value), 4) AS sd_value,
           round(var_samp(value), 4) AS var_value,
           round(corr(value, epoch_us(ts)::DOUBLE), 6) AS corr_value_time
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def agg_second_moments(spark, sf_dir):
    """Second-moment statistics per group: sample stddev/variance and the
    value-vs-time correlation (drift detection — a training pipeline's
    basic data-quality signal). Single scan, partial aggregation map-side;
    corr's co-moment accumulates distributively so the shuffle carries one
    row per group."""
    e = table(spark, sf_dir, "events")
    ts_us = ts_us_col(e).cast("double")
    return (
        e.groupBy("event_type")
        .agg(
            F.round(F.stddev_samp("value"), 4).alias("sd_value"),
            F.round(F.var_samp("value"), 4).alias("var_value"),
            F.round(F.corr(F.col("value"), ts_us), 6).alias("corr_value_time"),
        )
        .orderBy("event_type")
    )


@register(
    "pivot_priority_by_year",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS urgent,
           CAST(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS high,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS other,
           round(sum(o_totalprice), 4) AS total_price
    FROM orders GROUP BY 1 ORDER BY 1
    """,
)
def pivot_priority_by_year(spark, sf_dir):
    """Pivoted conditional aggregation: order counts by priority class per
    year, plus the year's revenue. Spark's `pivot()` with an EXPLICIT value
    list compiles to exactly the oracle's CASE-sum columns — one scan, one
    shuffle; omitting the value list would add a distinct-values job, so
    never do that on a 100 TB fact table."""
    o = table(spark, sf_dir, "orders")
    year = F.year("o_orderdate").cast("int").alias("o_year")
    bucket = (
        F.when(F.col("o_orderpriority").isin("1-URGENT"), "urgent")
        .when(F.col("o_orderpriority").isin("2-HIGH"), "high")
        .otherwise("other")
    )
    pivoted = (
        o.select(year, bucket.alias("prio"), "o_totalprice")
        .groupBy("o_year")
        .pivot("prio", ["urgent", "high", "other"])
        .count()
        .na.fill(0, ["urgent", "high", "other"])
    )
    totals = o.groupBy(year).agg(F.round(F.sum("o_totalprice"), 4).alias("total_price"))
    return (
        pivoted.join(totals, "o_year")
        .select(
            "o_year",
            F.col("urgent").cast("long").alias("urgent"),
            F.col("high").cast("long").alias("high"),
            F.col("other").cast("long").alias("other"),
            "total_price",
        )
        .orderBy("o_year")
    )


@register(
    "sketch_approx_distinct",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS approx_within_15pct
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def sketch_approx_distinct(spark, sf_dir):
    """The sketch path for cardinality at 100 TB: HyperLogLog++
    (`approx_count_distinct`, one pass, mergeable partial states — the
    reason it scales where count(DISTINCT) shuffles every key). Engine HLL
    parameters differ, so the sketch VALUE is not oracle-comparable;
    instead the query emits the exact count plus a boolean asserting the
    sketch landed within 15% of it. rsd=0.05 is a relative *standard
    deviation*, not a hard bound — the asserted envelope is 3σ so a
    legitimately unlucky fixture can't hash-flake the driver row; a sketch
    drifting past 3σ is a real bug and still trips the check."""
    e = table(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("long").alias("exact_users"),
        F.approx_count_distinct("user_id", rsd=0.05).alias("__approx"),
    )
    within = (
        F.abs(F.col("__approx") - F.col("exact_users"))
        <= F.col("exact_users") * F.lit(0.15)
    )
    return agg.select(
        "event_type", "exact_users", within.alias("approx_within_15pct")
    ).orderBy("event_type")


@register(
    "sketch_heavy_hitters",
    oracle="""
    WITH toks AS (
      SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                x -> length(x) > 1)) AS token
      FROM documents),
    tot AS (SELECT count(*) AS n_total FROM toks),
    cnt AS (SELECT token, count(*) AS n_occurrences FROM toks GROUP BY token)
    SELECT c.token, c.n_occurrences, t.n_total
    FROM cnt c CROSS JOIN tot t
    WHERE c.n_occurrences * 200 > t.n_total
    """,
)
def sketch_heavy_hitters(spark, sf_dir):
    """Corpus tokens above the 1/200 frequency threshold via per-partition
    Misra-Gries sketches + an exact recount of the surviving candidates.
    The sketch pass is bounded-memory and shuffle-free; the MG guarantee
    makes the final set partition-invariant (every true heavy hitter
    survives in some partition; the recount kills false positives), so an
    exact-SQL oracle can pin an approximate-algorithm pipeline. The
    threshold compare is overflow-free integer math (count * capacity >
    n_total) — no float knife-edge. Partner of `sketch_approx_distinct`
    in the sketch family; reference parity: corpus frequency stats
    (embeddings/bm25.py document-frequency pass)."""
    from claude_code_memory_spark.functions.text import tokenize
    from claude_code_memory_spark.operators.heavyhitters import heavy_hitters

    from claude_code_memory_spark.queries.base import spread

    d = spread(spark, table(spark, sf_dir, "documents"))
    toks = d.select(F.explode(tokenize("text")).alias("token"))
    return heavy_hitters(toks, item_col="token", capacity=200)


@register(
    "feature_winsorize_clip",
    oracle="""
    WITH bounds AS (
      SELECT event_type,
             quantile_cont(value, 0.05) AS lo,
             quantile_cont(value, 0.95) AS hi
      FROM events GROUP BY event_type)
    SELECT e.event_type,
           CAST(sum(CASE WHEN e.value < b.lo THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_low,
           CAST(sum(CASE WHEN e.value > b.hi THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_high,
           round(b.lo, 6) AS p05,
           round(b.hi, 6) AS p95,
           CAST(round(sum(CAST(least(greatest(e.value, b.lo), b.hi)
                               AS DECIMAL(18,6))), 4) AS DOUBLE)
             AS winsorized_sum
    FROM events e JOIN bounds b USING (event_type)
    GROUP BY e.event_type, b.lo, b.hi
    """,
)
def feature_winsorize_clip(spark, sf_dir):
    """Per-group winsorization (clip to [p05, p95]) — the standard
    outlier treatment before feature normalization. Two aggregates over
    one scan lineage: exact interpolated percentiles per group (a
    k-row frame, broadcast back onto the events), then clip + decimal
    sums so the hash is partition-order-invariant. At 100 TB swap the
    exact percentile for approx_percentile (`sketch_approx_distinct`'s
    sibling trade) without touching the clip stage."""
    e = table(spark, sf_dir, "events")
    bounds = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.05)).alias("lo"),
        F.percentile("value", F.lit(0.95)).alias("hi"),
    )
    clipped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    return (
        e.join(F.broadcast(bounds), "event_type")
        .groupBy("event_type", "lo", "hi")
        .agg(
            F.sum((F.col("value") < F.col("lo")).cast("long")).alias("n_clipped_low"),
            F.sum((F.col("value") > F.col("hi")).cast("long")).alias("n_clipped_high"),
            F.round(F.sum(clipped.cast("decimal(18,6)")), 4)
            .cast("double")
            .alias("winsorized_sum"),
        )
        .select(
            "event_type",
            "n_clipped_low",
            "n_clipped_high",
            F.round(F.col("lo"), 6).alias("p05"),
            F.round(F.col("hi"), 6).alias("p95"),
            "winsorized_sum",
        )
    )


@register(
    "sketch_window_distinct",
    oracle="""
    SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS approx_within_15pct
    FROM events GROUP BY 1
    """,
)
def sketch_window_distinct(spark, sf_dir):
    """Daily active users via HyperLogLog++ — the sketch x window
    composition every metrics pipeline runs (`approx_count_distinct` per
    tumbling day window). Same 3-sigma envelope contract as
    `sketch_approx_distinct`: the exact count rides along and the oracle
    pins the sketch within 15%. At 100 TB the HLL partials merge
    map-side per (day) key — count(DISTINCT) would shuffle every
    (day, user) pair instead."""
    from claude_code_memory_spark.queries.base import events_us

    e = events_us(spark, sf_dir)
    agg = e.groupBy(F.expr("ts_us div 86400000000").alias("day")).agg(
        F.count_distinct("user_id").cast("long").alias("exact_users"),
        F.approx_count_distinct("user_id", rsd=0.05).alias("__approx"),
    )
    within = (
        F.abs(F.col("__approx") - F.col("exact_users"))
        <= F.col("exact_users") * F.lit(0.15)
    )
    return agg.select(
        F.col("day").cast("long").alias("day"),
        "exact_users",
        within.alias("approx_within_15pct"),
    )


@register(
    "privacy_pseudonymize",
    oracle="""
    SELECT sha256('pepper-42' || user_id::VARCHAR) AS pseudonym,
           count(*) AS n_events,
           CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE)
             AS total_value
    FROM events GROUP BY 1
    """,
)
def privacy_pseudonymize(spark, sf_dir):
    """Join-preserving pseudonymization of the user identifier (salted
    SHA-256, `functions/hashing.py::pseudonymize`) with per-pseudonym
    activity aggregates — proof that user-keyed analytics survive the
    privacy transform unchanged: the group count per pseudonym equals
    the count per original user by construction. Pure column crypto
    hashing (JVM-side, codegen'd) that DuckDB's sha256 replays exactly;
    decimal value sums keep the hash partition-order-invariant. The
    salt is a secret at deployment — with it pseudonyms are re-linkable
    (GDPR pseudonymization, not anonymization)."""
    from claude_code_memory_spark.functions.hashing import pseudonymize

    e = table(spark, sf_dir, "events")
    return e.groupBy(
        pseudonymize("user_id", "pepper-42").alias("pseudonym")
    ).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(18,6)")), 4)
        .cast("double")
        .alias("total_value"),
    )


@register(
    "sketch_hll_mergeable",
    oracle="""
    SELECT count(DISTINCT user_id) AS exact_users,
           TRUE AS merge_lossless,
           TRUE AS est_within_15pct
    FROM events
    """,
)
def sketch_hll_mergeable(spark, sf_dir):
    """Mergeability — the property that makes sketches THE distinct-count
    tool at 100 TB: per-event_type Datasketches HLL sketches
    (`hll_sketch_agg`) union (`hll_union_agg`) into the same estimate a
    single pass over all rows produces, so distinct counts can be
    pre-aggregated per partition/day/shard and combined later without
    rescanning history (incremental rollup maintenance extended to
    DISTINCT — which plain counts cannot do). The driver
    pins: union-of-partials tracks the direct sketch within 2% and the
    estimate lands within 15% of the exact count (~150 users, far
    inside the lgK=12 error envelope)."""
    e = table(spark, sf_dir, "events")
    per_type = e.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = per_type.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_merged")
    )
    direct = e.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est_direct"),
        F.count_distinct("user_id").alias("exact_users"),
    )
    return direct.crossJoin(F.broadcast(merged)).select(
        "exact_users",
        (
            F.abs(
                F.col("est_merged").cast("double")
                - F.col("est_direct").cast("double")
            )
            <= F.col("est_direct").cast("double") * F.lit(0.02)
        ).alias("merge_lossless"),
        (
            F.abs(F.col("est_direct").cast("double") - F.col("exact_users"))
            <= F.col("exact_users") * F.lit(0.15)
        ).alias("est_within_15pct"),
    )


@register(
    "vector_pca_covariance",
    oracle="""
    WITH e AS (
      SELECT vec_id, i - 1 AS i, CAST(embedding[i] AS DECIMAL(18,9)) AS x
      FROM embeddings, generate_series(1, 64) AS t(i)),
    s1 AS (SELECT i, sum(x) AS s_i, count(*) AS n FROM e GROUP BY i),
    s2 AS (
      SELECT a.i AS i, b.i AS j, sum(a.x * b.x) AS s_ij, count(*) AS n
      FROM e a JOIN e b ON a.vec_id = b.vec_id AND b.i >= a.i
      GROUP BY 1, 2)
    SELECT s2.i, s2.j,
           round((CAST(s_ij AS DOUBLE)
                  - CAST(si.s_i AS DOUBLE) * CAST(sj.s_i AS DOUBLE) / s2.n)
                 / s2.n, 10) AS cov
    FROM s2
    JOIN s1 si ON si.i = s2.i
    JOIN s1 sj ON sj.i = s2.j
    """,
)
def vector_pca_covariance(spark, sf_dir):
    """The distributed half of PCA (operators/pca.py): the exact d x d
    covariance of the embedding corpus — n x d² product rows reduce to
    d(d+1)/2 groups with map-side combine, DECIMAL sums make the matrix
    partition-order-invariant, and the driver-side eigendecomposition
    (pca_fit) consumes exactly these values. The shuffle carries
    partitions x d² rows, never the corpus."""
    from claude_code_memory_spark.operators.pca import covariance_long
    from claude_code_memory_spark.queries.base import spread

    # r12 (guide §2.5): spread the one-partition fixture scan — the
    # n x d² product-row fan-out (8.2M rows at sf0.1) ran in a single
    # task otherwise (9.9 s wall at 1.1-core utilization)
    e = spread(spark, table(spark, sf_dir, "embeddings"))
    return covariance_long(e, "embedding").select(
        "i", "j", F.round("cov", 10).alias("cov")
    )


@register(
    "sketch_kmv_mergeable",
    oracle="""
    SELECT count(DISTINCT user_id) AS exact_users,
           TRUE AS merged_equals_direct,
           TRUE AS est_within_20pct
    FROM events
    """,
)
def sketch_kmv_mergeable(spark, sf_dir):
    """Bottom-k (KMV) distinct sketches (operators/kmv.py) — the
    mergeable-sketch family that, unlike HLL, also supports
    intersection/Jaccard estimates. The driver pins the EXACT merge
    law — bottom-k of the per-event_type sketch union must equal the
    bottom-k built over all rows directly, hash for hash (md5, so
    DuckDB could replay the sketch contents themselves) — plus the
    estimator landing within 20% of the exact count (exact by
    construction while distinct keys < k)."""
    from claude_code_memory_spark.operators.kmv import (
        kmv_estimate,
        kmv_merge,
        kmv_sketch,
    )

    k = 256
    e = table(spark, sf_dir, "events")
    per_type = kmv_sketch(e, "event_type", "user_id", k)
    # one merged frame serves both the merge-law check and the estimator
    # (building kmv_merge twice would run the heaviest stage twice)
    merged = kmv_estimate(kmv_merge(per_type, k), k).select(
        F.col("sketch").alias("m_sketch"), "est_distinct"
    )
    direct = (
        kmv_sketch(e.withColumn("__g", F.lit(1)), "__g", "user_id", k)
        .select(F.col("sketch").alias("d_sketch"))
    )
    exact = e.agg(F.count_distinct("user_id").alias("exact_users"))
    return (
        exact.crossJoin(F.broadcast(merged))
        .crossJoin(F.broadcast(direct))
        .select(
            "exact_users",
            (F.col("m_sketch") == F.col("d_sketch")).alias(
                "merged_equals_direct"
            ),
            (
                F.abs(F.col("est_distinct") - F.col("exact_users"))
                <= F.col("exact_users") * F.lit(0.2)
            ).alias("est_within_20pct"),
        )
    )


@register(
    "sample_bottomk_per_type",
    oracle="""
    WITH h AS (
      SELECT event_type, event_id, user_id, md5(CAST(event_id AS VARCHAR)) AS hh
      FROM events),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY event_type
                                   ORDER BY hh, event_id) AS rn
      FROM h)
    SELECT event_type, event_id, user_id FROM r WHERE rn <= 20
    """,
)
def sample_bottomk_per_type(spark, sf_dir):
    """Exactly-20-per-type deterministic sample via bottom-k-by-hash
    (operators/sampling.py::bottom_k_sample): uniform, append-stable,
    and fixed-size per group regardless of skew. md5 makes the exact
    member set DuckDB-replayable — the oracle reproduces the SAMPLE
    ITSELF, not just its size."""
    from claude_code_memory_spark.operators.sampling import bottom_k_sample

    e = table(spark, sf_dir, "events").select(
        "event_type", "event_id", "user_id"
    )
    return bottom_k_sample(e, "event_type", "event_id", 20)


@register(
    "corr_matrix_lineitem",
    oracle="""
    WITH src AS (
      -- any per-row-unique id works: rid only pairs a row with itself
      -- ((l_orderkey, l_linenumber) is NOT unique in the fixture)
      SELECT row_number() OVER () AS rid,
             l_quantity, l_extendedprice, l_discount, l_tax
      FROM lineitem),
    e AS (
      SELECT rid, i - 1 AS i,
             CAST(list_value(l_quantity, l_extendedprice, l_discount, l_tax)[i]
                  AS DECIMAL(18,9)) AS x
      FROM src, generate_series(1, 4) AS t(i)),
    s1 AS (SELECT i, sum(x) AS s_i FROM e GROUP BY i),
    s2 AS (
      SELECT a.i AS i, b.i AS j, sum(a.x * b.x) AS s_ij, count(*) AS n
      FROM e a JOIN e b ON a.rid = b.rid AND b.i >= a.i
      GROUP BY 1, 2),
    cov AS (
      SELECT s2.i, s2.j,
             (CAST(s_ij AS DOUBLE)
              - CAST(si.s_i AS DOUBLE) * CAST(sj.s_i AS DOUBLE) / s2.n) / s2.n
               AS c
      FROM s2 JOIN s1 si ON si.i = s2.i JOIN s1 sj ON sj.i = s2.j)
    SELECT cov.i, cov.j,
           round(cov.c / sqrt(di.c * dj.c), 6) AS corr
    FROM cov
    JOIN cov di ON di.i = cov.i AND di.j = cov.i
    JOIN cov dj ON dj.i = cov.j AND dj.j = cov.j
    """,
)
def corr_matrix_lineitem(spark, sf_dir):
    """Pearson correlation matrix of the four lineitem measures —
    operator REUSE: the same `covariance_long` aggregate that powers
    distributed PCA (operators/pca.py), pointed at an inline 4-vector.
    One scan reduces n x 16 product rows to 10 groups map-side;
    normalization joins the broadcast diagonal. Exact decimal sums →
    the matrix replays bit-for-bit in DuckDB."""
    from claude_code_memory_spark.operators.pca import covariance_long
    from claude_code_memory_spark.queries.base import spread

    # r12 (guide §2.5): spread — n x 16 product rows from a one-split
    # scan ran single-task (6.5 s wall at 1.8-core utilization)
    li = spread(spark, table(spark, sf_dir, "lineitem")).select(
        F.array("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        .cast("array<double>")
        .alias("v")
    )
    cov = covariance_long(li, "v")
    di = cov.filter(F.col("i") == F.col("j")).select(
        F.col("i").alias("di"), F.col("cov").alias("var_i")
    )
    dj = cov.filter(F.col("i") == F.col("j")).select(
        F.col("j").alias("dj"), F.col("cov").alias("var_j")
    )
    return (
        cov.join(F.broadcast(di), cov["i"] == di["di"])
        .join(F.broadcast(dj), cov["j"] == dj["dj"])
        .select(
            "i",
            "j",
            F.round(
                F.col("cov") / F.sqrt(F.col("var_i") * F.col("var_j")), 6
            ).alias("corr"),
        )
    )


@register(
    "anomaly_mad_outliers",
    oracle="""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type),
    mad AS (
      SELECT e.event_type,
             quantile_cont(abs(e.value - m.med), 0.5) AS mad
      FROM events e JOIN med m USING (event_type)
      GROUP BY e.event_type),
    flagged AS (
      SELECT e.event_type,
             CASE WHEN abs(e.value - m.med) > 3 * 1.4826 * d.mad
                  THEN 1 ELSE 0 END AS is_out
      FROM events e
      JOIN med m USING (event_type)
      JOIN mad d USING (event_type))
    SELECT f.event_type,
           CAST(sum(is_out) AS BIGINT) AS n_outliers,
           count(*) AS n,
           round(min(m.med), 4) AS med,
           round(min(d.mad), 4) AS mad
    FROM flagged f
    JOIN med m USING (event_type)
    JOIN mad d USING (event_type)
    GROUP BY f.event_type
    """,
)
def anomaly_mad_outliers(spark, sf_dir):
    """Robust outlier detection: |x - median| > 3·1.4826·MAD per event
    type — the median/MAD pair shrugs off the very outliers that
    contaminate a mean/stddev z-score (the modified-z-score rule,
    Iglewicz & Hoaglin 1993). Two exact-percentile aggregates (median,
    then MAD of residuals vs the broadcast medians) + one flagging
    scan; Spark's `percentile` and DuckDB's `quantile_cont` share the
    interpolation definition, so thresholds replay exactly. At 100 TB
    swap `percentile` for `approx_percentile` and the plan shape —
    two group-aggregates + broadcast joins — is unchanged."""
    e = table(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    resid = e.join(F.broadcast(med), "event_type")
    mad = resid.groupBy("event_type").agg(
        F.expr("percentile(abs(value - med), 0.5)").alias("mad")
    )
    flagged = resid.join(F.broadcast(mad), "event_type").withColumn(
        "is_out",
        (
            F.abs(F.col("value") - F.col("med"))
            > F.lit(3) * F.lit(1.4826) * F.col("mad")
        ).cast("int"),
    )
    return flagged.groupBy("event_type").agg(
        F.sum("is_out").cast("long").alias("n_outliers"),
        F.count("*").alias("n"),
        F.round(F.min("med"), 4).alias("med"),
        F.round(F.min("mad"), 4).alias("mad"),
    )


@register(
    "pareto_nation_revenue",
    oracle="""
    WITH rev AS (
      SELECT n.n_name AS nation,
             CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                                 AS DECIMAL(18,6))), 4) AS DOUBLE) AS revenue
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name),
    tot AS (SELECT sum(revenue) AS total FROM rev),
    ranked AS (
      SELECT nation, revenue,
             sum(revenue) OVER (ORDER BY revenue DESC, nation
                                ROWS UNBOUNDED PRECEDING) AS cum
      FROM rev)
    SELECT nation, revenue,
           round(revenue / t.total, 6) AS share,
           round(cum / t.total, 6) AS cum_share,
           cum / t.total <= 0.8 AS in_top80
    FROM ranked CROSS JOIN tot t
    """,
)
def pareto_nation_revenue(spark, sf_dir):
    """Pareto / contribution analysis: each nation's revenue share plus
    the cumulative share in descending order, flagging the heads that
    make up 80% of revenue. Per-nation revenue uses the decimal recipe;
    the cumulative window runs over the 25-row aggregate (bounded), and
    the grand total rides as a broadcast 1-row cross join — the
    everything-already-reduced shape where a global window is safe."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    rev = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,6)"
                    )
                ),
                4,
            )
            .cast("double")
            .alias("revenue")
        )
    )
    tot = rev.agg(F.sum("revenue").alias("total"))
    w = Window.orderBy(F.desc("revenue"), F.asc("nation")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    ranked = rev.withColumn("cum", F.sum("revenue").over(w))
    return ranked.crossJoin(F.broadcast(tot)).select(
        "nation",
        "revenue",
        F.round(F.col("revenue") / F.col("total"), 6).alias("share"),
        F.round(F.col("cum") / F.col("total"), 6).alias("cum_share"),
        (F.col("cum") / F.col("total") <= 0.8).alias("in_top80"),
    )


@register(
    "diag_key_skew",
    oracle="""
    WITH g AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
    s AS (SELECT count(*) AS n_keys, CAST(sum(n) AS BIGINT) AS n_rows, max(n) AS max_n,
                 quantile_cont(n, 0.5) AS med_n,
                 quantile_cont(n, 0.99) AS p99_n
          FROM g)
    SELECT n_keys, n_rows, max_n,
           round(med_n, 4) AS med_n,
           round(p99_n, 4) AS p99_n,
           round(max_n * n_keys / CAST(n_rows AS DOUBLE), 4)
             AS hottest_vs_uniform
    FROM s
    """,
)
def diag_key_skew(spark, sf_dir):
    """Partition-skew diagnostic for a prospective shuffle key: group-
    size distribution (median/p99/max) plus the hottest key's load
    relative to a perfectly uniform spread — the number that says
    whether a join/window on this key needs salting
    (operators/skew.py) or AQE skew handling before it ships. One
    aggregate over the key, one 1-row summary."""
    e = table(spark, sf_dir, "events")
    g = e.groupBy("user_id").agg(F.count("*").alias("n"))
    return g.agg(
        F.count("*").alias("n_keys"),
        F.sum("n").alias("n_rows"),
        F.max("n").alias("max_n"),
        F.round(F.expr("percentile(n, 0.5)"), 4).alias("med_n"),
        F.round(F.expr("percentile(n, 0.99)"), 4).alias("p99_n"),
    ).select(
        "n_keys",
        "n_rows",
        "max_n",
        "med_n",
        "p99_n",
        F.round(
            F.col("max_n") * F.col("n_keys") / F.col("n_rows").cast("double"), 4
        ).alias("hottest_vs_uniform"),
    )


_CM_D, _CM_W = 4, 32  # count-min: 4 hash rows x 32 buckets


@register(
    "sketch_countmin_freq",
    oracle=f"""
    WITH counts AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY event_type),
    cells AS (
      SELECT i,
             ('0x' || substr(md5(i::VARCHAR || ':' || event_type), 1, 8))
               ::UBIGINT::BIGINT % {_CM_W} AS bucket,
             CAST(sum(n) AS BIGINT) AS total
      FROM counts, (SELECT unnest(range({_CM_D})) AS i)
      GROUP BY i, bucket),
    est AS (
      SELECT c.event_type, c.n,
             min(s.total) AS cm_est
      FROM counts c, (SELECT unnest(range({_CM_D})) AS i) d
      JOIN cells s
        ON s.i = d.i
       AND s.bucket = ('0x' || substr(md5(d.i::VARCHAR || ':' || c.event_type), 1, 8))
                        ::UBIGINT::BIGINT % {_CM_W}
      GROUP BY c.event_type, c.n)
    SELECT event_type, n AS exact_n, CAST(cm_est AS BIGINT) AS cm_est,
           cm_est >= n AS never_underestimates
    FROM est
    """,
)
def sketch_countmin_freq(spark, sf_dir):
    """Count-min sketch (Cormode & Muthukrishnan 2005) over event-type
    frequencies: d=4 md5-derived hash rows x w=32 buckets, point
    estimate = min over rows of the bucket total. The sketch is a
    MERGEABLE d x w counter grid — partitions build partial grids that
    sum cell-wise, so at 100 TB the frequency summary of any key column
    costs one map-side-combined aggregate into 128 counters, not a
    vocabulary-sized shuffle. md5 on both engines makes the oracle
    replay the exact grid; CM's one-sided error (est >= exact, bounded
    by collisions) is pinned per key. Reference parity: the collection
    stats surface (A2) summarizes key distributions the same way at
    fixture scale."""
    e = table(spark, sf_dir, "events")
    counts = e.groupBy("event_type").agg(F.count("*").alias("n"))

    def bucket(i_col, key_col):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(i_col.cast("string"), F.lit(":"), F.col(key_col))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % _CM_W
        )

    rows = F.explode(F.array(*[F.lit(i) for i in range(_CM_D)])).alias("i")
    hashed = counts.select("event_type", "n", rows).withColumn(
        "bucket", bucket(F.col("i"), "event_type")
    )
    cells = hashed.groupBy("i", "bucket").agg(F.sum("n").alias("total"))
    probes = counts.select("event_type", "n", rows).withColumn(
        "bucket", bucket(F.col("i"), "event_type")
    )
    est = (
        probes.join(cells, ["i", "bucket"])
        .groupBy("event_type", "n")
        .agg(F.min("total").alias("cm_est"))
    )
    return est.select(
        "event_type",
        F.col("n").alias("exact_n"),
        "cm_est",
        (F.col("cm_est") >= F.col("n")).alias("never_underestimates"),
    )


_KMV_J_K = 128


@register(
    "sketch_kmv_jaccard",
    oracle=f"""
    WITH t AS (SELECT DISTINCT event_type FROM events),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b
      FROM t a JOIN t b ON a.event_type < b.event_type),
    ut AS (SELECT DISTINCT event_type, md5(user_id::VARCHAR) AS h FROM events),
    mem AS (
      SELECT p.type_a, p.type_b, u.h,
             max(CASE WHEN u.event_type = p.type_a THEN 1 ELSE 0 END) AS ia,
             max(CASE WHEN u.event_type = p.type_b THEN 1 ELSE 0 END) AS ib
      FROM pairs p JOIN ut u ON u.event_type IN (p.type_a, p.type_b)
      GROUP BY p.type_a, p.type_b, u.h),
    l AS (SELECT *, row_number() OVER (PARTITION BY type_a, type_b ORDER BY h) AS rn
          FROM mem)
    SELECT type_a, type_b,
           round((count(*) FILTER (rn <= {_KMV_J_K} AND ia = 1 AND ib = 1))::DOUBLE
                 / (count(*) FILTER (rn <= {_KMV_J_K})), 6) AS jaccard_est,
           round((count(*) FILTER (ia = 1 AND ib = 1))::DOUBLE / count(*), 6)
             AS jaccard_exact
    FROM l GROUP BY type_a, type_b
    """,
)
def sketch_kmv_jaccard(spark, sf_dir):
    """Pairwise Jaccard similarity between event-type user sets via
    bottom-k (KMV) sketches — THE estimate HLL cannot give you (Beyer
    et al. SIGMOD'07): take the k smallest hashes of the pair's union,
    estimate J by the fraction of those that belong to both sets. md5
    on both engines means the oracle replays the sketch BIT FOR BIT —
    estimator value included, not just an error envelope — alongside
    the exact Jaccard for comparison. Scale shape: one distinct
    (type, user-hash) projection of the fact table, a tiny type-pair
    broadcast fan-out, one bounded per-pair window — user cardinality
    never crosses the shuffle unsketched. Pairs with fewer than k
    union members estimate exactly by construction."""
    e = table(spark, sf_dir, "events")
    ut = e.select(
        "event_type", F.md5(F.col("user_id").cast("string")).alias("h")
    ).distinct()
    types = ut.select("event_type").distinct()
    pairs = (
        types.select(F.col("event_type").alias("type_a"))
        .crossJoin(types.select(F.col("event_type").alias("type_b")))
        .filter(F.col("type_a") < F.col("type_b"))
    )
    mem = (
        F.broadcast(pairs)
        .join(
            ut,
            (ut.event_type == F.col("type_a")) | (ut.event_type == F.col("type_b")),
        )
        .groupBy("type_a", "type_b", "h")
        .agg(
            F.max((F.col("event_type") == F.col("type_a")).cast("int")).alias("ia"),
            F.max((F.col("event_type") == F.col("type_b")).cast("int")).alias("ib"),
        )
    )
    w = Window.partitionBy("type_a", "type_b").orderBy("h")
    l = mem.withColumn("rn", F.row_number().over(w))
    in_sketch = F.col("rn") <= _KMV_J_K
    both = (F.col("ia") == 1) & (F.col("ib") == 1)
    return l.groupBy("type_a", "type_b").agg(
        F.round(
            F.sum((in_sketch & both).cast("long"))
            / F.sum(in_sketch.cast("long")).cast("double"),
            6,
        ).alias("jaccard_est"),
        F.round(
            F.sum(both.cast("long")) / F.count("*").cast("double"), 6
        ).alias("jaccard_exact"),
    )


@register(
    "sketch_approx_quantiles",
    oracle="""
    SELECT event_type,
           round(quantile_cont(value, 0.5), 4) AS exact_p50,
           round(quantile_cont(value, 0.99), 4) AS exact_p99,
           TRUE AS p50_within_rank_eps,
           TRUE AS p99_within_rank_eps
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def sketch_approx_quantiles(spark, sf_dir):
    """The quantile member of the sketch family (HLL distinct / KMV
    Jaccard / Misra-Gries hitters / count-min freq): one-pass MERGEABLE
    approximate percentiles via `approx_percentile` (Greenwald-Khanna
    style, relative rank error <= accuracy^-1), the only way p99 over
    100 TB avoids a full sort. Sketch internals are engine-specific, so
    — the `sketch_approx_distinct` pattern — the query emits the exact
    interpolated quantiles plus booleans pinning the sketch within the
    published RANK guarantee: the approx value must sit between the
    exact (q-eps) and (q+eps) quantiles, eps = 1/accuracy. A sketch
    outside its own contract trips the row; an unlucky-but-legal
    fixture cannot."""
    acc = 100  # rank error eps = 1/100
    e = table(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("exact_p50"),
        F.round(F.expr("percentile(value, 0.99)"), 4).alias("exact_p99"),
        F.expr(f"approx_percentile(value, 0.5, {acc})").alias("__a50"),
        F.expr(f"approx_percentile(value, 0.99, {acc})").alias("__a99"),
        F.expr("percentile(value, 0.49)").alias("__lo50"),
        F.expr("percentile(value, 0.51)").alias("__hi50"),
        F.expr("percentile(value, 0.98)").alias("__lo99"),
        F.expr("percentile(value, 1.0)").alias("__hi99"),
    )
    return agg.select(
        "event_type",
        "exact_p50",
        "exact_p99",
        ((F.col("__a50") >= F.col("__lo50")) & (F.col("__a50") <= F.col("__hi50"))).alias(
            "p50_within_rank_eps"
        ),
        ((F.col("__a99") >= F.col("__lo99")) & (F.col("__a99") <= F.col("__hi99"))).alias(
            "p99_within_rank_eps"
        ),
    ).orderBy("event_type")
