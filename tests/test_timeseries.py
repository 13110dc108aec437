"""Time-series operators: gap-fill + LOCF, rolling z-score anomalies,
and the time-bucket-salted as-of join (equivalence vs the unsalted
operator on skewed data — the 100 TB hot-key mitigation)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from claude_code_memory_spark.operators.asof import asof_join, asof_join_salted


def _norm(df):
    return sorted(tuple(r) for r in df.collect())


class TestSaltedAsof:
    def _skewed(self, spark, seed=7):
        """One hot key with many events + several normal keys; unique
        (key, ts) pairs so tie semantics don't enter the comparison."""
        import random

        rng = random.Random(seed)
        left, right = [], []
        for key, n in [(1, 400), (2, 30), (3, 1), (4, 7)]:
            ts_pool = rng.sample(range(0, 100_000), n * 3)
            for i in range(n):
                left.append((key, ts_pool[3 * i]))
                right.append((key, ts_pool[3 * i + 1], float(key * 1000 + i)))
        # a key present only on the left: must match nothing
        left.append((99, 50_000))
        ldf = spark.createDataFrame(left, "k long, ts long")
        rdf = spark.createDataFrame(right, "k long, ts long, payload double")
        return ldf, rdf

    @pytest.mark.parametrize("bucket_width", [1_000, 7_919, 100_000_000])
    def test_equals_unsalted(self, spark, bucket_width):
        """Salted result == unsalted result for narrow buckets (carry-in
        heavy), odd bucket sizes, and one-giant-bucket (degenerates to
        the plain join)."""
        ldf, rdf = self._skewed(spark)
        plain = asof_join(
            ldf, rdf, on="k", ts_col="ts", payload_cols=("ts", "payload")
        )
        salted = asof_join_salted(
            ldf,
            rdf,
            on="k",
            ts_col="ts",
            payload_cols=("ts", "payload"),
            bucket_width=bucket_width,
        )
        assert salted.columns == plain.columns
        assert _norm(salted) == _norm(plain)

    def test_carry_crosses_empty_buckets(self, spark):
        """A match many empty buckets in the past is still found (the
        carry-in forward-fill spans bucket holes)."""
        ldf = spark.createDataFrame([(1, 1_000_000)], "k long, ts long")
        rdf = spark.createDataFrame(
            [(1, 5, 42.0)], "k long, ts long, payload double"
        )
        out = asof_join_salted(
            ldf,
            rdf,
            on="k",
            ts_col="ts",
            payload_cols=("payload",),
            bucket_width=100,
        ).collect()
        assert len(out) == 1 and out[0]["matched_payload"] == 42.0

    def test_tolerance_respected(self, spark):
        """Tolerance NULLs out a too-old carry-in exactly like the
        unsalted operator."""
        ldf = spark.createDataFrame(
            [(1, 1_000), (1, 5_000)], "k long, ts long"
        )
        rdf = spark.createDataFrame(
            [(1, 900, 1.0)], "k long, ts long, payload double"
        )
        kw = dict(
            on="k",
            ts_col="ts",
            payload_cols=("ts", "payload"),
            tolerance=500,
        )
        plain = asof_join(ldf, rdf, **kw)
        salted = asof_join_salted(ldf, rdf, bucket_width=1_000, **kw)
        assert _norm(salted) == _norm(plain)
        rows = {r["ts"]: r["matched_payload"] for r in salted.collect()}
        assert rows[1_000] == 1.0 and rows[5_000] is None

    def test_window_partitions_by_key_and_bucket(self, spark):
        """The plan's data-sized window partitions on the composite
        (key, bucket) salt, not the raw key — the skew-breaking claim."""
        ldf, rdf = self._skewed(spark)
        salted = asof_join_salted(
            ldf,
            rdf,
            on="k",
            ts_col="ts",
            payload_cols=("payload",),
            bucket_width=1_000,
        )
        plan = salted._jdf.queryExecution().executedPlan().toString()
        assert "windowspecdefinition(__k" in plan


class TestGapfillAndAnomaly:
    def test_gapfill_locf_fills_holes(self, spark, tmp_path):
        """Buckets 0,1,3 present → bucket 2 synthesized with n=0, LOCF
        value from bucket 1, is_gap true."""
        hr = 3_600_000_000
        rows = [
            (1, "2024-01-01 00:10:00", "click", 10.0, "{}", 1),
            (2, "2024-01-01 01:10:00", "click", 20.0, "{}", 1),
            (3, "2024-01-01 03:10:00", "click", 40.0, "{}", 1),
        ]
        df = spark.createDataFrame(
            rows, "event_id long, ts string, event_type string, value double, props string, user_id long"
        ).withColumn("ts", F.to_timestamp("ts"))
        path = str(tmp_path / "events.parquet")
        df.write.parquet(path)
        from claude_code_memory_spark.queries.timeseriesq import (
            timeseries_gapfill_locf,
        )

        out = {
            r["bucket_id"]: r
            for r in timeseries_gapfill_locf(spark, str(tmp_path)).collect()
        }
        assert len(out) == 4
        base = min(out)
        gap = out[base + 2]
        assert gap["n"] == 0 and gap["is_gap"] and gap["locf_value"] == 20.0
        assert not out[base + 3]["is_gap"]
        assert out[base + 3]["locf_value"] == 40.0

    def test_interpolate_linear_fills_interior_gaps(self, spark, tmp_path):
        """Buckets 0,1,4 observed → 2 and 3 linearly interpolated between
        bucket 1 (20.0) and bucket 4 (80.0); observed rows keep their
        exact value."""
        rows = [
            (1, "2024-01-01 00:10:00", "click", 10.0, "{}", 1),
            (2, "2024-01-01 01:10:00", "click", 20.0, "{}", 1),
            (3, "2024-01-01 04:10:00", "click", 80.0, "{}", 1),
        ]
        df = spark.createDataFrame(
            rows, "event_id long, ts string, event_type string, value double, props string, user_id long"
        ).withColumn("ts", F.to_timestamp("ts"))
        df.write.parquet(str(tmp_path / "events.parquet"))
        from claude_code_memory_spark.queries.timeseriesq import (
            timeseries_interpolate_linear,
        )

        out = {
            r["bucket_id"]: r
            for r in timeseries_interpolate_linear(spark, str(tmp_path)).collect()
        }
        assert len(out) == 5
        base = min(out)
        vals = {b - base: r["interp_value"] for b, r in out.items()}
        assert vals == {0: 10.0, 1: 20.0, 2: 40.0, 3: 60.0, 4: 80.0}
        interp = {b - base for b, r in out.items() if r["is_interpolated"]}
        assert interp == {2, 3}

    def test_anomaly_flags_injected_spike(self, spark, tmp_path):
        """25 calm hourly buckets then a huge spike → exactly the spike
        bucket is flagged (trailing window excludes the current row)."""
        rows = []
        eid = 0
        for h in range(26):
            v = 10_000.0 if h == 25 else 10.0 + (h % 3)
            eid += 1
            rows.append((eid, f"2024-01-01 {h % 24:02d}:30:00", h // 24, "click", v, "{}", 1))
        df = spark.createDataFrame(
            rows,
            "event_id long, hts string, day int, event_type string, value double, props string, user_id long",
        ).withColumn(
            "ts",
            F.to_timestamp("hts") + F.make_dt_interval(F.col("day")),
        ).drop("hts", "day")
        df.write.parquet(str(tmp_path / "events.parquet"))
        from claude_code_memory_spark.queries.timeseriesq import (
            anomaly_rolling_zscore,
        )

        out = anomaly_rolling_zscore(spark, str(tmp_path)).collect()
        # 26 buckets - 24 warmup = 2 scored buckets
        assert len(out) == 2
        flagged = {r["bucket_id"] for r in out if r["is_anomaly"]}
        spike = max(r["bucket_id"] for r in out)
        assert flagged == {spike}

