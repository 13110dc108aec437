"""Query registry shared by __spark_entry__, perfbench and the tests.

Each entry: name -> (callable(spark, sf_dir) -> DataFrame, oracle SQL or
None). The oracle SQL runs in DuckDB against views named after the
testdata tables. Column names/aliases MUST match between the two sides —
the driver sorts columns by name before value-hashing.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass(frozen=True)
class CatalogEntry:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    headline: bool = False  # run and timed by perfbench's catalog_headline workload


REGISTRY: dict[str, CatalogEntry] = {}


def register(name: str, oracle: str | None = None, headline: bool = False):
    def deco(fn):
        REGISTRY[name] = CatalogEntry(fn=fn, oracle=oracle, headline=headline)
        return fn

    return deco


def query_map() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: e.fn for name, e in REGISTRY.items()}


def oracle_sql_map() -> dict[str, str]:
    return {name: e.oracle for name, e in REGISTRY.items() if e.oracle is not None}


def prep(spark: SparkSession) -> SparkSession:
    """Session confs required for oracle-comparable reads: nanos timestamps
    surface as LONG (ns-precision events fixtures), timezone pinned UTC.

    These are best-effort: `nanosAsLong` only affects ns-precision parquet
    and some Spark versions ignore post-creation legacy confs. Queries must
    therefore never depend on a conf for schema shape — `ts_us_col` below
    adapts to whatever type the scan actually produced."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark


# Table-metadata memo for the fixture tables: `spark.read.parquet` runs
# schema inference (footer read) and file listing EAGERLY on every call —
# measured 104 ms per call at sf0.1, and the headline set makes ~30
# table() calls per bench pass, so pure metadata work was ~2.5 s of
# per-query fixed cost (optimization guide §1/§7.3: driver-side metadata
# work). A real engine resolves a table through its catalog exactly
# once. The memo keys on (session, path, mtime_ns, size), so a rewritten
# fixture — or a new session — re-reads metadata. Only METADATA (the
# immutable DataFrame handle: schema + file listing) is memoized; every
# execution still reads the data pages from the parquet file — nothing
# result-shaped is cached.
# values hold (session, df): the session reference pins the id() key —
# a dead session's id can never be recycled while its entry exists
_TABLE_MEMO: dict[tuple, tuple[SparkSession, DataFrame]] = {}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    prep(spark)
    path = f"{sf_dir}/{name}.parquet"
    try:
        st = os.stat(path)
        key = (id(spark), path, st.st_mtime_ns, st.st_size)
    except OSError:
        return spark.read.parquet(path)
    hit = _TABLE_MEMO.get(key)
    if hit is None:
        hit = (spark, spark.read.parquet(path))
        _TABLE_MEMO[key] = hit
    return hit[1]


def table_rowcount(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Exact row count of a fixture table, read from the parquet footer
    metadata driver-side — the same number `count()` answers from
    row-group metadata, without paying a Spark job for it (~0.2 s of
    scheduler floor per blocking action at bench scale; optimization
    guide §7.3). Nothing result-shaped is cached: the footer is re-read
    on every call, so a rewritten fixture is always current. Falls back
    to a real `count()` job on any surprise (missing pyarrow, multi-file
    layout without parquet parts, encrypted footers)."""
    path = f"{sf_dir}/{name}.parquet"
    try:
        import pyarrow.parquet as _pq

        # single-file tables only (the fixture contract): a DIRECTORY
        # table would need Spark's hidden-file rules (_*/.* skipped,
        # partition discovery) replicated exactly — not worth a silent-
        # mismatch risk for a 0.2 s win, so dirs take the count() job.
        if os.path.isfile(path):
            return _pq.read_metadata(path).num_rows
    except Exception:  # noqa: BLE001
        pass
    return table(spark, sf_dir, name).count()


def ts_us_col(df: DataFrame, col: str = "ts") -> Column:
    """Epoch-microseconds expression for an event-time column, derived from
    the column's *actual* type rather than an assumed physical encoding.

    The events fixture has shipped with two encodings across rounds:

    - ns-precision parquet TIMESTAMP read under ``nanosAsLong`` → Spark sees
      ``bigint`` nanoseconds → ``ts div 1000``;
    - µs-precision parquet TIMESTAMP → Spark sees ``timestamp``/
      ``timestamp_ntz`` → ``unix_micros(cast(ts as timestamp))``. The
      session timezone is pinned UTC (prep/tune_for_oracle), so the NTZ →
      instant cast is the identity mapping and matches DuckDB ``epoch_us``
      bit-for-bit.

    Mirrors the reference's multi-format timestamp tolerance
    (chat/parser.py:193-214) at the physical-schema level.
    """
    dtype = dict(df.dtypes).get(col)
    if dtype == "bigint":
        return F.expr(f"{col} div 1000")
    return F.unix_micros(F.col(col).cast("timestamp"))


def events_us(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events table with a derived epoch-µs ``ts_us`` column — the shared
    entry point for every event-time query (see `ts_us_col`)."""
    e = table(spark, sf_dir, "events")
    return e.withColumn("ts_us", ts_us_col(e))


def spread(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Repartition ONLY when the scan has fewer splits than cores — the
    one-parquet-file fixtures read as a single partition, serializing
    compute-heavy per-row stages (shingling, signatures, argmin). A real
    corpus has >> cores input splits and takes the no-op branch, so the
    operators' no-input-shuffle cost model holds at scale."""
    parallelism = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < parallelism:
        return df.repartition(parallelism)
    return df
