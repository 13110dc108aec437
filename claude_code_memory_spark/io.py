"""Table loading helpers for the driver-generated testdata layout.

Each scale-factor directory holds one parquet file per table
(TESTDATA.md). Parquet gives us predicate pushdown + column pruning for
free once the query is declarative — verify with
``df.explain('formatted')`` → ``PushedFilters`` / ``ReadSchema``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load(spark, sf_dir, t) for t in TPCH_TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all testdata tables as temp views (for the SQL API)."""
    for t in TPCH_TABLES:
        load(spark, sf_dir, t).createOrReplaceTempView(t)


def write_clustered(
    df: DataFrame,
    path: str,
    cols: str | list[str],
    num_files: int = 32,
) -> None:
    """Range-cluster a table on its hot filter column(s) before writing.

    `repartitionByRange` gives each output file a disjoint key range, so
    each row group's own parquet min/max statistics are tight and a
    range predicate pushed into the scan skips whole row groups.
    `sortWithinPartitions` additionally orders pages inside each file
    (page-level stats + better compression on the clustered column).

    Caveats that silently disable the pruning this buys (measured in
    tests/test_layout.py):
    - timestamps must be written as TIMESTAMP_MICROS (session.py sets
      it); the INT96 default has no comparable stats;
    - TIMESTAMP_NTZ predicates are NOT pushed to parquet row-group stats
      by Spark even with micros storage — cluster on a TIMESTAMP(_LTZ)
      or epoch BIGINT column instead when scans must prune."""
    keys = [cols] if isinstance(cols, str) else list(cols)
    (
        df.repartitionByRange(num_files, *keys)
        .sortWithinPartitions(*keys)
        .write.mode("overwrite")
        .parquet(path)
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str | list[str],
    buckets: int,
    path: str | None = None,
    sort: bool = True,
) -> None:
    """Persist a table bucketed (and bucket-sorted) on its join key.

    This is the co-located-join primitive for 100 TB deployments: two
    tables bucketed on the same key with the same bucket count join with
    ZERO shuffle — each task reads bucket i of both sides. Same for
    groupBy on the bucket key. The shuffle happens once at write time and
    is amortized over every subsequent join/agg (the fact↔fact joins this
    engine repeats every incremental run: chunks⋈vectors on point_id,
    relations⟂entities on entity name, lineitem⋈orders on orderkey).

    `sort=True` also orders rows within each bucket file so the
    sort-merge join skips its Sort step (plan shows SortMergeJoin with
    neither Exchange nor Sort above the scans).

    Bucket-count sizing: pick so one bucket of the larger table ≈
    100-200 MB (fits an executor's task comfortably); bucket counts of
    joined tables must be equal (or integer multiples with
    spark.sql.bucketing.coalesceBucketsInJoin.enabled)."""
    keys = [key] if isinstance(key, str) else key
    w = df.write.mode("overwrite").format("parquet").bucketBy(buckets, *keys)
    if sort:
        w = w.sortBy(*keys)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


def zorder_key(x, y, bits: int = 16):
    """Z-order (Morton) key: bit-interleave of two non-negative ints.

    Pure integer column arithmetic — replayable in any SQL engine, which
    is what makes a Z-ordered layout oracle-checkable. ``bits`` low bits
    of each input are used (callers mask/mod their dimensions into range
    first); x occupies even bit positions, y odd.
    """
    from pyspark.sql import Column
    from pyspark.sql import functions as F

    xc = x if isinstance(x, Column) else F.col(x)
    yc = y if isinstance(y, Column) else F.col(y)
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z + F.shiftleft(F.shiftright(xc.cast("long"), i).bitwiseAND(1), 2 * i)
        z = z + F.shiftleft(F.shiftright(yc.cast("long"), i).bitwiseAND(1), 2 * i + 1)
    return z


def zorder_key_sql(x: str, y: str, bits: int = 16) -> str:
    """The DuckDB/ANSI twin of `zorder_key` (same bit positions, same
    evaluation): a sum of shift/mask terms over BIGINT."""
    terms = []
    for i in range(bits):
        terms.append(f"((({x}::BIGINT >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y}::BIGINT >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


def write_zordered(
    df: DataFrame,
    path: str,
    x: str,
    y: str,
    bits: int = 16,
    num_files: int = 32,
) -> None:
    """Z-order-cluster a table on TWO filter dimensions before writing.

    Range clustering (`write_clustered`) gives perfect pruning on one
    column and none on any other; the Morton interleave makes every
    output file a compact 2-D tile, so BOTH single-dimension predicates
    and 2-D box predicates skip most row groups — the Delta/Iceberg
    OPTIMIZE ZORDER layout, built from public parts.

    Each dimension is range-normalized to ``bits`` equal-width buckets
    before interleaving — raw interleave would let the wider column's
    high bits dominate the key and degrade the layout to single-column
    clustering (Delta's ZORDER does the same per-column range binning).
    The min/max pass is one 1-row aggregate. The Z key is computed, used
    for the range-partition + in-file sort, then dropped; parquet's
    row-group statistics on the ORIGINAL columns are what a pushed-down
    predicate prunes on."""
    from pyspark.sql import functions as F

    lo_x, hi_x, lo_y, hi_y = df.agg(
        F.min(x), F.max(x), F.min(y), F.max(y)
    ).first()
    top = (1 << bits) - 1

    def scaled(col: str, lo, hi):
        if lo is None or hi is None or hi == lo:
            return F.lit(0).cast("long")
        return F.floor(
            (F.col(col).cast("double") - float(lo)) * (top / (float(hi) - float(lo)))
        ).cast("long")

    zk = zorder_key(scaled(x, lo_x, hi_x), scaled(y, lo_y, hi_y), bits=bits)
    (
        df.withColumn("__z", zk)
        .repartitionByRange(num_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def zorder_value(x: int, y: int, bits: int = 16) -> int:
    """Pure-Python reference of `zorder_key` (same bit layout) — used by
    the property tests to prove the interleave is a bijection."""
    z = 0
    for i in range(bits):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


def zorder_key_n(cols, bits: int = 8):
    """N-dimensional Morton key: round-robin bit-interleave of ``len(cols)``
    non-negative int columns (``bits`` low bits each). The 2-D
    `zorder_key` is the n=2 special case; weights every dimension
    equally, so callers range-normalize first (see `write_zordered`)."""
    from pyspark.sql import Column
    from pyspark.sql import functions as F

    cs = [c if isinstance(c, Column) else F.col(c) for c in cols]
    n = len(cs)
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, c in enumerate(cs):
            z = z + F.shiftleft(
                F.shiftright(c.cast("long"), i).bitwiseAND(1), i * n + j
            )
    return z


def zorder_value_n(vals, bits: int = 8) -> int:
    """Pure-Python reference of `zorder_key_n` (property tests)."""
    n = len(vals)
    z = 0
    for i in range(bits):
        for j, v in enumerate(vals):
            z |= ((v >> i) & 1) << (i * n + j)
    return z
