"""TableStore.append: appends must be O(new rows) — a new manifest
snapshot, prior snapshot dirs byte-for-byte untouched (the Delta-append
emulation; round 1 appended by rewriting the whole table)."""

import glob
import os

from claude_code_memory_spark.plans.incremental import TableStore


def _files_with_mtime(root):
    out = {}
    for p in glob.glob(os.path.join(root, "**"), recursive=True):
        if os.path.isfile(p):
            out[p] = os.path.getmtime(p)
    return out


def test_append_leaves_prior_snapshots_untouched(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "s"))
    df1 = spark.range(5).selectExpr("id", "id * 2 AS v")
    store.write("t", df1)
    before = _files_with_mtime(str(tmp_path / "s" / "t"))
    assert before

    df2 = spark.range(5, 8).selectExpr("id", "id * 2 AS v")
    store.append("t", df2)

    after = _files_with_mtime(str(tmp_path / "s" / "t"))
    for p, mt in before.items():
        # metadata files legitimately change per commit: the pointer swap
        # and the append-only time-travel log
        if p.endswith("_current") or p.endswith(".tmp") or p.endswith("_log"):
            continue
        assert p in after and after[p] == mt, f"prior snapshot file rewritten: {p}"

    got = sorted(r.id for r in store.read("t").collect())
    assert got == list(range(8))
    assert len(store._manifest("t")["snapshots"]) == 2


def test_append_partitioned_and_vacuum_keeps_manifest(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "s"))
    df1 = spark.range(4).selectExpr("id", "CAST(id % 2 AS STRING) AS part")
    store.write("t", df1, ["part"])
    store.append("t", spark.range(4, 6).selectExpr("id", "'0' AS part"), ["part"])
    store.vacuum()  # must keep BOTH manifest snapshots
    assert store.read("t").count() == 6
    # partition pruning still works per snapshot dir
    assert store.read("t").filter("part = '0'").count() == 4


def test_append_auto_compacts(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(TableStore, "MAX_SNAPSHOTS", 4)
    store = TableStore(spark, str(tmp_path / "s"))
    store.write("t", spark.range(2).selectExpr("id"))
    for i in range(5):
        store.append("t", spark.range(10 + i, 11 + i).selectExpr("id"))
    # never exceeds the cap, data intact
    assert len(store._manifest("t")["snapshots"]) < 4
    assert store.read("t").count() == 7


def test_crash_between_snapshot_and_commit_preserves_old_state(spark, tmp_path):
    """Kill after the snapshot dir is written but before the pointer swap:
    readers must keep seeing the old snapshot set — never a torn state —
    and a retry must land the append exactly once (the reference's atomic
    tmp+rename state write, indexer.py:1544-1718)."""
    import pytest

    store = TableStore(spark, str(tmp_path / "s"))
    store.write("t", spark.range(5).selectExpr("id"))
    ptr_before = open(store._pointer("t")).read()

    real_commit = store._commit

    def crash_commit(table, snapshots, schema_json, tombstones=None):
        raise OSError("simulated kill before pointer swap")

    store._commit = crash_commit
    with pytest.raises(OSError):
        store.append("t", spark.range(5, 8).selectExpr("id"))
    store._commit = real_commit

    # pointer untouched -> reads serve exactly the old snapshot
    assert open(store._pointer("t")).read() == ptr_before
    assert sorted(r.id for r in store.read("t").collect()) == list(range(5))

    # retry succeeds; no duplicate rows from the orphaned snapshot dir
    store.append("t", spark.range(5, 8).selectExpr("id"))
    assert sorted(r.id for r in store.read("t").collect()) == list(range(8))

    # the orphan (never-committed) dir is dead weight vacuum can reclaim
    store.vacuum()
    assert sorted(r.id for r in store.read("t").collect()) == list(range(8))


def test_crash_mid_compaction_preserves_old_state(spark, tmp_path, monkeypatch):
    """Kill during the compaction rewrite (the OPTIMIZE analogue): the
    manifest must keep serving the pre-compaction snapshot union; a retry
    compacts cleanly with no loss and no duplication."""
    import pytest

    monkeypatch.setattr(TableStore, "MAX_SNAPSHOTS", 3)
    store = TableStore(spark, str(tmp_path / "s"))
    store.write("t", spark.range(3).selectExpr("id"))
    store.append("t", spark.range(3, 6).selectExpr("id"))  # 2 snapshots

    real_write = store.write
    calls = {"n": 0}

    def crash_write(table, df, partition_by=None):
        calls["n"] += 1
        raise OSError("simulated kill during compaction rewrite")

    # the NEXT append reaches MAX_SNAPSHOTS and triggers the compaction
    # write; crash it
    store.write = crash_write
    with pytest.raises(OSError):
        store.append("t", spark.range(6, 9).selectExpr("id"))
    store.write = real_write
    assert calls["n"] == 1

    # old manifest intact: the un-committed append + compaction are both
    # invisible (at-most-once visibility; the append retries below)
    assert sorted(r.id for r in store.read("t").collect()) == list(range(6))
    assert len(store._manifest("t")["snapshots"]) == 2

    # retry: compaction folds everything into one committed snapshot
    store.append("t", spark.range(6, 9).selectExpr("id"))
    assert sorted(r.id for r in store.read("t").collect()) == list(range(9))
    assert len(store._manifest("t")["snapshots"]) == 1
    store.vacuum()
    assert sorted(r.id for r in store.read("t").collect()) == list(range(9))


def test_torn_uncommitted_snapshot_dir_is_invisible(spark, tmp_path):
    """A partial snapshot dir (crash mid parquet write, no pointer entry)
    must neither surface in reads nor break vacuum."""
    store = TableStore(spark, str(tmp_path / "s"))
    store.write("t", spark.range(4).selectExpr("id"))
    torn = tmp_path / "s" / "t" / "snap-0000000000000-99999-1"
    torn.mkdir()
    (torn / "part-00000-torn.snappy.parquet").write_bytes(b"\x00\x01not parquet")

    assert sorted(r.id for r in store.read("t").collect()) == list(range(4))
    store.vacuum()
    assert not torn.exists()
    assert sorted(r.id for r in store.read("t").collect()) == list(range(4))


def test_empty_table_reads_back_through_spark(spark, tmp_path):
    """A table written with no rows, as `clear()` leaves each table, has
    no part file and no partition dir; it reads back through Spark with
    the pointer's columns in the pointer's order, as Spark's reader
    gives them."""
    store = TableStore(spark, str(tmp_path / "s"))
    empty = spark.createDataFrame(
        [], "file_path string, chunk_type string, mtime timestamp, dense array<float>"
    )
    store.write("t", empty, ["chunk_type"])
    df = store.read("t")
    assert df.count() == 0
    assert df.columns == ["file_path", "chunk_type", "mtime", "dense"]


def test_single_snapshot_pointer_backcompat(spark, tmp_path):
    import json

    store = TableStore(spark, str(tmp_path / "s"))
    store.write("t", spark.range(3).selectExpr("id"))
    # rewrite pointer in the round-1 single-snapshot format
    ptr = store._pointer("t")
    meta = json.load(open(ptr))
    legacy = {"snapshot": meta["snapshots"][0], "schema": meta["schema"]}
    json.dump(legacy, open(ptr, "w"))
    assert store.read("t").count() == 3
    store.append("t", spark.range(3, 5).selectExpr("id"))
    assert store.read("t").count() == 5


def test_spark_written_store_reads_back_unchanged(spark, tmp_path):
    """A table whose snapshots and tombstone Spark's parquet writer wrote
    (part files with `.crc` and `_SUCCESS` siblings, chunk_type hive
    dirs: the layout earlier versions of the store wrote) reads through
    `read_arrow` as Spark reads those files: the same columns, the
    partition column last, and the same rows after the tombstone."""
    import datetime
    import json
    from collections import Counter

    from pyspark.sql import functions as F

    tdir = tmp_path / "s" / "t"
    ddl = (
        "file_path string, point_id long, chunk_type string, dense array<float>,"
        " line_number int, mtime timestamp"
    )
    when = datetime.datetime(2026, 1, 2, 3, 4, 5, 678901)
    snap0 = spark.createDataFrame(
        [
            ("a.py", 1, "metadata", [0.5, 1.0], 3, when),
            ("b.py", 2, "relation", None, None, None),
            (None, 3, "metadata", [], 7, when),
        ],
        ddl,
    )
    snap1 = spark.createDataFrame([("a.py", 4, "implementation", [2.0], 1, when)], ddl)
    snap0.write.partitionBy("chunk_type").parquet(str(tdir / "snap-0"))
    snap1.write.partitionBy("chunk_type").parquet(str(tdir / "snap-1"))
    spark.createDataFrame([("a.py",)], "file_path string").write.parquet(str(tdir / "ts-1"))
    (tdir / "_current").write_text(json.dumps({
        "snapshots": ["snap-0", "snap-1"],
        "schema": snap0.schema.json(),
        "tombstones": [None, "ts-1"],
    }))
    names = {p.name for p in tdir.rglob("*")}
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)

    def spark_read(snap):
        return spark.read.schema(snap0.schema).parquet(str(tdir / snap))

    want = spark_read("snap-0").filter(
        F.col("file_path").isNull() | (F.col("file_path") != "a.py")
    ).unionByName(spark_read("snap-1"))
    got = TableStore(spark, str(tmp_path / "s")).read_arrow("t")
    assert got.column_names == want.columns
    assert got.column_names[-1] == "chunk_type"

    def multiset(rows):
        return Counter(repr(tuple(r)) for r in rows)

    assert multiset(spark.createDataFrame(got).collect()) == multiset(want.collect())
    assert got.num_rows == 3
