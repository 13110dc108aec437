"""Merge-on-read delta commits (r12): merge_replace_by_file appends an
O(batch) delta snapshot + tombstone sidecar instead of rewriting the
table, readers apply last-writer-wins per file, read amplification is
bounded by compaction, and time travel / vacuum / pruned reads respect
tombstones. The scale contract under test: a 1-file commit on a 100 TB
corpus writes KBs, not the corpus."""

from __future__ import annotations

import pytest

from claude_code_memory_spark.plans.incremental import (
    TableStore,
    merge_replace_by_file,
)


def _rows(spark, pairs):
    return spark.createDataFrame(pairs, "file_path string, val int")


def _files(spark, names):
    return spark.createDataFrame([(n,) for n in names], "file_path string")


@pytest.fixture()
def store(spark, tmp_path):
    return TableStore(spark, str(tmp_path / "store"))


def _as_set(df):
    return {tuple(r) for r in df.collect()}


def test_merge_is_delta_commit_not_rewrite(spark, store):
    merge_replace_by_file(store, "t", _rows(spark, [("a", 1), ("b", 2)]), _files(spark, []))
    merge_replace_by_file(store, "t", _rows(spark, [("a", 10)]), _files(spark, ["a"]))
    meta = store._manifest("t")
    assert len(meta["snapshots"]) == 2, "second merge must append, not rewrite"
    assert meta["tombstones"][0] is None and meta["tombstones"][1]
    assert _as_set(store.read("t")) == {("a", 10), ("b", 2)}


def test_deletion_tombstone_without_new_rows(spark, store):
    merge_replace_by_file(store, "t", _rows(spark, [("a", 1), ("b", 2)]), _files(spark, []))
    merge_replace_by_file(store, "t", _rows(spark, []).limit(0), _files(spark, ["b"]))
    assert _as_set(store.read("t")) == {("a", 1)}


def test_same_file_replaced_twice_latest_wins(spark, store):
    merge_replace_by_file(store, "t", _rows(spark, [("a", 1)]), _files(spark, []))
    merge_replace_by_file(store, "t", _rows(spark, [("a", 2)]), _files(spark, ["a"]))
    merge_replace_by_file(store, "t", _rows(spark, [("a", 3)]), _files(spark, ["a"]))
    assert _as_set(store.read("t")) == {("a", 3)}


def test_compaction_bounds_read_amplification(spark, store):
    merge_replace_by_file(store, "t", _rows(spark, [("base", 0)]), _files(spark, []))
    for i in range(1, TableStore.MAX_MERGE_SNAPSHOTS + 2):
        merge_replace_by_file(
            store, "t", _rows(spark, [(f"f{i}", i)]), _files(spark, [f"f{i - 1}"])
        )
    meta = store._manifest("t")
    assert len(meta["snapshots"]) <= TableStore.MAX_MERGE_SNAPSHOTS
    # after the compaction commit the manifest must be tombstone-free
    n = TableStore.MAX_MERGE_SNAPSHOTS + 1
    expected = {("base", 0), (f"f{n}", n)}
    assert _as_set(store.read("t")) == expected


def test_vacuum_retains_tombstones_of_current(spark, store, tmp_path):
    merge_replace_by_file(store, "t", _rows(spark, [("a", 1)]), _files(spark, []))
    merge_replace_by_file(store, "t", _rows(spark, [("a", 2)]), _files(spark, ["a"]))
    store.vacuum()
    assert _as_set(store.read("t")) == {("a", 2)}


def test_schema_widening_batch_compacts(spark, store):
    merge_replace_by_file(store, "t", _rows(spark, [("a", 1)]), _files(spark, []))
    wide = spark.createDataFrame(
        [("b", 2, "x")], "file_path string, val int, extra string"
    )
    merge_replace_by_file(store, "t", wide, _files(spark, []))
    meta = store._manifest("t")
    assert len(meta["snapshots"]) == 1, "schema widening must force a compacting rewrite"
    got = _as_set(store.read("t"))
    assert got == {("a", 1, None), ("b", 2, "x")}


def test_narrow_batch_aligns_to_stored_schema(spark, store):
    merge_replace_by_file(
        store,
        "t",
        spark.createDataFrame([("a", 1, "x")], "file_path string, val int, extra string"),
        _files(spark, []),
    )
    merge_replace_by_file(store, "t", _rows(spark, [("b", 2)]), _files(spark, []))
    assert _as_set(store.read("t")) == {("a", 1, "x"), ("b", 2, None)}


def test_manifest_key_changes_per_delta_commit(spark, store):
    merge_replace_by_file(store, "t", _rows(spark, [("a", 1)]), _files(spark, []))
    k0 = store.manifest_key("t")
    merge_replace_by_file(store, "t", _rows(spark, [("a", 2)]), _files(spark, ["a"]))
    assert store.manifest_key("t") != k0


def test_shared_tombstone_source_copies_identical_bytes(spark, store, tmp_path):
    """r13: multiple tables merging the same replaced set through one
    TombstoneSource read back exactly as per-table tombstone writes, the
    source writes its parquet ONCE, and cleanup leaves no _tsrc dir."""
    import os

    from claude_code_memory_spark.plans.incremental import TombstoneSource

    for t in ("t1", "t2", "t3"):
        merge_replace_by_file(
            store, t, _rows(spark, [("a", 1), ("b", 2)]), _files(spark, [])
        )
    tsrc = TombstoneSource(store, _files(spark, ["a"]))
    for t in ("t1", "t2", "t3"):
        merge_replace_by_file(
            store, t, _rows(spark, [("a", 10)]), _files(spark, ["a"]),
            tombstone_src=tsrc,
        )
    first = tsrc.materialize()
    assert tsrc.materialize() == first, "source must write once"
    tsrc.cleanup()
    assert not any(d.startswith("_tsrc-") for d in os.listdir(store.root))
    for t in ("t1", "t2", "t3"):
        assert _as_set(store.read(t)) == {("a", 10), ("b", 2)}
        meta = store._manifest(t)
        assert meta["tombstones"][1], "delta commit must carry a tombstone"


def test_vacuum_sweeps_stranded_tombstone_source(spark, store):
    import os

    from claude_code_memory_spark.plans.incremental import TombstoneSource

    merge_replace_by_file(store, "t", _rows(spark, [("a", 1)]), _files(spark, []))
    tsrc = TombstoneSource(store, _files(spark, ["a"]))
    tsrc.materialize()  # simulate a crash: no cleanup()
    assert any(d.startswith("_tsrc-") for d in os.listdir(store.root))
    store.vacuum()
    assert not any(d.startswith("_tsrc-") for d in os.listdir(store.root))
