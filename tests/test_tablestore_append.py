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


def test_time_travel_read_version_and_history(spark, tmp_path):
    """Delta-style time travel: every commit is a log version; read_version
    reproduces the exact pre-append/pre-overwrite contents; vacuum
    truncates reachability but keeps the audit log."""
    from claude_code_memory_spark.plans.incremental import TableStore

    store = TableStore(spark, str(tmp_path / "tt"))
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    store.write("t", df1)
    store.append("t", spark.createDataFrame([(3, "c")], "id long, v string"))
    store.write("t", spark.createDataFrame([(9, "z")], "id long, v string"))

    hist = store.history("t")
    assert [e["version"] for e in hist] == [0, 1, 2]
    assert {r["id"] for r in store.read_version("t", 0).collect()} == {1, 2}
    assert {r["id"] for r in store.read_version("t", 1).collect()} == {1, 2, 3}
    assert {r["id"] for r in store.read_version("t", 2).collect()} == {9}
    assert {r["id"] for r in store.read("t").collect()} == {9}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="no version 7"):
        store.read_version("t", 7)
    store.vacuum()
    with _pytest.raises(ValueError, match="vacuumed"):
        store.read_version("t", 0)
    assert len(store.history("t")) == 3  # audit log survives vacuum
    assert {r["id"] for r in store.read_version("t", 2).collect()} == {9}


def test_vacuum_retention_window(spark, tmp_path):
    """vacuum(retain_versions=N) keeps the last N commits time-travelable."""
    from claude_code_memory_spark.plans.incremental import TableStore

    store = TableStore(spark, str(tmp_path / "rv"))
    for i in range(3):
        store.write("t", spark.createDataFrame([(i,)], "id long"))
    store.vacuum(retain_versions=2)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="vacuumed"):
        store.read_version("t", 0)
    assert store.read_version("t", 1).first()["id"] == 1
    assert store.read_version("t", 2).first()["id"] == 2


def test_diff_versions_cdc(spark, tmp_path):
    """CDC between commits: added / removed / changed classified by one
    null-safe full-outer join over time-travel reads."""
    from claude_code_memory_spark.plans.incremental import TableStore, diff_versions

    store = TableStore(spark, str(tmp_path / "cdc"))
    store.write("t", spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", None)],
        "id long, name string, score int"))
    store.write("t", spark.createDataFrame(
        [(1, "a", 10), (2, "B", 20), (4, "d", 40), (5, None, None)],
        "id long, name string, score int"))

    got = {r["id"]: r["change"]
           for r in diff_versions(store, "t", 0, 1, ["id"]).collect()}
    # id 1 unchanged (dropped); 2 changed; 3 removed; 4 and 5 added
    assert got == {2: "changed", 3: "removed", 4: "added", 5: "added"}
    row2 = {r["id"]: r for r in diff_versions(store, "t", 0, 1, ["id"]).collect()}[2]
    assert row2["old"]["name"] == "b" and row2["new"]["name"] == "B"


def test_delete_where_and_erasure(spark, tmp_path):
    """Predicate delete commits a new version; the erased rows stay
    time-travelable until vacuum (the Delta DELETE + VACUUM two-step)."""
    from claude_code_memory_spark.plans.incremental import TableStore, delete_where

    store = TableStore(spark, str(tmp_path / "gdpr"))
    store.write("t", spark.createDataFrame(
        [(1, "keep"), (2, "erase"), (3, "keep"), (4, "erase")],
        "id long, status string"))
    n = delete_where(store, "t", "status = 'erase'")
    assert n == 2
    assert {r["id"] for r in store.read("t").collect()} == {1, 3}
    # pre-delete version still reachable (audit window) ...
    assert store.read_version("t", 0).count() == 4
    # ... until vacuum completes the erasure
    store.vacuum()
    import pytest as _pytest

    with _pytest.raises(ValueError, match="vacuumed"):
        store.read_version("t", 0)
    assert {r["id"] for r in store.read("t").collect()} == {1, 3}
