"""`TableStore.vacuum` and shared tombstone sources (Spark-free): a
``_tsrc-<ms>-<pid>-<n>`` dir is swept only when no writer can still be
copying from it."""

from __future__ import annotations

import os
import subprocess
import sys

from claude_code_memory_spark.plans.incremental import TableStore, TombstoneSource


def _tsrc(root: str, pid: int) -> str:
    name = f"_tsrc-1700000000000-{pid}-0"
    os.makedirs(os.path.join(root, name))
    return name


def test_vacuum_keeps_live_writers_tombstone_source(tmp_path):
    store = TableStore(None, str(tmp_path))
    writer = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(60)"])
    try:
        live = _tsrc(store.root, writer.pid)
        store.vacuum()
        assert live in os.listdir(store.root)  # another engine's index() in flight
    finally:
        writer.kill()
        writer.wait()
    store.vacuum()
    assert live not in os.listdir(store.root)  # its writer is gone: stranded


def test_vacuum_keeps_in_process_source_while_held(tmp_path):
    store = TableStore(None, str(tmp_path))

    class Replaced:  # materialize() writes the replaced set; stand in for Spark
        def select(self, _col):
            return self

        @property
        def write(self):
            return self

        def mode(self, _m):
            return self

        def parquet(self, path):
            os.makedirs(path)

    with TombstoneSource(store, Replaced()) as tsrc:
        name = os.path.basename(tsrc.materialize())
        store.vacuum()
        assert name in os.listdir(store.root)
    assert name not in os.listdir(store.root)  # leaving the block cleans up
    orphan = _tsrc(store.root, os.getpid())  # this process, no block holds it
    store.vacuum()
    assert orphan not in os.listdir(store.root)
