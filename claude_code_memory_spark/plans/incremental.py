"""Incremental index maintenance: the deterministic multi-statement merge
choreography of the reference's batch pipeline (SURVEY.md §3.1 steps 5-9).

Reference flow per batch (indexer.py:1374-1459, unified_processor.py:26-166):
  1. parse changed files
  2. relation check before storage, in one pass: the endpoint, phantom-
     call and stale-import rules (J2/J3/J4, indexer.py:1132-1210) over
     the batch and the stored rows it can invalidate (J7 scope)
  3. content-hash dedup vs stored chunks — skip re-embedding (J6)
  4. delete replaced/deleted-file points, insert new points; stored
     relations the check removed are committed with the batch's
  5. file_state update (K4)

Storage is plain parquet "tables" under a collection directory, read and
written in process through pyarrow. A commit writes a new snapshot
directory (hive ``col=value`` partition dirs where asked, Spark's
layout), appends a line to the table's ``_log`` and swaps the
``_current`` pointer with ``os.replace``. Merge = read-current ∖ replaced
∪ new, as an O(batch) delta snapshot plus a tombstone sidecar that
readers apply (merge-on-read); the order of the steps stays explicit
because the dedup-vs-just-deleted hazard (processors.py:155-179) forbids
reordering. The pointer carries the table's schema as Spark
``StructType`` JSON, so `TableStore.read` hands the same rows to Spark
for ``sql()`` and the reports.
"""

from __future__ import annotations

import itertools
import json
import os
import re
import shutil
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema
from pyspark.sql.types import StructType

TABLES = ("entities", "relations", "bindings", "chunks", "vectors", "file_state")
_FILE_PATH = pa.schema([("file_path", pa.string())])
# the characters Spark escapes in a partition directory name
# (ExternalCatalogUtils.escapePathName), written as %XX
_ESCAPE = set('"#%\'*/:=?\\\x7f{[]^') | {chr(c) for c in range(1, 32)}


def as_arrow(rows) -> pa.Table:
    """``rows`` as a pa.Table; a Spark DataFrame goes through one
    ``toArrow()``."""
    return rows if isinstance(rows, pa.Table) else rows.toArrow()


def conform(rows: pa.Table, schema: pa.Schema) -> pa.Table:
    """``rows`` with ``schema``'s columns, order and types; a column the
    rows lack is all NULL."""
    return pa.table(
        [
            rows[f.name].cast(f.type)
            if f.name in rows.column_names
            else pa.nulls(rows.num_rows, f.type)
            for f in schema
        ],
        schema=schema,
    )


def _partition_dir(col: str, value) -> str:
    if value is None or value == "":
        return f"{col}=__HIVE_DEFAULT_PARTITION__"
    return col + "=" + "".join(f"%{ord(c):02X}" if c in _ESCAPE else c for c in str(value))


def _write_part(rows: pa.Table, path: str) -> None:
    # dictionary pages for strings only: the float vectors and unique ids
    # do not repeat, and a dictionary that overflows its page limit stays
    # in the file beside the plain pages (a third more bytes for vectors)
    pq.write_table(
        rows, path, use_dictionary=[f.name for f in rows.schema if pa.types.is_string(f.type)]
    )


def _write_dir(path: str, rows: pa.Table, partition_by: list[str] | None) -> None:
    """``rows`` as parquet under the new directory ``path``: one part
    file, or one per ``partition_by`` value combination in nested
    ``col=value`` dirs without the partition columns. A row-less table
    writes no part file, as Spark's writer does; readers take the
    schema from the pointer."""
    os.makedirs(path)
    if not rows.num_rows:
        return
    if not partition_by:
        _write_part(rows, os.path.join(path, "part-00000.parquet"))
        return
    data = rows.drop_columns(partition_by)
    keys = rows.select(partition_by).group_by(partition_by, use_threads=False).aggregate([])
    for combo in keys.to_pylist():
        mask = None
        for col, v in combo.items():
            m = pc.is_null(rows[col]) if v is None else pc.fill_null(pc.equal(rows[col], v), False)
            mask = m if mask is None else pc.and_(mask, m)
        sub = os.path.join(path, *[_partition_dir(c, v) for c, v in combo.items()])
        os.makedirs(sub, exist_ok=True)
        _write_part(data.filter(mask), os.path.join(sub, "part-00000.parquet"))


def _partition_cols(path: str) -> list[str]:
    """The hive partition columns of a snapshot dir, outermost first."""
    cols = []
    while True:
        sub = sorted(
            e.path for e in os.scandir(path)
            if e.is_dir() and "=" in e.name and not e.name.startswith(("_", "."))
        )
        if not sub:
            return cols
        cols.append(os.path.basename(sub[0]).split("=", 1)[0])
        path = sub[0]


def _read_dir(path: str, schema: pa.Schema) -> pa.Table:
    """One snapshot or tombstone dir as ``schema`` (a column a part file
    lacks reads as NULL). Hidden and ``_``-prefixed files, such as
    Spark's ``_SUCCESS`` and ``.crc`` files, are skipped."""
    cols = _partition_cols(path)
    part = (
        ds.partitioning(pa.schema([schema.field(c) for c in cols]), flavor="hive")
        if cols
        else None
    )
    return ds.dataset(path, schema=schema, format="parquet", partitioning=part).to_table()


class TableStore:
    """Snapshot-versioned parquet tables with an atomically-updated pointer.

    Write path: new snapshot dir per commit + `_current` pointer file
    rename — readers never observe a half-written table (the reference's
    tmp+rename atomic state write, indexer.py:1544-1718, generalized)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _pointer(self, table: str) -> str:
        return os.path.join(self.root, table, "_current")

    def exists(self, table: str) -> bool:
        return os.path.exists(self._pointer(table))

    def _manifest(self, table: str) -> dict | None:
        if not self.exists(table):
            return None
        with open(self._pointer(table)) as fh:
            meta = json.load(fh)
        if "snapshot" in meta:  # pre-append single-snapshot pointer format
            meta["snapshots"] = [meta.pop("snapshot")]
        return meta

    @staticmethod
    def _schema(meta: dict) -> pa.Schema:
        """The pointer's schema (Spark ``StructType`` JSON) as Arrow."""
        return to_arrow_schema(StructType.fromJson(json.loads(meta["schema"])))

    def read_arrow(self, table: str) -> pa.Table | None:
        """The current table: its snapshot dirs read with the pointer's
        schema and concatenated, partition columns last (where Spark's
        reader puts them). When a commit carried a tombstone, a row
        survives iff its snapshot ordinal is >= the latest tombstone
        ordinal of its file_path: the delta commit that tombstones a
        file also carries the file's replacement rows."""
        meta = self._manifest(table)
        if meta is None:
            return None
        tdir = os.path.join(self.root, table)
        snaps = meta["snapshots"]
        schema = self._schema(meta)
        first = _partition_cols(os.path.join(tdir, snaps[0]))
        schema = pa.schema(
            [f for f in schema if f.name not in first] + [schema.field(c) for c in first]
        )
        last: dict[str, int] = {}
        for i, ts in enumerate(meta.get("tombstones") or []):
            if ts:
                fps = _read_dir(os.path.join(tdir, ts), _FILE_PATH)["file_path"]
                last.update(dict.fromkeys(fps.to_pylist(), i))
        parts = []
        for i, snap in enumerate(snaps):
            part = _read_dir(os.path.join(tdir, snap), schema)
            dead = [fp for fp, o in last.items() if o > i and fp is not None]
            if dead:
                part = part.filter(
                    pc.invert(pc.is_in(part["file_path"], pa.array(dead, pa.string())))
                )
            parts.append(part)
        rows = pa.concat_tables(parts)
        # a row-less scan has zero-chunk columns, which createDataFrame
        # rejects; the schema's empty table has one empty chunk each
        return rows if rows.num_rows else rows.schema.empty_table()

    def read(self, table: str) -> DataFrame | None:
        """`read_arrow` as a Spark DataFrame, for sql() and the reports."""
        rows = self.read_arrow(table)
        return None if rows is None else self.spark.createDataFrame(rows)

    def _new_snapshot_dir(self, table: str, rows: pa.Table,
                          partition_by: list[str] | None) -> str:
        self._counter = getattr(self, "_counter", 0) + 1
        snap = f"snap-{int(time.time() * 1000)}-{os.getpid()}-{self._counter}"
        # e.g. chunks/vectors partitioned by chunk_type: the reference's
        # metadata-first progressive disclosure (README.md:209, 335-339)
        # becomes parquet partition pruning for Spark readers
        _write_dir(os.path.join(self.root, table, snap), rows, partition_by)
        return snap

    def _log_path(self, table: str) -> str:
        return os.path.join(self.root, table, "_log")

    def _commit(
        self,
        table: str,
        snapshots: list[str],
        schema_json: str,
        tombstones: list | None = None,
    ) -> None:
        tmp = self._pointer(table) + ".tmp"
        os.makedirs(os.path.dirname(tmp), exist_ok=True)
        meta = {"snapshots": snapshots, "schema": schema_json}
        if tombstones is not None and any(tombstones):
            meta["tombstones"] = tombstones
        with open(tmp, "w") as fh:
            json.dump(meta, fh)
        # append the version to the commit log BEFORE the pointer swap:
        # a crash between the two leaves a log entry whose snapshots are
        # fully written (the parquet write preceded _commit), while
        # _current still serves the previous commit — never a pointer to
        # missing data
        version = self._next_version(table)
        with open(self._log_path(table), "a") as fh:
            fh.write(json.dumps({"version": version, "ts": time.time(), **meta}) + "\n")
        os.replace(tmp, self._pointer(table))  # atomic pointer swap
        # No GC here: a reader that listed the previous pointer may still
        # be reading its snapshots. vacuum() runs between pipelines.

    def _next_version(self, table: str) -> int:
        """Next commit's version number, from the log's LAST line only —
        parsing the whole log (with its embedded schema strings) per
        commit would make commit cost grow with table history."""
        path = self._log_path(table)
        if not os.path.exists(path):
            return 0
        with open(path, "rb") as fh:
            fh.seek(0, os.SEEK_END)
            size = fh.tell()
            window = 65536
            while True:
                back = min(size, window)
                fh.seek(size - back)
                tail = fh.read().decode("utf-8", errors="ignore")
                lines = [ln for ln in tail.strip().splitlines() if ln.strip()]
                # the first window line may be a truncated record; a line
                # is complete if the window started at 0 or we have >= 2
                if back == size and lines:
                    break
                if len(lines) >= 2:
                    lines = lines[1:]
                    break
                if back == size:
                    return 0
                window *= 2
        return json.loads(lines[-1])["version"] + 1

    def history(self, table: str) -> list[dict]:
        """Commit log, oldest first: [{version, ts, snapshots, schema}].
        The Delta `DESCRIBE HISTORY` analogue for this store."""
        path = self._log_path(table)
        if not os.path.exists(path):
            return []
        out = []
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    out.append(json.loads(line))
        return out

    def write(self, table: str, rows, partition_by: list[str] | None = None) -> None:
        """Replace ``table`` with ``rows`` (a pa.Table or a DataFrame)."""
        rows = as_arrow(rows)
        snap = self._new_snapshot_dir(table, rows, partition_by)
        self._commit(table, [snap], from_arrow_schema(rows.schema).json())

    # Auto-compact when a table accumulates this many append snapshots:
    # the small-file problem is the append trade-off, and folding N dirs
    # into one periodically is exactly Delta/Iceberg OPTIMIZE. O(corpus)
    # once per MAX_SNAPSHOTS appends = amortized O(1) per append.
    MAX_SNAPSHOTS = 32

    def append(self, table: str, rows, partition_by: list[str] | None = None) -> None:
        """Append rows as an additional manifest snapshot — O(new rows) IO,
        prior snapshot dirs untouched (the Delta-append this store
        emulates; round 1 appended by rewriting the whole table)."""
        rows = as_arrow(rows)
        meta = self._manifest(table)
        if meta is None:
            self.write(table, rows, partition_by)
            return
        snap = self._new_snapshot_dir(table, rows, partition_by)
        snapshots = meta["snapshots"] + [snap]
        if len(snapshots) >= self.MAX_SNAPSHOTS:
            current = self.read_arrow(table)
            self.write(
                table, pa.concat_tables([current, conform(rows, current.schema)]), partition_by
            )
            return
        tombstones = (meta.get("tombstones") or [None] * (len(snapshots) - 1)) + [None]
        self._commit(table, snapshots, meta["schema"], tombstones)

    # merge_replace_by_file delta bound: a 1-file commit must not
    # rewrite a corpus-scale table (measured r12: the write stage of a
    # 1-file incremental on the 865-file corpus was ~21 s of pure
    # rewrite), but unbounded deltas grow read amplification — compact
    # every MAX_MERGE_SNAPSHOTS delta commits.
    MAX_MERGE_SNAPSHOTS = 8

    def merge_delta(
        self,
        table: str,
        new_rows,
        replaced_files,
        partition_by: list[str] | None = None,
        tombstone_src: "TombstoneSource | None" = None,
    ) -> None:
        """O(batch) MERGE commit: append the batch's rows as a delta
        snapshot plus a tombstone sidecar of the replaced/deleted
        file_paths. Readers apply last-writer-wins per file (see
        `read_arrow`); rows of replaced files in earlier snapshots are
        dead without being rewritten — Delta/Iceberg's merge-on-read.

        ``tombstone_src``: the merges of one batch tombstone the SAME
        replaced set; a shared TombstoneSource writes the parquet once
        and the other tables receive a file copy of the identical bytes."""
        meta = self._manifest(table)
        assert meta is not None, "merge_delta requires an existing table"
        snap = self._new_snapshot_dir(table, as_arrow(new_rows), partition_by)
        self._counter = getattr(self, "_counter", 0) + 1
        ts = f"ts-{int(time.time() * 1000)}-{os.getpid()}-{self._counter}"
        ts_path = os.path.join(self.root, table, ts)
        if tombstone_src is not None:
            shutil.copytree(tombstone_src.materialize(), ts_path)
        else:
            _write_dir(ts_path, as_arrow(replaced_files).select(["file_path"]), None)
        snapshots = meta["snapshots"] + [snap]
        tombstones = (meta.get("tombstones") or [None] * (len(snapshots) - 1)) + [ts]
        self._commit(table, snapshots, meta["schema"], tombstones)

    def optimize(self, table: str, partition_by: list[str] | None = None) -> None:
        """Compaction (Delta ``OPTIMIZE`` without ZORDER): fold the
        table's snapshots, appends and tombstoned deltas alike, into ONE
        new snapshot with the same rows (a new commit; the old snapshots
        stay until vacuum)."""
        rows = self.read_arrow(table)
        if rows is None:
            return
        self.write(table, rows, partition_by)

    def manifest_key(self, table: str) -> bytes | None:
        """Stable identifier of a table's current snapshot set, so derived
        state (the serving snapshot's parts) can cache-key on it and
        invalidate exactly when the base table changes: the raw bytes of
        its ``_current`` pointer, not parsed. Every commit (write, append,
        merge) points at a newly named ``snap-<ms>-<pid>-<n>`` dir, so the
        bytes change with it. Not ``os.stat``: an inode can be reused and
        mtimes are coarse."""
        try:
            with open(self._pointer(table), "rb") as fh:
                return fh.read()
        except FileNotFoundError:
            return None

    def vacuum(self) -> None:
        """Delete the snapshot and tombstone dirs no current pointer
        references. Call only between pipelines, when no reader still
        lists an older pointer. The log keeps every commit's entry."""
        for table in os.listdir(self.root):
            # shared-tombstone sources: sweep the stranded ones (crash
            # between write and cleanup), never one that an index() of
            # another engine on this store is still copying from
            if table.startswith("_tsrc-"):
                if TombstoneSource.stranded(table):
                    shutil.rmtree(os.path.join(self.root, table), ignore_errors=True)
                continue
            meta = self._manifest(table)
            if meta is None:
                continue
            keep = set(meta["snapshots"])
            keep.update(t for t in meta.get("tombstones") or [] if t)
            tdir = os.path.join(self.root, table)
            for d in os.listdir(tdir):
                if d.startswith(("snap-", "ts-")) and d not in keep:
                    shutil.rmtree(os.path.join(tdir, d), ignore_errors=True)


class TombstoneSource:
    """One-per-batch tombstone parquet, written lazily on first delta
    commit and file-copied into every later table's ts dir (identical
    bytes, one write instead of one per table). The caller (api.index)
    owns the lifecycle: it holds the source in a ``with`` block around
    the batch's merges, and leaving the block cleans the dir up.

    The dir is named ``_tsrc-<ms>-<pid>-<n>``. `TableStore.vacuum` sweeps
    it only when `stranded`: its writer process is gone, or the writer is
    this process and no ``with`` block holds the source any more."""

    _seq = itertools.count()
    _in_flight: set[str] = set()  # dir names of this process's live sources

    def __init__(self, store: TableStore, replaced_files):
        self.store = store
        self.replaced = replaced_files
        self._dir: str | None = None
        self._held = False

    def __enter__(self) -> "TombstoneSource":
        self._held = True
        return self

    def __exit__(self, *exc) -> None:
        self._held = False
        self.cleanup()

    def materialize(self) -> str:
        if self._dir is None:
            name = f"_tsrc-{int(time.time() * 1000)}-{os.getpid()}-{next(self._seq)}"
            if self._held:
                self._in_flight.add(name)
            path = os.path.join(self.store.root, name)
            if isinstance(self.replaced, pa.Table):
                _write_dir(path, self.replaced.select(["file_path"]), None)
            else:  # a DataFrame is written by Spark's own writer
                self.replaced.select("file_path").write.mode("overwrite").parquet(path)
            self._dir = path
        return self._dir

    def cleanup(self) -> None:
        if self._dir is not None:
            shutil.rmtree(self._dir, ignore_errors=True)
            self._in_flight.discard(os.path.basename(self._dir))
            self._dir = None

    @classmethod
    def stranded(cls, name: str) -> bool:
        """Whether no writer can still be copying from source dir ``name``."""
        m = re.fullmatch(r"_tsrc-\d+-(\d+)(?:-\d+)?", name)
        if m is None:
            return True
        pid = int(m.group(1))
        if pid == os.getpid():
            return name not in cls._in_flight
        try:
            os.kill(pid, 0)  # signal 0: existence check only
        except ProcessLookupError:
            return True
        except PermissionError:
            return False  # alive, owned by another user
        return False


def merge_replace_by_file(
    store: TableStore,
    table: str,
    new_rows,
    replaced_files,
    partition_by: list[str] | None = None,
    tombstone_src: TombstoneSource | None = None,
) -> None:
    """MERGE emulation: drop all rows of replaced/deleted files, insert new.

    ``new_rows`` and ``replaced_files`` (one ``file_path`` column) are
    pa.Tables or DataFrames.

    Merge-on-READ: a commit appends an O(batch) delta snapshot +
    tombstone sidecar (`merge_delta`), so a 1-file change writes KBs,
    not the table. Every MAX_MERGE_SNAPSHOTS delta commits the table
    compacts back to one snapshot (bounded read amplification), and a
    batch whose schema adds columns also compacts (snapshot dirs must
    stay union-compatible): the current rows minus the replaced files,
    then the batch."""
    new_rows = as_arrow(new_rows)
    meta = store._manifest(table)
    if meta is None:
        store.write(table, new_rows, partition_by)
        return
    stored = store._schema(meta)
    if len(meta["snapshots"]) < store.MAX_MERGE_SNAPSHOTS and set(
        new_rows.column_names
    ) <= set(stored.names):
        # a narrower batch is aligned to the stored schema, so snapshot
        # dirs stay union-compatible
        store.merge_delta(
            table, conform(new_rows, stored), replaced_files, partition_by,
            tombstone_src=tombstone_src,
        )
        return
    current = store.read_arrow(table)
    gone = as_arrow(replaced_files)["file_path"].combine_chunks().drop_null()
    kept = current.filter(pc.invert(pc.is_in(current["file_path"], gone)))
    store.write(
        table, pa.concat_tables([kept, new_rows], promote_options="permissive"), partition_by
    )
