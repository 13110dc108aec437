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

Storage is plain parquet "tables" under a collection directory. Merge =
read-current ∖ replaced ∪ new, written to a new snapshot directory and
atomically repointed (the parquet stand-in for Delta's MERGE — on a real
cluster swap TableStore for Delta/Iceberg and each step below becomes a
single MERGE INTO / DELETE statement; ordering stays explicit because the
dedup-vs-just-deleted hazard (processors.py:155-179) forbids reordering).
"""

from __future__ import annotations

import itertools
import json
import os
import re
import shutil
import time

from pyspark.sql import DataFrame, SparkSession

TABLES = ("entities", "relations", "bindings", "chunks", "vectors", "file_state")


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

    def _reader_for(self, meta):
        reader = self.spark.read
        if "schema" in meta:
            # an empty table writes no parquet part files (Spark skips
            # file creation for row-less tasks), so schema inference has
            # nothing to read — the pointer carries the schema instead
            from pyspark.sql.types import StructType

            reader = reader.schema(StructType.fromJson(json.loads(meta["schema"])))
        return reader

    def _assemble(self, table: str, meta: dict) -> DataFrame:
        """Manifest → DataFrame: lazily-unioned snapshot dirs, with the
        delta-merge survivor rule applied when any commit carried a
        tombstone (r12). A tombstoned file_path kills rows in EARLIER
        snapshots only — the delta commit that tombstones a file also
        carries its replacement rows, which must survive — so each row
        joins the latest tombstone ordinal for its file and survives iff
        its own snapshot ordinal is >= that (or no tombstone exists)."""
        from pyspark.sql import functions as F

        reader = self._reader_for(meta)
        snaps = meta["snapshots"]
        tss = meta.get("tombstones") or [None] * len(snaps)
        parts = [
            reader.parquet(os.path.join(self.root, table, s)) for s in snaps
        ]
        if not any(tss):
            # fast path (all plain commits): one union, no join —
            # partition pruning still applies inside each snapshot dir
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p)
            return df
        from pyspark.sql.types import StringType, StructField, StructType

        parts = [p.withColumn("__snap_ord", F.lit(i)) for i, p in enumerate(parts)]
        rows = parts[0]
        for p in parts[1:]:
            rows = rows.unionByName(p)
        ts_schema = StructType([StructField("file_path", StringType())])
        ts_parts = [
            self.spark.read.schema(ts_schema)
            .parquet(os.path.join(self.root, table, t))
            .withColumn("__ts_ord", F.lit(i))
            for i, t in enumerate(tss)
            if t
        ]
        ts = ts_parts[0]
        for p in ts_parts[1:]:
            ts = ts.unionByName(p)
        last = ts.groupBy(F.col("file_path").alias("__ts_fp")).agg(
            F.max("__ts_ord").alias("__ts_ord")
        )
        # tombstone maps are rows-∝-touched-files — broadcast hash join,
        # never a shuffle of the fact side
        return (
            rows.join(
                F.broadcast(last), rows["file_path"] == F.col("__ts_fp"), "left"
            )
            .filter(
                F.col("__ts_ord").isNull()
                | (F.col("__snap_ord") >= F.col("__ts_ord"))
            )
            .drop("__snap_ord", "__ts_fp", "__ts_ord")
        )

    def read(self, table: str) -> DataFrame | None:
        meta = self._manifest(table)
        if meta is None:
            return None
        return self._assemble(table, meta)

    def _new_snapshot_dir(self, table: str, df: DataFrame,
                          partition_by: list[str] | None) -> str:
        self._counter = getattr(self, "_counter", 0) + 1
        snap = f"snap-{int(time.time() * 1000)}-{os.getpid()}-{self._counter}"
        writer = df.write.mode("overwrite")
        if partition_by:
            # e.g. chunks/vectors partitioned by chunk_type: the reference's
            # metadata-first progressive disclosure (README.md:209, 335-339)
            # becomes parquet partition pruning — a chunk_type-filtered
            # search never lists the implementation partitions
            writer = writer.partitionBy(*partition_by)
        writer.parquet(os.path.join(self.root, table, snap))
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
        # fully written (the parquet write preceded _commit), readable by
        # read_version, while _current still serves the previous commit —
        # never a pointer to missing data
        version = self._next_version(table)
        with open(self._log_path(table), "a") as fh:
            fh.write(json.dumps({"version": version, "ts": time.time(), **meta}) + "\n")
        os.replace(tmp, self._pointer(table))  # atomic pointer swap
        # No GC here: lazy DataFrames captured earlier in the pipeline may
        # still reference older snapshots (Delta's time-travel + deferred
        # VACUUM solves the same hazard). vacuum() runs between pipelines.

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

    def read_version(self, table: str, version: int) -> DataFrame:
        """Time-travel read: the table as of commit ``version`` (0-based,
        see `history`). Raises if the version never existed or its
        snapshots were reclaimed by `vacuum` — the same contract as Delta
        time-travel past the retention window."""
        entries = self.history(table)
        matches = [e for e in entries if e["version"] == version]
        if not matches:
            raise ValueError(
                f"table {table!r} has no version {version} "
                f"(log has {len(entries)} commits)"
            )
        meta = matches[-1]
        missing = [
            s
            for s in meta["snapshots"] + [t for t in meta.get("tombstones") or [] if t]
            if not os.path.isdir(os.path.join(self.root, table, s))
        ]
        if missing:
            raise ValueError(
                f"version {version} of {table!r} was vacuumed "
                f"(missing snapshots: {missing})"
            )
        return self._assemble(table, meta)

    def write(self, table: str, df: DataFrame, partition_by: list[str] | None = None) -> None:
        snap = self._new_snapshot_dir(table, df, partition_by)
        self._commit(table, [snap], df.schema.json())

    # Auto-compact when a table accumulates this many append snapshots:
    # the small-file problem is the append trade-off, and folding N dirs
    # into one periodically is exactly Delta/Iceberg OPTIMIZE. O(corpus)
    # once per MAX_SNAPSHOTS appends = amortized O(1) per append.
    MAX_SNAPSHOTS = 32

    def append(self, table: str, df: DataFrame, partition_by: list[str] | None = None) -> None:
        """Append rows as an additional manifest snapshot — O(new rows) IO,
        prior snapshot dirs untouched (the Delta-append this store
        emulates; round 1 appended by rewriting the whole table)."""
        meta = self._manifest(table)
        if meta is None:
            self.write(table, df, partition_by)
            return
        snap = self._new_snapshot_dir(table, df, partition_by)
        snapshots = meta["snapshots"] + [snap]
        if len(snapshots) >= self.MAX_SNAPSHOTS:
            merged = self.read(table).unionByName(
                self.spark.read.schema(df.schema).parquet(
                    os.path.join(self.root, table, snap)
                )
            )
            self.write(table, merged, partition_by)
            return
        tombstones = (meta.get("tombstones") or [None] * (len(snapshots) - 1)) + [None]
        self._commit(
            table, snapshots, meta.get("schema", df.schema.json()), tombstones
        )

    # merge_replace_by_file delta bound: a 1-file commit must not
    # rewrite a corpus-scale table (measured r12: the write stage of a
    # 1-file incremental on the 865-file corpus was ~21 s of pure
    # rewrite), but unbounded deltas grow read amplification — compact
    # every MAX_MERGE_SNAPSHOTS delta commits (the postings serving
    # index measured 1.52x read-amp at 8 deltas; same bound).
    MAX_MERGE_SNAPSHOTS = 8

    def merge_delta(
        self,
        table: str,
        new_rows: DataFrame,
        replaced_files: DataFrame,
        partition_by: list[str] | None = None,
        tombstone_src: "TombstoneSource | None" = None,
    ) -> None:
        """O(batch) MERGE commit: append the batch's rows as a delta
        snapshot plus a tombstone sidecar of the replaced/deleted
        file_paths. Readers apply last-writer-wins per file (see
        _assemble); rows of replaced files in earlier snapshots are
        dead without being rewritten — Delta/Iceberg's merge-on-read.

        ``tombstone_src`` (r13): the 7 per-batch merges all tombstone the
        SAME replaced set, so writing it as 7 separate Spark jobs was 6
        redundant job round-trips + lineage replays per incremental
        batch. A shared TombstoneSource writes the parquet once and the
        other tables receive a driver-side file copy of the identical
        bytes."""
        meta = self._manifest(table)
        assert meta is not None, "merge_delta requires an existing table"
        snap = self._new_snapshot_dir(table, new_rows, partition_by)
        self._counter = getattr(self, "_counter", 0) + 1
        ts = f"ts-{int(time.time() * 1000)}-{os.getpid()}-{self._counter}"
        ts_path = os.path.join(self.root, table, ts)
        if tombstone_src is not None:
            shutil.copytree(tombstone_src.materialize(), ts_path)
        else:
            replaced_files.select("file_path").write.mode("overwrite").parquet(
                ts_path
            )
        snapshots = meta["snapshots"] + [snap]
        tombstones = (meta.get("tombstones") or [None] * (len(snapshots) - 1)) + [ts]
        self._commit(table, snapshots, meta.get("schema", new_rows.schema.json()), tombstones)

    def optimize(self, table: str, partition_by: list[str] | None = None) -> None:
        """Compaction (Delta ``OPTIMIZE`` without ZORDER): fold the
        table's snapshots, appends and tombstoned deltas alike, into ONE
        new snapshot with the same rows. Time travel to prior versions
        is preserved (new commit, old snapshots untouched until
        vacuum)."""
        df = self.read(table)
        if df is None:
            return
        self.write(table, df, partition_by)

    def manifest_key(self, table: str) -> tuple | None:
        """Stable identifier of a table's current snapshot set — changes on
        every write/append, so derived artifacts (e.g. the materialized
        BM25 postings index) can cache-key on it and invalidate exactly
        when the base table changes. One (snapshot, tombstone) pair per
        snapshot; the tombstone is None unless that snapshot's commit
        was a `merge_delta`."""
        meta = self._manifest(table)
        if meta is None:
            return None
        snaps = meta["snapshots"]
        return tuple(zip(snaps, meta.get("tombstones") or [None] * len(snaps)))

    @staticmethod
    def appended_snapshots(key: tuple, covered: tuple) -> list[str] | None:
        """Snapshot dirs committed between two `manifest_key`s when every
        commit in between was a pure append: ``covered`` is a prefix of
        ``key`` and no new snapshot carries a tombstone (a tombstone
        deletes rows of earlier snapshots). None when ``key`` is not such
        an extension — the caller must rebuild from the whole table."""
        new = key[len(covered):]
        if not new or key[: len(covered)] != covered or any(ts for _, ts in new):
            return None
        return [snap for snap, _ in new]

    def vacuum(self, retain_versions: int = 1) -> None:
        """Delete snapshots unreachable from the last ``retain_versions``
        commits (default 1: current only). Call only between pipelines,
        when no live DataFrame references older snapshots. This truncates
        time-travel past the retention window: `read_version` on a
        vacuumed commit raises, while its log entry remains as an audit
        record — Delta's VACUUM + logRetention split."""
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
            if retain_versions > 1:
                for entry in self.history(table)[-retain_versions:]:
                    keep.update(entry["snapshots"])
                    keep.update(t for t in entry.get("tombstones") or [] if t)
            tdir = os.path.join(self.root, table)
            for d in os.listdir(tdir):
                if d.startswith(("snap-", "ts-")) and d not in keep:
                    shutil.rmtree(os.path.join(tdir, d), ignore_errors=True)


class TombstoneSource:
    """One-per-batch tombstone parquet, written lazily on first delta
    commit and file-copied into every later table's ts dir (identical
    bytes, one Spark job instead of seven). The caller (api.index) owns
    the lifecycle: it holds the source in a ``with`` block around the
    batch's merges, and leaving the block cleans the dir up.

    The dir is named ``_tsrc-<ms>-<pid>-<n>``. `TableStore.vacuum` sweeps
    it only when `stranded`: its writer process is gone, or the writer is
    this process and no ``with`` block holds the source any more."""

    _seq = itertools.count()
    _in_flight: set[str] = set()  # dir names of this process's live sources

    def __init__(self, store: TableStore, replaced_files: DataFrame):
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
    new_rows: DataFrame,
    replaced_files: DataFrame,
    partition_by: list[str] | None = None,
    tombstone_src: TombstoneSource | None = None,
) -> None:
    """MERGE emulation: drop all rows of replaced/deleted files, insert new.

    `replaced_files` is a 1-column DF (file_path).

    Since r12 this is merge-on-READ: an incremental commit appends an
    O(batch) delta snapshot + tombstone sidecar (`merge_delta`), so a
    1-file change on a 100 TB corpus writes KBs, not the corpus. Every
    MAX_MERGE_SNAPSHOTS delta commits the table compacts back to one
    snapshot (bounded read amplification), and a batch whose schema
    adds columns also compacts (snapshot dirs must stay
    union-compatible). The compaction path keeps the original
    anti-join-then-union shape; the delete set is computed from the
    *current* snapshot before the write starts."""
    current = store.read(table)
    if current is None:
        store.write(table, new_rows, partition_by)
        return
    meta = store._manifest(table)
    import json as _json

    from pyspark.sql.types import StructType

    stored_cols = set(
        StructType.fromJson(_json.loads(meta["schema"])).fieldNames()
        if "schema" in meta
        else current.columns
    )
    if len(meta["snapshots"]) < store.MAX_MERGE_SNAPSHOTS and set(
        new_rows.columns
    ) <= stored_cols:
        from pyspark.sql import functions as F

        if set(new_rows.columns) < stored_cols:
            # align to the stored schema so snapshot dirs stay
            # union-compatible (the full rewrite used allowMissingColumns)
            stored_schema = StructType.fromJson(_json.loads(meta["schema"]))
            missing = [f for f in stored_schema.fields if f.name not in new_rows.columns]
            for f in missing:
                new_rows = new_rows.withColumn(f.name, F.lit(None).cast(f.dataType))
            new_rows = new_rows.select(*stored_schema.fieldNames())
        store.merge_delta(
            table, new_rows, replaced_files, partition_by,
            tombstone_src=tombstone_src,
        )
        return
    from pyspark.sql import functions as F

    kept = current.join(
        F.broadcast(replaced_files.select(F.col("file_path").alias("__rf"))),
        current["file_path"] == F.col("__rf"),
        "left_anti",
    )
    store.write(
        table, kept.unionByName(new_rows, allowMissingColumns=True), partition_by
    )


def diff_versions(
    store: TableStore,
    table: str,
    v_old: int,
    v_new: int,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Change-data-capture between two commits of a TableStore table:
    one full-outer join on the key, classifying each row as added /
    removed / changed (unchanged rows are dropped).

    The generalization of `merge_replace_by_file`'s replacement diff
    (reference: indexer change detection) to ARBITRARY versions via the
    time-travel log — "what changed between yesterday's index and
    today's" as one join, at any scale the join keys shuffle to.
    ``compare_cols`` defaults to every non-key column; comparison is
    null-safe."""
    from pyspark.sql import functions as F

    old = store.read_version(table, v_old)
    new = store.read_version(table, v_new)
    cols = compare_cols or [c for c in new.columns if c not in key_cols]
    o = old.select(
        *[F.col(k).alias(f"__k_{k}") for k in key_cols],
        F.struct(*cols).alias("__old"),
    )
    n = new.select(
        *[F.col(k).alias(f"__k_{k}") for k in key_cols],
        F.struct(*cols).alias("__new"),
    )
    joined = o.join(n, [f"__k_{k}" for k in key_cols], "full_outer")
    status = (
        F.when(F.col("__old").isNull(), F.lit("added"))
        .when(F.col("__new").isNull(), F.lit("removed"))
        .when(~F.col("__old").eqNullSafe(F.col("__new")), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        joined.withColumn("change", status)
        .filter(F.col("change") != "unchanged")
        .select(
            *[F.col(f"__k_{k}").alias(k) for k in key_cols],
            "change",
            F.col("__old").alias("old"),
            F.col("__new").alias("new"),
        )
    )


def delete_where(store: TableStore, table: str, condition) -> int:
    """Predicate delete (the right-to-be-forgotten primitive): commit a
    new version of ``table`` without the matching rows; returns the
    number of rows removed.

    The rewrite costs O(table) — at scale, partition the table so the
    predicate prunes the rewrite to affected partitions (Delta's DELETE
    does the same under the hood). Time travel intentionally keeps the
    deleted rows reachable in PRIOR versions until `vacuum()` runs —
    a compliant erasure is delete_where + vacuum, mirroring Delta's
    DELETE + VACUUM two-step."""
    from pyspark.sql import functions as F

    df = store.read(table)
    if df is None:
        raise ValueError(f"no such table: {table!r}")
    cond = F.expr(condition) if isinstance(condition, str) else condition
    n_removed = df.filter(cond).count()
    store.write(table, df.filter(~cond))
    return n_removed
