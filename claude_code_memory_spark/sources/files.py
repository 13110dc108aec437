"""Project file scan + changed-file detection, on the driver.

Reference semantics:
- S1 project scan: include globs, exclude patterns, max-file-size filter
  (indexer.py:820-878)
- S2 changed-file scan: SHA256 diff vs stored state, deletions via key
  set-difference (indexer.py:954-987; mtime pruning :898-952)

The scan is an explicit walk (the `binaryFile` source is unusable here —
Hadoop's hidden-file filter silently drops `__init__.py` and every
`_`-prefixed module) that reads and hashes each kept file in the same
pass; change detection compares those hashes with the stored
`file_state` table, which `file_state` rewrites from the same scan.
"""

from __future__ import annotations

import hashlib
import os

import pyarrow as pa

DEFAULT_EXCLUDES = (".git", "__pycache__", "node_modules", ".venv", "venv", ".claude")
LANGUAGE_BY_EXT = {
    "py": "py",
    "js": "js",
    "jsx": "js",
    "mjs": "js",
    "cjs": "js",
    "ts": "ts",
    "tsx": "ts",
    "md": "md",
    "json": "json",
    "yaml": "yaml",
    "yml": "yaml",
    "html": "html",
    "css": "css",
    "txt": "txt",
    "csv": "csv",
    "ini": "ini",
    "toml": "toml",
}


def scan_project(
    project_dir: str,
    *,
    include_glob: str = "*",
    excludes: tuple[str, ...] = DEFAULT_EXCLUDES,
    max_file_size: int = 1_048_576,
) -> list[dict]:
    """S1: scan a project tree into `source_files` rows (dicts with
    file_path, relative_path, content, size, mtime (epoch seconds),
    sha256, language).

    Dot-prefixed files and directories are excluded (they are genuinely
    hidden); underscore files (``__init__.py``, ``_internal.py``) are
    code and are kept. Exclude dirs prune during the walk (never
    descended); oversized and zero-byte files are dropped from the stat,
    before any byte is read. Content decodes as UTF-8 with replacement;
    the hash is over the raw bytes, so the hash and the parsed text come
    from one read."""
    import fnmatch

    root = project_dir.rstrip("/")
    rows: list[dict] = []
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [
            d for d in dirnames if d not in excludes and not d.startswith(".")
        ]
        for name in filenames:
            if name.startswith(".") or not fnmatch.fnmatch(name, include_glob):
                continue
            p = os.path.join(dirpath, name)
            try:
                st = os.stat(p)
            except OSError:
                continue
            if st.st_size == 0 or st.st_size > max_file_size:
                continue
            try:
                with open(p, "rb") as fh:
                    raw = fh.read()
            except OSError:
                raw = b""
            rel = os.path.relpath(p, root)
            rows.append({
                "file_path": p,
                "relative_path": rel,
                "content": raw.decode("utf-8", errors="replace"),
                "size": st.st_size,
                "mtime": st.st_mtime,
                "sha256": hashlib.sha256(raw).hexdigest(),
                "language": LANGUAGE_BY_EXT.get(rel.rsplit(".", 1)[-1].lower()),
            })
    return rows


def diff_files(
    files: list[dict], state: pa.Table | None
) -> tuple[list[dict], list[str]]:
    """S2/U1: (added_or_changed rows, deleted relative paths) vs the
    stored file_state table. A path is changed when it is new or its
    hash differs; with no prior state everything is new (full-index
    mode, indexer.py:374-393)."""
    if state is None:
        return files, []
    old = dict(zip(state["relative_path"].to_pylist(), state["sha256"].to_pylist()))
    return (
        [f for f in files if old.get(f["relative_path"]) != f["sha256"]],
        sorted(set(old) - {f["relative_path"] for f in files}),
    )


def file_state(files: list[dict]) -> pa.Table:
    """K4: the file_state table (relative_path, sha256, size, mtime) of
    the scanned rows. ``mtime`` is Spark's ``timestamp_seconds`` of the
    scanned epoch seconds: the double times 10^6, truncated toward zero
    to whole microseconds."""
    return pa.table({
        "relative_path": pa.array([f["relative_path"] for f in files], pa.string()),
        "sha256": pa.array([f["sha256"] for f in files], pa.string()),
        "size": pa.array([f["size"] for f in files], pa.int64()),
        "mtime": pa.array(
            [int(f["mtime"] * 1_000_000) for f in files], pa.timestamp("us", tz="UTC")
        ),
    })
