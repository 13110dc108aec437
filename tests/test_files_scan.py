"""Project scanner (sources/files.py::scan_project) — the explicit-walk
listing that replaced the binaryFile source. Pins the behaviors the
swap exists for: underscore files ARE indexed (Hadoop's hidden-file
filter dropped __init__.py silently), dot files/dirs are NOT, exclude
dirs prune, size limits hold, and the schema/hash contract is stable.
"""

from __future__ import annotations

from claude_code_memory_spark.sources.files import scan_project


def _paths(proj):
    return {
        r["relative_path"] for r in scan_project(str(proj))
    }


def test_underscore_files_are_indexed(tmp_path):
    proj = tmp_path / "p"
    (proj / "pkg").mkdir(parents=True)
    (proj / "pkg" / "__init__.py").write_text("x = 1\n")
    (proj / "pkg" / "_internal.py").write_text("y = 2\n")
    (proj / "__main__.py").write_text("z = 3\n")
    got = _paths(proj)
    assert got == {"pkg/__init__.py", "pkg/_internal.py", "__main__.py"}


def test_hidden_and_excluded_stay_out(tmp_path):
    proj = tmp_path / "p"
    (proj / ".git").mkdir(parents=True)
    (proj / ".git" / "config").write_text("no\n")
    (proj / "node_modules" / "dep").mkdir(parents=True)
    (proj / "node_modules" / "dep" / "index.js").write_text("no\n")
    (proj / ".hidden.py").write_text("no\n")
    (proj / "ok.py").write_text("yes\n")
    assert _paths(proj) == {"ok.py"}


def test_size_and_empty_filters(tmp_path):
    proj = tmp_path / "p"
    proj.mkdir()
    (proj / "empty.py").write_text("")
    (proj / "big.py").write_text("x" * 2_000_000)
    (proj / "ok.py").write_text("a = 1\n")
    assert _paths(proj) == {"ok.py"}


def test_schema_hash_and_language(tmp_path):
    import hashlib

    proj = tmp_path / "p"
    proj.mkdir()
    content = "def f():\n    pass\n"
    (proj / "m.py").write_text(content)
    rows = scan_project(str(proj))
    assert len(rows) == 1
    r = rows[0]
    assert r["language"] == "py"
    assert r["content"] == content
    assert r["size"] == len(content)
    assert r["sha256"] == hashlib.sha256(content.encode()).hexdigest()
    assert r["mtime"] is not None


def test_non_utf8_decodes_lossily(tmp_path):
    proj = tmp_path / "p"
    proj.mkdir()
    (proj / "weird.txt").write_bytes(b"ok \xff\xfe bytes\n")
    rows = scan_project(str(proj))
    assert len(rows) == 1 and "ok" in rows[0]["content"]


def test_file_state_mtime_reads_back_as_spark_timestamp_seconds(spark, tmp_path):
    """`file_state` writes mtime as Spark's ``timestamp_seconds`` of the
    scanned epoch seconds, to the microsecond, sub-microsecond fractions
    and negative times included, and Spark's parquet reader reads the
    stored column back as that timestamp."""
    import os

    from pyspark.sql import functions as F

    from claude_code_memory_spark.plans.incremental import TableStore
    from claude_code_memory_spark.sources.files import file_state

    proj = tmp_path / "p"
    proj.mkdir()
    (proj / "a.py").write_text("x = 1\n")
    os.utime(proj / "a.py", ns=(1_700_000_000_123_456_789, 1_700_000_000_123_456_789))
    scanned = scan_project(str(proj))
    extra = [1_700_000_000.9999999, 1.0000005, 0.0, -1.5000004, 1_761_000_000.1234567]
    files = scanned + [
        {"relative_path": f"f{i}.py", "sha256": "0" * 64, "size": 1, "mtime": m}
        for i, m in enumerate(extra)
    ]
    store = TableStore(spark, str(tmp_path / "s"))
    store.write("file_state", file_state(files))
    snap = store._manifest("file_state")["snapshots"][0]
    got = {
        r["relative_path"]: r["us"]
        for r in spark.read.parquet(str(tmp_path / "s" / "file_state" / snap))
        .select("relative_path", F.unix_micros("mtime").alias("us"))
        .collect()
    }
    want = {
        r["p"]: r["us"]
        for r in spark.createDataFrame(
            [(f["relative_path"], f["mtime"]) for f in files], "p string, m double"
        )
        .select("p", F.unix_micros(F.timestamp_seconds("m")).alias("us"))
        .collect()
    }
    assert got == want and len(got) == len(files)
