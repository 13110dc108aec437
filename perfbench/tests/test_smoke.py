"""Small-input smoke runs against the engine: every workload end to end,
one traced run (which covers the layers of both), and the edit script
applied incrementally with a from-scratch rebuild of the final tree as the
reference (stale relation chunks left by the incremental path are a known
engine defect: the test reports them as an expected failure). Each test
starts its own Spark session; expect ten minutes or so in all."""

import json
import os
from collections import Counter

import pytest

import workloads
from corpus import Project, Size, write_tree
from harness import ROOT, pin_environment, start_spark, stop_spark

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


@pytest.fixture(scope="module")
def work(tmp_path_factory):
    w = str(tmp_path_factory.mktemp("perfbench"))
    pin_environment(w)
    return w


@pytest.mark.parametrize("name,trace", [(w, False) for w in workloads.WORKLOADS]
                         + [("catalog_headline", True)])
def test_workload_smoke(work, name, trace, monkeypatch):
    monkeypatch.setattr(workloads, "PROJECT_SIZE", Size.tiny)
    monkeypatch.setattr(workloads, "CATALOG_ROWS", 2000)
    res = workloads.run_session(name, 1, 1, trace, os.path.join(work, f"{name}-{trace}"),
                                os.path.join(work, f"spans-{name}.json"))
    assert res["outcome"].failed == 0, res["outcome"].errors
    assert res["outcome"].attempted >= len(workloads.MIX)
    measured = {**res["metrics"], **res["layers"]}
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"] for m in wanted} <= set(measured)
    assert all(measured[m["name"]] > 0 for m in wanted if m["unit"] != "ratio")
    if trace:
        with open(os.path.join(work, f"spans-{name}.json")) as fh:
            spans = json.load(fh)
        assert {"index.resolve", "search.dense_topk_ms", "catalog.dense_topk"} <= {
            s["name"] for s in spans}


KEYS = {
    "entities": ["entity_name", "entity_type", "file_path", "line_number", "end_line_number"],
    "relations": ["from_entity", "to_entity", "relation_type", "file_path", "import_type"],
    "chunks": ["point_id", "chunk_type", "file_path", "content_hash"],
}


def test_edit_script_against_engine(work):
    from claude_code_memory_spark.api import CodeMemoryEngine

    project = Project(2, Size.tiny())
    root = os.path.join(work, "edit-project")
    write_tree(root, project.files())
    spark = start_spark("perfbench-edit-smoke")
    try:
        eng = CodeMemoryEngine(spark, os.path.join(work, "edit-store"))
        eng.index(root)
        for step in project.edit_script():
            write_tree(root, step.writes)
            counters = eng.index(root)
            written = sum(text is not None for text in step.writes.values())
            assert counters["files_changed"] == written, step.kind
            for needle, path, entity in step.found:
                rows = eng.search(needle, mode="keyword", k=10,
                                  entity_types=["function"]).collect()
                assert any(r["file_path"] == path and r["entity_name"] == entity
                           for r in rows), (step.kind, needle)
            for needle, path, entity in step.gone:
                rows = eng.search(needle, mode="keyword", k=10,
                                  entity_types=["function"]).collect()
                assert all(r["file_path"] != path for r in rows), (step.kind, needle)
                impl = eng.get_implementation(entity).collect()
                assert all(r["file_path"] != path for r in impl), (step.kind, entity)
        ref = CodeMemoryEngine(spark, os.path.join(work, "edit-ref-store"))
        ref.index(root)
        stale = Counter()
        for table, cols in KEYS.items():
            got = Counter(tuple(r) for r in eng.store.read(table).select(*cols).collect())
            want = Counter(tuple(r) for r in ref.store.read(table).select(*cols).collect())
            if table == "chunks" and not want - got:
                stale = got - want
                got -= stale
            assert got == want, (table, (got - want).most_common(3), (want - got).most_common(3))
    finally:
        stop_spark(spark)
    assert all(chunk[1] == "relation" for chunk in stale), stale.most_common(3)
    if stale:
        pytest.xfail(f"the incremental store keeps {sum(stale.values())} stale relation "
                     f"chunks that a rebuild does not have, e.g. {next(iter(stale))}")
