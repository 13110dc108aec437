"""End-to-end engine tests: index → search → incremental re-index →
deletion propagation (the reference's integration-test surface)."""

import os
import textwrap

import pytest
from pyspark.sql import functions as F

from claude_code_memory_spark.api import CodeMemoryEngine


def test_index_and_search(spark, temp_repo, tmp_path):
    eng = CodeMemoryEngine(spark, str(tmp_path / "store"))
    counters = eng.index(temp_repo)
    assert counters["files_changed"] == 3  # empty.py has no bytes to index
    assert counters["entities"] > 8
    assert counters["chunks"] > counters["entities"] / 2

    # semantic search is deterministic with the hash embedder
    r1 = eng.search("compute totals", mode="semantic", k=5).collect()
    r2 = eng.search("compute totals", mode="semantic", k=5).collect()
    assert [x["point_id"] for x in r1] == [x["point_id"] for x in r2]
    assert len(r1) == 5

    # keyword search surfaces the entity whose name matches the term
    kw = eng.search("helper", mode="keyword", k=5).collect()
    assert any(row["entity_name"] and "helper" in row["entity_name"] for row in kw)

    # hybrid returns rrf_score and respects k
    hy = eng.search("helper numbers", mode="hybrid", k=3).collect()
    assert len(hy) <= 3 and all(row["rrf_score"] > 0 for row in hy)

    # filters (F2): restrict to classes
    cls = eng.search("processor", mode="semantic", k=10, entity_types=["class"]).collect()
    assert all(row["chunk_type"] in ("metadata", "implementation", "relation") for row in cls)


def test_search_after_incremental_edit_matches_explode_path(spark, temp_repo, tmp_path):
    """A one-file edit re-index commits tombstoned delta snapshots to
    `vectors`. The serving snapshot loaded before it must not read a
    tombstone as a snapshot: unfiltered keyword and hybrid searches
    afterwards equal the explode/brute path over the merged table, and an
    ANN search still serves."""
    from claude_code_memory_spark.embeddings import bm25 as bm25_mod
    from claude_code_memory_spark.embeddings.hash_embedder import embed_text
    from claude_code_memory_spark.operators.topk import (
        dense_topk,
        overfetch_limit,
        rrf_fuse,
        sparse_topk,
    )

    eng = CodeMemoryEngine(spark, str(tmp_path / "store"))
    eng.index(temp_repo)
    query, k = "helper compute numbers", 50
    eng.search(query, mode="keyword", k=k).collect()  # loads the snapshot
    eng.search(query, mode="semantic", k=k, ann=True).collect()
    with open(os.path.join(temp_repo, "main.py"), "a") as fh:
        fh.write("\n\ndef helper_again(numbers):\n    return helper(numbers, 2)\n")
    assert eng.index(temp_repo)["files_changed"] == 1

    def scored(df, score):
        return {(r["point_id"], round(r[score], 9)) for r in df.collect()}

    vectors = eng.store.read("vectors")
    terms = bm25_mod.query_terms(eng.bm25_model(), query)
    fetch = overfetch_limit(k)
    keyword = sparse_topk(vectors, terms, k, id_col="point_id")
    hybrid = rrf_fuse(
        dense_topk(vectors, embed_text(query, eng.dim), fetch, id_col="point_id", vec_col="dense"),
        sparse_topk(vectors, terms, fetch, id_col="point_id"),
        k,
        id_col="point_id",
    )
    got_kw = scored(eng.search(query, mode="keyword", k=k), "score")
    assert got_kw and got_kw == scored(keyword, "score")
    assert scored(eng.search(query, mode="hybrid", k=k), "rrf_score") == scored(
        hybrid, "rrf_score"
    )
    assert eng.search(query, mode="semantic", k=5, ann=True).count() == 5


@pytest.mark.slow
def test_incremental_noop_and_change(spark, temp_repo, tmp_path):
    eng = CodeMemoryEngine(spark, str(tmp_path / "store"))
    eng.index(temp_repo)

    # no-op re-index: nothing changed → everything dedup-skipped
    c2 = eng.index(temp_repo)
    assert c2["files_changed"] == 0

    # modify one file → only its chunks re-embed
    with open(os.path.join(temp_repo, "util.py"), "a") as fh:
        fh.write("\ndef extra():\n    return 42\n")
    c3 = eng.index(temp_repo)
    assert c3["files_changed"] == 1
    ents = eng.store.read("entities")
    assert ents.filter(F.col("entity_name") == "extra").count() == 1
    # regression: unchanged-content chunks in a changed file were dedup-
    # skipped for embedding, but their vector rows must survive the merge
    # (every chunk keeps exactly one vector row)
    assert c3["chunks_skipped_unchanged"] > 0
    n_chunks = eng.store.read("chunks").count()
    n_vectors = eng.store.read("vectors").count()
    assert n_vectors == n_chunks


def test_deletion_propagation(spark, temp_repo, tmp_path):
    eng = CodeMemoryEngine(spark, str(tmp_path / "store"))
    eng.index(temp_repo)
    assert eng.store.read("entities").filter(F.col("entity_name") == "Derived").count() == 1

    os.remove(os.path.join(temp_repo, "util.py"))
    eng.index(temp_repo)
    ents = eng.store.read("entities")
    assert ents.filter(F.col("entity_name") == "Derived").count() == 0
    # orphan cleanup removed relations touching deleted entities (J2)
    rels = eng.store.read("relations")
    assert rels.filter(F.col("to_entity") == "Base").count() == 0


@pytest.mark.slow
def test_graph_and_implementation(spark, temp_repo, tmp_path):
    eng = CodeMemoryEngine(spark, str(tmp_path / "store"))
    eng.index(temp_repo)

    g = eng.read_graph("compute").collect()
    assert any(r["to_entity"] == "helper" for r in g)

    # mode parity with the MCP surface (README.md:313-318)
    ents = eng.read_graph("compute", mode="entities").collect()
    assert "helper" in {r["entity_name"] for r in ents}
    fns_only = eng.read_graph("compute", mode="entities", entity_types=["function"]).collect()
    assert all(r["entity_type"] == "function" for r in fns_only)
    smart = eng.read_graph("compute", mode="smart").collect()
    assert any(r["relation_type"] == "calls" and "helper" in r["sample"] for r in smart)
    raw = eng.read_graph("compute", mode="raw").count()
    assert raw >= len(g)  # raw is the neighborhood superset
    import pytest as _pytest

    with _pytest.raises(ValueError):
        eng.read_graph("compute", mode="bogus")

    impl = eng.get_implementation("compute", scope="dependencies").collect()
    names = {r["entity_name"] for r in impl}
    assert "compute" in names and "helper" in names

    st = eng.stats().collect()
    assert sum(r["n"] for r in st) > 10


@pytest.mark.slow
def test_manual_memory_and_clear(spark, temp_repo, tmp_path):
    """K3: clear(preserve_manual=True) keeps manual memories (NULL
    file_path), drops all auto-indexed content and relation chunks
    (qdrant.py:1303-1401); preserve_manual=False wipes everything."""
    eng = CodeMemoryEngine(spark, str(tmp_path / "store"))
    eng.index(temp_repo)
    eng.add_memory("deploy_ritual", "always run smoke tests before deploying")
    # semantic search with the exact content scores cosine 1.0 (the
    # deterministic hash embedder) — must be the top hit. (Keyword terms
    # NOT in the fitted vocabulary stay unsearchable until the next refit:
    # documented staleness of the persisted-model design.)
    top = eng.search("always run smoke tests before deploying", mode="semantic", k=1).collect()
    assert top and top[0]["entity_name"] == "deploy_ritual"

    eng.clear(preserve_manual=True)
    chunks = eng.store.read("chunks")
    assert chunks.count() == 1
    assert chunks.collect()[0]["entity_name"] == "deploy_ritual"
    assert eng.store.read("vectors").count() == 1
    assert eng.store.read("entities").count() == 0
    # state cleared too: next index() is a full rebuild, not a false no-op
    assert eng.index(temp_repo)["files_changed"] > 0

    eng.clear(preserve_manual=False)
    assert eng.store.read("chunks").count() == 0


@pytest.mark.slow
def test_noop_reindex_rewrites_nothing(spark, temp_repo, tmp_path):
    """Early exit: an unchanged project must not produce new table
    snapshots (at scale the scheduled re-index is a listing join, not a
    rewrite)."""
    import glob

    store_dir = str(tmp_path / "store")
    eng = CodeMemoryEngine(spark, store_dir)
    eng.index(temp_repo)

    def pointers():
        return {
            p: open(p).read() for p in glob.glob(os.path.join(store_dir, "*", "_current"))
        }

    before = pointers()
    out = eng.index(temp_repo)
    assert out["files_changed"] == 0
    assert pointers() == before  # no table advanced to a new snapshot


def test_renamed_module_import_cleanup(spark, tmp_path):
    """Renaming a module drops the stale import edges of its (unchanged)
    importers, while stdlib imports survive — reference resolve_module_name
    (qdrant.py:2044-2143) wired into the scoped check. The importer's
    rows are re-committed in the same relations commit as the batch:
    every index() adds exactly one commit to the table."""
    proj = tmp_path / "proj"
    proj.mkdir()
    (proj / "helpers.py").write_text("def greet():\n    return 'hi'\n")
    (proj / "app.py").write_text(
        "import os\nfrom helpers import greet\n\n\ndef main():\n    return greet()\n"
    )
    eng = CodeMemoryEngine(spark, str(tmp_path / "store"))
    eng.index(str(proj))
    assert len(eng.store.history("relations")) == 1
    rels = eng.store.read("relations")
    imports = {r["to_entity"] for r in rels.filter(F.col("relation_type") == "imports").collect()}
    assert {"os", "helpers"} <= imports

    # rename the module; app.py itself is untouched
    os.rename(proj / "helpers.py", proj / "helpers_v2.py")
    (proj / "helpers_v2.py").write_text("def greet():\n    return 'hi'\n")
    eng.index(str(proj))
    assert len(eng.store.history("relations")) == 2
    rels = eng.store.read("relations")
    imports = {r["to_entity"] for r in rels.filter(F.col("relation_type") == "imports").collect()}
    assert "helpers" not in imports, "stale import edge survived the rename"
    assert "os" in imports, "stdlib import was wrongly cleaned"


def test_counters_match_stored_tables(spark, temp_repo, tmp_path):
    """index() counters are the sizes of the rows it writes (no
    dedicated .count() jobs) — they must equal the actual stored table
    sizes on a fresh build."""
    eng = CodeMemoryEngine(spark, str(tmp_path / "store"))
    c = eng.index(temp_repo)
    assert c["entities"] == eng.store.read("entities").count()
    assert c["chunks"] == eng.store.read("chunks").count()
    # relations counter = the rows the one relations commit wrote
    assert c["relations"] == eng.store.read("relations").count()
    # a cold index commits relations once, as one snapshot, no tombstone
    (commit,) = eng.store.history("relations")
    assert len(commit["snapshots"]) == 1 and "tombstones" not in commit
    assert c["chunks_skipped_unchanged"] == 0  # nothing stored yet


def test_incremental_cleanup_is_delta_scoped(spark, temp_repo, tmp_path):
    """A 1-file incremental index with no resulting orphans must write the
    relations table exactly once (the file-replace merge) — the J2/J3
    check reads only the stored relations touching changed entities (J7)
    and re-commits no untouched file when none of them became invalid.
    Round-1 re-validated and rewrote the WHOLE table per batch."""
    import glob

    store_dir = str(tmp_path / "store")
    eng = CodeMemoryEngine(spark, store_dir)
    eng.index(temp_repo)

    # additive change: no entity removed, so no relation can become invalid
    with open(os.path.join(temp_repo, "util.py"), "a") as fh:
        fh.write("\ndef freshly_added():\n    return 1\n")
    eng.index(temp_repo)

    snaps = glob.glob(os.path.join(store_dir, "relations", "snap-*"))
    # vacuum at index-start keeps 1 old snapshot; the merge writes 1 more;
    # a second commit would make it 3
    assert len(snaps) == 2, f"relations rewritten by cleanup: {sorted(snaps)}"

    # and the scoped path still catches real orphans end-to-end
    # (deletion case covered by test_deletion_propagation)


@pytest.mark.slow
def test_get_implementation_logical_scope(spark, tmp_path):
    """scope='logical' returns the entity plus its containment group —
    for a method, the class's other members (README.md:322 '+ helpers')."""
    import pytest

    proj = tmp_path / "lproj"
    proj.mkdir()
    (proj / "m.py").write_text(
        textwrap.dedent(
            """
            class Processor:
                def run(self, data):
                    return self.helper2(data)

                def helper2(self, d):
                    return d
            """
        )
    )
    eng = CodeMemoryEngine(spark, str(tmp_path / "store"))
    eng.index(str(proj))
    minimal = {r["entity_name"] for r in
               eng.get_implementation("Processor.run", scope="minimal").collect()}
    logical = {r["entity_name"] for r in
               eng.get_implementation("Processor.run", scope="logical").collect()}
    assert minimal == {"Processor.run"}
    assert {"Processor.run", "Processor.helper2"} <= logical
    with pytest.raises(ValueError):
        eng.get_implementation("Processor.run", scope="bogus")


def test_index_chat_end_to_end(spark, tmp_path):
    """Chat JSONL → sessionized conversations → categorized chunks →
    searchable vectors, with incremental skip on re-run and survival of
    preserve-manual clear (reference `claude-indexer chat index`)."""
    import json as _json

    msgs = [
        {"chat_id": "c1", "ts": "2024-01-01T10:00:00Z", "role": "user",
         "content": "there is an error and a traceback in my build"},
        {"chat_id": "c1", "ts": "2024-01-01T10:05:00Z", "role": "assistant",
         "content": "let me fix the bug"},
        {"chat_id": "c1", "ts": "2024-01-01T12:00:00Z", "role": "user",
         "content": "now implement the new feature and create the schema"},
    ]
    p = tmp_path / "chat.jsonl"
    with open(p, "w") as fh:
        for m in msgs:
            fh.write(_json.dumps(m) + "\n")

    eng = CodeMemoryEngine(spark, str(tmp_path / "store"))
    r1 = eng.index_chat(str(p))
    assert r1 == {"conversations": 2, "chunks_new": 2, "chunks_skipped_unchanged": 0}

    hits = eng.search("traceback error", mode="semantic", chunk_type="chat_summary", k=5)
    rows = hits.collect()
    assert rows and all(r["chunk_type"] == "chat_summary" for r in rows)
    assert any(r["entity_name"] == "c1" for r in rows)

    # re-run: everything dedup-skipped
    r2 = eng.index_chat(str(p))
    assert r2["chunks_new"] == 0 and r2["chunks_skipped_unchanged"] == 2

    # chat chunks have NULL file_path → preserved by preserve-manual clear
    eng.clear(preserve_manual=True)
    assert eng.store.read("chunks").filter(
        F.col("chunk_type") == "chat_summary").count() == 2


def test_index_chat_with_llm_summarizer_transport(spark, tmp_path):
    """UD7 full path: index_chat with a summarizer transport runs the
    retry/parse/validate/categorize pipeline per conversation and stores
    the LLM summary text in the chat chunks."""
    import json as _json

    from claude_code_memory_spark.sources.summarizer import fake_transport

    msgs = [
        {"chat_id": "c9", "ts": "2024-02-01T09:00:00Z", "role": "user",
         "content": "please fix the crash and error in the importer"},
        {"chat_id": "c9", "ts": "2024-02-01T09:02:00Z", "role": "assistant",
         "content": "the bug is a missing null check; fixed"},
    ]
    p = tmp_path / "chat2.jsonl"
    with open(p, "w") as fh:
        for m in msgs:
            fh.write(_json.dumps(m) + "\n")

    eng = CodeMemoryEngine(spark, str(tmp_path / "store2"))
    r = eng.index_chat(str(p), summarizer_transport=fake_transport)
    assert r["conversations"] == 1 and r["chunks_new"] == 1

    chunk = eng.store.read("chunks").filter(
        F.col("chunk_type") == "chat_summary").collect()
    assert len(chunk) == 1
    # fake transport summarizes to the first line of the conversation;
    # the LLM category (debugging: crash/error/bug) is embedded in content
    assert "debugging" in chunk[0]["content"]
    assert "please fix the crash" in chunk[0]["content"]


def test_index_chat_summarizer_outage_does_not_poison_content(spark, tmp_path):
    """A provider outage must degrade to the keyword-stub content, never
    bake the 'Error summarizing…' sentinel into stored chunks — a poisoned
    content_hash would dedup-block the clean re-index forever."""
    import json as _json

    from claude_code_memory_spark.sources.summarizer import (
        fake_transport,
        failing_transport,
    )

    msgs = [
        {"chat_id": "c9", "ts": "2024-02-01T09:00:00Z", "role": "user",
         "content": "please fix the crash and error in the importer"},
        {"chat_id": "c9", "ts": "2024-02-01T09:02:00Z", "role": "assistant",
         "content": "the bug is a missing null check; fixed"},
    ]
    p = tmp_path / "chat3.jsonl"
    with open(p, "w") as fh:
        for m in msgs:
            fh.write(_json.dumps(m) + "\n")

    eng = CodeMemoryEngine(spark, str(tmp_path / "store3"))
    r = eng.index_chat(str(p), summarizer_transport=failing_transport)
    assert r["conversations"] == 1 and r["chunks_new"] == 1
    chunk = eng.store.read("chunks").filter(
        F.col("chunk_type") == "chat_summary").collect()
    assert len(chunk) == 1
    assert "Error summarizing" not in chunk[0]["content"]
    assert "please fix the crash" in chunk[0]["content"]  # keyword stub kept

    # the provider recovers: re-index adopts the LLM summary because the
    # stub-content hash differs from the summarized-content hash
    r2 = eng.index_chat(str(p), summarizer_transport=fake_transport)
    assert r2["chunks_new"] == 1


@pytest.mark.slow
def test_bloat_report(spark, tmp_path, temp_repo):
    """Storage-efficiency report: all sections present, values sane."""
    eng = CodeMemoryEngine(spark, str(tmp_path / "bstore"))
    eng.index(temp_repo)
    rows = eng.bloat_report().collect()
    by_section = {}
    for r in rows:
        by_section.setdefault(r["section"], {})[r["metric"]] = r["value"]
    assert {"chunk_types", "entity_types", "ratio", "files_top10", "content",
            "relations"} <= set(by_section)
    assert by_section["chunk_types"].get("metadata", 0) > 0
    assert by_section["ratio"]["metadata_to_impl"] >= 1.0  # every impl has metadata
    assert by_section["content"]["avg_content_len"] > 0
    assert by_section["relations"]["relations_per_entity"] > 0
    assert any("main.py" in m for m in by_section["files_top10"])


@pytest.mark.slow
def test_near_dup_report(spark, tmp_path):
    """Two nearly-identical function docstrings must surface as a
    near-dup pair; an empty collection reports zero rows."""
    from claude_code_memory_spark.api import CodeMemoryEngine

    proj = tmp_path / "ndproj"
    proj.mkdir()
    body = (
        '"""Compute the weighted average score over the sliding window '
        'of recent events and normalize by the total weight sum."""'
    )
    (proj / "a.py").write_text(f"def score_a():\n    {body}\n    return 1\n")
    (proj / "b.py").write_text(f"def score_b():\n    {body}\n    return 2\n")
    eng = CodeMemoryEngine(spark, str(tmp_path / "ndstore"))
    eng.index(str(proj))
    rows = eng.near_dup_report(threshold=0.5).collect()
    assert rows, "expected at least one near-dup pair"
    ents = {(r["entity_a"], r["entity_b"]) for r in rows}
    assert any("score_a" in a + b or "score_b" in a + b for a, b in ents)
    assert all(0.5 <= r["jaccard"] <= 1.0 for r in rows)

    empty = CodeMemoryEngine(spark, str(tmp_path / "ndempty"))
    assert empty.near_dup_report().count() == 0


@pytest.mark.slow
def test_sql_surface(spark, tmp_path):
    from claude_code_memory_spark.api import CodeMemoryEngine

    proj = tmp_path / "sqlproj"
    proj.mkdir()
    (proj / "a.py").write_text("def alpha():\n    pass\n\ndef beta():\n    pass\n")
    eng = CodeMemoryEngine(spark, str(tmp_path / "sqlstore"))
    eng.index(str(proj))
    rows = eng.sql(
        "SELECT chunk_type, count(*) AS n FROM chunks GROUP BY chunk_type"
    ).collect()
    assert rows and sum(r["n"] for r in rows) > 0
    joined = eng.sql(
        "SELECT c.entity_name FROM chunks c JOIN vectors v USING (point_id) "
        "WHERE c.entity_name LIKE '%alpha%'"
    )
    assert joined.count() > 0


@pytest.mark.slow
def test_bm25_model_is_storage_backed_after_index(spark, temp_repo, tmp_path):
    """Round-9 regression pin: engine state that outlives a batch must be
    STORAGE-backed. index() once kept fit's lazy vocabulary frame as the
    in-session model, so after chunks.unpersist() every same-session
    search re-executed the whole parse+chunk lineage through the
    query_terms join — 572 s for one hybrid search on an 865-file corpus
    (fixed: 2.9 s). The vocabulary plan must therefore be a plain
    parquet scan, with no Python-eval (parse) stage in its lineage."""
    import contextlib
    import io

    eng = CodeMemoryEngine(spark, str(tmp_path / "store"))
    eng.index(temp_repo)
    vocab = eng.bm25_model().vocabulary
    # public explain() API (ADVICE r9: the py4j queryExecution() route is
    # fragile across Spark versions and absent under Spark Connect)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        vocab.explain(mode="simple")
    plan = buf.getvalue()
    assert "FileScan parquet" in plan
    assert "Python" not in plan and "mapInPandas" not in plan


def test_optimize_compacts_chunks_and_keeps_results(spark, temp_repo, tmp_path):
    """optimize() folds the chunks snapshots of an index and two appended
    memories into one snapshot; the table, searches and
    get_implementation answer as before it ran. The snapshot dirs also
    carry a `_filestats.json` sidecar, as stores written by earlier
    versions do: the Spark reader and the serving snapshot must ignore it."""
    store_dir = str(tmp_path / "store")
    eng = CodeMemoryEngine(spark, store_dir)
    eng.index(temp_repo)
    eng.add_memory("deploy_ritual", "always run smoke tests before deploying")
    eng.add_memory("cache_rule", "invalidate the cache after every write")
    snaps = eng.store._manifest("chunks")["snapshots"]
    assert len(snaps) == 3
    for table in ("chunks", "vectors"):
        for snap in eng.store._manifest(table)["snapshots"]:
            with open(os.path.join(store_dir, table, snap, "_filestats.json"), "w") as fh:
                fh.write('{"files": {"part-0.parquet": {"entity_name": "not parquet"}}}')

    def rows(df):
        return [tuple(r) for r in df.collect()]

    def answers(engine):
        return {
            "chunks": sorted(rows(engine.store.read("chunks")), key=repr),
            "keyword": rows(engine.search("helper", mode="keyword", k=5)),
            "hybrid": rows(engine.search("compute numbers", mode="hybrid", k=5)),
            "semantic": rows(engine.search("smoke tests before deploying", mode="semantic", k=5)),
            "impl": sorted(rows(engine.get_implementation("compute", scope="logical")), key=repr),
        }

    before = answers(CodeMemoryEngine(spark, store_dir))
    assert before["impl"] and before["keyword"]
    eng.optimize()
    assert len(eng.store._manifest("chunks")["snapshots"]) == 1
    assert answers(eng) == before
    assert answers(CodeMemoryEngine(spark, store_dir)) == before


def test_dotted_package_import_leaves_no_orphan_relation_chunk(spark, tmp_path):
    """The stale-import rule drops `from app.sub import thing` (its module
    keys for `app/sub/__init__.py` are `app.sub.__init__` and
    `sub.__init__`). The relation chunks are built from the checked rows,
    so no relation chunk or vector outlives its triple in `relations`."""
    proj = tmp_path / "proj"
    (proj / "app" / "sub").mkdir(parents=True)
    (proj / "app" / "__init__.py").write_text("\n")
    (proj / "app" / "sub" / "__init__.py").write_text("def thing():\n    return 1\n")
    (proj / "app" / "main.py").write_text(
        "from app.sub import thing\n\n\ndef run():\n    return thing()\n"
    )
    eng = CodeMemoryEngine(spark, str(tmp_path / "store"))
    eng.index(str(proj))

    def triple(r):
        return f"{r['from_entity']}::{r['relation_type']}::{r['to_entity']}::{r['import_type'] or ''}"

    rels = eng.store.read("relations").collect()
    assert "app.sub" not in {r["to_entity"] for r in rels if r["relation_type"] == "imports"}
    triples = {triple(r) for r in rels}
    relation = F.col("chunk_type") == "relation"
    chunks = {
        r["chunk_id"]: r["point_id"]
        for r in eng.store.read("chunks").filter(relation).collect()
    }
    assert chunks and set(chunks) <= triples, sorted(set(chunks) - triples)
    vectors = {r["point_id"] for r in eng.store.read("vectors").filter(relation).collect()}
    assert vectors <= set(chunks.values())


def test_file_state_records_the_parsed_bytes(spark, tmp_path, monkeypatch):
    """A save that lands while index() parses must not be recorded as
    indexed: file_state holds the hash of the bytes that were parsed, so
    the next index() sees the file as changed and picks the save up."""
    import hashlib

    from claude_code_memory_spark import api

    proj = tmp_path / "proj"
    proj.mkdir()
    a = proj / "a.py"
    a.write_text("def f():\n    return 1\n")
    (proj / "b.py").write_text("def g():\n    return 2\n")
    eng = CodeMemoryEngine(spark, str(tmp_path / "store"))
    eng.index(str(proj))

    parsed_src = "def f():\n    return 1\n\n\ndef f2():\n    return 2\n"
    saved_src = parsed_src + "\n\ndef f3():\n    return 3\n"
    a.write_text(parsed_src)
    real_parse = api.parse_rows

    def parse_then_save(changed):
        out = real_parse(changed)  # the parse has read a.py's edit
        a.write_text(saved_src)  # the user saves again mid-index
        return out

    monkeypatch.setattr(api, "parse_rows", parse_then_save)
    eng.index(str(proj))
    monkeypatch.setattr(api, "parse_rows", real_parse)

    names = {r["entity_name"] for r in eng.store.read("entities").collect()}
    assert {"f", "f2"} <= names and "f3" not in names
    state = {r["relative_path"]: r["sha256"] for r in eng.store.read("file_state").collect()}
    assert state["a.py"] == hashlib.sha256(parsed_src.encode()).hexdigest()

    assert eng.index(str(proj))["files_changed"] == 1
    names = {r["entity_name"] for r in eng.store.read("entities").collect()}
    assert "f3" in names


def test_reused_chunks_keep_their_own_sparse_vector(spark, tmp_path):
    """A content-unchanged chunk of a re-indexed file reuses its stored
    dense vector (J6), but its sparse vector is encoded from its own
    ``content_bm25``, which holds the file's basename. Five files share
    the `from __future__ import annotations` metadata chunk's content;
    after an edit of one function body, every stored sparse vector
    equals the one a from-scratch index of the final tree stores."""
    proj = tmp_path / "proj"
    proj.mkdir()
    src = "from __future__ import annotations\n\n\ndef f_{0}(x):\n    return x + {1}\n"
    stems = ("alpha", "bravo", "charlie", "delta", "echo")
    for stem in stems:
        (proj / f"{stem}.py").write_text(src.format(stem, 1))
    eng = CodeMemoryEngine(spark, str(tmp_path / "store"))
    eng.index(str(proj))
    (proj / "echo.py").write_text(src.format("echo", 2))
    assert eng.index(str(proj))["chunks_skipped_unchanged"] > 0
    fresh = CodeMemoryEngine(spark, str(tmp_path / "fresh"))
    fresh.index(str(proj))

    def sparse(e):
        return {
            r["point_id"]: (r["sparse_indices"], r["sparse_values"])
            for r in e.store.read("vectors").collect()
        }

    def vocab(e):
        return sorted(map(tuple, e.bm25_model().vocabulary.collect()))

    assert vocab(eng) == vocab(fresh)
    assert sparse(eng) == sparse(fresh)


def _count_jobs(spark, group: str, fn):
    """(fn(), the number of Spark jobs it ran), counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(f"{group}-idle", "idle")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_index_job_budget_and_profile_adds_no_action(spark, tmp_path):
    """index() runs no Spark job: the store reads and writes go through
    pyarrow, on a cold index and on a one-file edit re-index alike, and
    profile=True times the same calls without an action of its own."""
    proj = tmp_path / "proj"
    proj.mkdir()
    for stem in "abc":
        (proj / f"{stem}.py").write_text(
            f"import os\n\n\nclass C_{stem}:\n    def run(self):\n"
            f"        return os.sep\n\n\ndef f_{stem}():\n    return C_{stem}().run()\n"
        )
    jobs = {}
    for profile in (False, True):
        eng = CodeMemoryEngine(spark, str(tmp_path / f"store-{profile}"))
        (proj / "a.py").write_text((proj / "b.py").read_text().replace("_b", "_a"))
        _, jobs[profile, "cold"] = _count_jobs(
            spark, f"budget-cold-{profile}", lambda: eng.index(str(proj), profile=profile)
        )
        (proj / "a.py").write_text((proj / "a.py").read_text() + "\n\ndef g():\n    return 1\n")
        c, jobs[profile, "edit"] = _count_jobs(
            spark, f"budget-edit-{profile}", lambda: eng.index(str(proj), profile=profile)
        )
        assert c["files_changed"] == 1
    assert jobs[True, "cold"] == jobs[False, "cold"], jobs
    assert jobs[True, "edit"] == jobs[False, "edit"], jobs
    assert jobs[False, "cold"] == 0, jobs
    assert jobs[False, "edit"] == 0, jobs


def test_add_memory_runs_no_spark_job(spark, tmp_path):
    """A manual memory is built, embedded and appended in process, before
    any index and after one."""
    proj = tmp_path / "proj"
    proj.mkdir()
    (proj / "a.py").write_text("def f():\n    return 1\n")
    eng = CodeMemoryEngine(spark, str(tmp_path / "store"))
    _, before = _count_jobs(spark, "memory-empty", lambda: eng.add_memory("m0", "first note"))
    eng.index(str(proj))
    _, after = _count_jobs(spark, "memory-indexed", lambda: eng.add_memory("m1", "second note"))
    assert (before, after) == (0, 0)
    assert sorted(
        n for n in eng.store.read_arrow("chunks")["entity_name"].to_pylist() if n.startswith("m")
    ) == ["m0", "m1"]
