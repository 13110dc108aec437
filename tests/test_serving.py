"""In-process serving (serving.py): `search`, `read_graph` and
`get_implementation` answered from the engine's Arrow/numpy snapshot must
equal the Spark operators and expressions they replaced — exact scores,
ties and row multiplicity — after a full index, after a pure append and
after a tombstoned one-file edit re-index (a stale snapshot fails), and a
request — warm, or the first after a write — must run no Spark job; its
collect() makes no JVM call."""

from __future__ import annotations

import textwrap
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from claude_code_memory_spark.api import CodeMemoryEngine
from claude_code_memory_spark.embeddings import bm25 as bm25_mod
from claude_code_memory_spark.embeddings.hash_embedder import embed_text
from claude_code_memory_spark.operators.topk import (
    dense_topk,
    mmr_rerank,
    overfetch_limit,
    rrf_fuse,
    sparse_topk,
)

QUERY = "helper compute numbers"
K = 8
PAYLOAD = ["entity_name", "chunk_type", "file_path", "line_number", "content"]
FILTERS = ({}, {"entity_types": ["function", "class"]}, {"chunk_type": "metadata"})


@pytest.fixture(scope="module")
def project(tmp_path_factory):
    root = tmp_path_factory.mktemp("serving") / "proj"
    root.mkdir()
    (root / "main.py").write_text(
        textwrap.dedent(
            '''
            """Main module."""
            import os

            def helper(a, b):
                """Add two numbers."""
                return a + b

            def compute(items):
                """Compute totals with the helper."""
                total = 0
                for it in items:
                    total += helper(it, 1)
                return total

            class Processor:
                """Processes numbers."""

                def run(self, data):
                    return compute(data)

                def reset(self):
                    return helper(0, 0)
            '''
        )
    )
    (root / "util.py").write_text(
        textwrap.dedent(
            """
            from main import helper

            class Base:
                pass

            class Derived(Base):
                def ping(self):
                    return helper(1, 2)
            """
        )
    )
    return root


@pytest.fixture(scope="module")
def eng(spark, project, tmp_path_factory):
    e = CodeMemoryEngine(spark, str(tmp_path_factory.mktemp("serving_store")))
    e.index(str(project))
    return e


# -- the oracle: the Spark expressions search/read_graph/get_implementation
# ran before the snapshot replaced them ---------------------------------------


def spark_search(eng, query, *, mode, entity_types=None, chunk_type=None, ann=False,
                 mmr=False, k=K, score_threshold=0.0, alpha=0.5, mmr_lambda=0.5,
                 mmr_fetch=50):
    vectors = eng.store.read("vectors")
    if entity_types:
        vectors = vectors.filter(F.col("entity_type").isin(entity_types))
    if chunk_type:
        vectors = vectors.filter(F.col("chunk_type") == chunk_type)
    fetch = overfetch_limit(k) if mode == "hybrid" else k
    qvec = embed_text(query, eng.dim)

    def dense(limit):  # ann=True is answered exactly: the same scan
        return dense_topk(vectors, qvec, limit, id_col="point_id", vec_col="dense",
                          score_threshold=score_threshold if mode != "hybrid" else None)

    def sparse(limit):
        terms = bm25_mod.query_terms(eng.bm25_model(), query)
        return sparse_topk(vectors, terms, limit, id_col="point_id")

    if mode == "semantic" and mmr:
        with_vecs = F.broadcast(dense(mmr_fetch)).join(
            vectors.select("point_id", "dense"), "point_id")
        return mmr_rerank(with_vecs, k, mmr_lambda, id_col="point_id", vec_col="dense")
    if mode == "semantic":
        return dense(k)
    if mode == "keyword":
        return sparse(k)
    return rrf_fuse(dense(fetch), sparse(fetch), k, id_col="point_id", alpha=alpha)


def spark_read_graph(eng, entity, mode, entity_types=None, limit=300):
    rel = eng.store.read("relations")
    direct = rel.filter((F.col("from_entity") == entity) | (F.col("to_entity") == entity))
    neighbor = F.when(F.col("from_entity") == entity, F.col("to_entity")).otherwise(
        F.col("from_entity"))
    if entity_types:
        wanted = (eng.store.read("entities").filter(F.col("entity_type").isin(entity_types))
                  .select(F.col("entity_name").alias("__n")).distinct())
        direct = direct.withColumn("__nb", neighbor).join(
            F.broadcast(wanted), F.col("__nb") == F.col("__n"), "left_semi").drop("__nb")
    if mode == "relationships":
        return direct.limit(limit)
    if mode == "entities":
        names = direct.select(neighbor.alias("__n")).distinct()
        return eng.store.read("entities").join(
            F.broadcast(names), F.col("entity_name") == F.col("__n"), "left_semi").limit(limit)
    if mode == "smart":
        return (
            direct.withColumn("__nb", neighbor)
            .withColumn("direction", F.when(F.col("from_entity") == entity, F.lit("out"))
                        .otherwise(F.lit("in")))
            .groupBy("relation_type", "direction")
            .agg(F.count("*").alias("n"),
                 F.slice(F.sort_array(F.collect_set("__nb")), 1, 5).alias("sample"))
            .orderBy(F.desc("n"), "relation_type", "direction")
            .limit(limit)
        )
    frontier = (direct.select(F.col("from_entity").alias("n"))
                .unionByName(direct.select(F.col("to_entity").alias("n"))).distinct())
    hop = rel.join(F.broadcast(frontier),
                   (rel.from_entity == F.col("n")) | (rel.to_entity == F.col("n")), "left_semi")
    return direct.unionByName(hop).distinct().limit(limit)


def spark_get_implementation(eng, name, scope):
    own = eng.store.read("chunks").filter(F.col("entity_name") == name).filter(
        F.col("chunk_type") == "implementation")
    if scope == "minimal":
        return own
    chunks = eng.store.read("chunks").filter(F.col("chunk_type") == "implementation")
    rel = eng.store.read("relations")
    if scope == "logical":
        parents = rel.filter((F.col("to_entity") == name)
                             & (F.col("relation_type") == "contains")).select(
            F.col("from_entity").alias("__p"))
        siblings = (rel.filter(F.col("relation_type") == "contains")
                    .join(F.broadcast(parents), rel.from_entity == F.col("__p"), "left_semi")
                    .select(F.col("to_entity").alias("__sib")))
        group = chunks.join(F.broadcast(siblings), chunks.entity_name == F.col("__sib"),
                            "left_semi")
        return own.unionByName(group).distinct()
    callees = rel.filter((F.col("from_entity") == name)
                         & (F.col("relation_type") == "calls")).select(
        F.col("to_entity").alias("__callee"))
    deps = chunks.join(F.broadcast(callees), chunks.entity_name == F.col("__callee"),
                       "left_semi")
    return own.unionByName(deps).distinct()


# -- comparison helpers ---------------------------------------------------------


def _rows(df):
    return [tuple(tuple(v) if isinstance(v, list) else v for v in r) for r in df.collect()]


def _types(df):
    return [(f.name, f.dataType) for f in df.schema.fields]


def _search_cases():
    """Every mode x filter x ann x mmr, keyed by the Spark computation it
    amounts to (ann=True is the exact dense scan, mmr is semantic only),
    so each distinct oracle runs once."""
    for mode in ("semantic", "keyword", "hybrid"):
        for f, filt in enumerate(FILTERS):
            for ann in (False, True):
                for mmr in (False, True):
                    oracle = (mode, f, mmr and mode == "semantic")
                    yield oracle, dict(mode=mode, ann=ann, mmr=mmr, **filt)


def _assert_matches_spark(eng, stage):
    got = []
    for oracle, kw in _search_cases():
        df = eng.search(QUERY, k=K, **kw)
        got.append((oracle, kw, df, _rows(df)))
    graph_cases = [(m, t) for m in ("relationships", "entities") for t in (None, ("function",))]
    graph_cases += [("smart", None), ("raw", None), ("bfs2", None)]
    impl_cases = [("compute", "minimal"), ("Processor.run", "logical"),
                  ("compute", "dependencies"), ("Processor.reset", "dependencies")]
    got_graph = {
        c: eng.read_graph("helper", mode=c[0], entity_types=c[1] and list(c[1]))
        for c in graph_cases
    }
    got_impl = {c: eng.get_implementation(c[0], scope=c[1]) for c in impl_cases}

    oracles = {oracle: kw for oracle, kw in _search_cases()}
    chunks = eng.store.read("chunks").select("point_id", *PAYLOAD)
    jobs = {("search", o): spark_search(eng, QUERY, **kw) for o, kw in oracles.items()}
    jobs.update({("graph", c): spark_read_graph(eng, "helper", c[0], c[1] and list(c[1]))
                 for c in graph_cases})
    jobs.update({("impl", c): spark_get_implementation(eng, *c) for c in impl_cases})
    jobs["payload"] = chunks
    with ThreadPoolExecutor(8) as pool:  # small jobs: bound by scheduling, not CPU
        want = dict(zip(jobs, pool.map(_rows, jobs.values())))
    payload: dict = {}
    for r in want["payload"]:
        payload.setdefault(r[0], []).append(r[1:])

    hits = Counter()
    for oracle, kw, df, rows in got:
        what = (stage, kw)
        want_rows = want[("search", oracle)]
        # the ranked (point_id, score...) list, exactly and in order
        n = len(jobs[("search", oracle)].columns)
        ranked = list(dict.fromkeys(r[:n] for r in rows))
        assert ranked == want_rows, (what, ranked, want_rows)
        # the payload LEFT JOIN: every chunk row of a point, nulls for none
        joined = Counter(
            r + p for r in want_rows for p in payload.get(r[0], [(None,) * len(PAYLOAD)]))
        assert Counter(rows) == joined, what
        oracle_df = jobs[("search", oracle)].join(chunks, "point_id", "left")
        assert _types(df) == _types(oracle_df), what
        hits[kw["mode"]] += len(want_rows)
    assert all(hits[m] > 0 for m in ("semantic", "keyword", "hybrid")), (stage, hits)

    for c, df in got_graph.items():
        if c[0] == "smart":  # ordered by count
            assert _rows(df) == want[("graph", c)], (stage, c)
        else:
            assert Counter(_rows(df)) == Counter(want[("graph", c)]), (stage, c)
        assert _types(df) == _types(jobs[("graph", c)]), (stage, c)
    for c, df in got_impl.items():
        assert Counter(_rows(df)) == Counter(want[("impl", c)]), (stage, c)
        assert _types(df) == _types(jobs[("impl", c)]), (stage, c)


def test_snapshot_equals_spark_operators_across_writes(eng, project):
    _assert_matches_spark(eng, "index")

    # a pure append: chunks and vectors gain a snapshot each
    eng.add_memory("numbers_memo", "helper compute numbers, a note about totals")
    _assert_matches_spark(eng, "append")
    assert "numbers_memo" in {
        r["entity_name"] for r in eng.search(QUERY, mode="keyword", k=K).collect()}

    # a one-file edit re-index: tombstoned delta commits everywhere
    with open(project / "main.py", "a") as fh:
        fh.write("\n\ndef helper_again(numbers):\n    return helper(numbers, 2)\n")
    assert eng.index(str(project))["files_changed"] == 1
    _assert_matches_spark(eng, "edit")
    assert "helper_again" in {
        r["from_entity"] for r in eng.read_graph("helper").collect()}


def test_warm_requests_run_no_spark_job(eng, project):
    """Warm requests, and the first keyword, hybrid and ann=True requests
    after an append and after a one-file edit re-index, run no Spark job:
    nothing is built beside the table store."""
    calls = [
        lambda mode=mode, ann=ann: eng.search(QUERY, mode=mode, ann=ann).collect()
        for mode in ("semantic", "keyword", "hybrid")
        for ann in (False, True)
    ] + [
        lambda: eng.search(QUERY, mode="hybrid", entity_types=["function"]).collect(),
        lambda: eng.search(QUERY, mode="semantic", mmr=True).collect(),
        lambda: eng.read_graph("helper", mode="smart").collect(),
        lambda: eng.read_graph("helper", mode="raw").collect(),
        lambda: eng.get_implementation("compute", scope="dependencies").collect(),
    ]
    first = [
        lambda: eng.search(QUERY, mode="keyword").collect(),
        lambda: eng.search(QUERY, mode="hybrid").collect(),
        lambda: eng.search(QUERY, mode="semantic", ann=True).collect(),
        lambda: eng.search(QUERY, mode="hybrid", ann=True).collect(),
    ]

    def edit():
        with open(project / "main.py", "a") as fh:
            fh.write("\n\ndef helper_warm(numbers):\n    return helper(numbers, 3)\n")
        assert eng.index(str(project))["files_changed"] == 1

    for call in calls:  # warm: the snapshot loads its parts on first use
        call()
    sc = eng.spark.sparkContext

    def in_group(requests):
        sc.setJobGroup("serving-warm", "serving requests")
        try:
            for call in requests:
                call()
        finally:
            sc.setJobGroup("serving-idle", "idle")

    in_group(calls)
    eng.add_memory("warm_memo", "helper compute numbers, appended after warm-up")
    in_group(first)
    edit()
    in_group(first)
    assert sc.statusTracker().getJobIdsForGroup("serving-warm") == []
    root = Path(eng.store.root)
    assert not (root / "postings").exists() and not (root / "annindex").exists()


def test_collect_reads_the_answer_without_a_plan(eng):
    """A request's collect() builds its rows from the Arrow answer without
    planning the DataFrame, and they equal Spark's collect of that plan:
    values, Python types and field names."""
    from pyspark.sql.classic.dataframe import DataFrame as SparkFrame

    answers = [
        eng.search(QUERY, mode="hybrid"),
        eng.search(QUERY, mode="semantic", mmr=True),
        eng.read_graph("helper", mode="entities"),
        eng.read_graph("helper", mode="smart"),
        eng.get_implementation("compute", scope="dependencies"),
    ]
    for res in answers:
        rows = res.collect()
        assert res.__dict__["_plan"] is None
        want = SparkFrame.collect(res)
        assert rows and rows == want
        assert [(r.__fields__, [type(v) for v in r]) for r in rows] == [
            (r.__fields__, [type(v) for v in r]) for r in want]


def test_round6_equals_spark_round(spark):
    """The exactness every score rests on: `serving.round6` is Spark's
    round(x, 6), including decimal ties (HALF_UP, not half-even)."""
    import random

    import numpy as np

    from claude_code_memory_spark.serving import round6

    rng = random.Random(7)
    xs = [rng.uniform(-3, 3) for _ in range(2000)]
    xs += [round(rng.uniform(-1, 1), 7) for _ in range(2000)]  # ties at digit 7
    xs += [0.0000005, -0.0000005, 0.0000015, 2.5e-6, 0.5 / 61 + 0.5 / 62, -0.0]
    got = round6(np.array(xs))
    want = [r[0] for r in spark.createDataFrame([(x,) for x in xs], "x double")
            .select(F.round("x", 6)).collect()]
    assert got.tolist() == want
