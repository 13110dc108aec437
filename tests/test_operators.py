"""Operator unit tests: join shapes, dedup, topk/RRF, sessions, BM25,
multimodal plumbing — on tiny inline DataFrames with hand-computed
expectations (the reference's unit-test style)."""

import pytest
from pyspark.sql import functions as F

from claude_code_memory_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash32_table,
)
from claude_code_memory_spark.operators.joins import (
    ModuleIndex,
    missing_endpoint,
    phantom_call,
    replacement_diff,
)
from claude_code_memory_spark.operators.topk import merge_ranked, rrf_fuse
from claude_code_memory_spark.operators.sessions import sessionize


@pytest.fixture()
def graph():
    entities = {"a", "b", "c"}
    relations = [
        {"from_entity": f, "to_entity": t, "relation_type": rt}
        for f, t, rt in [
            ("a", "b", "calls"),
            ("a", "ghost", "calls"),  # orphan: to missing
            ("ghost2", "b", "uses"),  # orphan: from missing
            ("b", "c", "calls"),
        ]
    ]
    return entities, relations


def test_orphan_and_valid_relations(graph):
    entities, relations = graph
    orphans = {
        (r["from_entity"], r["to_entity"])
        for r in relations
        if missing_endpoint(r, entities)
    }
    assert orphans == {("a", "ghost"), ("ghost2", "b")}
    valid = {
        (r["from_entity"], r["to_entity"])
        for r in relations
        if not missing_endpoint(r, entities)
    }
    assert valid == {("a", "b"), ("b", "c")}
    # a NULL endpoint never matches
    assert missing_endpoint({"from_entity": "a", "to_entity": None}, entities)


def test_phantom_calls(graph):
    entities, relations = graph
    impl = {"a": ["def a():\n    return b()"], "b": ["def b():\n    return 1  # no call"]}
    got = {(r["from_entity"], r["to_entity"]) for r in relations if phantom_call(r, impl)}
    # b->c: both endpoints exist but 'c(' is absent from b's implementation;
    # a->ghost is likewise flagged here (in the pipeline, J2 removes it first)
    assert got == {("b", "c"), ("a", "ghost")}
    # a->b survives: 'b(' appears in a's implementation
    assert ("a", "b") not in got
    # resolved calls are exempt; a NULL content never marks a row
    assert not phantom_call(dict(relations[3], import_type="resolved"), impl)
    assert not phantom_call(relations[3], {"b": [None]})


def test_stale_imports_resolution_branches():
    """J2-imports: each resolve_module_name branch (reference
    qdrant.py:2100-2143) — stdlib and external files whitelisted,
    unresolvable project-shaped targets flagged stale."""
    index = ModuleIndex({"pkg/mod.py", "pkg/util.py", "helpers.py", "greet"})
    rels = [
        {"from_entity": f, "to_entity": t, "relation_type": rt}
        for f, t, rt in [
            ("app.py", "os", "imports"),            # stdlib → kept
            ("app.py", "os.path", "imports"),       # stdlib dotted → kept
            ("app.py", "pkg.mod", "imports"),       # module key → kept
            ("app.py", ".mod", "imports"),          # relative basename → kept
            ("app.py", ".pkg.mod", "imports"),      # relative dotted path → kept
            ("app.py", "pkg", "imports"),           # directory component → kept
            ("app.py", "helpers", "imports"),       # bare basename → kept
            ("app.py", "data.json", "imports"),     # file-extension → kept
            ("app.py", "pkg.gone", "imports"),      # unresolvable → STALE
            ("app.py", "vanished", "imports"),      # unresolvable bare → STALE
            ("app.py", "pkg.gone", "calls"),        # not an import → untouched
        ]
    ]
    stale = {(r["to_entity"], r["relation_type"]) for r in rels if index.stale_import(r)}
    assert stale == {("pkg.gone", "imports"), ("vanished", "imports")}


def test_replacement_diff(spark):
    stored = spark.createDataFrame(
        [("f.py", "a", "h1"), ("f.py", "b", "h2"), ("f.py", "gone", "h3")],
        "file_path string, entity_name string, content_hash string",
    )
    parsed = spark.createDataFrame(
        [("f.py", "a", "h1"), ("f.py", "b", "h2x"), ("f.py", "new", "h4")],
        "file_path string, entity_name string, content_hash string",
    )
    got = {r["entity_name"]: r["status"] for r in replacement_diff(stored, parsed).collect()}
    assert got == {"a": "unchanged", "b": "changed", "gone": "deleted", "new": "added"}


def test_rrf_fusion_missing_contributes_zero(spark):
    dense = spark.createDataFrame([(1, 0.9), (2, 0.8)], "point_id long, score double")
    sparse = spark.createDataFrame([(2, 5.0), (3, 4.0)], "point_id long, score double")
    rows = {r["point_id"]: r["rrf_score"] for r in rrf_fuse(dense, sparse, k=10).collect()}
    # id=2 is rank 2 dense, rank 1 sparse: 0.5/62 + 0.5/61
    assert abs(rows[2] - round(0.5 / 62 + 0.5 / 61, 6)) < 1e-9
    # id=1 only dense rank 1; id=3 only sparse rank 2
    assert abs(rows[1] - round(0.5 / 61, 6)) < 1e-9
    assert abs(rows[3] - round(0.5 / 62, 6)) < 1e-9
    # fused order: 2 first
    assert max(rows.values()) == rows[2]


def test_exact_dedup_keeps_min_id(spark):
    docs = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "unique")], "doc_id long, text string"
    )
    kept = {r["doc_id"] for r in exact_dedup(docs).collect()}
    assert kept == {1, 3}  # 2 is a normalized duplicate of 1


def test_jaccard_and_minhash_agree_on_clones(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [(1, base), (2, base + " extra"), (3, "completely different words entirely here now")],
        "doc_id long, text string",
    )
    jac = {(r["id_a"], r["id_b"]) for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert (1, 2) in jac and len(jac) == 1
    mh = {(r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(docs, threshold=0.5).collect()}
    assert (1, 2) in mh


def test_jaccard_posting_cap_drops_boilerplate(spark):
    """max_shingle_freq bounds posting lists: a shingle shared by every
    doc is dropped before the self-join, so boilerplate alone cannot
    pair up otherwise-unrelated docs (the 100 TB guard, on by default)."""
    boiler = "subscribe to our newsletter today"
    docs = spark.createDataFrame(
        [
            (1, boiler + " alpha beta gamma delta"),
            (2, boiler + " epsilon zeta eta theta"),
            (3, boiler + " iota kappa lam mu"),
        ],
        "doc_id long, text string",
    )
    # uncapped: the shared boilerplate shingles push pairs over 0.25
    uncapped = ngram_jaccard_pairs(docs, threshold=0.25, max_shingle_freq=None)
    assert uncapped.count() == 3
    # cap=2 drops shingles present in all 3 docs; only boilerplate-internal
    # shingles survive in pairs, jaccard falls below the threshold
    capped = ngram_jaccard_pairs(docs, threshold=0.25, max_shingle_freq=2)
    assert capped.count() == 0


def test_simhash_close_for_similar_docs(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta epsilon"), (3, "xyz qrs")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r["simhash"] for r in simhash32_table(docs).collect()}
    ham12 = bin(rows[1] ^ rows[2]).count("1")
    ham13 = bin(rows[1] ^ rows[3]).count("1")
    assert ham12 < ham13


def test_sessionize_gap_split(spark):
    events = spark.createDataFrame(
        [(1, 0.0), (1, 100.0), (1, 5000.0), (2, 0.0)], "user_id long, ts double"
    )
    got = {(r["user_id"], r["ts"]): r["session_id"] for r in sessionize(events).collect()}
    assert got[(1, 0.0)] == 1 and got[(1, 100.0)] == 1
    assert got[(1, 5000.0)] == 2  # gap 4900 >= 3600
    assert got[(2, 0.0)] == 1


def test_merge_ranked(spark):
    a = spark.createDataFrame([(1, 0.9)], "point_id long, score double")
    b = spark.createDataFrame([(2, 0.95), (3, 0.1)], "point_id long, score double")
    rows = [r["point_id"] for r in merge_ranked([a, b], k=2).collect()]
    assert rows == [2, 1]


# --- as-of / range joins --------------------------------------------------


def test_asof_join_backward_inclusive_and_null(spark):
    from claude_code_memory_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 100, "p1"), (1, 200, "p2"), (2, 50, "p3")],
        "user_id long, ts long, tag string",
    )
    right = spark.createDataFrame(
        [(1, 100, 10.0), (1, 150, 15.0), (1, 250, 25.0), (2, 60, 6.0)],
        "user_id long, ts long, value double",
    )
    out = asof_join(
        left, right, on="user_id", ts_col="ts", payload_cols=("ts", "value")
    )
    rows = {r["tag"]: r for r in out.collect()}
    # equal ts matches (inclusive)
    assert rows["p1"]["matched_ts"] == 100 and rows["p1"]["matched_value"] == 10.0
    # latest earlier row, not the later one
    assert rows["p2"]["matched_ts"] == 150
    # no right row at or before -> NULL payload
    assert rows["p3"]["matched_ts"] is None and rows["p3"]["matched_value"] is None


def test_asof_join_tolerance(spark):
    from claude_code_memory_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 1000, "x")], "k long, ts long, tag string")
    right = spark.createDataFrame([(1, 100, 1.0)], "k long, ts long, value double")
    wide = asof_join(left, right, on="k", ts_col="ts", payload_cols=("ts", "value"))
    tight = asof_join(
        left, right, on="k", ts_col="ts", payload_cols=("ts", "value"), tolerance=500
    )
    assert wide.collect()[0]["matched_ts"] == 100
    assert tight.collect()[0]["matched_ts"] is None


def test_range_join_pairs(spark):
    from claude_code_memory_spark.operators.asof import range_join_pairs

    left = spark.createDataFrame([(1, 100), (1, 300)], "k long, ts long")
    right = spark.createDataFrame(
        [(1, 150), (1, 250), (1, 600), (2, 150)], "k long, ts long"
    )
    out = range_join_pairs(left, right, on="k", ts_col="ts", max_gap=200)
    pairs = {(r["ts_a"], r["ts_b"]) for r in out.collect()}
    # k=1: 150 and 250 fall in [100, 300]; 600 is beyond 300+200; k=2 unmatched
    assert pairs == {(100, 150), (100, 250)}


def test_salted_join_matches_plain_join(spark):
    from claude_code_memory_spark.operators.skew import salted_join

    left = spark.createDataFrame(
        [(1, f"a{i}") for i in range(50)] + [(2, "b"), (3, "c")],  # key 1 is hot
        "k long, lv string",
    )
    right = spark.createDataFrame([(1, "X"), (2, "Y"), (4, "Z")], "k long, rv string")
    plain = {(r["k"], r["lv"], r["rv"]) for r in left.join(right, "k").collect()}
    salted = {
        (r["k"], r["lv"], r["rv"])
        for r in salted_join(left, right, "k", num_salts=8).collect()
    }
    assert salted == plain and len(plain) == 51
    # left join keeps unmatched left rows exactly once
    lj = salted_join(left, right, "k", num_salts=8, how="left")
    assert lj.filter("k = 3").count() == 1
    import pytest
    with pytest.raises(ValueError):
        salted_join(left, right, "k", how="full")


def test_deterministic_split_and_stratified_sample(spark):
    from claude_code_memory_spark.operators.sampling import (
        deterministic_split,
        stratified_sample,
    )

    df = spark.createDataFrame(
        [(i, "en" if i % 3 else "de") for i in range(1000)], "id long, lang string"
    )
    s = deterministic_split(df, {"train": 0.8, "val": 0.1, "test": 0.1}, key_col="id")
    counts = {r["split"]: r["n"] for r in s.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert counts["train"] + counts["val"] + counts["test"] == 1000
    assert 700 < counts["train"] < 900  # ~80%, hash noise allowed
    # rerun → identical assignment (pure function of content)
    s2 = deterministic_split(df, {"train": 0.8, "val": 0.1, "test": 0.1}, key_col="id")
    assert s.exceptAll(s2).count() == 0

    sub = stratified_sample(df, {"en": 0.5}, stratum_col="lang", key_col="id")
    got = sub.groupBy("lang").count().collect()
    assert len(got) == 1 and got[0]["lang"] == "en"  # unlisted strata dropped
    assert 230 < got[0]["count"] < 430  # ~50% of ~667


def test_contaminated_docs(spark):
    from claude_code_memory_spark.operators.dedup import contaminated_docs

    bench = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")], "doc_id long, text string"
    )
    train = spark.createDataFrame(
        [
            (10, "totally unrelated text about spark partitions and shuffles here"),
            (11, "he said the quick brown fox jumps high"),  # shares a 5-gram
        ],
        "doc_id long, text string",
    )
    hits = {r["doc_id"]: r["n_hits"] for r in contaminated_docs(train, bench, n=5).collect()}
    assert 11 in hits and 10 not in hits


def test_approx_aggregates_within_tolerance(spark, sf_dir):
    """approx_count_distinct (HyperLogLog++) and percentile_approx are the
    scale path for distinct/quantile over 100 TB: both are map-side
    mergeable sketches, so the shuffle carries one sketch per partition
    instead of the full key set. Correctness contract is bounded error."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    row = li.agg(
        F.countDistinct("l_orderkey").alias("exact"),
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx"),
        F.expr("percentile(l_quantity, 0.5)").alias("p50_exact"),
        F.percentile_approx("l_quantity", 0.5, 10000).alias("p50_approx"),
    ).collect()[0]
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.05
    assert abs(row["p50_approx"] - row["p50_exact"]) <= 1.0


def test_table_rowcount_matches_count_job(spark, sf_dir):
    """r12: dedup_semantic_cells derives k from a driver-side parquet
    footer read instead of a count() job — the two must always agree."""
    from claude_code_memory_spark.queries.base import table, table_rowcount

    for name in ("embeddings", "lineitem"):
        assert table_rowcount(spark, sf_dir, name) == table(
            spark, sf_dir, name
        ).count()


def test_connected_components_and_canonical_dedup(spark):
    """Chain 1-2-3-4 and pair 7-8 collapse to two components; min-id
    survives dedup_keep_canonical, untouched docs pass through."""
    from claude_code_memory_spark.operators.components import (
        connected_components,
        dedup_keep_canonical,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (7, 8)], "src long, dst long"
    )
    comp = {r["node"]: r["comp"] for r in connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 8: 7}

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in (1, 2, 3, 4, 7, 8, 99)], "doc_id long, text string"
    )
    pairs = edges.withColumnRenamed("src", "id_a").withColumnRenamed("dst", "id_b")
    kept = sorted(r["doc_id"] for r in dedup_keep_canonical(docs, pairs).collect())
    assert kept == [1, 7, 99]


def test_components_driver_path_matches_iterative(spark):
    """r12: small int-keyed graphs take the driver-side union-find; this
    forces the iterative paths (cap=-1) on random graphs incl. chains,
    self-loops and singleton pairs and demands identical labelings from
    both variants, plus the string-key fallback gate."""
    import random

    from claude_code_memory_spark.operators import components as C

    rng = random.Random(12)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(120)]
    edges += [(100 + i, 100 + i + 1) for i in range(12)]  # a chain
    edges += [(200, 200), (300, 301)]  # self-loop + isolated pair
    df = spark.createDataFrame(edges, "src long, dst long")

    for fn in (C.connected_components, C.connected_components_star):
        fast = {(r["node"], r["comp"]) for r in fn(df).collect()}
        old_cap = C._DRIVER_EDGE_CAP
        C._DRIVER_EDGE_CAP = -1
        try:
            slow = {(r["node"], r["comp"]) for r in fn(df).collect()}
        finally:
            C._DRIVER_EDGE_CAP = old_cap
        assert fast == slow, fn.__name__

    named = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "src string, dst string"
    )
    # string keys refuse the driver path (Python vs UTF8 ordering is not
    # proven equal) and still label correctly through the join form
    comp = {r["node"]: r["comp"] for r in C.connected_components(named).collect()}
    assert comp == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_sparse_postings_equivalence_and_pruning(spark, tmp_path):
    """sparse_topk_postings == sparse_topk on the same data, and a
    term-clustered postings table prunes row groups for the IN-list scan."""
    import random

    from pyspark.sql import functions as F

    from claude_code_memory_spark.io import write_clustered
    from claude_code_memory_spark.operators.topk import (
        build_postings,
        sparse_topk,
        sparse_topk_postings,
    )
    from tests.test_layout import scan_rows

    rng = random.Random(7)
    rows = []
    for pid in range(2000):
        idx = sorted(rng.sample(range(500), 6))
        rows.append((pid, idx, [round(rng.random(), 3) + 0.1 for _ in idx]))
    chunks = spark.createDataFrame(
        rows, "point_id long, sparse_indices array<int>, sparse_values array<float>"
    )
    qt = spark.createDataFrame(
        [(3, 1.5), (77, 2.0), (401, 0.5)], "term_index int, term_weight double"
    )

    direct = {(r["point_id"], r["score"]) for r in sparse_topk(chunks, qt, 10).collect()}
    postings = build_postings(chunks)
    via_postings = {
        (r["point_id"], r["score"])
        for r in sparse_topk_postings(postings, qt, 10).collect()
    }
    assert direct == via_postings

    path = str(tmp_path / "postings")
    write_clustered(postings, path, "term_index", num_files=8)
    stored = spark.read.parquet(path)
    total = stored.count()
    hit = stored.filter(F.col("term_index").isin([3, 77, 401]))
    assert scan_rows(hit) < 0.45 * total  # 3 query terms -> ~3 of 8 range-files  # row groups without query terms skipped
    # and the clustered postings produce the same result too
    clustered_res = {
        (r["point_id"], r["score"])
        for r in sparse_topk_postings(stored, qt, 10).collect()
    }
    assert clustered_res == direct


def test_aqe_splits_skewed_join(spark):
    """AQE's runtime skew handling (session.py enables skewJoin): a 90%-hot
    key gets its partition split, visible as `skew=true` on the
    SortMergeJoin node of the executed plan.

    Subtlety this test pins: the OptimizeSkewedJoin rule declines when the
    join feeds another shuffle (splitting would break the downstream
    partitioning guarantee) unless forceOptimizeSkewedJoin is set — which
    is exactly why operators/skew.py::salted_join exists for skewed
    join→aggregate pipelines."""
    import re

    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(0, 300_000).select(
            F.when(F.col("id") % 10 != 0, 0).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("payload"),
        )
        right = spark.range(0, 300_000, 10).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ).union(spark.createDataFrame([(0, 0)], "k long, v long"))
        j = left.join(right, "k")
        rows = j.collect()
        assert len(rows) == 570_001
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert len(re.findall(r"skew=true", plan)) >= 1
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_minhash_delta_equals_full_restricted(spark, sf_dir):
    """Delta dedup == full dedup restricted to pairs touching the batch;
    and it never emits old-old pairs."""
    from pyspark.sql import functions as F

    from claude_code_memory_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_lsh_pairs_delta,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cutoff = d.agg(F.max("doc_id")).first()[0] * 0.9
    old, new = d.filter(F.col("doc_id") < cutoff), d.filter(F.col("doc_id") >= cutoff)

    full = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in minhash_lsh_pairs(d, threshold=0.5).collect()
        if r["id_a"] >= cutoff or r["id_b"] >= cutoff
    }
    delta = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in minhash_lsh_pairs_delta(old, new, threshold=0.5).collect()
    }
    assert delta == full
    assert all(a >= cutoff or b >= cutoff for a, b, _ in delta)


class TestCrossSubstring:
    """Exact-substring overlap (operators/dedup.py::cross_substring_overlaps):
    planted verbatim runs must be found with exact token lengths."""

    def _docs(self, spark):
        shared = " ".join(f"tok{i}" for i in range(15))  # 15-token run
        rows = [
            (1, "alpha beta " + shared + " gamma delta"),
            (2, shared + " epsilon zeta eta theta"),
            (3, "unrelated words only here " + " ".join(f"zz{i}" for i in range(20))),
            (4, "short text"),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_planted_overlap_exact_length(self, spark):
        from claude_code_memory_spark.operators.dedup import cross_substring_overlaps

        got = cross_substring_overlaps(
            self._docs(spark), n=8, min_overlap_tokens=10
        ).collect()
        assert [(r["doc_a"], r["doc_b"], r["overlap_tokens"]) for r in got] == [
            (1, 2, 15)
        ]

    def test_threshold_excludes_short_runs(self, spark):
        from claude_code_memory_spark.operators.dedup import cross_substring_overlaps

        # run of exactly 9 tokens: found at n=8 with min 9, excluded at min 10
        shared = " ".join(f"run{i}" for i in range(9))
        df = spark.createDataFrame(
            [(1, "xx yy " + shared), (2, shared + " aa bb")],
            "doc_id long, text string",
        )
        lo = cross_substring_overlaps(df, n=8, min_overlap_tokens=9).collect()
        assert [(r["doc_a"], r["doc_b"], r["overlap_tokens"]) for r in lo] == [(1, 2, 9)]
        assert cross_substring_overlaps(df, n=8, min_overlap_tokens=10).count() == 0

    def test_gram_doc_frequency_cap(self, spark):
        from claude_code_memory_spark.operators.dedup import cross_substring_overlaps

        # the same 12-token boilerplate in 5 docs: cap 4 drops every pair
        shared = " ".join(f"bp{i}" for i in range(12))
        df = spark.createDataFrame(
            [(i, f"doc{i} intro " + shared) for i in range(5)],
            "doc_id long, text string",
        )
        assert cross_substring_overlaps(df, n=8, max_gram_docs=4).count() == 0
        assert cross_substring_overlaps(df, n=8, max_gram_docs=5).count() == 10


class TestStarComponents:
    """large-star/small-star components (operators/components.py):
    equivalence with min-label propagation, including the long-chain
    case where propagation's O(diameter) bound is the worst case."""

    def _labels(self, df):
        return {r["node"]: r["comp"] for r in df.collect()}

    def test_equivalent_on_random_graph(self, spark):
        from claude_code_memory_spark.operators.components import (
            connected_components,
            connected_components_star,
        )
        import random

        rng = random.Random(7)
        edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(80)]
        df = spark.createDataFrame(
            [(a, b) for a, b in edges if a != b], "src long, dst long"
        )
        assert self._labels(connected_components_star(df)) == self._labels(
            connected_components(df)
        )

    def test_long_chain_converges_in_log_rounds(self, spark):
        from claude_code_memory_spark.operators.components import (
            connected_components_star,
        )

        chain = spark.createDataFrame(
            [(i, i + 1) for i in range(120)], "src long, dst long"
        )
        got = self._labels(connected_components_star(chain, max_iter=12))
        # a 121-node chain has diameter 120: label propagation needs ~120
        # rounds; star converges within 12 and everything labels to 0
        assert set(got.values()) == {0} and len(got) == 121

    def test_two_components_and_self_loops(self, spark):
        from claude_code_memory_spark.operators.components import (
            connected_components_star,
        )

        df = spark.createDataFrame(
            [(5, 6), (6, 7), (7, 5), (9, 9), (10, 11)], "src long, dst long"
        )
        got = self._labels(connected_components_star(df))
        assert got == {5: 5, 6: 5, 7: 5, 10: 10, 11: 10}
