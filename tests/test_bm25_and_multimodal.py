"""BM25 fit/encode and hash embedder determinism."""

import math

import numpy as np

from claude_code_memory_spark.embeddings import bm25
from claude_code_memory_spark.embeddings.hash_embedder import embed_text, embed_vector

CORPUS = [
    (1, "spark joins data"),
    (2, "spark filters data quickly"),
    (3, "pandas eats bamboo"),
]


def test_bm25_fit_transform(spark):
    model = bm25.fit(spark, CORPUS)
    assert model.n_docs == 3
    vocab = {r["term"]: r for r in model.vocabulary.collect()}
    assert vocab["spark"]["df"] == 2 and vocab["bamboo"]["df"] == 1
    # robertson idf: log((3-2+0.5)/(2+0.5)) < 0 < log((3-1+0.5)/(1+0.5))
    assert vocab["spark"]["idf"] < 0 < vocab["bamboo"]["idf"]

    sparse = bm25.encode(model, CORPUS)
    indices, values = sparse[1]
    assert len(indices) == len(values) == 3
    assert indices == sorted(indices)


def test_bm25_query_terms(spark):
    model = bm25.fit(spark, CORPUS)
    q = bm25.query_terms(model, "spark bamboo unknownterm").collect()
    assert len(q) == 2  # unknownterm not in vocabulary


def test_bm25_model_save_load(spark, tmp_path):
    model = bm25.fit(spark, CORPUS)
    model.save(str(tmp_path / "bm25"))
    loaded = bm25.BM25Model.load(spark, str(tmp_path / "bm25"))
    assert loaded.n_docs == model.n_docs and abs(loaded.avgdl - model.avgdl) < 1e-9
    assert loaded.terms == model.terms


def test_bm25_idf_is_spark_log(spark):
    """idf is Spark's `log` (Java StrictMath), bit for bit: with 5 docs
    and a term in 1 of them it is log(3), where Python's math.log gives
    a different last bit. Stored idfs and sparse weights must not depend
    on which side computed them."""
    docs = [(i, "zebra alpha" if i == 0 else "alpha beta") for i in range(5)]
    model = bm25.fit(spark, docs)
    want = spark.sql("SELECT log((5D - 1 + 0.5) / (1 + 0.5)) AS x").collect()[0]["x"]
    idf = model.terms["zebra"][1]
    assert idf.hex() == want.hex()
    assert idf != math.log(3.0)  # the Python value this test rules out


def test_hash_embedder_deterministic():
    vecs = [embed_vector(t, 16) for t in ("alpha", "alpha", "beta")]
    assert vecs[0].dtype == np.float32
    assert vecs[0].tolist() == vecs[1].tolist() != vecs[2].tolist()
    # matches the driver-side embedding used for query vectors
    assert vecs[0].tolist() == embed_text("alpha", 16)
    assert abs(np.linalg.norm(vecs[0]) - 1.0) < 1e-5


def test_strict_log_is_spark_log_on_every_idf_argument(spark):
    """`strict_log` equals Spark's `log` bit for bit on every idf
    argument (n - df + 0.5) / (df + 0.5) with 1 <= df <= n <= 620, the
    192,510 pairs Spark evaluates in one collect. Python's math.log
    differs from it on thousands of them."""
    from pyspark.sql import functions as F

    ns = spark.range(1, 621).withColumnRenamed("id", "n")
    dfs = spark.range(1, 621).withColumnRenamed("id", "df")
    want = (
        ns.crossJoin(dfs)
        .filter("df <= n")
        .select(
            "n", "df",
            F.log((F.col("n").cast("double") - F.col("df") + 0.5) / (F.col("df") + 0.5))
            .alias("x"),
        )
        .toArrow()
    )
    assert want.num_rows == 192_510
    args = [
        (float(n) - df + 0.5) / (df + 0.5)
        for n, df in zip(want["n"].to_pylist(), want["df"].to_pylist())
    ]
    got = np.array([bm25.strict_log(a) for a in args])
    assert np.array_equal(got.view(np.int64), want["x"].to_numpy().view(np.int64))
    assert sum(math.log(a) != x for a, x in zip(args, want["x"].to_pylist())) > 1000
