"""BM25 fit/transform and hash embedder determinism."""

import numpy as np
from pyspark.sql import functions as F

from claude_code_memory_spark.embeddings import bm25
from claude_code_memory_spark.embeddings.hash_embedder import embed_text, hash_embedder_udf


def _corpus(spark):
    return spark.createDataFrame(
        [
            (1, "spark joins data"),
            (2, "spark filters data quickly"),
            (3, "pandas eats bamboo"),
        ],
        "point_id long, content_bm25 string",
    )


def test_bm25_fit_transform(spark):
    model = bm25.fit(_corpus(spark))
    assert model.n_docs == 3
    vocab = {r["term"]: r for r in model.vocabulary.collect()}
    assert vocab["spark"]["df"] == 2 and vocab["bamboo"]["df"] == 1
    # robertson idf: log((3-2+0.5)/(2+0.5)) < 0 < log((3-1+0.5)/(1+0.5))
    assert vocab["spark"]["idf"] < 0 < vocab["bamboo"]["idf"]

    sparse = bm25.transform(model, _corpus(spark)).collect()
    by_id = {r["point_id"]: r for r in sparse}
    assert len(by_id[1]["sparse_indices"]) == 3
    assert by_id[1]["sparse_indices"] == sorted(by_id[1]["sparse_indices"])


def test_bm25_query_terms(spark):
    model = bm25.fit(_corpus(spark))
    q = bm25.query_terms(model, "spark bamboo unknownterm").collect()
    assert len(q) == 2  # unknownterm not in vocabulary


def test_bm25_model_save_load(spark, tmp_path):
    model = bm25.fit(_corpus(spark))
    model.save(str(tmp_path / "bm25"))
    loaded = bm25.BM25Model.load(spark, str(tmp_path / "bm25"))
    assert loaded.n_docs == model.n_docs and abs(loaded.avgdl - model.avgdl) < 1e-9


def test_hash_embedder_deterministic(spark):
    df = spark.createDataFrame([("alpha",), ("alpha",), ("beta",)], "content string")
    vecs = df.select(hash_embedder_udf(16)(F.col("content")).alias("v")).collect()
    assert vecs[0]["v"] == vecs[1]["v"] != vecs[2]["v"]
    # matches the driver-side embedding used for query vectors
    assert np.allclose(vecs[0]["v"], embed_text("alpha", 16), atol=1e-6)
    assert abs(np.linalg.norm(vecs[0]["v"]) - 1.0) < 1e-5
