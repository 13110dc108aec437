"""BM25 sparse embedder: a driver-side fit and encoder over rows.

Reference semantics (embeddings/bm25.py): fit = tokenize → vocabulary →
document frequencies → robertson IDF log((N-df+0.5)/(df+0.5)) (:285-297);
encode = per-document sparse vector over the fitted vocabulary; query
vectors use IDF term weights (:259-304). k1=1.2, b=0.75 (:34-38).

The model is a vocabulary DataFrame (term, df, idf, term_index) plus two
scalars (n_docs, avgdl). `fit` counts terms in one pass over the corpus
rows; term_index is the term's rank in sorted order. The idf column is
Spark's ``log`` (Java ``StrictMath``), evaluated by the vocabulary
frame's own expression: Python's ``math.log`` differs from it in the
last bit for some (N, df) pairs, and a stored idf or sparse weight must
not depend on which side computed it. `BM25Model.terms` reads the
vocabulary back once; `encode` weights documents with it.
"""

from __future__ import annotations

import re
from collections import Counter, defaultdict
from collections.abc import Hashable, Iterable
from dataclasses import dataclass
from functools import cached_property

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

K1 = 1.2
B = 0.75
_NON_ALNUM = re.compile("[^a-z0-9]+")


def tokenize(text: str) -> list[str]:
    """X7: lowercase, split on non-alphanumerics, drop tokens of len <= 1
    (`functions/text.tokenize`; reference ``\\b[a-zA-Z0-9]+\\b`` + len>1
    filter, embeddings/bm25.py:163-175)."""
    return [t for t in _NON_ALNUM.split(text.lower()) if len(t) > 1]


@dataclass
class BM25Model:
    vocabulary: DataFrame  # term, df, idf, term_index
    n_docs: int
    avgdl: float

    @cached_property
    def terms(self) -> dict[str, tuple[int, float]]:
        """term -> (term_index, idf), read from the vocabulary once."""
        v = self.vocabulary.select("term", "term_index", "idf").toArrow()
        return dict(
            zip(v["term"].to_pylist(), zip(v["term_index"].to_pylist(), v["idf"].to_pylist()))
        )

    def save(self, path: str) -> None:
        # model persistence ≈ reference's pickle cache (bm25.py:86-161)
        self.vocabulary.write.mode("overwrite").parquet(f"{path}/vocabulary.parquet")
        spark = self.vocabulary.sparkSession
        spark.createDataFrame(
            [(self.n_docs, self.avgdl)], "n_docs long, avgdl double"
        ).write.mode("overwrite").parquet(f"{path}/stats.parquet")

    @classmethod
    def load(cls, spark, path: str) -> "BM25Model":
        vocab = spark.read.parquet(f"{path}/vocabulary.parquet")
        n_docs, avgdl = spark.read.parquet(f"{path}/stats.parquet").collect()[0]
        return cls(vocab, int(n_docs), float(avgdl))


def fit(spark: SparkSession, docs: Iterable[tuple[Hashable, str | None]]) -> BM25Model:
    """Corpus fit (A1) over (doc id, text) pairs: vocabulary, document
    frequencies and IDF.

    A NULL text is no document. n_docs counts the others; avgdl averages
    the lengths of those with at least one token; df counts the distinct
    ids holding a term."""
    n_docs, n_long, total = 0, 0, 0
    terms_of: dict = defaultdict(set)
    for key, text in docs:
        if text is None:
            continue
        toks = tokenize(text)
        n_docs += 1
        if toks:
            n_long += 1
            total += len(toks)
        terms_of[key].update(toks)
    df = Counter(t for ts in terms_of.values() for t in ts)
    vocab = spark.createDataFrame(
        [(t, df[t], i) for i, t in enumerate(sorted(df))],
        "term string, df long, term_index int",
    ).select(
        "term",
        "df",
        F.log((F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)).alias("idf"),
        "term_index",
    )
    return BM25Model(vocab, n_docs, total / n_long if n_long else 0.0)


def encode(
    model: BM25Model, docs: Iterable[tuple[Hashable, str | None]]
) -> dict[Hashable, tuple[list[int], list[float]]]:
    """Sparse vectors of (doc id, text) pairs: id -> (sparse_indices,
    sparse_values), term_index ascending, float32 values.

    value(term) = idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)), in
    this operation order. The texts of one id are one document (dl and
    tf sum over them); NULL texts are skipped, and an id with no
    in-vocabulary term has no vector."""
    toks_of: dict = defaultdict(list)
    for key, text in docs:
        if text is not None:
            toks_of[key].extend(tokenize(text))
    terms, avgdl = model.terms, model.avgdl
    out = {}
    for key, toks in toks_of.items():
        dl = len(toks)
        scored = sorted(
            (terms[t][0], terms[t][1] * (tf * (K1 + 1)) / (tf + K1 * (1 - B + B * dl / avgdl)))
            for t, tf in Counter(toks).items()
            if t in terms
        )
        if scored:
            out[key] = (
                [i for i, _ in scored],
                np.array([w for _, w in scored], dtype=np.float32).tolist(),
            )
    return out


def query_tf(query: str) -> dict[str, int]:
    """Query term frequencies: lower-cased alphanumeric runs of two or
    more characters (the query side of reference bm25.py:259-304)."""
    return Counter(t for t in re.findall(r"[a-z0-9]+", query.lower()) if len(t) > 1)


def query_terms(model: BM25Model, query: str) -> DataFrame:
    """Query sparse vector as a (term_index, term_weight) DF — IDF weights
    (reference bm25.py:259-304)."""
    spark = model.vocabulary.sparkSession
    tf = query_tf(query)
    if not tf:
        return spark.createDataFrame([], "term_index int, term_weight double")
    tfq = spark.createDataFrame(list(tf.items()), "term string, qtf long")
    return tfq.join(model.vocabulary, "term").select(
        "term_index", (F.col("idf") * F.col("qtf")).alias("term_weight")
    )
