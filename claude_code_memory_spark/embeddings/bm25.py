"""BM25 sparse embedder: a driver-side fit and encoder over rows.

Reference semantics (embeddings/bm25.py): fit = tokenize → vocabulary →
document frequencies → robertson IDF log((N-df+0.5)/(df+0.5)) (:285-297);
encode = per-document sparse vector over the fitted vocabulary; query
vectors use IDF term weights (:259-304). k1=1.2, b=0.75 (:34-38).

The model is an Arrow vocabulary (term, df, idf, term_index) plus two
scalars (n_docs, avgdl), saved and loaded as two parquet files. `fit`
counts terms in one pass over the corpus rows; term_index is the term's
rank in sorted order. The idf is `strict_log`, a port of fdlibm's
``__ieee754_log``: the algorithm of Java's ``StrictMath.log``, which
Spark's ``log`` evaluates. Python's ``math.log`` differs from it in the
last bit for some (N, df) pairs, and a stored idf or sparse weight must
not depend on whether Spark or this module computed it.
"""

from __future__ import annotations

import math
import os
import re
import shutil
import struct
from collections import Counter, defaultdict
from collections.abc import Hashable, Iterable
from dataclasses import dataclass
from functools import cached_property

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

K1 = 1.2
B = 0.75
_NON_ALNUM = re.compile("[^a-z0-9]+")
VOCAB_SCHEMA = pa.schema([
    ("term", pa.string()), ("df", pa.int64()), ("idf", pa.float64()),
    ("term_index", pa.int32()),
])

# fdlibm e_log.c constants
_LN2_HI = 6.93147180369123816490e-01
_LN2_LO = 1.90821492927058770002e-10
_TWO54 = 1.80143985094819840000e16
_LG1, _LG2, _LG3, _LG4, _LG5, _LG6, _LG7 = (
    6.666666666666735130e-01, 3.999999999940941908e-01, 2.857142874366239149e-01,
    2.222219843214978396e-01, 1.818357216161805012e-01, 1.531383769920937332e-01,
    1.479819860511658591e-01,
)


def _bits(x: float) -> int:
    return struct.unpack("<q", struct.pack("<d", x))[0]


def strict_log(x: float) -> float:
    """Natural log, bit for bit Java's ``StrictMath.log`` (fdlibm
    ``__ieee754_log``): reduce x to 2^k * (1 + f) with sqrt(2)/2 < 1 + f
    < sqrt(2), then log(1 + f) from a minimax polynomial in s = f/(2+f).
    Python floats are IEEE doubles with no fused multiply-add, so each
    operation rounds as the C and Java code's does."""
    hx = _bits(x) >> 32  # signed high word
    lx = _bits(x) & 0xFFFFFFFF
    k = 0
    if hx < 0x00100000:  # x < 2**-1022
        if ((hx & 0x7FFFFFFF) | lx) == 0:
            return -math.inf
        if hx < 0:
            return math.nan
        k -= 54  # subnormal: scale up
        x *= _TWO54
        hx = _bits(x) >> 32
    if hx >= 0x7FF00000:
        return x + x
    k += (hx >> 20) - 1023
    hx &= 0x000FFFFF
    i = (hx + 0x95F64) & 0x100000
    hi = hx | (i ^ 0x3FF00000)  # normalize x or x/2
    x = struct.unpack("<d", struct.pack("<q", (hi << 32) | (_bits(x) & 0xFFFFFFFF)))[0]
    k += i >> 20
    f = x - 1.0
    if (0x000FFFFF & (2 + hx)) < 3:  # |f| < 2**-20
        if f == 0.0:
            if k == 0:
                return 0.0
            dk = float(k)
            return dk * _LN2_HI + dk * _LN2_LO
        r = f * f * (0.5 - 0.33333333333333333 * f)
        if k == 0:
            return f - r
        dk = float(k)
        return dk * _LN2_HI - ((r - dk * _LN2_LO) - f)
    s = f / (2.0 + f)
    dk = float(k)
    z = s * s
    i = hx - 0x6147A
    w = z * z
    j = 0x6B851 - hx
    t1 = w * (_LG2 + w * (_LG4 + w * _LG6))
    t2 = z * (_LG1 + w * (_LG3 + w * (_LG5 + w * _LG7)))
    i |= j
    r = t2 + t1
    if i > 0:
        hfsq = 0.5 * f * f
        if k == 0:
            return f - (hfsq - s * (hfsq + r))
        return dk * _LN2_HI - ((hfsq - (s * (hfsq + r) + dk * _LN2_LO)) - f)
    if k == 0:
        return f - s * (f - r)
    return dk * _LN2_HI - ((s * (f - r) - dk * _LN2_LO) - f)


def tokenize(text: str) -> list[str]:
    """X7: lowercase, split on non-alphanumerics, drop tokens of len <= 1
    (`functions/text.tokenize`; reference ``\\b[a-zA-Z0-9]+\\b`` + len>1
    filter, embeddings/bm25.py:163-175)."""
    return [t for t in _NON_ALNUM.split(text.lower()) if len(t) > 1]


def _write(table: pa.Table, path: str) -> None:
    """``table`` as the one part file of the parquet directory ``path``,
    replacing what was there."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


@dataclass
class BM25Model:
    vocab: pa.Table  # VOCAB_SCHEMA: term, df, idf, term_index
    n_docs: int
    avgdl: float
    spark: SparkSession | None = None
    path: str | None = None  # the directory the model was loaded from

    @cached_property
    def vocabulary(self) -> DataFrame:
        """The vocabulary as a Spark DataFrame (`query_terms`): a scan of
        the saved file for a loaded model."""
        if self.path is not None:
            return self.spark.read.parquet(f"{self.path}/vocabulary.parquet")
        return self.spark.createDataFrame(self.vocab)

    @cached_property
    def terms(self) -> dict[str, tuple[int, float]]:
        """term -> (term_index, idf)."""
        v = self.vocab
        return dict(
            zip(v["term"].to_pylist(), zip(v["term_index"].to_pylist(), v["idf"].to_pylist()))
        )

    def save(self, path: str) -> None:
        # model persistence ≈ reference's pickle cache (bm25.py:86-161)
        _write(self.vocab, f"{path}/vocabulary.parquet")
        _write(
            pa.table({
                "n_docs": pa.array([self.n_docs], pa.int64()),
                "avgdl": pa.array([self.avgdl], pa.float64()),
            }),
            f"{path}/stats.parquet",
        )

    @classmethod
    def load(cls, spark, path: str) -> "BM25Model":
        vocab = ds.dataset(
            f"{path}/vocabulary.parquet", schema=VOCAB_SCHEMA, format="parquet"
        ).to_table()
        stats = ds.dataset(f"{path}/stats.parquet", format="parquet").to_table().to_pylist()[0]
        return cls(vocab, int(stats["n_docs"]), float(stats["avgdl"]), spark, path)


def fit(spark: SparkSession, docs: Iterable[tuple[Hashable, str | None]]) -> BM25Model:
    """Corpus fit (A1) over (doc id, text) pairs: vocabulary, document
    frequencies and IDF.

    A NULL text is no document. n_docs counts the others; avgdl averages
    the lengths of those with at least one token; df counts the distinct
    ids holding a term; idf = strict_log((n_docs - df + 0.5) / (df + 0.5))
    in this operation order."""
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
    terms = sorted(df)
    counts = [df[t] for t in terms]
    vocab = pa.table(
        [
            pa.array(terms, pa.string()),
            pa.array(counts, pa.int64()),
            pa.array(
                [strict_log((float(n_docs) - d + 0.5) / (d + 0.5)) for d in counts],
                pa.float64(),
            ),
            pa.array(range(len(terms)), pa.int32()),
        ],
        schema=VOCAB_SCHEMA,
    )
    return BM25Model(vocab, n_docs, total / n_long if n_long else 0.0, spark)


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
