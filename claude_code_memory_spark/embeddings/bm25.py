"""BM25 sparse embedder as a DataFrame-native fit/transform pair.

Reference semantics (embeddings/bm25.py): fit = tokenize → vocabulary →
document frequencies → robertson IDF log((N-df+0.5)/(df+0.5)) (:285-297);
transform = per-document sparse vector over the fitted vocabulary; query
vectors use IDF term weights (:259-304). k1=1.2, b=0.75 (:34-38).

Spark-first: the "model" is a vocabulary DataFrame (term, term_index, idf)
plus two scalars (n_docs, avgdl) — fit is two aggregations, transform is
an explode + broadcast join + collect back to (indices, values) arrays.
At 100 TB the vocabulary table is still tiny (vocab ≪ corpus) and stays
broadcast; nothing here shuffles the corpus more than once.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from claude_code_memory_spark.functions.text import tokenize

K1 = 1.2
B = 0.75


@dataclass
class BM25Model:
    vocabulary: DataFrame  # term, term_index, df, idf
    n_docs: int
    avgdl: float

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


def fit(docs: DataFrame, *, id_col: str = "point_id", text_col: str = "content_bm25") -> BM25Model:
    """Corpus fit (A1): vocabulary + document frequencies + IDF.

    The two corpus scalars (n_docs, avgdl) ride ONE driver action over a
    single tokenize pass: per-doc lengths come from `size(tokenize(..))`
    without exploding, so the stats job never shuffles the corpus at all
    (map-side lengths → one 1-row aggregate). avgdl averages docs that
    produced ≥1 token — identical to the former groupBy-on-exploded-tokens
    formulation, at one job instead of two."""
    nonnull = docs.filter(F.col(text_col).isNotNull())
    dl = nonnull.select(F.size(tokenize(text_col)).alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n"), F.avg(F.when(F.col("dl") > 0, F.col("dl"))).alias("avgdl")
    ).collect()[0]
    n_docs, avgdl = int(stats["n"]), float(stats["avgdl"] or 0.0)
    toks = nonnull.select(id_col, F.explode(tokenize(text_col)).alias("term"))
    df_ = toks.distinct().groupBy("term").agg(F.count("*").alias("df"))
    vocab = df_.withColumn(
        "idf", F.log((F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5))
    )
    return BM25Model(vocabulary=_dense_term_index(vocab), n_docs=n_docs, avgdl=avgdl)


def _dense_term_index(vocab: DataFrame) -> DataFrame:
    """term_index = global rank of `term` in sorted order, assigned WITHOUT a
    single-partition window: range-partition by term, rank locally, then add
    per-partition offsets (a #partitions-sized table). The index is invariant
    to where the range boundaries land, so the result is deterministic even
    though the boundaries are sampled. A code-corpus vocabulary can reach
    10^7-10^8 terms at 100 TB; a global row_number() would sort all of it in
    one task."""
    v = vocab.repartitionByRange(F.col("term")).withColumn(
        "_pid", F.spark_partition_id()
    )
    w_local = Window.partitionBy("_pid").orderBy("term")
    v = v.withColumn("_local", F.row_number().over(w_local) - 1)
    counts = v.groupBy("_pid").agg(F.count("*").alias("_n"))
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = counts.withColumn("_off", F.coalesce(F.sum("_n").over(w_off), F.lit(0)))
    return (
        v.join(F.broadcast(offs.select("_pid", "_off")), "_pid")
        .withColumn("term_index", (F.col("_off") + F.col("_local")).cast("int"))
        .drop("_pid", "_local", "_off")
    )


def transform(
    model: BM25Model,
    docs: DataFrame,
    *,
    id_col: str = "point_id",
    text_col: str = "content_bm25",
) -> DataFrame:
    """Per-document sparse vectors: (id, sparse_indices, sparse_values).

    value(term) = idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))."""
    toks = docs.filter(F.col(text_col).isNotNull()).select(
        id_col, F.explode(tokenize(text_col)).alias("term")
    )
    dl = toks.groupBy(id_col).agg(F.count("*").alias("dl"))
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    # No broadcast hint on the vocabulary: usually tiny (AQE converts to
    # broadcast at runtime), but a forced hint would OOM on a 10^8-term
    # vocab — let AQE pick from runtime sizes.
    scored = (
        tf.join(model.vocabulary.select("term", "term_index", "idf"), "term")
        .join(dl, id_col)
        .withColumn(
            "w",
            F.col("idf")
            * (F.col("tf") * (K1 + 1))
            / (F.col("tf") + K1 * (1 - B + B * F.col("dl") / F.lit(model.avgdl))),
        )
    )
    packed = (
        scored.select(id_col, F.struct("term_index", "w").alias("p"))
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("p")).alias("ps"))
        .select(
            id_col,
            F.col("ps.term_index").alias("sparse_indices"),
            F.transform(F.col("ps.w"), lambda x: x.cast("float")).alias("sparse_values"),
        )
    )
    return packed


def query_tf(query: str) -> dict[str, int]:
    """Query term frequencies: lower-cased alphanumeric runs of two or
    more characters (the query side of reference bm25.py:259-304)."""
    import re
    from collections import Counter

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
