"""Top-k vector search: dense, sparse (BM25), and hybrid RRF fusion.

Reference semantics:
- T1 dense semantic top-k        storage/qdrant.py:827-886
- T2 sparse keyword top-k        storage/qdrant.py:767-780
- T3/J1 hybrid RRF fusion        storage/qdrant.py:888-1044
  score = alpha * 1/(k + dense_rank) + (1-alpha) * 1/(k + sparse_rank),
  k=60, alpha=0.5, 3x over-fetch (min 50), missing rank contributes 0.
- W3 multi-type result merge     cli_full.py:1010-1027

Scale notes: the scoring pass is a pure map (no shuffle); ``orderBy(desc)
.limit(k)`` compiles to TakeOrderedAndProject — each partition keeps a
k-heap, the driver merges 'num_partitions * k' rows. That plan survives
1000 executors unchanged. Ranks for RRF use a single-partition window over
only the over-fetched candidates (<= 3k rows), not the corpus.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from claude_code_memory_spark.functions.vector import cosine_similarity, dot, vector_lit

RRF_K = 60  # reference storage/qdrant.py:898
RRF_ALPHA = 0.5  # reference storage/qdrant.py:911
OVERFETCH = 3  # reference storage/qdrant.py:921
OVERFETCH_MIN = 50


def dense_topk(
    vectors: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    *,
    id_col: str = "point_id",
    vec_col: str = "vector",
    score_threshold: float | None = None,
    filters: dict[str, object] | None = None,
    metric: str = "cosine",
    extra_cols: Sequence[str] = (),
) -> DataFrame:
    """T1: score every vector against the query, filter, take top-k.

    Filters are applied BEFORE scoring (payload filter pushdown — Catalyst
    pushes the equality predicates into the parquet scan, so a filtered
    search reads only matching row groups)."""
    df = vectors
    for field, value in (filters or {}).items():
        df = df.filter(F.col(field) == F.lit(value))
    q = vector_lit(query_vec)
    if metric == "cosine":
        score: Column = cosine_similarity(F.col(vec_col), q)
    elif metric == "dot":
        score = dot(F.col(vec_col), q)
    else:
        raise ValueError(f"unknown metric: {metric}")
    scored = df.select(id_col, *extra_cols, F.round(score, 6).alias("score"))
    if score_threshold is not None:
        scored = scored.filter(F.col("score") >= score_threshold)
    # Deterministic tie-break on id so results are oracle-reproducible.
    return scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def sparse_topk(
    chunks: DataFrame,
    query_terms: DataFrame,
    k: int = 10,
    *,
    id_col: str = "point_id",
    indices_col: str = "sparse_indices",
    values_col: str = "sparse_values",
) -> DataFrame:
    """T2: sparse dot-product top-k via inverted-index join.

    ``query_terms`` is a tiny DF (term_index, term_weight) — broadcast it;
    the stored sparse vectors are exploded once and joined on term index.
    This is the scalable formulation: cost ∝ postings touched, not corpus
    size."""
    exploded = chunks.select(
        id_col,
        F.explode(F.arrays_zip(F.col(indices_col), F.col(values_col))).alias("t"),
    ).select(id_col, F.col(f"t.{indices_col}").alias("ti"), F.col(f"t.{values_col}").alias("tv"))
    joined = exploded.join(F.broadcast(query_terms), exploded.ti == query_terms.term_index)
    scored = joined.groupBy(id_col).agg(
        F.round(F.sum(F.col("tv") * F.col("term_weight")), 6).alias("score")
    )
    return scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def build_postings(
    chunks: DataFrame,
    *,
    id_col: str = "point_id",
    indices_col: str = "sparse_indices",
    values_col: str = "sparse_values",
) -> DataFrame:
    """Materialized inverted index: (term_index, point_id, weight).

    `sparse_topk` explodes the stored sparse vectors on every query —
    fine for one-off scans, wrong for a query-serving corpus. Exploding
    ONCE into a postings table, clustered on term_index, turns a
    query into a term_index-IN-list scan whose cost follows the
    touched postings lists, not the corpus — the inverted-index
    property that makes keyword search sublinear, same reason Qdrant
    keeps a sparse index structure (storage/qdrant.py:228-239)."""
    return chunks.select(
        id_col,
        F.explode(F.arrays_zip(F.col(indices_col), F.col(values_col))).alias("t"),
    ).select(
        F.col(f"t.{indices_col}").alias("term_index"),
        id_col,
        F.col(f"t.{values_col}").alias("weight"),
    )


def sparse_topk_postings(
    postings: DataFrame,
    query_terms: DataFrame,
    k: int = 10,
    *,
    id_col: str = "point_id",
) -> DataFrame:
    """T2 over a materialized postings table. The IN-list predicate on
    term_index is a plain pushable filter (reaches the parquet scan of a
    clustered postings table); the broadcast join contributes the
    per-term query weights. Result is identical to `sparse_topk`."""
    terms = [r["term_index"] for r in query_terms.select("term_index").collect()]
    if not terms:
        return (
            postings.sparkSession.createDataFrame([], f"{id_col} long, score double")
        )
    hits = postings.filter(F.col("term_index").isin(terms)).join(
        F.broadcast(query_terms), "term_index"
    )
    scored = hits.groupBy(id_col).agg(
        F.round(F.sum(F.col("weight") * F.col("term_weight")), 6).alias("score")
    )
    return scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def rrf_fuse(
    dense: DataFrame,
    sparse: DataFrame,
    k: int = 10,
    *,
    id_col: str = "point_id",
    alpha: float = RRF_ALPHA,
    rrf_k: int = RRF_K,
) -> DataFrame:
    """J1/T3: reciprocal-rank fusion of two ranked lists.

    Full-outer join on id; a list missing an id contributes 0 to the fused
    score (reference fusion loop storage/qdrant.py:973-1044). Inputs are
    the over-fetched top-(3k) candidate lists, so the single-partition
    rank windows below touch at most a few hundred rows."""
    w_d = Window.orderBy(F.desc("score"), F.asc(id_col))
    d = dense.select(id_col, "score").withColumn("dense_rank", F.row_number().over(w_d))
    s = sparse.select(id_col, "score").withColumn("sparse_rank", F.row_number().over(w_d))
    fused = d.select(id_col, "dense_rank").join(
        s.select(id_col, "sparse_rank"), on=id_col, how="full_outer"
    )
    dense_part = F.when(
        F.col("dense_rank").isNotNull(), F.lit(alpha) / (F.lit(rrf_k) + F.col("dense_rank"))
    ).otherwise(F.lit(0.0))
    sparse_part = F.when(
        F.col("sparse_rank").isNotNull(),
        F.lit(1.0 - alpha) / (F.lit(rrf_k) + F.col("sparse_rank")),
    ).otherwise(F.lit(0.0))
    return (
        fused.withColumn("rrf_score", F.round(dense_part + sparse_part, 6))
        .orderBy(F.desc("rrf_score"), F.asc(id_col))
        .limit(k)
    )


def overfetch_limit(k: int) -> int:
    """Reference over-fetch rule: max(3*k, 50) candidates per modality."""
    return max(OVERFETCH * k, OVERFETCH_MIN)


def merge_ranked(results: Sequence[DataFrame], k: int, order_col: str = "score") -> DataFrame:
    """W3: union N per-type result sets, re-sort by score, truncate."""
    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r, allowMissingColumns=True)
    return out.orderBy(F.desc(order_col)).limit(k)


def mmr_rerank(
    candidates: DataFrame,
    k: int = 10,
    lam: float = 0.5,
    *,
    id_col: str = "point_id",
    vec_col: str = "vector",
    score_col: str = "score",
) -> DataFrame:
    """Maximal Marginal Relevance diversity rerank (Carbonell & Goldstein
    1998) over a BOUNDED candidate set.

    Greedy selection is inherently sequential, so it runs driver-side on
    the collected candidates — the same boundedness contract as result
    display: callers pass an over-fetched top-m (m in the tens), never a
    corpus. Step ``i`` picks argmax of
    ``lam * relevance - (1 - lam) * max_cosine_to_selected``; ties break
    on lower id. ``lam=1`` reproduces pure relevance order; ``lam=0`` is
    pure diversity.

    Returns (id, score, mmr_rank 1..k) as a DataFrame. Reference parity:
    serving-path rerank hooks over HNSW results (storage/qdrant.py search
    surface) — diversity reranking is the standard retrieval add-on the
    reference leaves to the caller.
    """
    from pyspark.sql.types import IntegerType, StructField, StructType

    # output schema derives from the INPUT id/score types, so string or
    # int ids round-trip instead of being coerced to long
    in_schema = {f.name: f for f in candidates.schema.fields}
    out_schema = StructType(
        [
            in_schema[id_col],
            in_schema[score_col],
            StructField("mmr_rank", IntegerType(), False),
        ]
    )
    rows = candidates.select(id_col, score_col, vec_col).collect()
    if not rows:
        return candidates.sparkSession.createDataFrame([], out_schema)
    ids = [r[id_col] for r in rows]
    if any(i is None for i in ids):
        raise ValueError("mmr_rerank: candidate ids must be non-null")
    rel = np.array([float(r[score_col]) for r in rows])
    vecs = np.array([[float(x) for x in r[vec_col]] for r in rows])
    out = [
        (ids[i], float(rel[i]), rank + 1)
        for rank, i in enumerate(mmr_select(ids, rel, vecs, k, lam))
    ]
    return candidates.sparkSession.createDataFrame(out, out_schema)


def mmr_select(
    ids: Sequence, rel: np.ndarray, vecs: np.ndarray, k: int, lam: float
) -> list[int]:
    """Greedy MMR order over in-memory candidates: positions into ``ids``.

    Step ``i`` picks argmax of ``lam * rel - (1 - lam) * penalty``, where
    the penalty is the largest cosine to an already selected candidate
    (0 before the first pick); ties go to the lower id in the id's own
    ordering (ints and strings alike). Dot products and norms are summed
    left to right over the dimensions in float64, a zero norm counts as
    1, so a result does not depend on which caller computed it."""
    m = len(ids)
    if m == 0 or k <= 0:
        return []
    vecs = np.asarray(vecs, dtype=np.float64).reshape(m, -1)
    cols = vecs.T  # one row per dimension: sequential accumulation
    sq = np.zeros(m)
    for c in cols:
        sq += c * c
    norms = np.sqrt(sq)
    norms[norms == 0.0] = 1.0
    penalty = np.zeros(m)
    remaining = np.ones(m, dtype=bool)
    selected: list[int] = []
    while len(selected) < min(k, m):
        marginal = lam * rel - (1.0 - lam) * penalty
        live = np.flatnonzero(remaining)
        best_val = marginal[live].max()
        best = min(live[marginal[live] == best_val], key=lambda i: ids[i])
        selected.append(int(best))
        remaining[best] = False
        dots = np.zeros(m)
        for c in cols:
            dots += c * c[best]
        cos = dots / (norms * norms[best])
        penalty = cos if len(selected) == 1 else np.maximum(penalty, cos)
    return selected
