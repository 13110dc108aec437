"""In-process serving: `search`, `read_graph` and `get_implementation`
answered from one Arrow/numpy snapshot of an engine's store.

At code-memory scale the whole store is a few MB (8.7k chunks ≈ 5 MB), so
a request planned as Spark jobs pays the scheduling floor several times
over for microseconds of arithmetic. The engine instead holds its tables
in the driver and scores every request there, reusing that state across
the requests of a session — the reference likewise answers from Qdrant's
resident index (storage/qdrant.py), and *Incremental Based Framework for
Efficient Top-K Similarity Search in Interactive Data Analysis Sessions*
(EDBT 2020) reuses session state across top-k queries the same way.

A `Snapshot` is immutable: part name -> (source, value). A table is keyed
on `TableStore.manifest_key` and the BM25 vocabulary on the model, so a
write, an append or a refit invalidates exactly the parts it touched, and
the next request that needs one reloads it (`refresh`). The keyword
postings are a per-row function of `vectors` and are built with it: no
index lives beside the table store.

A request returns a `Result`: a Spark DataFrame whose ``collect()`` reads
the answer's Arrow rows in the driver, so a search answered and collected
makes no JVM call at all; any other DataFrame method builds the Spark plan
first.

Scores equal the Spark operators' (`operators/topk.py`) bit for bit:
float64 sums folded left to right as `functions/vector.dot` folds them,
Spark's ``round(x, 6)`` (HALF_UP on the double's shortest decimal form),
ties broken on point_id ascending.
"""

from __future__ import annotations

import math
from collections.abc import Callable
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Row
from pyspark.sql.classic.dataframe import DataFrame as SparkFrame
from pyspark.sql.types import _create_row

from claude_code_memory_spark import schemas
from claude_code_memory_spark.embeddings.bm25 import query_tf
from claude_code_memory_spark.operators.topk import (
    RRF_K,
    mmr_select,
    overfetch_limit,
)

PAYLOAD = ("entity_name", "chunk_type", "file_path", "line_number", "content")
_SCHEMAS = {
    "vectors": schemas.VECTORS,
    "chunks": schemas.CHUNKS,
    "relations": schemas.RELATIONS,
    "entities": schemas.ENTITIES,
}


class Snapshot:
    """Part name -> (source, value). Never mutated: `refresh` builds a new
    one, which the engine swaps in with one assignment."""

    def __init__(self, parts: dict | None = None):
        self.parts = dict(parts or {})

    def __getitem__(self, name: str):
        return self.parts[name][1]


def refresh(snap: Snapshot, need: dict[str, tuple[object, Callable]]) -> Snapshot:
    """``snap`` if every needed part is loaded from its current source;
    otherwise a new Snapshot with the stale parts reloaded. ``need`` maps
    a part name to (current source, loader)."""
    stale = {
        name: load
        for name, (src, load) in need.items()
        if name not in snap.parts or snap.parts[name][0] != src
    }
    if not stale:
        return snap
    parts = dict(snap.parts)
    for name, load in stale.items():
        parts[name] = (need[name][0], load())
    return Snapshot(parts)


def load_table(name: str, table: pa.Table | None):
    """A store table's rows (`TableStore.read_arrow`; an empty table of
    the declared schema when the collection never wrote it); vectors and
    chunks get their serving indexes."""
    if table is None:
        from pyspark.sql.pandas.types import to_arrow_schema

        table = to_arrow_schema(_SCHEMAS[name]).empty_table()
    table = table.combine_chunks()
    if name == "vectors":
        return Vectors(table)
    if name == "chunks":
        return Chunks(table)
    return table


class Result(SparkFrame):
    """A request's answer: a Spark DataFrame over an Arrow table held in
    the driver. ``collect()`` builds the rows from the table; for the
    column types an answer has (strings, integers, doubles, booleans,
    lists of strings) those are the values Spark's collect returns. Every
    other DataFrame method runs on ``spark.createDataFrame(table)``,
    planned on its first use. A collected answer thus costs no JVM round
    trip, whose latency would depend on how warm the JVM is."""

    # SparkFrame.__new__ takes (jdf, session) and runs __init__ itself
    def __new__(cls, spark, table: pa.Table):
        return object.__new__(cls)

    # state goes through __dict__: DataFrame.__getattr__ reads a missing
    # attribute as a column, which would plan the frame
    def __init__(self, spark, table: pa.Table):
        self.__dict__["_table"] = table
        super().__init__(None, spark)

    @property
    def _jdf(self):
        if self.__dict__["_plan"] is None:
            self.__dict__["_plan"] = self._session.createDataFrame(self._table)._jdf
        return self.__dict__["_plan"]

    @_jdf.setter
    def _jdf(self, jdf) -> None:
        self.__dict__["_plan"] = jdf

    def collect(self) -> list[Row]:
        # the Row constructor Spark's own collect uses
        names = self._table.column_names
        columns = (c.to_pylist() for c in self._table.columns)
        return [_create_row(names, r) for r in zip(*columns)]


def _bools(arr) -> np.ndarray:
    """An Arrow boolean result as numpy, null (Spark's unknown) as False."""
    return pc.fill_null(arr, False).to_numpy(zero_copy_only=False)


class Vectors:
    """Point ids, filter columns, the dense matrix, one column per point
    (``cols[d]`` is dimension d of every point, so a dot product folds
    over the dimensions in order), and the keyword postings."""

    def __init__(self, table: pa.Table):
        self.ids = table["point_id"].to_numpy()
        self.entity_type = table["entity_type"]
        self.chunk_type = table["chunk_type"]
        flat = table["dense"].combine_chunks().flatten().to_numpy(zero_copy_only=False)
        n = len(self.ids)
        self.cols = np.ascontiguousarray(
            flat.astype(np.float64).reshape(n, -1 if n else 0).T
        )
        sq = np.zeros(n)
        for c in self.cols:
            sq += c * c
        self.norms = np.sqrt(sq)
        self.postings = Postings(table)

    def mask(self, entity_types, chunk_type) -> np.ndarray | None:
        """Rows passing the payload filters; None when there are none."""
        keep = None
        if entity_types:
            keep = _bools(pc.is_in(self.entity_type, pa.array(entity_types, pa.string())))
        if chunk_type:
            eq = _bools(pc.equal(self.chunk_type, chunk_type))
            keep = eq if keep is None else keep & eq
        return keep

    def cosine(self, rows: np.ndarray | None, q: list[float]) -> np.ndarray:
        """`functions/vector.cosine_similarity` of ``rows`` (None: all)
        against the query: dot / (|row| * |q|), each sum folded in order."""
        cols = self.cols if rows is None else self.cols[:, rows]
        dot = np.zeros(cols.shape[1])
        for c, x in zip(cols, q):
            dot += c * x
        qsq = 0.0
        for x in q:
            qsq += x * x
        norms = self.norms if rows is None else self.norms[rows]
        with np.errstate(divide="ignore", invalid="ignore"):
            return dot / (norms * math.sqrt(qsq))


class Chunks:
    """The chunks table, its rows ordered by point_id for the payload
    join, and its implementation rows for `get_implementation`."""

    def __init__(self, table: pa.Table):
        self.table = table
        ids = table["point_id"].to_numpy()
        self.order = np.argsort(ids, kind="stable")
        self.sorted_ids = ids[self.order]
        self.payload = table.select(list(PAYLOAD))
        self.impl = table.filter(pc.equal(table["chunk_type"], "implementation"))

    def attach(self, result: pa.Table) -> pa.Table:
        """``result`` LEFT JOIN the payload columns on point_id: a point
        with two chunk rows gives two rows, one with none gets nulls."""
        ids = result["point_id"].to_numpy()
        lo = np.searchsorted(self.sorted_ids, ids, "left")
        hi = np.searchsorted(self.sorted_ids, ids, "right")
        per = np.maximum(hi - lo, 1)
        starts = np.cumsum(per) - per
        src = np.repeat(lo, per) + np.arange(per.sum()) - np.repeat(starts, per)
        found = np.repeat(hi > lo, per)
        idx = np.full(len(src), -1)
        idx[found] = self.order[src[found]]
        payload = self.payload.take(pa.array(idx, mask=idx < 0))
        rows = result.take(np.repeat(np.arange(len(ids)), per))
        return pa.Table.from_arrays(
            rows.columns + payload.columns, names=rows.column_names + payload.column_names
        )


class Postings:
    """The rows `operators/topk.build_postings` explodes from the vectors
    table — (term_index, point_id, weight) of every row with sparse
    indices, a point held by two rows posting both — as CSR over
    term_index."""

    def __init__(self, table: pa.Table):
        indices = table["sparse_indices"].combine_chunks()
        per = pc.fill_null(pc.list_value_length(indices), 0).to_numpy()
        terms = indices.flatten().to_numpy()
        order = np.argsort(terms, kind="stable")
        self.terms = terms[order]
        ids = np.repeat(table["point_id"].to_numpy(), per)[order]
        self.ids, self.doc = np.unique(ids, return_inverse=True)
        weights = table["sparse_values"].combine_chunks().flatten().to_numpy()
        self.weights = weights[order].astype(np.float64)

    def score(self, vocab: dict, query: str) -> tuple[np.ndarray, np.ndarray]:
        """(point ids, scores) of the points with a posting for a query
        term: sum of weight * idf * qtf over the query's terms in
        term_index order — the per-point fold of `sparse_topk`. ``vocab``
        is the BM25 model's term -> (term_index, idf)."""
        weighted = sorted(
            (vocab[t][0], vocab[t][1] * qtf) for t, qtf in query_tf(query).items() if t in vocab
        )
        scores = np.zeros(len(self.ids))
        hit = np.zeros(len(self.ids), dtype=bool)
        for term, w in weighted:
            lo, hi = np.searchsorted(self.terms, [term, term + 1])
            docs = self.doc[lo:hi]
            np.add.at(scores, docs, self.weights[lo:hi] * w)
            hit[docs] = True
        found = np.flatnonzero(hit)
        return self.ids[found], scores[found]


_MICRO = Decimal("0.000001")
# np.round lands within 1e-6 of Spark's rounding; this slack keeps every
# row that could rank once rounded exactly
_SLACK = 3e-6


def round6(x: np.ndarray) -> np.ndarray:
    """Spark's ``round(x, 6)`` on doubles: HALF_UP on the shortest decimal
    form (``BigDecimal.valueOf``); never a negative zero."""
    return (
        np.array(
            [float(Decimal(repr(v)).quantize(_MICRO, ROUND_HALF_UP)) for v in x.tolist()],
            dtype=np.float64,
        )
        + 0.0
    )


def top(
    ids: np.ndarray, scores: np.ndarray, k: int, threshold: float | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """Positions of the best ``k`` in the Spark operators' order —
    ``round(score, 6)`` descending, then id ascending — with their rounded
    scores. ``threshold`` keeps rounded scores >= it, as the operators'
    filter after rounding does. NaN scores (Spark nulls) never rank."""
    live = np.flatnonzero(~np.isnan(scores))
    if k <= 0 or len(live) == 0:
        return live[:0], np.zeros(0)
    approx = np.round(scores[live], 6)
    if threshold is not None:
        keep = approx >= threshold - _SLACK
        live, approx = live[keep], approx[keep]
    if k < len(live):
        kth = np.partition(approx, len(live) - k)[len(live) - k]
        live = live[approx >= kth - _SLACK]
    rounded = round6(scores[live])
    if threshold is not None:
        keep = rounded >= threshold
        live, rounded = live[keep], rounded[keep]
    order = np.lexsort((ids[live], -rounded))[:k]
    return live[order], rounded[order]


def rrf(dense_ids, sparse_ids, k: int, alpha: float, rrf_k: int = RRF_K) -> pa.Table:
    """`operators/topk.rrf_fuse` of two ranked id lists: a full outer join
    on id, alpha/(rrf_k + dense_rank) + (1 - alpha)/(rrf_k + sparse_rank),
    a missing rank adding 0."""
    ranks: tuple[dict, dict] = ({}, {})
    for side, ids in zip(ranks, (dense_ids.tolist(), sparse_ids.tolist())):
        for r, i in enumerate(ids, 1):
            side.setdefault(i, []).append(r)
    rows = [
        (i, d, s)
        for i in dict.fromkeys(dense_ids.tolist() + sparse_ids.tolist())
        for d in ranks[0].get(i, [None])
        for s in ranks[1].get(i, [None])
    ]
    raw = np.array(
        [
            (alpha / (rrf_k + d) if d is not None else 0.0)
            + ((1.0 - alpha) / (rrf_k + s) if s is not None else 0.0)
            for _, d, s in rows
        ]
    )
    pos, score = top(np.array([r[0] for r in rows], dtype=np.int64), raw, k)
    return pa.table(
        {
            "point_id": pa.array([rows[p][0] for p in pos], pa.int64()),
            "dense_rank": pa.array([rows[p][1] for p in pos], pa.int32()),
            "sparse_rank": pa.array([rows[p][2] for p in pos], pa.int32()),
            "rrf_score": pa.array(score, pa.float64()),
        }
    )


def search(
    snap: Snapshot,
    query: str,
    qvec: list[float],
    *,
    mode: str,
    k: int,
    entity_types,
    chunk_type,
    score_threshold: float,
    alpha: float,
    mmr: bool,
    mmr_lambda: float,
    mmr_fetch: int,
) -> pa.Table:
    """One search over the snapshot; the payload columns attached. The
    dense side scans every row that passes the filters; the keyword side
    scores the postings with the snapshot's ``vocab`` part."""
    vec = snap["vectors"]
    keep = vec.mask(entity_types, chunk_type)
    rows = None if keep is None else np.flatnonzero(keep)
    # hybrid ranks unthresholded lists; semantic filters rounded scores
    # (dense_topk keeps score >= threshold: the default 0.0 drops
    # negative cosines)
    threshold = None if mode == "hybrid" else score_threshold

    def dense(limit: int) -> tuple[np.ndarray, np.ndarray]:
        ids = vec.ids if rows is None else vec.ids[rows]
        pos, score = top(ids, vec.cosine(rows, qvec), limit, threshold)
        return (pos if rows is None else rows[pos]), score

    def sparse(limit: int) -> tuple[np.ndarray, np.ndarray]:
        ids, raw = vec.postings.score(snap["vocab"], query)
        if keep is not None:
            inside = np.isin(ids, vec.ids[keep])
            ids, raw = ids[inside], raw[inside]
        pos, score = top(ids, raw, limit)
        return ids[pos], score

    if mode == "hybrid":
        fetch = overfetch_limit(k)
        result = rrf(vec.ids[dense(fetch)[0]], sparse(fetch)[0], k, alpha)
    elif mode == "keyword":
        ids, score = sparse(k)
        result = pa.table({"point_id": pa.array(ids, pa.int64()), "score": score})
    elif mmr:
        picked, score = dense(mmr_fetch)
        ids = vec.ids[picked]
        order = mmr_select(ids, score, vec.cols[:, picked].T, k, mmr_lambda)
        result = pa.table(
            {
                "point_id": pa.array(ids[order], pa.int64()),
                "score": pa.array(score[order], pa.float64()),
                "mmr_rank": pa.array(np.arange(1, len(order) + 1), pa.int32()),
            }
        )
    else:
        picked, score = dense(k)
        result = pa.table({"point_id": pa.array(vec.ids[picked], pa.int64()), "score": score})
    return snap["chunks"].attach(result)


def distinct(table: pa.Table) -> pa.Table:
    """The first occurrence of each distinct row, in table order."""
    first: dict[tuple, int] = {}
    for i, row in enumerate(zip(*(c.to_pylist() for c in table.columns))):
        first.setdefault(row, i)
    return table.take(pa.array(list(first.values()), pa.int64()))


def read_graph(
    rel: pa.Table, ents: pa.Table, entity: str, *, mode: str, limit: int, entity_types
) -> pa.Table:
    """`CodeMemoryEngine.read_graph` over the snapshot's relations and
    entities (modes documented there)."""
    frm, to = rel["from_entity"], rel["to_entity"]
    out = _bools(pc.equal(frm, entity))
    direct = np.flatnonzero(out | _bools(pc.equal(to, entity)))
    neighbor = pc.if_else(pa.array(out[direct]), to.take(direct), frm.take(direct))
    if entity_types:
        wanted = ents.filter(
            pc.is_in(ents["entity_type"], pa.array(entity_types, pa.string()))
        )["entity_name"]
        hit = _bools(pc.is_in(neighbor, wanted.combine_chunks()))
        direct, neighbor = direct[hit], neighbor.filter(pa.array(hit))

    if mode == "relationships":
        return rel.take(direct[:limit])
    if mode == "entities":
        named = pc.is_in(ents["entity_name"], pc.unique(neighbor))
        return ents.filter(named).slice(0, limit)
    if mode == "smart":
        groups: dict[tuple, list] = {}
        for rtype, is_out, nb in zip(
            rel["relation_type"].take(direct).to_pylist(),
            out[direct].tolist(),
            neighbor.to_pylist(),
        ):
            g = groups.setdefault((rtype, "out" if is_out else "in"), [0, set()])
            g[0] += 1
            if nb is not None:
                g[1].add(nb)
        ranked = sorted(groups.items(), key=lambda kv: (-kv[1][0], *kv[0]))[:limit]
        return pa.table(
            {
                "relation_type": pa.array([g[0] for g, _ in ranked], pa.string()),
                "direction": pa.array([g[1] for g, _ in ranked], pa.string()),
                "n": pa.array([v[0] for _, v in ranked], pa.int64()),
                "sample": pa.array(
                    [sorted(v[1])[:5] for _, v in ranked],
                    pa.list_(pa.field("element", pa.string(), nullable=False)),
                ),
            }
        )
    # raw / bfs2: every edge touching the neighborhood (the direct edges
    # are among them: both of their endpoints are in the frontier)
    frontier = pc.unique(pa.chunked_array(frm.take(direct).chunks + to.take(direct).chunks, frm.type))
    hop = _bools(pc.is_in(frm, frontier)) | _bools(pc.is_in(to, frontier))
    return distinct(rel.take(np.flatnonzero(hop))).slice(0, limit)


def get_implementation(impl: pa.Table, rel: pa.Table, name: str, scope: str) -> pa.Table:
    """`CodeMemoryEngine.get_implementation` over the snapshot's
    implementation chunks and relations (scopes documented there)."""
    own = impl.filter(pc.equal(impl["entity_name"], name))
    if scope == "minimal":
        return own
    if scope == "logical":
        contains = rel.filter(pc.equal(rel["relation_type"], "contains"))
        parents = contains.filter(pc.equal(contains["to_entity"], name))["from_entity"]
        group = contains.filter(
            pc.is_in(contains["from_entity"], parents.combine_chunks())
        )["to_entity"]
    else:
        calls = rel.filter(pc.equal(rel["relation_type"], "calls"))
        group = calls.filter(pc.equal(calls["from_entity"], name))["to_entity"]
    members = impl.filter(pc.is_in(impl["entity_name"], group.combine_chunks()))
    return distinct(pa.concat_tables([own, members]))
