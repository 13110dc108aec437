"""CodeMemoryEngine — the public façade: index / search / read_graph /
get_implementation (the reference's CoreIndexer + MCP surface, T6/T7).

Reference entry points:
- CoreIndexer.index / incremental mode detection  indexer.py:110-134, 374-393
- CoreIndexer.search_similar                      indexer.py:741-792
- MCP: search_similar(query, entityTypes, limit, searchMode),
       read_graph(entity, mode, limit),
       get_implementation(entityName, scope)      README.md:306-323
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from claude_code_memory_spark import serving
from claude_code_memory_spark.embeddings import bm25 as bm25_mod
from claude_code_memory_spark.embeddings.hash_embedder import (
    DEFAULT_DIM,
    embed_text,
    embed_vector,
)
from claude_code_memory_spark.operators.joins import (
    invalid_relation_keys,
    rel_key,
    relations_in_scope,
    unresolved_call,
)
from claude_code_memory_spark.operators.resolve import resolve_calls
from claude_code_memory_spark.plans.chunks import (
    entity_metadata_chunks,
    implementation_chunks,
    memory_chunk,
    relation_chunks,
)
from claude_code_memory_spark.plans.incremental import (
    TableStore,
    TombstoneSource,
    merge_replace_by_file,
)
from claude_code_memory_spark.sources.files import diff_files, file_state, scan_project
from claude_code_memory_spark.sources.python_parser import (
    import_bindings,
    return_bindings,
    split_parsed,
    type_bindings,
)
from claude_code_memory_spark.sources.registry import parse_rows

_S, _I = pa.string(), pa.int32()
# the tables index() writes from rows: column order and types
TABLE_SCHEMAS = {
    "entities": pa.schema([
        ("entity_name", _S), ("entity_type", _S), ("file_path", _S),
        ("line_number", _I), ("end_line_number", _I),
        ("observations", pa.list_(_S)), ("signature", _S), ("docstring", _S),
    ]),
    "relations": pa.schema([
        ("from_entity", _S), ("to_entity", _S), ("relation_type", _S),
        ("context", _S), ("confidence", pa.float64()), ("import_type", _S),
        ("file_path", _S),
    ]),
    "bindings": pa.schema([
        ("file_path", _S), ("local_name", _S), ("target_module", _S),
        ("member", _S), ("import_type", _S),
    ]),
    "type_bindings": pa.schema([
        ("file_path", _S), ("scope", _S), ("var", _S), ("ctor", _S),
        ("ctor_base", _S), ("awaited", pa.bool_()), ("targ", _S),
    ]),
    "return_binds": pa.schema([
        ("file_path", _S), ("func", _S), ("ctor", _S), ("ctor_base", _S),
        ("is_async", pa.bool_()),
    ]),
    "chunks": pa.schema([
        ("chunk_id", _S), ("point_id", pa.int64()), ("entity_name", _S),
        ("entity_type", _S), ("chunk_type", _S), ("content", _S),
        ("content_bm25", _S), ("content_hash", _S),
        ("has_implementation", pa.bool_()), ("file_path", _S),
        ("line_number", _I), ("end_line_number", _I),
    ]),
    "vectors": pa.schema([
        ("point_id", pa.int64()), ("dense", pa.list_(pa.float32())),
        ("sparse_indices", pa.list_(_I)), ("sparse_values", pa.list_(pa.float32())),
        ("entity_name", _S), ("entity_type", _S), ("chunk_type", _S),
        ("file_path", _S), ("content_hash", _S),
    ]),
}


def frame(table: str, rows: list[dict]) -> pa.Table:
    """``rows`` as an Arrow table of ``table``'s columns (keys outside
    the table's columns are ignored)."""
    return pa.Table.from_pylist(rows, schema=TABLE_SCHEMAS[table])


class CodeMemoryEngine:
    """One instance per collection (= per project namespace)."""

    def __init__(self, spark: SparkSession, workdir: str, dim: int = DEFAULT_DIM):
        from claude_code_memory_spark.session import ensure_package_shipped

        self.spark = spark
        self.store = TableStore(spark, workdir)
        self.dim = dim
        self._snapshot = serving.Snapshot()
        ensure_package_shipped(spark)  # UDF stages import package code on workers

    # -- indexing ----------------------------------------------------------

    def index(
        self, project_dir: str, *, incremental: bool = True, profile: bool = False
    ) -> dict:
        """Scan → diff → parse → resolve → check → chunk → dedup-embed → merge.

        Returns counters (files, entities, relations, chunks, skipped).

        The whole call is one driver pass over Python rows and runs no
        Spark job: the scan reads and hashes the files, the parsers,
        resolve, the relation check, the chunk builders, the BM25 fit and
        encoder and the hash embedder all take and return row dicts. The
        store reads each stored table an incremental batch needs through
        pyarrow (minus the replaced files, in Python) and writes each
        table as one parquet commit.

        ``profile=True`` adds a ``stage_sec`` map (scan_diff / parse /
        resolve / resolve.validate / chunks / bm25 / embed / write and
        the write.* sub-stages) and a ``stage_cpu`` map; it times the
        same calls and runs no Spark action of its own."""
        import time as _time

        from claude_code_memory_spark.cpuacct import StageAccountant

        stage_sec: dict[str, float] = {}
        # per-stage process-CPU + external-CPU share alongside the wall
        # clock (verdict r11 item 2): raw stage_sec on a shared machine
        # swung 3× on identical code, so stage-level targets are set in
        # process-CPU terms and wall clock is flagged when >10% of the
        # machine was busy outside our tree
        _acct = StageAccountant()
        if profile:
            _acct.begin()
        _t0 = _time.time()

        def _mark(stage: str) -> None:
            nonlocal _t0
            now = _time.time()
            stage_sec[stage] = now - _t0
            _acct.end(stage, now - _t0)
            _t0 = now

        self.store.vacuum()  # safe point: no pipeline in flight
        # one read of the tree per index: the parse and file_state both
        # come from this scan, so a save during the index is seen as a
        # change by the next one instead of being recorded unparsed
        files = scan_project(project_dir)
        state = self.store.read_arrow("file_state") if incremental else None
        changed, deleted = diff_files(files, state)
        if profile:
            _mark("scan_diff")

        # early exit (reference indexer.py:303): a no-op re-index must not
        # rewrite any table
        if not changed and not deleted and state is not None:
            return {
                "files_changed": 0,
                "entities": 0,
                "relations": 0,
                "chunks": 0,
                "chunks_skipped_unchanged": 0,
            }
        replaced_paths = {f["relative_path"] for f in changed} | set(deleted)

        recs = parse_rows(changed)
        if profile:
            _mark("parse")
        entities, relations, impl = split_parsed(recs)
        bindings = import_bindings(recs)
        tbinds = type_bindings(recs)
        rbinds = return_bindings(recs)

        # Cross-file resolution BEFORE the relation check: rewrite calls
        # through the import graph (aliased from-imports → defining name,
        # module-alias attribute calls → the defining module's entity) so
        # the check below validates the REAL target, not the local
        # alias. Bindings and defs come from stored ∪ batch with
        # replaced files' stored rows excluded (they're superseded by
        # this batch's re-parse); the stored relations hand the resolver
        # the untouched files' `inherits` edges and @property rows.
        # Reference: tree-sitter+Jedi pairing (analysis/parser.py:15).
        def collect(table: str, *cols, **computed) -> list[dict]:
            rows = self.store.read_arrow(table)
            if rows is None:
                return []
            out = rows.select(list(cols)) if cols else rows
            for name, col in computed.items():
                out = out.append_column(name, col(rows))
            return out.to_pylist()

        def kept(rows: list[dict]) -> list[dict]:
            return [r for r in rows if r["file_path"] not in replaced_paths]

        all_defs = collect("entities", "entity_name", "entity_type", "file_path")
        stored_defs = kept(all_defs)
        stored_rels = kept(collect("relations"))
        relations = resolve_calls(
            relations,
            bindings + kept(collect("bindings")),
            entities + stored_defs,
            tbinds + kept(collect("type_bindings")),
            return_binds=rbinds + kept(collect("return_binds")),
            stored_relations=stored_rels,
        )

        _tv = _time.time()
        # J2/J3/J4 scoped by J7 (rules in operators/joins.py). The names
        # are the final entity universe (the defs resolve read); the
        # changed names add the replaced files' old ones.
        names = {e["entity_name"] for e in entities + stored_defs} - {None}
        changed_names = {e["entity_name"] for e in entities} | {
            r["entity_name"] for r in all_defs if r["file_path"] in replaced_paths
        }
        changed_names.discard(None)
        scope = relations_in_scope(relations, stored_rels, changed_names)
        callers = {r["from_entity"] for r in scope if unresolved_call(r)} - {None}
        # one read of the stored chunks serves the phantom rule (the
        # callers' implementation contents), J6 (every stored content
        # hash, replaced files' too) and the BM25 corpus
        def caller_impl_content(c: pa.Table):
            is_caller_impl = pc.and_(
                pc.equal(c["chunk_type"], "implementation"),
                pc.is_in(c["entity_name"], pa.array(sorted(callers), pa.string())),
            )
            return pc.if_else(is_caller_impl, c["content"], pa.scalar(None, pa.string()))

        all_chunks = collect(
            "chunks", "file_path", "chunk_type", "entity_name", "point_id",
            "content_hash", "content_bm25", content=caller_impl_content,
        )
        stored_hashes = {r["content_hash"] for r in all_chunks}
        stored_chunks = kept(all_chunks)
        impl_by_caller: dict[str, list] = {}
        for r in impl + [c for c in stored_chunks if c["chunk_type"] == "implementation"]:
            if r["entity_name"] in callers:
                impl_by_caller.setdefault(r["entity_name"], []).append(r["content"])
        bad = invalid_relation_keys(scope, names, impl_by_caller)
        relations = [r for r in relations if rel_key(r) not in bad]
        # a stored row the batch invalidates re-commits its file: the
        # file joins the relations merge's replaced set and its other
        # rows are written again, so relations gets one commit
        affected = {r["file_path"] for r in stored_rels if rel_key(r) in bad}
        rel_writes = relations + [
            r for r in stored_rels if r["file_path"] in affected and rel_key(r) not in bad
        ]
        if profile:
            stage_sec["resolve.validate"] = _time.time() - _tv
            _mark("resolve")

        chunks = (
            entity_metadata_chunks(entities, impl)
            + implementation_chunks(impl)
            + relation_chunks(relations)
        )
        if profile:
            _mark("chunks")

        # BM25 model, amortized (UD4/A1 at scale): reuse the persisted
        # model and sparse-encode only this batch; refit — and rewrite all
        # sparse vectors — only when the metadata corpus drifted >20%
        # since the fit. The reference refits on any corpus change
        # (bm25.py:86-161), affordable at its 100k-doc cap but O(corpus)
        # per batch at ours. Staleness between refits: new terms are not
        # yet searchable and IDFs lag slightly — the standard incremental
        # index trade (search-engine segment models behave the same way).
        corpus = [
            (c["point_id"], c["content_bm25"])
            for c in chunks + stored_chunks
            if c["chunk_type"] == "metadata"
        ]
        model = self._load_bm25()
        refit = model is None or abs(len(corpus) - model.n_docs) > 0.2 * max(model.n_docs, 1)
        if refit:
            # saved, then reloaded: the engine's model is always the
            # stored one
            bm25_mod.fit(self.spark, corpus).save(self._bm25_path())
            model = self._load_bm25()
        self._bm25 = model
        sparse = bm25_mod.encode(model, ((c["point_id"], c["content_bm25"]) for c in chunks))
        if profile:
            _mark("bm25")

        # J6: embed once per distinct content hash; content already
        # stored reuses its stored dense vector (reference: dedup skips
        # the embedding call, not the upsert — content_processor.py:45-61)
        skipped = sum(c["content_hash"] in stored_hashes for c in chunks)
        dense = self._stored_dense({c["content_hash"] for c in chunks} & stored_hashes)
        vectors = []
        for c in chunks:
            h = c["content_hash"]
            if h not in dense:
                dense[h] = embed_vector(c["content"], self.dim)
            idx, val = sparse.get(c["point_id"], (None, None))
            vectors.append({
                **c, "dense": dense[h], "sparse_indices": idx, "sparse_values": val,
            })
        if profile:
            _mark("embed")

        # fixed merge order: delete-replaced → insert (processors.py:155-179);
        # chunks/vectors partition on chunk_type (metadata-first pruning).
        # Write sub-stages (profile only) use their own clock so the
        # "write" total (from _t0) is untouched.
        _sub_t = _time.time()

        def _sub(stage: str) -> None:
            nonlocal _sub_t
            if profile:
                now = _time.time()
                stage_sec[stage] = now - _sub_t
                _sub_t = now

        def files_frame(paths) -> pa.Table:
            return pa.table({"file_path": pa.array(sorted(paths), pa.string())})

        replaced = files_frame(replaced_paths)
        # shared tombstone (r13): the merges tombstone the SAME replaced
        # set; write it once, file-copy into the other tables' ts dirs
        with TombstoneSource(self.store, replaced) as tsrc:
            for table, rows in (
                ("entities", entities),
                ("relations", rel_writes),
                ("bindings", bindings),
                ("type_bindings", tbinds),
                ("return_binds", rbinds),
            ):
                if table == "relations" and affected:
                    # stored rows the check removed widen this merge's
                    # replaced set, so it writes its own tombstone
                    merge_replace_by_file(
                        self.store, table, frame(table, rows),
                        files_frame(replaced_paths | affected),
                    )
                else:
                    merge_replace_by_file(
                        self.store, table, frame(table, rows), replaced,
                        tombstone_src=tsrc,
                    )
            _sub("write.merge_meta")
            merge_replace_by_file(
                self.store, "chunks", frame("chunks", chunks), replaced,
                ["chunk_type"], tombstone_src=tsrc,
            )
            _sub("write.merge_chunks")
            merge_replace_by_file(
                self.store, "vectors", frame("vectors", vectors), replaced,
                ["chunk_type"], tombstone_src=tsrc,
            )
            _sub("write.merge_vectors")

        # the relation check ran before the writes; the key stays so
        # traced runs keep their layer list
        _sub("write.orphan_cleanup")

        if refit and all_chunks:
            # periodic compaction: re-encode every stored sparse vector
            # under the fresh vocabulary/IDFs (skipped on a first build —
            # everything was just encoded with the fresh model). The
            # merged chunks are the kept stored rows plus the batch.
            self._rewrite_sparse(chunks + stored_chunks)
        _sub("write.refit_compact")

        # K4: state update
        self.store.write("file_state", file_state(files))
        _sub("write.state")
        if profile:
            _mark("write")

        counters = {
            "files_changed": len(changed),
            "entities": len(entities),
            "relations": len(rel_writes),
            "chunks": len(chunks),
            "chunks_skipped_unchanged": skipped,
        }
        if profile:
            counters["stage_sec"] = stage_sec
            if _acct.stages:
                counters["stage_cpu"] = _acct.stages
        return counters

    def _stored_dense(self, hashes: set) -> dict:
        """content_hash -> stored dense vector, for ``hashes``."""
        if not hashes:
            return {}
        v = self.store.read_arrow("vectors")
        v = v.filter(pc.is_in(v["content_hash"], pa.array(sorted(hashes), pa.string())))
        return dict(zip(v["content_hash"].to_pylist(), v["dense"].to_pylist()))

    def _rewrite_sparse(self, chunks: list[dict]) -> None:
        """Rewrite every stored vector's sparse columns with the current
        model's encoding of its chunk's ``content_bm25``."""
        sparse = bm25_mod.encode(
            self.bm25_model(), ((c["point_id"], c["content_bm25"]) for c in chunks)
        )
        vec = self.store.read_arrow("vectors")
        enc = [sparse.get(p, (None, None)) for p in vec["point_id"].to_pylist()]
        vec = vec.drop_columns(["sparse_indices", "sparse_values"]).append_column(
            "sparse_indices", pa.array([i for i, _ in enc], pa.list_(pa.int32()))
        ).append_column("sparse_values", pa.array([v for _, v in enc], pa.list_(pa.float32())))
        self.store.write("vectors", vec.select(TABLE_SCHEMAS["vectors"].names), ["chunk_type"])

    # -- model accessors -----------------------------------------------------

    def _bm25_path(self) -> str:
        import os

        return os.path.join(self.store.root, "bm25_model")

    def _load_bm25(self) -> bm25_mod.BM25Model | None:
        import os

        path = self._bm25_path()
        if not os.path.exists(os.path.join(path, "stats.parquet")):
            return None
        return bm25_mod.BM25Model.load(self.spark, path)

    def bm25_model(self) -> bm25_mod.BM25Model:
        if not hasattr(self, "_bm25"):
            model = self._load_bm25()
            if model is None:
                docs = self.store.read_arrow("chunks")
                docs = docs.filter(pc.equal(docs["chunk_type"], "metadata"))
                model = bm25_mod.fit(
                    self.spark,
                    zip(docs["point_id"].to_pylist(), docs["content_bm25"].to_pylist()),
                )
            self._bm25 = model
        return self._bm25

    def _sparse_postings(self) -> DataFrame | None:
        """`build_postings` of the stored vectors, an unmaterialized Spark
        plan. Its only caller is perfbench's traced search layers, and it
        goes with them (ROADMAP item 2); no request reaches it — keyword
        search scores the serving snapshot's postings (`serving.Postings`)."""
        from claude_code_memory_spark.operators.topk import build_postings

        vectors = self.store.read("vectors")
        return None if vectors is None else build_postings(vectors, id_col="point_id")

    def _ann_index(self, n_centroids: int = 16):
        """`ivf_build` over the stored vectors, unmaterialized; None below
        ``n_centroids`` rows. Its only caller is perfbench's traced search
        layers, and it goes with them (ROADMAP item 2); no request reaches
        it — ``ann=True`` searches are answered by the exact dense scan."""
        from claude_code_memory_spark.operators.similarity import ivf_build

        rows = self.store.read_arrow("vectors")
        if rows is None or rows.num_rows < n_centroids:
            return None
        vectors = self.spark.createDataFrame(rows.select(["point_id", "dense"]))
        return ivf_build(vectors, n_centroids, vec_col="dense")

    # -- serving (search / read_graph / get_implementation) ---------------

    def _serving(self, tables: tuple[str, ...], *, vocab: bool = False) -> serving.Snapshot:
        """The serving snapshot with ``tables`` (and the BM25 vocabulary
        when asked) loaded from their current sources. A part whose source
        changed since it was loaded — a write, an append, a refit model —
        is reloaded; the new snapshot replaces the old one in a single
        assignment."""
        store = self.store
        need = {
            t: (store.manifest_key(t), lambda t=t: serving.load_table(t, store.read_arrow(t)))
            for t in tables
        }
        if vocab:
            model = self.bm25_model() if store.exists("chunks") else None
            need["vocab"] = (model, lambda: {} if model is None else model.terms)
        self._snapshot = serving.refresh(self._snapshot, need)
        return self._snapshot

    def search(
        self,
        query: str,
        *,
        mode: str = "semantic",
        k: int = 10,
        entity_types: list[str] | None = None,
        chunk_type: str | None = None,
        score_threshold: float = 0.0,
        alpha: float = 0.5,
        mmr: bool = False,
        mmr_lambda: float = 0.5,
        mmr_fetch: int = 50,
        ann: bool = False,
    ) -> DataFrame:
        """T1-T4: semantic / keyword / hybrid top-k with payload filters,
        scored in-process over the serving snapshot (`serving.py`) with
        the scores, ties and row multiplicity of the Spark operators
        (`dense_topk`, `sparse_topk`, `rrf_fuse`, `mmr_rerank`). Returns (point_id, score) — hybrid: (point_id,
        dense_rank, sparse_rank, rrf_score) — in rank order, LEFT JOINed
        to the chunk payload (entity_name, chunk_type, file_path,
        line_number, content). A warm call runs no Spark job, and the
        answer's `collect()` makes no JVM call (`serving.Result`).

        Semantic mode drops rounded scores below ``score_threshold``.
        Hybrid fuses the over-fetched dense and keyword lists by RRF with
        weight ``alpha`` on the dense side. ``ann=True`` means an
        approximate answer is allowed; it is answered exactly, by the same
        dense scan as ``ann=False``. ``mmr=True`` (semantic mode
        only) over-fetches ``mmr_fetch`` candidates and greedily
        diversity-reranks them (MMR, ``mmr_lambda`` trades relevance vs
        novelty); the result carries an extra ``mmr_rank`` column in
        selection order."""
        if mode not in ("semantic", "keyword", "hybrid"):
            raise ValueError(f"invalid search mode: {mode}")  # qdrant.py:722-801
        snap = self._serving(("vectors", "chunks"), vocab=mode != "semantic")
        return serving.Result(
            self.spark,
            serving.search(
                snap,
                query,
                embed_text(query, self.dim),
                mode=mode,
                k=k,
                entity_types=entity_types,
                chunk_type=chunk_type,
                score_threshold=score_threshold,
                alpha=alpha,
                mmr=mmr and mode == "semantic",
                mmr_lambda=mmr_lambda,
                mmr_fetch=mmr_fetch,
            )
        )

    # -- graph surface (T7) --------------------------------------------------

    def read_graph(
        self,
        entity: str,
        *,
        mode: str = "relationships",
        limit: int | None = None,
        entity_types: list[str] | None = None,
    ) -> DataFrame:
        """T7 MCP ``read_graph(entity, mode, limit, entityTypes)`` parity
        (reference README.md:313-317), answered in-process from the
        serving snapshot's relations and entities. Modes:

        - ``relationships`` — edges touching the entity;
        - ``entities`` — the neighbor *entity rows* (from the entities
          table, where ``entity_types`` filters apply);
        - ``raw`` — the full 1-hop subgraph: every edge between members
          of the neighborhood, not only edges touching the focus;
        - ``smart`` — deterministic summary (per relation_type ×
          direction: count + up to 5 sample neighbors). The reference's
          'smart' is an LLM summary — an engine *consumer*; this is the
          aggregation it would consume;
        - ``bfs2`` — the same 2-hop expansion as ``raw``: every edge
          touching an endpoint of an edge of the entity.

        Default limits follow the reference: 150 for smart, 300 otherwise
        (README.md:318). ``entity_types`` filters by the *neighbor*
        entity's type in every mode. Rows come in store order, distinct in
        ``raw``/``bfs2``; ``smart`` is ordered by count descending."""
        if mode not in ("smart", "entities", "relationships", "raw", "bfs2"):
            raise ValueError(f"invalid read_graph mode: {mode}")
        limit = limit if limit is not None else (150 if mode == "smart" else 300)
        snap = self._serving(("relations", "entities"))
        return serving.Result(
            self.spark,
            serving.read_graph(
                snap["relations"],
                snap["entities"],
                entity,
                mode=mode,
                limit=limit,
                entity_types=entity_types,
            )
        )

    def get_implementation(self, entity_name: str, *, scope: str = "minimal") -> DataFrame:
        """Implementation chunks for an entity (README.md:318-323):
        'minimal' = just its code; 'logical' = + entities in the same
        containment group (parent's other children — class helpers);
        'dependencies' = + everything it calls. Answered in-process from
        the serving snapshot's chunks and relations; the expanded scopes
        return distinct rows."""
        if scope not in ("minimal", "logical", "dependencies"):
            raise ValueError(f"invalid scope: {scope}")
        snap = self._serving(("chunks", "relations"))
        return serving.Result(
            self.spark,
            serving.get_implementation(
                snap["chunks"].impl, snap["relations"], entity_name, scope
            )
        )

    def stats(self) -> DataFrame:
        """A2: collection statistics report."""
        chunks = self.store.read("chunks")
        return chunks.groupBy("chunk_type", "entity_type").agg(F.count("*").alias("n"))

    def bloat_report(self) -> DataFrame:
        """Storage-efficiency report (reference bloat_analysis.py):
        chunk-type distribution, metadata:impl ratio, top files by chunk
        count, content-length/duplicate stats, relations-per-entity —
        distributed aggregations, long-format (section, metric, value)."""
        from claude_code_memory_spark.plans.bloat import bloat_report

        return bloat_report(self.store.read("chunks"), self.store.read("relations"))

    def near_dup_report(self, threshold: float = 0.6) -> DataFrame:
        """Fuzzy-duplicate memory report: MinHash-LSH near-dup pairs over
        stored chunk CONTENT (the training-data dedup family pointed at
        the collection itself — catches re-indexed docstrings, drifted
        copies and prompt clutter that the bloat report's exact-hash
        duplicate stats miss). Returns (point_a, point_b, entity_a,
        entity_b, jaccard), worst first. Banded LSH as everywhere: cost
        is bucket-mates, never chunks^2."""
        from claude_code_memory_spark.operators.dedup import minhash_lsh_pairs

        chunks = self.store.read("chunks")
        if chunks is None:
            return self.spark.createDataFrame(
                [],
                "point_a long, point_b long, entity_a string,"
                " entity_b string, jaccard double",
            )
        pairs = minhash_lsh_pairs(
            chunks.select("point_id", "content"),
            threshold=threshold,
            id_col="point_id",
            text_col="content",
        )
        names = chunks.select("point_id", "entity_name")
        return (
            pairs.join(
                names.select(
                    F.col("point_id").alias("id_a"),
                    F.col("entity_name").alias("entity_a"),
                ),
                "id_a",
            )
            .join(
                names.select(
                    F.col("point_id").alias("id_b"),
                    F.col("entity_name").alias("entity_b"),
                ),
                "id_b",
            )
            .select(
                F.col("id_a").alias("point_a"),
                F.col("id_b").alias("point_b"),
                "entity_a",
                "entity_b",
                "jaccard",
            )
            .orderBy(F.desc("jaccard"), F.asc("point_a"), F.asc("point_b"))
        )

    def optimize(self) -> None:
        """Compact `chunks`: fold its snapshots (index commits, deltas,
        `add_memory` appends) into one, still partitioned by
        chunk_type. Rows are unchanged, so searches and lookups return
        what they returned before. Run between indexing batches."""
        self.store.optimize("chunks", partition_by=["chunk_type"])

    def sql(self, query: str) -> DataFrame:
        """Ad-hoc SQL over the collection: registers every store table
        that exists (chunks, entities, relations, vectors, file_state)
        as a temp view and runs the query through Catalyst — the
        analytics escape hatch a Spark-native memory engine gets for
        free (the reference requires bespoke scroll/aggregate code per
        question, e.g. bloat_analysis.py). Views are snapshot reads:
        re-register by calling again after writes."""
        for name in (
            "chunks",
            "entities",
            "relations",
            "bindings",
            "type_bindings",
            "return_binds",
            "vectors",
            "file_state",
        ):
            df = self.store.read(name)
            if df is not None:
                df.createOrReplaceTempView(name)
        return self.spark.sql(query)

    def validate(self) -> DataFrame:
        """Collection-integrity constraint report: the deequ-style rules
        (operators/constraints.py) applied to the engine's OWN store —
        non-null ids/types, the closed chunk_type vocabulary, unique
        point ids, and chunks⊆vectors referential integrity. One
        conditional-aggregation scan + one key aggregate + one
        anti-join; all-zero n_violations is the invariant every index/
        merge pass must preserve (the reference validates payloads
        procedurally at ingest; here it is a rerunnable report)."""
        from claude_code_memory_spark.operators import constraints as C

        chunks = self.store.read("chunks")
        vectors = self.store.read("vectors")
        if chunks is None or vectors is None:
            return self.spark.createDataFrame(
                [], "rule string, n_violations long"
            )
        return C.constraint_report(
            chunks,
            [
                C.not_null("point_id"),
                C.not_null("chunk_type"),
                C.accepted_values(
                    "chunk_type", ["metadata", "implementation", "relation"]
                ),
            ],
            unique=["point_id"],
            references=("point_id", vectors, "point_id"),
        )

    def profile(self, table: str) -> DataFrame:
        """Single-pass column profile of a store table (nulls, approx
        distinct, min/max) — `operators/stats.py::profile_table` over the
        collection. Raises on unknown/never-written tables."""
        df = self.store.read(table)
        if df is None:
            raise ValueError(f"no such table in the collection store: {table!r}")
        from claude_code_memory_spark.operators.stats import profile_table

        return profile_table(df)

    # -- manual memories & collection clear (K3) -----------------------------

    def add_memory(self, name: str, content: str, entity_type: str = "documentation") -> None:
        """Store a manual memory: a metadata chunk+vector with NULL
        file_path — the reference's manual memories, which
        ``clear(preserve_manual=True)`` keeps (qdrant.py:1341-1353)."""
        self._vectorize_and_append([memory_chunk(name, content, entity_type)])

    def index_chat(
        self, jsonl_path: str, *, gap_seconds: int = 3600, summarizer_transport=None
    ) -> dict:
        """S11/ST8/UD7/A8: the reference's chat-history pipeline
        (`claude-indexer chat index`): parse conversation JSONL →
        sessionize by ≥1h inactivity (chat/parser.py:272-288) →
        categorize+language-detect → chat chunks → embed → append.

        ``summarizer_transport``: optional zero-arg factory returning a
        ``prompt -> str`` callable (sources/summarizer.py). When given, the
        full UD7 LLM path runs — per-conversation summarize with retry /
        JSON-validate / categorize (chat/summarizer.py:55-404) — and the
        LLM category+summary override the keyword stub's. Without it the
        deterministic keyword-scoring stub provides the same columns.

        Incremental: conversations whose chunk content_hash is already
        stored are skipped (same J6 dedup probe as code chunks), so
        re-running over a growing JSONL embeds only new/changed sessions."""
        from claude_code_memory_spark.sources.chat import (
            categorize,
            chat_chunks,
            conversations,
            read_chat_jsonl,
        )

        msgs = read_chat_jsonl(self.spark, jsonl_path)
        convs = categorize(conversations(msgs, gap_seconds))
        if summarizer_transport is not None:
            from claude_code_memory_spark.sources.summarizer import (
                summarize_conversations,
            )

            # Only adopt the LLM summary when it is real content: the
            # summarizer's error path yields "Error summarizing…" (and a
            # retry edge case can yield ""); baking either into full_text
            # would poison the stored chunk AND its content_hash, so the
            # errored conversation could never be re-indexed cleanly. The
            # keyword-stub text/category stand until a later run succeeds.
            s = F.trim(F.col("llm_summary.summary"))
            good = (
                s.isNotNull()
                & (s != "")
                & ~s.startswith("Error summarizing conversation")
            )
            convs = (
                summarize_conversations(convs, summarizer_transport)
                .withColumn(
                    "category",
                    F.when(good, F.col("llm_summary.category")).otherwise(
                        F.col("category")
                    ),
                )
                .withColumn(
                    "full_text",
                    F.when(good, F.col("llm_summary.summary")).otherwise(
                        F.col("full_text")
                    ),
                )
            )
        n_total, n_new = self._embed_and_append(chat_chunks(convs))
        return {"conversations": n_total, "chunks_new": n_new,
                "chunks_skipped_unchanged": n_total - n_new}

    def _embed_and_append(self, chunk: DataFrame) -> tuple[int, int]:
        """Shared append-content tail of chat and streamed JSON: J6
        dedup vs stored hashes → embed new → append chunks+vectors.
        Returns (total rows, newly embedded rows)."""
        rows = chunk.toArrow().to_pylist()
        stored = self.store.read_arrow("chunks")
        hashes = set() if stored is None else set(stored["content_hash"].to_pylist())
        new = [r for r in rows if r["content_hash"] is None or r["content_hash"] not in hashes]
        self._vectorize_and_append(new)
        return len(rows), len(new)

    def _vectorize_and_append(self, rows: list[dict]) -> None:
        """Dense-embed and BM25-encode new chunks with the in-session
        model, then append chunks and vectors as new snapshots: O(new
        chunks) IO, prior snapshot dirs untouched. Before any index
        (no saved model, no chunks) there is no corpus to weight
        against, so the sparse columns stay NULL."""
        import os

        sparse = {}
        if self.store.exists("chunks") or os.path.exists(
            os.path.join(self._bm25_path(), "stats.parquet")
        ):
            sparse = bm25_mod.encode(
                self.bm25_model(), ((r["point_id"], r["content_bm25"]) for r in rows)
            )
        vectors = [
            {
                **r,
                "dense": None if r["content"] is None else embed_vector(r["content"], self.dim),
                "sparse_indices": sparse.get(r["point_id"], (None, None))[0],
                "sparse_values": sparse.get(r["point_id"], (None, None))[1],
            }
            for r in rows
        ]
        self.store.append("chunks", frame("chunks", rows), ["chunk_type"])
        self.store.append("vectors", frame("vectors", vectors), ["chunk_type"])

    def index_json_content(
        self, json_paths: list[str] | str, *, arrays=None, max_items: int = 0
    ) -> dict:
        """S6 content mode: stream the content arrays of huge JSON dumps
        into searchable chunks WITHOUT loading any document whole
        (reference ijson mode, json_parser.py:623-816; see
        sources/large_json.py for the bounded-memory contract).

        Incremental like index_chat: items whose content hash is already
        stored are dedup-skipped."""
        from claude_code_memory_spark.functions.hashing import content_hash, point_id
        from claude_code_memory_spark.sources.large_json import (
            CONTENT_ARRAYS,
            content_records_df,
        )

        recs = content_records_df(
            self.spark, json_paths,
            arrays=arrays or CONTENT_ARRAYS, max_items=max_items,
        )
        chunk_id = F.concat_ws(
            "::", F.lit("json"), F.col("file_path"), F.col("array_key"),
            F.col("entity_name"), F.lit("metadata"),
        )
        chunk = recs.select(
            chunk_id.alias("chunk_id"),
            point_id(chunk_id).alias("point_id"),
            "entity_name",
            F.concat(F.regexp_replace("array_key", "s$", ""), F.lit("_content")).alias(
                "entity_type"
            ),
            F.lit("metadata").alias("chunk_type"),
            "content",
            F.concat_ws(" ", "entity_name", "content").alias("content_bm25"),
            content_hash(F.col("content")).alias("content_hash"),
            F.lit(False).alias("has_implementation"),
            "file_path",
            F.lit(None).cast("int").alias("line_number"),
            F.lit(None).cast("int").alias("end_line_number"),
        )
        n_total, n_new = self._embed_and_append(chunk)
        return {"items": n_total, "chunks_new": n_new,
                "chunks_skipped_unchanged": n_total - n_new}

    def clear(self, *, preserve_manual: bool = True) -> None:
        """K3: clear the collection. ``preserve_manual=True`` keeps chunks/
        vectors with NULL file_path (manual memories) and drops everything
        auto-indexed + all relation chunks (qdrant.py:1303-1401)."""
        for t in (
            "entities",
            "relations",
            "bindings",
            "type_bindings",
            "return_binds",
            "file_state",
        ):
            rows = self.store.read_arrow(t)
            if rows is not None:
                self.store.write(t, rows.slice(0, 0))
        for t in ("chunks", "vectors"):
            rows = self.store.read_arrow(t)
            if rows is None:
                continue
            kept = (
                rows.filter(pc.and_(
                    pc.is_null(rows["file_path"]), pc.not_equal(rows["chunk_type"], "relation")
                ))
                if preserve_manual
                else rows.slice(0, 0)
            )
            self.store.write(t, kept, ["chunk_type"])
