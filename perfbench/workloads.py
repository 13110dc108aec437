"""The benchmark sessions. Each is one closed-loop client: a request is
sent after the previous one returned, and every output is checked; a
failed or wrong operation counts in `failed`.

Both workloads report the same end-to-end metrics, each with its
workload's meaning:

==================  ===============================  ==============================
metric              index_search                     catalog_headline
==================  ===============================  ==============================
setup_s             Spark start, project on disk     Spark start, tables on disk
cold_s              full index into an empty store   first pass over the 13 queries
request_ms          mean over the search kinds of    mean over the queries of each
                    each kind's median latency       one's median latency
peak_rss_mb         peak resident memory of this process, the JVM and the workers
==================  ===============================  ==============================

`index_search` phases: set-up; the cold full index; an untimed warm-up (a
hybrid ``ann=True`` search for a planted needle, whose first call after a
write builds the keyword postings and the IVF index); then seeded rounds of
the search mix until the run's seconds are used. One round of seven
searches takes some 7 s, more than the five seconds a run measures, so a
run makes one round: all that the benchmark's time budget leaves after the
cold index.

`catalog_headline` phases: set-up; passes over the headline
`queries.REGISTRY` entries, each in seed-shuffled order, until the run's
seconds are used. Every result is compared with the query's DuckDB oracle,
untimed. The first pass, on a fresh session, takes some 25 s, so a run
makes one pass: its `request_ms` is then `cold_s` / 13. A second, warm pass
(some 10 s) does not fit the benchmark's time budget.

A traced run (either workload) measures every layer once: the index with
the engine's own ``profile=True`` stage times and Spark jobs counted per
call through a job group, the search layers' public functions called
directly on the stored tables, a no-op re-index, and one pass over the
catalog. It skips the timed windows, so of the end-to-end figures only
`setup_s` and `cold_s` can be compared with an untraced run's.

No run edits the project: one incremental re-index after a one-file edit
costs about as much as the full index (some 55 s on a 4-core machine),
which neither a run's time limit nor the benchmark's total budget leaves
room for. tests/test_smoke.py drives the whole edit script against the
engine on a tiny project instead.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from dataclasses import dataclass, field

from corpus import VERBS, WORDS, Project, Size, write_tree
from harness import JobCounter, MachineState, Tracer, du, start_spark, stop_spark, tree_peak_rss_mb
from tables import Oracle, write_tables

K = 10
CATALOG_ROWS = 15_000  # orders; lineitem has about four times as many
WORKLOADS = ("index_search", "catalog_headline")
# the project shape of `index_search`; the smoke tests shrink it
PROJECT_SIZE = Size.full

# One round of the search mix, in seeded order. `hybrid_typed` carries an
# entity_types filter, which bypasses the postings and IVF indexes (brute
# dense scan, exploded sparse join); `ann` probes the IVF index.
MIX = ("keyword", "hybrid", "hybrid_typed", "semantic", "ann", "read_graph",
       "get_implementation")
TYPES = {"hybrid_typed": ["function", "class"]}


@dataclass
class Request:
    kind: str
    query: str
    expect: str | None = None  # entity name that must come back


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(what)


def requests(project: Project, seed: int, n: int = 400) -> list[Request]:
    """The seeded request sequence: shuffled rounds of the mix."""
    rng = random.Random(seed * 104729 + 3)
    mods = [project.modules[k] for k in sorted(project.modules)]
    out: list[Request] = []
    while len(out) < n:
        kinds = list(MIX)
        rng.shuffle(kinds)
        for kind in kinds:
            m = rng.choice(mods)
            if kind == "keyword":
                out.append(Request(kind, m.token, f"load_{m.token}"))
            elif kind in ("hybrid", "hybrid_typed", "ann"):
                out.append(Request(kind, f"{rng.choice(VERBS)} {m.token}", f"load_{m.token}"))
            elif kind == "semantic":
                out.append(Request(kind, " ".join(rng.choice(WORDS) for _ in range(3))))
            elif kind == "read_graph":
                out.append(Request(kind, rng.choice(m.classes).name))
            else:
                out.append(Request(kind, rng.choice(m.functions)))
    return out


def send(eng, req: Request) -> bool:
    """One request through the public API; whether its output is correct."""
    if req.kind == "read_graph":
        return len(eng.read_graph(req.query).collect()) >= 1
    if req.kind == "get_implementation":
        rows = eng.get_implementation(req.query).collect()
        return any(f"def {req.query}(" in (r["content"] or "") for r in rows)
    mode = "semantic" if req.kind == "semantic" else req.kind.split("_")[0]
    if req.kind == "ann":
        mode = "hybrid"
    rows = eng.search(req.query, mode=mode, k=K, entity_types=TYPES.get(req.kind),
                      ann=req.kind == "ann").collect()
    if req.expect is not None:
        return any(r["entity_name"] == req.expect for r in rows)
    return 1 <= len(rows) <= K


def attempt(fn, what: str) -> tuple[bool, str]:
    """Run `fn`; a raised exception is a failed operation, not a crash."""
    try:
        return bool(fn()), what
    except Exception as exc:  # noqa: BLE001
        return False, f"{what}: {type(exc).__name__}: {exc}"[:300]


def percentile_rule(samples: list[float]) -> dict:
    """Median plus the highest of p90/p99 with at least ten samples beyond
    it (None when the run has too few samples), with the sample count."""
    s = sorted(samples)
    out = {"p50": statistics.median(s) if s else None, "n": len(s), "tail": None}
    for p in (99, 90):
        if len(s) * (100 - p) / 100 >= 10:
            out["tail"] = {"p": p, "value": s[min(len(s) - 1, int(len(s) * p / 100))]}
            break
    return out


class Window:
    """Latencies per request kind over whole rounds, for `seconds`."""

    def __init__(self) -> None:
        self.lat: dict[str, list[float]] = {}
        self.elapsed = 0.0

    def run(self, rounds, seconds: float, send_one) -> None:
        """`rounds()` yields lists of requests; `send_one(req)` returns
        (kind, ms). Whole rounds run until `seconds` have passed."""
        t0 = time.perf_counter()
        for batch in rounds():
            for req in batch:
                kind, ms = send_one(req)
                self.lat.setdefault(kind, []).append(ms)
            if time.perf_counter() - t0 >= seconds:
                break
        self.elapsed = time.perf_counter() - t0

    def metrics(self) -> dict[str, float]:
        # one closed-loop client: requests per second would only restate
        # this, so it goes to the detail line
        return {"request_ms": statistics.mean(statistics.median(v) for v in self.lat.values())}

    def detail(self) -> dict:
        n = sum(len(v) for v in self.lat.values())
        return {"requests_per_s": n / self.elapsed,
                **{k: percentile_rule(v) for k, v in self.lat.items()}}


# -- the session ------------------------------------------------------------------


def run_session(workload: str, seed: int, seconds: float, trace: bool, work: str,
                spans_path: str) -> dict:
    tracer = Tracer(trace)
    outcome = Outcome()
    machine = MachineState()
    project_dir, data_dir = os.path.join(work, "project"), os.path.join(work, "tables")

    # -- set-up: Spark session and the workload's inputs on disk -----------
    t0 = time.perf_counter()
    with tracer.span("setup"):
        with tracer.span("session.get_spark"):
            spark = start_spark(f"perfbench-{workload}-{seed}")
        get_spark_s = time.perf_counter() - t0
        if workload == "index_search":
            project = Project(seed, PROJECT_SIZE())
            write_tree(project_dir, project.files())
        else:
            write_tables(data_dir, seed, CATALOG_ROWS)
    metrics = {"setup_s": time.perf_counter() - t0}
    layers = {"session.get_spark_s": get_spark_s}
    detail: dict = {}
    try:
        jobs = JobCounter(spark, trace)
        if workload == "index_search":
            metrics.update(index_search(spark, project, project_dir, work, seed, seconds,
                                        trace, tracer, jobs, outcome, layers, detail))
        else:
            metrics.update(catalog(spark, data_dir, seed, seconds, trace, tracer,
                                   outcome, layers, detail))
        if trace:
            # the other workload's layers, so that every traced run reports
            # every per-layer metric
            if workload == "index_search":
                write_tables(data_dir, seed, CATALOG_ROWS)
                catalog(spark, data_dir, seed, 0, trace, tracer, outcome, layers, {})
            else:
                project = Project(seed, PROJECT_SIZE())
                write_tree(project_dir, project.files())
                index_search(spark, project, project_dir, work, seed, 0, trace, tracer,
                             jobs, outcome, layers, {})
        metrics["peak_rss_mb"] = tree_peak_rss_mb()
        detail["machine"] = machine.report()
    finally:
        stop_spark(spark)
    if trace:
        detail["spans"] = tracer.self_times()
        tracer.dump(spans_path)
    return {"metrics": metrics, "layers": layers, "outcome": outcome, "detail": detail}


def index_search(spark, project: Project, root: str, work: str, seed: int,
                 seconds: float, trace: bool, tracer: Tracer, jobs: JobCounter,
                 outcome: Outcome, layers: dict, detail: dict) -> dict:
    """Cold index, warm-up, then the search mix (traced: the index and
    search layers and a no-op re-index instead of the mix)."""
    from claude_code_memory_spark.api import CodeMemoryEngine
    from claude_code_memory_spark.cpuacct import JIFFY_HZ, cpu_totals

    store = os.path.join(work, "store")
    eng = CodeMemoryEngine(spark, store)
    files = project.files()
    cpu0 = cpu_totals()[1]
    t = time.perf_counter()
    with tracer.span("index.full"), jobs.group("index") as index_jobs:
        counters = eng.index(root, profile=trace)
    cold_s = time.perf_counter() - t
    cpu_index_s = (cpu_totals()[1] - cpu0) / JIFFY_HZ
    outcome.check(counters["files_changed"] == len(files) and counters["entities"] > 0,
                  f"full index counters {counters}")
    store_bytes, store_files = du(store)
    source_bytes = sum(len(v.encode()) for v in files.values())

    m = project.modules[random.Random(seed * 31 + 5).choice(sorted(project.modules))]
    seq = requests(project, seed)
    detail.update(index_full_s=cold_s, store_bytes_per_source_byte=store_bytes / source_bytes,
                  counters={k: v for k, v in counters.items() if k != "stage_cpu"})

    if not trace:
        # -- warm-up: a hybrid search on the IVF index builds both it and
        # the postings index
        warm = Request("ann", f"load {m.token}", f"load_{m.token}")
        outcome.check(*attempt(lambda: send(eng, warm), f"warm-up ann {warm.query!r}"))

        # -- closed-loop search mix, in whole rounds -----------------------
        def rounds():
            for i in range(0, len(seq), len(MIX)):
                yield seq[i:i + len(MIX)]

        def send_one(req: Request):
            tr = time.perf_counter()
            ok, what = attempt(lambda: send(eng, req), f"{req.kind} {req.query!r}")
            ms = (time.perf_counter() - tr) * 1000
            outcome.check(ok, what)
            return req.kind, ms

        window = Window()
        window.run(rounds, seconds, send_one)
        detail["search_latency_ms"] = window.detail()
        return {"cold_s": cold_s, **window.metrics()}

    # the engine's stage times as child spans of the index span
    parent = next(s for s in tracer.spans if s["name"] == "index.full")
    at = tracer.origin + parent["start"]
    for stage in ("scan_diff", "parse", "resolve", "chunks", "bm25", "embed", "write"):
        tracer.add(f"index.{stage}", at, at + counters["stage_sec"][stage], parent["id"])
        at += counters["stage_sec"][stage]
    layers.update(_index_layers(counters, index_jobs, cpu_index_s, store_bytes,
                                store_files, eng))
    layers["search.first_after_write_ms"] = find_needle(
        eng, m.token, m.relpath, f"load_{m.token}", tracer, outcome)
    t = time.perf_counter()
    with tracer.span("index.noop"):
        noop = eng.index(root)
    layers["incremental.reindex_noop_s"] = time.perf_counter() - t
    outcome.check(noop["files_changed"] == 0, "no-op reindex changed files")
    layers.update(_search_layers(eng, seq, tracer, jobs, outcome))
    return {"cold_s": cold_s}


def find_needle(eng, needle: str, path: str, entity: str, tracer: Tracer,
                outcome: Outcome) -> float:
    """A keyword search that must return `entity` of `path`; its ms."""
    t = time.perf_counter()
    with tracer.span("needle"):
        ok, what = attempt(lambda: any(
            r["file_path"] == path and r["entity_name"] == entity
            for r in eng.search(needle, mode="keyword", k=K).collect()),
            f"needle {needle} not found")
    outcome.check(ok, what)
    return (time.perf_counter() - t) * 1000


def _index_layers(c: dict, jobs: dict, cpu_s: float, store_bytes: int,
                  store_files: int, eng) -> dict:
    st = c["stage_sec"]
    # embed runs once per distinct content hash: the dedup ratio
    distinct = eng.store.read("chunks").select("content_hash").distinct().count()
    total = eng.store.read("chunks").count()
    return {
        "sources.scan_diff_s": st["scan_diff"],
        "sources.parse_s": st["parse"],
        "sources.files_changed": c["files_changed"],
        "sources.entities": c["entities"],
        "resolve.validate_s": st["resolve.validate"],
        "resolve.resolve_s": st["resolve"],
        "resolve.relations": c["relations"],
        "chunks.build_s": st["chunks"],
        "chunks.count": c["chunks"],
        "embeddings.bm25_s": st["bm25"],
        "embeddings.embed_s": st["embed"],
        "embeddings.distinct_content_ratio": distinct / max(total, 1),
        "incremental.write_s": st["write"],
        "incremental.merge_meta_s": st["write.merge_meta"],
        "incremental.merge_chunks_s": st["write.merge_chunks"],
        "incremental.merge_vectors_s": st["write.merge_vectors"],
        "incremental.orphan_cleanup_s": st["write.orphan_cleanup"],
        "incremental.state_s": st["write.state"],
        "incremental.store_bytes": store_bytes,
        "incremental.store_files": store_files,
        "spark.jobs_per_index": jobs["jobs"],
        "spark.stages_per_index": jobs["stages"],
        "spark.tasks_per_index": jobs["tasks"],
        "cpu.process_s_per_index": cpu_s,
    }


def _search_layers(eng, seq: list[Request], tracer: Tracer, jobs: JobCounter,
                   outcome: Outcome) -> dict:
    """Time each search layer by calling its public function directly on
    the stored tables, for a fixed set of queries; then Spark jobs per
    search through the public API, one request of each kind."""
    from claude_code_memory_spark.embeddings import bm25 as bm25_mod
    from claude_code_memory_spark.embeddings.hash_embedder import embed_text
    from claude_code_memory_spark.operators.similarity import ivf_topk
    from claude_code_memory_spark.operators.topk import dense_topk, rrf_fuse, sparse_topk_postings

    spark = eng.spark
    vectors = eng.store.read("vectors")
    chunks = eng.store.read("chunks").select(
        "point_id", "entity_name", "chunk_type", "file_path", "line_number", "content")
    postings = eng._sparse_postings()
    ann = eng._ann_index()  # None below 16 vectors (the smoke corpus)
    model = eng.bm25_model()
    ms: dict[str, list[float]] = {}

    def timed(name: str, fn, request: str):
        t = time.perf_counter()
        with tracer.span(name, request=request):
            out = fn()
        ms.setdefault(name, []).append((time.perf_counter() - t) * 1000)
        return out

    for j, req in enumerate([r for r in seq if r.kind == "keyword"][:3]):
        rid = f"layer{j}"
        qvec = timed("search.query_embed_ms", lambda: embed_text(req.query, eng.dim), rid)
        term_rows = timed("search.query_terms_ms",
                          lambda: bm25_mod.query_terms(model, req.query).collect(), rid)
        terms = spark.createDataFrame([tuple(r) for r in term_rows],
                                      "term_index int, term_weight double")
        dense = timed("search.dense_topk_ms", lambda: dense_topk(
            vectors, qvec, K, id_col="point_id", vec_col="dense").collect(), rid)
        sparse = timed("search.sparse_topk_ms", lambda: sparse_topk_postings(
            postings, terms, K, id_col="point_id").collect(), rid)
        outcome.check(any(r["point_id"] is not None for r in sparse), f"layer sparse {req.query}")
        d_df = spark.createDataFrame([(r["point_id"], r["score"]) for r in dense],
                                     "point_id long, score double")
        s_df = spark.createDataFrame([(r["point_id"], r["score"]) for r in sparse],
                                     "point_id long, score double")
        timed("search.rrf_fuse_ms",
              lambda: rrf_fuse(d_df, s_df, K, id_col="point_id").collect(), rid)
        if ann is not None:
            timed("search.ann_topk_ms", lambda: ivf_topk(
                ann[0], ann[1], qvec, K, nprobe=4, id_col="point_id",
                vec_col="dense").collect(), rid)
        timed("search.payload_join_ms",
              lambda: d_df.join(chunks, "point_id", "left").collect(), rid)
    for name, kind in (("graph.read_graph_ms", "read_graph"),
                       ("graph.get_implementation_ms", "get_implementation")):
        for j, req in enumerate([r for r in seq if r.kind == kind][:2]):
            outcome.check(*attempt(lambda: timed(name, lambda: send(eng, req), f"{kind}{j}"),
                                   f"layer {kind} {req.query!r}"))
    out = {k: statistics.median(v) for k, v in ms.items()}
    search_jobs = []
    for kind in MIX:
        req = next(r for r in seq if r.kind == kind)
        with jobs.group("search") as cnt:
            outcome.check(*attempt(lambda: send(eng, req), f"jobs {kind} {req.query!r}"))
        search_jobs.append(cnt["jobs"])
    out["spark.jobs_per_search"] = statistics.median(search_jobs)
    return out


# -- the catalog ----------------------------------------------------------------


def headline_queries() -> dict:
    from claude_code_memory_spark.queries import REGISTRY

    return {name: e for name, e in REGISTRY.items() if e.headline}


def catalog(spark, data_dir: str, seed: int, seconds: float, trace: bool,
            tracer: Tracer, outcome: Outcome, layers: dict, detail: dict) -> dict:
    """Passes over the queries until `seconds` are used (traced: one pass);
    every result checked against its DuckDB oracle, untimed."""
    queries = headline_queries()
    oracle = Oracle(data_dir)
    rng = random.Random(seed * 7907 + 11)

    def run_query(name: str) -> tuple[str, float]:
        entry = queries[name]
        t = time.perf_counter()
        try:
            with tracer.span(f"catalog.{name}"):
                df = entry.fn(spark, data_dir)
                rows = df.collect()
        except Exception as exc:  # noqa: BLE001 - a failed query is counted
            outcome.check(False, f"{name}: {type(exc).__name__}: {exc}"[:300])
            return name, (time.perf_counter() - t) * 1000
        ms = (time.perf_counter() - t) * 1000
        diff = oracle.check(entry.oracle, df.columns, rows) if entry.oracle else None
        outcome.check(diff is None and len(rows) > 0, f"{name}: {diff or 'no rows'}")
        return name, ms

    def rounds():
        while True:
            names = sorted(queries)
            rng.shuffle(names)
            yield names

    window = Window()
    window.run(rounds, 0 if trace else seconds, run_query)
    cold_s = sum(v[0] for v in window.lat.values()) / 1000
    if trace:
        layers.update({f"catalog.{n}_s": v[0] / 1000 for n, v in window.lat.items()})
        return {"cold_s": cold_s}
    detail["catalog_latency_ms"] = window.detail()
    return {"cold_s": cold_s, **window.metrics()}
