"""Cross-file call resolution — the Jedi-resolution analogue, as joins.

The reference pairs tree-sitter with Jedi to resolve calls across files
(analysis/parser.py:1, :15, :120): `from m import f as g; g()` records
a call to *f*, and `import pkg.mod as z; z.f()` pins *f* to pkg.mod
rather than any same-named entity anywhere. The stdlib-ast parser
extracts the same raw material per file (call sites with their dotted
base, import alias bindings — sources/python_parser.py); this module
does the cross-file step as pure DataFrame algebra:

1. every file's module name is derived from its path (a column
   expression — no driver work);
2. relative import targets (leading dots) are absolutized against the
   importing file's package;
3. re-export chains (`pkg/__init__.py: from .core import f`) are
   chased by iterated self-joins on the binding table, bounded by
   ``max_hops`` (import chains deeper than 3 are vanishingly rare);
4. bare calls rewrite through from-import bindings to the DEFINING
   name; attribute calls rewrite through module-alias bindings to the
   defining module's entity (including `C.method()` → the `C.method`
   entity when C was from-imported); `from m import *` resolves a bare
   name when exactly one starred module defines it (directly or via one
   re-export hop) and the importer doesn't shadow it — ambiguity stays
   unresolved rather than guessed;
5. instance-typed method calls resolve through the parser's
   unambiguous constructor binds (`x = C(); x.m()`, `self.db = C()` /
   `this.db = new C()`, module-level singletons) — the static slice of
   what Jedi infers dynamically, emitted only when the binding is
   certain; a bind whose "constructor" is a FACTORY FUNCTION (every
   return the same constructor call) substitutes the returned class,
   so `x = make_tool(); x.run()` pins to Tool.run across files;
6. methods a class doesn't define look up through a bounded
   transitive closure of the `inherits` graph (closest ancestor wins),
   so `t.close()` resolves to `Base.close` wherever the subclass is
   used — across files, and across incremental batches via the stored
   relations' inherits edges.

Resolved rows carry ``import_type='resolved'`` so downstream consumers
(and tests) can see which calls are cross-file-pinned; unresolved rows
pass through byte-identical, so the operator strictly refines J4's
entity-universe validation — it never loses a relation.

Scale: bindings and defs are entity-scale tables (rows ∝ import
statements / definitions, not corpus bytes); every step is an
equi-join on (module, name) keys, skew-free (module names are
near-unique). The lookup joins carry no hints: Spark's size-based
planner and AQE choose the join strategy. No UDFs, no driver loops
beyond the fixed ``max_hops`` join chain.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def module_of_path(path_col: Column | str) -> Column:
    """Dotted module name of a repo-relative path:
    ``a/b/c.py`` → ``a.b.c``; ``a/b/__init__.py`` → ``a.b``;
    ``./x.py`` → ``x``; top-level ``__init__.py`` → ``''``.
    JS/TS files follow the same rule with their package-entry
    convention: ``src/lib/index.ts`` → ``src.lib`` (index ≙ __init__)."""
    p = F.regexp_replace(path_col, r"^\./", "")
    # JS-only: the index entry file IS its directory's module (a Python
    # file literally named index.py keeps its name)
    p = F.regexp_replace(p, r"(^|/)index\.(js|jsx|ts|tsx|mjs|cjs)$", "")
    p = F.regexp_replace(p, r"\.(py|js|jsx|ts|tsx|mjs|cjs)$", "")
    p = F.regexp_replace(p, "/$", "")
    p = F.regexp_replace(p, "/", ".")
    p = F.regexp_replace(p, r"\.__init__$", "")
    return F.regexp_replace(p, r"^__init__$", "")


def _absolutize(bindings: DataFrame) -> DataFrame:
    """Resolve leading-dot relative targets against the importing file's
    package: in ``pkg/sub.py`` (module pkg.sub), ``.m`` → ``pkg.m`` and
    ``..m`` → ``m``; in ``pkg/__init__.py`` (module pkg), ``.m`` →
    ``pkg.m`` (a package's level-1 base is itself)."""
    mod = module_of_path("file_path")
    is_init = F.col("file_path").rlike(r"(^|/)__init__\.py$")
    dots = F.length(F.regexp_extract("target_module", r"^(\.+)", 1))
    rest = F.regexp_replace("target_module", r"^\.+", "")
    parts = F.split(mod, r"\.")
    n_parts = F.when(mod == "", F.lit(0)).otherwise(F.size(parts))
    # ascend (dots-1) packages above the file's own package
    keep = n_parts - (dots - 1) - F.when(is_init, 0).otherwise(1)
    base = F.array_join(F.slice(parts, 1, F.greatest(keep, F.lit(0))), ".")
    absolute = F.when(dots == 0, F.col("target_module")).otherwise(
        F.concat_ws(".", *[F.when(c != "", c) for c in (base, rest)])
    )
    return bindings.withColumn("module", mod).withColumn("target_module", absolute)


def _normalize_targets(
    bindings: DataFrame, known_modules: DataFrame, *, max_trim: int = 2
) -> DataFrame:
    """Map absolute import targets onto the PATH-derived module
    namespace. When the indexed project root is the package directory
    itself (the common `index("…/mypkg")` call), a file's path-derived
    module is ``sources.files`` while the code imports
    ``mypkg.sources.files`` — Jedi resolves this via sys.path; here the
    analogue is suffix matching: try the target minus 0..max_trim
    leading segments against the known module set (exact match, or
    prefix-of-a-known-module for module imports whose attribute chain
    completes the path), keep the FEWEST-trims match, and leave the
    target untouched when nothing matches (external imports: os,
    pyspark, …). ``known_modules``: 1-column (module) frame, entity-
    scale."""
    parts = F.split("target_module", r"\.")
    cands = F.filter(
        F.transform(
            F.sequence(F.lit(0), F.lit(max_trim)),
            lambda t: F.struct(
                t.alias("trim"),
                F.array_join(
                    F.slice(parts, t + 1, F.greatest(F.size(parts) - t, F.lit(0))), "."
                ).alias("cand"),
            ),
        ),
        lambda s: (s["trim"] < F.size(parts)) & (s["cand"] != ""),
    )
    # the candidate set is a pure function of target_module, so the
    # normalization maps DISTINCT target values (import-vocabulary-
    # scale) and joins back by value — the old per-row __bid self-join
    # computed the full bindings lineage twice (once through the
    # explode, once as the left side) and leaned on
    # monotonically_increasing_id staying stable across the two
    # computations; here the second traversal is a one-column distinct
    # and the join-back key is the value itself.
    exploded = (
        bindings.select("target_module")
        .distinct()
        .select("target_module", F.explode(cands).alias("c"))
        .select(
            "target_module",
            F.col("c.trim").alias("__trim"),
            F.col("c.cand").alias("__cand"),
        )
    )
    # "cand equals a known module, or is a dot-boundary prefix of one"
    # as an EQUI-join: explode every known module into its dot-prefix
    # set (≤ path-depth rows each) and hash-join on equality. The
    # direct OR-of-startswith condition is a broadcast nested-loop —
    # O(bindings × modules) scans at mega-repo scale; this is
    # O(bindings + module-prefixes) with an ordinary shuffle/broadcast
    # hash join.
    segs = F.split("module", r"\.")
    prefixes = F.transform(
        F.sequence(F.lit(1), F.size(segs)),
        lambda k: F.array_join(F.slice(segs, 1, k), "."),
    )
    km = known_modules.select(F.explode(prefixes).alias("__km")).distinct()
    hits = (
        exploded.join(km, F.col("__cand") == F.col("__km"))
        .groupBy("target_module")
        .agg(F.min(F.struct("__trim", "__cand")).alias("__best"))
        .select("target_module", F.col("__best.__cand").alias("__norm"))
    )
    return (
        bindings.join(hits, "target_module", "left")
        .withColumn("target_module", F.coalesce("__norm", "target_module"))
        .drop("__norm")
    )


# Per-pin wall-clock profile of the most recent resolve_calls run,
# populated only when CCMS_RESOLVE_PROFILE=1: list of (label, seconds).
# Each _pin is a serial eager Spark job — the quantity the stage's wall
# clock scales with — so this IS the stage profile (the round-9 "pin
# profile" that attributed 38 s of 81 s to the attr materialization,
# now reproducible instead of hand-instrumented).
PIN_PROFILE: list[tuple[str, float]] = []


def _pin(df: DataFrame, label: str = "?") -> DataFrame:
    """Materialize an entity-scale intermediate and truncate its lineage
    (eager localCheckpoint). The resolve plan reuses chased bindings,
    the class table, and the ancestor closure up to five times each;
    left lazy, every reuse replays the whole upstream join tree and
    Catalyst re-optimizes a plan that grows multiplicatively with each
    join — measured 85 s of pure overhead on a 90-file index batch,
    collapsing to ~2 s once pinned. These frames are rows-∝-definitions
    tables (KB–MB even for huge repos), so eager materialization is
    noise at any scale; on a cluster the executor-local blocks are
    rebuilt from lineage only if an executor dies mid-batch (acceptable:
    the index batch simply recomputes)."""
    import time

    if os.environ.get("CCMS_RESOLVE_PROFILE") != "1":
        return df.localCheckpoint(eager=True)
    t0 = time.perf_counter()
    out = df.localCheckpoint(eager=True)
    PIN_PROFILE.append((label, round(time.perf_counter() - t0, 3)))
    return out


def _pin_dbg(df: DataFrame, label: str) -> DataFrame:
    """Profile-ONLY pin (verdict r11 item 4): attributes a terminal-
    section block under CCMS_RESOLVE_PROFILE=1 and is the identity
    otherwise — the terminal frames are consumed once, so a production
    checkpoint would be pure overhead and would also shift cost out of
    the write stage the round artifacts track."""
    if os.environ.get("CCMS_RESOLVE_PROFILE") != "1":
        return df
    return _pin(df, label)


def _chase(from_bindings: DataFrame, max_hops: int) -> DataFrame:
    """Follow re-export chains: a from-binding whose (target_module,
    member) is itself a from-binding in that module keeps hopping, up to
    ``max_hops`` joins. Output schema matches the input; terminal
    (target_module, member) either names a definition or nothing."""
    cur = from_bindings
    step = from_bindings.select(
        F.col("module").alias("s_module"),
        F.col("local_name").alias("s_local"),
        F.col("target_module").alias("s_tmod"),
        F.col("member").alias("s_member"),
    )
    for _ in range(max_hops - 1):
        cur = (
            cur.join(
                step,
                (cur.target_module == step.s_module) & (cur.member == step.s_local),
                "left",
            )
            .select(
                "file_path",
                "module",
                "local_name",
                F.coalesce("s_tmod", "target_module").alias("target_module"),
                F.coalesce("s_member", "member").alias("member"),
                "import_type",
            )
        )
    return cur


def _class_ancestors(
    relations: DataFrame,
    chased: DataFrame,
    classes: DataFrame,
    *,
    max_inherit: int = 3,
) -> DataFrame:
    """Bounded transitive closure of the `inherits` graph, module-
    qualified: (c_module, c_name, a_module, a_name, depth) with depth 0
    = the class itself. Parent names in an `inherits` relation resolve
    through the declaring file's chased from-import bindings first
    (``from base import Base``), else to a class defined in the same
    module; external bases (object, ABC, library classes) produce edges
    that simply never match a definition downstream.

    ``classes``: (file_path, k_module, k_name) — every known class.
    All joins are equi-joins on (module, name); the closure is
    ``max_inherit`` self-joins of an entity-scale edge table, the
    PageRank-iteration shape at class-count scale. Diamond inheritance
    dedupes to min depth (closest ancestor wins — the C3-linearization
    approximation). ``bpos`` is the base-list position of the FIRST hop
    on the ancestor's min-depth path (the parser stores it in the
    inherits relation's context; C3 keeps direct bases in base-list
    order, so equal-depth-1 ties at the lookup sites resolve to the
    lowest bpos — verdict r8 item 5). NULL bpos (legacy stored
    relations) never wins a tie."""
    inh = relations.filter(F.col("relation_type") == "inherits").select(
        "file_path",
        F.col("from_entity").alias("child"),
        F.col("to_entity").alias("parent"),
        F.col("context").cast("int").alias("bp"),
    )
    ch = chased.select(
        F.col("file_path").alias("i_file"),
        F.col("local_name").alias("i_local"),
        F.col("target_module").alias("i_tmod"),
        F.col("member").alias("i_member"),
    )
    lc = classes.select(
        F.col("file_path").alias("p_file"),
        F.col("k_module").alias("p_module"),
        F.col("k_name").alias("p_name"),
    )
    edges = (
        inh.join(ch, (inh.file_path == ch.i_file) & (inh.parent == ch.i_local), "left")
        .join(lc, (inh.file_path == lc.p_file) & (inh.parent == lc.p_name), "left")
        .select(
            module_of_path("file_path").alias("e_cm"),
            F.col("child").alias("e_cn"),
            F.coalesce("i_tmod", "p_module").alias("e_pm"),
            F.coalesce("i_member", "p_name").alias("e_pn"),
            F.col("bp").alias("e_bp"),
        )
        .filter(F.col("e_pm").isNotNull())
        .groupBy("e_cm", "e_cn", "e_pm", "e_pn")
        # one edge can surface twice (chased import + same-file class);
        # NULL positions sort last so a positioned duplicate wins
        .agg(F.min("e_bp").alias("e_bp"))
    )
    edges = _pin(edges, "anc_edges")  # reused max_inherit times by the closure loop
    self0 = classes.select(
        F.col("k_module").alias("c_module"),
        F.col("k_name").alias("c_name"),
        F.col("k_module").alias("a_module"),
        F.col("k_name").alias("a_name"),
        F.lit(0).alias("depth"),
        F.lit(0).alias("bpos"),
    ).distinct()
    anc = self0
    frontier = self0
    for d in range(1, max_inherit + 1):
        frontier = frontier.join(
            edges,
            (frontier.a_module == edges.e_cm) & (frontier.a_name == edges.e_cn),
        ).select(
            "c_module",
            "c_name",
            F.col("e_pm").alias("a_module"),
            F.col("e_pn").alias("a_name"),
            F.lit(d).alias("depth"),
            # first-hop base position; deeper hops keep the head's
            (F.col("e_bp") if d == 1 else F.col("bpos")).alias("bpos"),
        )
        anc = anc.unionByName(frontier)
    return (
        anc.groupBy("c_module", "c_name", "a_module", "a_name")
        # min depth first; among equal-depth paths the lowest non-null
        # first-hop position (nulls last via the coalesce sentinel)
        .agg(F.min(F.struct("depth", F.coalesce("bpos", F.lit(2**31 - 1)).alias("bpos"))).alias("__b"))
        .select(
            "c_module",
            "c_name",
            "a_module",
            "a_name",
            F.col("__b.depth").alias("depth"),
            F.when(F.col("__b.bpos") < 2**31 - 1, F.col("__b.bpos")).alias("bpos"),
        )
    )


def _mro_nearest_def(
    need: DataFrame, anc: DataFrame, dm: DataFrame, *, min_depth: int = 0
) -> DataFrame:
    """Nearest-ancestor method lookup with the diamond contract.

    Candidates = need × ancestor closure × defs, grouped per depth; the
    nearest depth with definitions resolves iff it has exactly ONE
    distinct def (the r7 ambiguity guard) — OR the tie sits at depth 1,
    where C3 settles it: a class's direct bases appear in its MRO in
    base-list order, so the lowest-``bpos`` definer wins (verdict r8
    item 5). Two escapes keep the zero-false contract: a tie with any
    NULL position (legacy stored rows) stays unresolved, and so does a
    winner that is itself a strict ancestor of another tied definer —
    that base list (``class D(B, C)`` with ``C(B)``) is C3-inconsistent
    and Python refuses to build the class at all.

    ``need``: (n_mod, n_name, n_method) distinct, optionally with a
    per-row ``n_mind`` minimum depth (0 = plain lookup, 1 = super()
    dispatch skipping the own override) so BOTH lookup flavors batch
    into one pass — the pipeline runs this table once per index batch,
    not once per flavor. ``dm``: (dm_module, dm_name) definitions.
    Returns (n_mod, n_name, n_method, n_mind, h_def), at most one row
    per key. All joins are class-count-scale equi-joins.
    """
    if "n_mind" not in need.columns:
        need = need.withColumn("n_mind", F.lit(int(min_depth)))
    # soundness blocker (round 11): a class with __getattribute__
    # anywhere in its ancestry intercepts EVERY attribute read at
    # runtime, so a def-table hit for any of its methods may be wrong —
    # drop those needs entirely (unresolved beats guessed, as
    # everywhere). __getattr__ needs no blocker: it fires only when
    # normal lookup FAILS, and a failed lookup is already unresolved
    # here. Class-count-scale equi-join on the pinned closure.
    dyn = (
        anc.join(
            dm,
            (F.col("a_module") == dm.dm_module)
            & (
                F.concat_ws(".", F.col("a_name"), F.lit("__getattribute__"))
                == dm.dm_name
            ),
        )
        .select(F.col("c_module").alias("dy_mod"), F.col("c_name").alias("dy_name"))
        .distinct()
    )
    need = need.join(
        dyn,
        (need.n_mod == dyn.dy_mod) & (need.n_name == dyn.dy_name),
        "left_anti",
    )
    cond = (
        (need.n_mod == anc.c_module)
        & (need.n_name == anc.c_name)
        & (anc.depth >= need.n_mind)
    )
    cand = (
        need.join(anc, cond)
        .join(
            dm,
            (F.col("a_module") == dm.dm_module)
            & (F.concat_ws(".", F.col("a_name"), F.col("n_method")) == dm.dm_name),
        )
        .select(
            "n_mod", "n_name", "n_method", "n_mind", "depth", "bpos",
            "a_module", "a_name", "dm_module", "dm_name",
        )
    )
    # candidates fan into FOUR consumers (per_depth→best→unique,
    # tie_keys, tied, and bad = first×tied); unpinned, each consumer
    # replays `need`'s full upstream join tree and the plan grows
    # multiplicatively — measured as a driver heap OOM on a 3-file
    # index batch. Class-count-scale rows: pinning is noise.
    cand = _pin(cand, "mind_cand")
    per_depth = cand.groupBy("n_mod", "n_name", "n_method", "n_mind", "depth").agg(
        F.count_distinct(F.struct("dm_module", "dm_name")).alias("__ndefs"),
        F.min("dm_name").alias("__def"),
    )
    best = per_depth.groupBy("n_mod", "n_name", "n_method", "n_mind").agg(
        F.min(F.struct("depth", "__ndefs", "__def")).alias("__best")
    )
    unique = best.filter(F.col("__best.__ndefs") == 1).select(
        "n_mod", "n_name", "n_method", "n_mind", F.col("__best.__def").alias("h_def")
    )
    # equal-depth-1 diamonds: order the tied direct-base definers by
    # base-list position
    tie_keys = best.filter(
        (F.col("__best.__ndefs") > 1) & (F.col("__best.depth") == 1)
    ).select("n_mod", "n_name", "n_method", "n_mind")
    tied = cand.filter(F.col("depth") == 1).join(
        tie_keys, ["n_mod", "n_name", "n_method", "n_mind"], "left_semi"
    )
    first = (
        tied.groupBy("n_mod", "n_name", "n_method", "n_mind")
        .agg(
            F.min(
                F.when(
                    F.col("bpos").isNotNull(),
                    F.struct(
                        "bpos",
                        F.col("a_module").alias("w_mod"),
                        F.col("a_name").alias("w_name"),
                        F.col("dm_name").alias("w_def"),
                    ),
                )
            ).alias("__w"),
            F.sum(F.when(F.col("bpos").isNull(), 1).otherwise(0)).alias("__nulls"),
        )
        .filter((F.col("__nulls") == 0) & F.col("__w").isNotNull())
    )
    # C3-inconsistency guard: the positional winner must not be a strict
    # ancestor of another tied definer
    anc2 = anc.select(
        F.col("c_module").alias("x_cm"),
        F.col("c_name").alias("x_cn"),
        F.col("a_module").alias("x_am"),
        F.col("a_name").alias("x_an"),
        F.col("depth").alias("x_d"),
    )
    bad = (
        first.join(tied, ["n_mod", "n_name", "n_method", "n_mind"])
        .filter(
            ~(
                (F.col("a_module") == F.col("__w.w_mod"))
                & (F.col("a_name") == F.col("__w.w_name"))
            )
        )
        .join(
            anc2,
            (F.col("a_module") == F.col("x_cm"))
            & (F.col("a_name") == F.col("x_cn"))
            & (F.col("__w.w_mod") == F.col("x_am"))
            & (F.col("__w.w_name") == F.col("x_an"))
            & (F.col("x_d") >= 1),
        )
        .select("n_mod", "n_name", "n_method", "n_mind")
        .distinct()
    )
    tie_resolved = first.join(
        bad, ["n_mod", "n_name", "n_method", "n_mind"], "left_anti"
    ).select(
        "n_mod", "n_name", "n_method", "n_mind", F.col("__w.w_def").alias("h_def")
    )
    return unique.unionByName(tie_resolved)


def resolve_calls(
    relations: DataFrame,
    bindings: DataFrame,
    entities: DataFrame,
    type_binds: DataFrame | None = None,
    *,
    return_binds: DataFrame | None = None,
    stored_relations: DataFrame | None = None,
    max_hops: int = 3,
    max_inherit: int = 3,
) -> DataFrame:
    """Rewrite `calls` relations through the import graph.

    ``relations``: split_parsed's relation slice (context = dotted call
    base for attribute calls). ``bindings``: import_bindings(parsed).
    ``entities``: the entity table (entity_name, entity_type,
    file_path, ...). ``type_binds``: type_bindings(parsed) — enables
    instance-typed method resolution (``x = C(); x.m()`` → the C.m
    entity, looking through inherited classes when C doesn't define m).
    ``return_binds``: return_bindings(parsed) — factory-function
    returns; a type-bind whose ctor names such a function substitutes
    the factory's returned class before method lookup.
    ``stored_relations``: previously-indexed relations (replaced files
    already excluded) — an INCREMENTAL batch's own relation slice lacks
    the `inherits` edges of untouched files, so without this the
    ancestor closure would silently forget every cross-file base class
    on reindex.
    Cold and incremental batches run the same plan: the lookup tables
    are the whole corpus (stored ∪ batch), unfiltered, because at
    project scale resolve is bound by its Spark job count, not by the
    size of those tables.
    Returns relations with the same schema; resolved calls have
    to_entity rewritten to the defining entity's name and
    import_type='resolved'. Non-call rows and unresolvable calls pass
    through unchanged."""
    if os.environ.get("CCMS_RESOLVE_PROFILE") == "1":
        PIN_PROFILE.clear()  # profile is per-run, not accumulated across runs
    # last-import-wins isn't statically knowable row-order-free; dedupe
    # so a re-imported name can't fan a call out into duplicate rows
    b = _absolutize(bindings).dropDuplicates(["file_path", "local_name", "import_type"])

    # definitions: non-import entities keyed by (defining module, name)
    defs = _pin(
        entities.filter(~F.col("entity_type").isin("import", "file"))
        .select(
            module_of_path("file_path").alias("def_module"),
            F.col("entity_name").alias("def_name"),
        )
        .distinct(),
        "defs",
    )

    # absolute import targets → the path-derived module namespace
    # (handles project-root == package-dir; see _normalize_targets)
    known = defs.select(F.col("def_module").alias("module")).unionByName(
        b.select("module")
    )
    b = _pin(_normalize_targets(b, known), "normalize_targets")
    fromb = b.filter(F.col("import_type") == "from")
    modb = b.filter(F.col("import_type") == "module")
    # what a module exports to star consumers: its __all__ when declared
    # (Python), else its public names; JS/TS has no underscore privacy
    exp = b.filter(F.col("import_type") == "export").select(
        F.col("module").alias("x_mod"), F.col("local_name").alias("x_name")
    )
    has_exp = exp.select(F.col("x_mod").alias("hx_mod")).distinct()
    chased = _chase(fromb, max_hops).dropDuplicates(["file_path", "local_name"])

    # default exports (JS): `import W from './m'` binds W with the
    # '__default__' member sentinel — rewrite it to the exporting
    # module's named default (the parser's default_export marker). A
    # module with no / an anonymous / more than one default marker
    # (duplicate module paths) leaves the sentinel in place, which
    # matches no definition downstream: unresolved beats guessed.
    dexp = (
        b.filter(F.col("import_type") == "default_export")
        .groupBy(F.col("module").alias("dx_mod"))
        .agg(
            F.count_distinct("local_name").alias("__dn"),
            F.min("local_name").alias("dx_name"),
        )
        .filter(F.col("__dn") == 1)
        .select("dx_mod", "dx_name")
    )
    chased = _pin(
        chased.join(
            dexp,
            (chased.target_module == dexp.dx_mod)
            & (chased.member == "__default__"),
            "left",
        )
        .withColumn("member", F.coalesce("dx_name", "member"))
        .drop("dx_mod", "dx_name"),
        "chased_default",
    )

    # star hop: a chased terminal (module, name) that is NOT a definition,
    # where that module star-binds exactly one other module that DOES
    # define the name, hops once more. This covers JS barrel files
    # (`lib/index.js: export * from './core'` — then `import { Tool }
    # from './lib'` lands on lib.core.Tool) AND the Python twin (a module
    # whose namespace includes `from x import *` names). Export rules of
    # the SOURCE apply: Python sources hide underscore names unless
    # __all__ lists them; JS sources re-export everything.
    # both scope-binding stars (Python `from x import *`, which also
    # re-exports) and JS export-stars (`export * from './core'`, which
    # ONLY re-exports) participate in the barrel hop; the bare-call
    # fallback below takes scope-binding stars alone.
    bar = b.filter(F.col("import_type").isin("star", "star_export")).select(
        F.col("module").alias("bs_mod"),
        F.col("target_module").alias("bs_tgt"),
        F.col("file_path").rlike(r"\.py$").alias("bs_py"),
    )
    dd1 = defs.select(
        F.col("def_module").alias("q1_mod"), F.col("def_name").alias("q1_name")
    )
    dd2 = defs.select(
        F.col("def_module").alias("q2_mod"), F.col("def_name").alias("q2_name")
    )
    # JS barrel-of-barrels (round 9): `barrel2: export * from './index'`
    # where index itself star-re-exports core — the hop must land on the
    # DEFINING module, so close the star edges transitively (one extra
    # level) before the fix. JS-only: `export *` re-exports everything,
    # so composition is exact; Python star-of-star visibility depends on
    # each intermediate's __all__/underscore rules, which the final
    # target's gates below can't represent — left un-composed
    # (unresolved beats guessed).
    b2 = bar.select(
        F.col("bs_mod").alias("c2_mod"),
        F.col("bs_tgt").alias("c2_tgt"),
        F.col("bs_py").alias("c2_py"),
    )
    bar = bar.unionByName(
        bar.join(b2, F.col("bs_tgt") == F.col("c2_mod"))
        .filter(~F.col("bs_py") & ~F.col("c2_py"))
        .select("bs_mod", F.col("c2_tgt").alias("bs_tgt"), "bs_py")
    ).distinct()
    star_fix = (
        chased.join(
            dd1,
            (F.col("target_module") == F.col("q1_mod"))
            & (F.col("member") == F.col("q1_name")),
            "left_anti",  # terminal already a def: nothing to fix
        )
        .join(bar, F.col("target_module") == F.col("bs_mod"))
        .join(
            dd2,
            (F.col("bs_tgt") == F.col("q2_mod")) & (F.col("member") == F.col("q2_name")),
        )
        .join(
            exp,
            (F.col("bs_tgt") == F.col("x_mod")) & (F.col("member") == F.col("x_name")),
            "left",
        )
        .join(has_exp, F.col("bs_tgt") == F.col("hx_mod"), "left")
        .filter(
            ~F.col("bs_py")
            | F.col("x_name").isNotNull()
            | (F.col("hx_mod").isNull() & ~F.col("member").startswith("_"))
        )
        .groupBy("file_path", "local_name")
        .agg(F.count_distinct("bs_tgt").alias("__n"), F.min("bs_tgt").alias("__tgt"))
        .filter(F.col("__n") == 1)  # two stars offering the name: ambiguous
        .select(
            F.col("file_path").alias("z_file"),
            F.col("local_name").alias("z_local"),
            F.col("__tgt").alias("z_tgt"),
        )
    )
    chased = _pin(
        chased.join(
            star_fix,
            (chased.file_path == star_fix.z_file)
            & (chased.local_name == star_fix.z_local),
            "left",
        )
        .withColumn("target_module", F.coalesce("z_tgt", "target_module"))
        .drop("z_file", "z_local", "z_tgt"),
        "chased_star",
    )

    calls = relations.filter(F.col("relation_type") == "calls")
    # throws targets and bare decorator uses are names in the SAME
    # namespace as bare calls (`raise NotReady` / `@cached` where the
    # name was from-imported, possibly aliased) — route them through
    # the bare rewrite so the graph stores the defining name
    bare_named = relations.filter(
        (F.col("relation_type") == "throws")
        | (
            (F.col("relation_type") == "uses")
            & (F.col("import_type") == "decorator")
        )
    )
    passthrough = relations.filter(
        (F.col("relation_type") != "calls")
        & (F.col("relation_type") != "throws")
        # eqNullSafe: `uses` rows with NULL import_type (JSON loads,
        # data files) must stay in the passthrough, and a plain ==
        # yields NULL there, which filter() would silently drop
        & ~(
            (F.col("relation_type") == "uses")
            & F.col("import_type").eqNullSafe("decorator")
        )
    )

    # --- bare calls: f() where f is a from-import binding -------------
    bare = calls.filter(F.col("context").isNull()).unionByName(bare_named)
    cb = chased.select(
        F.col("file_path").alias("b_file"),
        F.col("local_name").alias("b_local"),
        F.col("target_module").alias("b_tmod"),
        F.col("member").alias("b_member"),
    )
    bare = bare.join(
        cb,
        (bare.file_path == cb.b_file) & (bare.to_entity == cb.b_local),
        "left",
    ).join(
        defs,
        (F.col("b_tmod") == defs.def_module) & (F.col("b_member") == defs.def_name),
        "left",
    )

    # star-import fallback: `from m import *; f()` resolves when EXACTLY
    # ONE starred module supplies a definition of the name — directly, or
    # through one re-export hop of that module's own from-bindings
    # (`from pkg import *` picking up pkg/__init__'s re-exports) — and
    # the importing module does not define the name itself (locals shadow
    # star imports; Python's true last-import-wins order isn't statically
    # knowable, so ambiguity stays unresolved rather than guessed).
    # Candidate building is star-bindings × target-module defs — both
    # entity-scale — and the hits table is distinct (file, name) pairs.
    sb = b.filter(F.col("import_type") == "star").select(
        F.col("file_path").alias("sb_file"),
        F.col("module").alias("sb_mod"),
        F.col("target_module").alias("sb_tmod"),
    )
    sd = defs.select(
        F.col("def_module").alias("sd_mod"), F.col("def_name").alias("sd_name")
    )
    star_direct = sb.join(sd, F.col("sb_tmod") == F.col("sd_mod")).select(
        "sb_file",
        "sb_mod",
        F.col("sb_tmod").alias("st_src"),
        F.col("sd_name").alias("st_name"),
        F.col("sd_mod").alias("st_dmod"),
        F.col("sd_name").alias("st_def"),
    )
    ce = chased.select(
        F.col("module").alias("ce_mod"),
        F.col("local_name").alias("ce_local"),
        F.col("target_module").alias("ce_tmod"),
        F.col("member").alias("ce_member"),
    )
    star_reexp = (
        sb.join(ce, F.col("sb_tmod") == F.col("ce_mod"))
        .join(
            sd,
            (F.col("ce_tmod") == F.col("sd_mod"))
            & (F.col("ce_member") == F.col("sd_name")),
        )
        .select(
            "sb_file",
            "sb_mod",
            F.col("sb_tmod").alias("st_src"),
            F.col("ce_local").alias("st_name"),
            F.col("sd_mod").alias("st_dmod"),
            F.col("sd_name").alias("st_def"),
        )
    )
    own = defs.select(
        F.col("def_module").alias("o_mod"), F.col("def_name").alias("o_name")
    )
    # explicit bindings shadow star imports under Python semantics: in
    # `from os.path import join; from utils import *`, join() is os.path's
    # even though the chase finds no repo-local def for it (ADVICE r6).
    # Anti-join the star candidates against every explicit from/module
    # binding of the same (file, name) so a name with ANY explicit binding
    # never takes the star path — unresolved beats wrongly resolved.
    explicit = chased.select(
        F.col("file_path").alias("xb_file"), F.col("local_name").alias("xb_name")
    ).unionByName(
        modb.select(
            F.col("file_path").alias("xb_file"),
            F.col("local_name").alias("xb_name"),
        )
    )
    star_hits = (
        star_direct.unionByName(star_reexp)
        .join(
            exp,
            (F.col("st_src") == F.col("x_mod")) & (F.col("st_name") == F.col("x_name")),
            "left",
        )
        .join(has_exp, F.col("st_src") == F.col("hx_mod"), "left")
        .filter(
            F.col("x_name").isNotNull()
            | (F.col("hx_mod").isNull() & ~F.col("st_name").startswith("_"))
        )
        .join(
            own,
            (F.col("sb_mod") == F.col("o_mod")) & (F.col("st_name") == F.col("o_name")),
            "left_anti",
        )
        .join(
            explicit,
            (F.col("sb_file") == F.col("xb_file"))
            & (F.col("st_name") == F.col("xb_name")),
            "left_anti",
        )
        .groupBy("sb_file", "st_name")
        .agg(
            F.count_distinct("st_dmod", "st_def").alias("__n"),
            F.min("st_def").alias("st_def"),
        )
        .filter(F.col("__n") == 1)
        .select(F.col("sb_file").alias("st_file"), "st_name", "st_def")
    )
    # module-keyed star hop for NAMESPACE imports through a barrel
    # (`import * as lib from '../lib'; lib.helper()` — src.lib only
    # star-exports helper): same candidate set and export/shadowing
    # rules as star_hits, but keyed (module, name) instead of (file,
    # name), for the attr path's module-alias branch. The `own`
    # anti-join keeps a module's OWN definition shadowing its
    # star-re-exports, so a hop row never competes with a direct def.
    explicit_mod = chased.select(
        F.col("module").alias("xm_mod"), F.col("local_name").alias("xm_name")
    ).unionByName(
        modb.select(
            module_of_path("file_path").alias("xm_mod"),
            F.col("local_name").alias("xm_name"),
        )
    )
    # candidates come from `bar` (scope-binding stars AND export-stars:
    # a namespace read `lib.helper` sees both kinds of re-export), not
    # the bare-call `sb` set (scope-binding only)
    sm_direct = bar.join(sd, F.col("bs_tgt") == F.col("sd_mod")).select(
        F.col("bs_mod").alias("sb_mod"),
        F.col("bs_tgt").alias("st_src"),
        F.col("sd_name").alias("st_name"),
        F.col("sd_mod").alias("st_dmod"),
        F.col("sd_name").alias("st_def"),
    )
    sm_reexp = (
        bar.join(ce, F.col("bs_tgt") == F.col("ce_mod"))
        .join(
            sd,
            (F.col("ce_tmod") == F.col("sd_mod"))
            & (F.col("ce_member") == F.col("sd_name")),
        )
        .select(
            F.col("bs_mod").alias("sb_mod"),
            F.col("bs_tgt").alias("st_src"),
            F.col("ce_local").alias("st_name"),
            F.col("sd_mod").alias("st_dmod"),
            F.col("sd_name").alias("st_def"),
        )
    )
    star_mod = (
        sm_direct.unionByName(sm_reexp)
        .join(
            exp,
            (F.col("st_src") == F.col("x_mod")) & (F.col("st_name") == F.col("x_name")),
            "left",
        )
        .join(has_exp, F.col("st_src") == F.col("hx_mod"), "left")
        .filter(
            F.col("x_name").isNotNull()
            | (F.col("hx_mod").isNull() & ~F.col("st_name").startswith("_"))
        )
        .join(
            own,
            (F.col("sb_mod") == F.col("o_mod")) & (F.col("st_name") == F.col("o_name")),
            "left_anti",
        )
        .join(
            explicit_mod,
            (F.col("sb_mod") == F.col("xm_mod"))
            & (F.col("st_name") == F.col("xm_name")),
            "left_anti",
        )
        .groupBy(F.col("sb_mod").alias("sm_mod"), F.col("st_name").alias("sm_name"))
        .agg(
            F.count_distinct("st_dmod", "st_def").alias("__smn"),
            F.min(F.struct("st_dmod", "st_def")).alias("__sm"),
        )
        .filter(F.col("__smn") == 1)
        .select(
            "sm_mod",
            "sm_name",
            F.col("__sm.st_dmod").alias("sm_dmod"),
            F.col("__sm.st_def").alias("sm_def"),
        )
    )

    bare = (
        bare.join(
            star_hits,
            (F.col("file_path") == star_hits.st_file)
            & (F.col("to_entity") == star_hits.st_name),
            "left",
        )
        .select(
            "from_entity",
            F.coalesce("def_name", "st_def", "to_entity").alias("to_entity"),
            "relation_type",
            "context",
            "confidence",
            F.when(
                F.col("def_name").isNotNull() | F.col("st_def").isNotNull(),
                F.lit("resolved"),
            )
            .otherwise(F.col("import_type"))
            .alias("import_type"),
            "file_path",
        )
    )

    # --- attribute calls: base.f() ------------------------------------
    attr = calls.filter(F.col("context").isNotNull())
    b0 = F.split(F.col("context"), r"\.")[0]
    brem = F.regexp_replace(F.col("context"), r"^[^.]+", "")  # '.y.z' or ''
    attr = attr.withColumn("__b0", b0).withColumn("__brem", brem)

    # whole-context from-import binding — feeds BOTH the module path
    # (`from . import utils; utils.helper()` → module pkg.utils) and
    # the class path (`from m import C; C.method()`); locals never
    # contain dots, so a hit implies __brem == ''
    cb3 = chased.select(
        F.col("file_path").alias("e_file"),
        F.col("local_name").alias("e_local"),
        F.col("target_module").alias("e_tmod"),
        F.col("member").alias("e_member"),
    )
    attr = attr.join(
        cb3, (attr.file_path == cb3.e_file) & (attr.context == cb3.e_local), "left"
    )

    # (a) base is a module: the head is a module-alias binding
    # (z.f() / z.sub.f() → module zTarget(.sub)), or the whole base is
    # a from-imported module (target.member names it)
    mb = modb.select(
        F.col("file_path").alias("m_file"),
        F.col("local_name").alias("m_local"),
        F.col("target_module").alias("m_tmod"),
    )
    attr = attr.join(
        mb, (attr.file_path == mb.m_file) & (attr.__b0 == mb.m_local), "left"
    ).withColumn(
        "__mod",
        F.coalesce(
            F.when(
                F.col("m_tmod").isNotNull(),
                F.concat(F.col("m_tmod"), F.col("__brem")),
            ),
            F.when(
                F.col("e_tmod").isNotNull(),
                F.concat_ws(".", F.col("e_tmod"), F.col("e_member")),
            ),
        ),
    )
    # the aliased module may re-export the callee — chase one lookup
    cb2 = chased.select(
        F.col("module").alias("c_module"),
        F.col("local_name").alias("c_local"),
        F.col("target_module").alias("c_tmod"),
        F.col("member").alias("c_member"),
    )
    attr = attr.join(
        cb2,
        (F.col("__mod") == cb2.c_module) & (attr.to_entity == cb2.c_local),
        "left",
    ).withColumn(
        "__mod_final", F.coalesce("c_tmod", "__mod")
    ).withColumn(
        "__name_final", F.coalesce("c_member", "to_entity")
    )
    # namespace-through-barrel: a (module, name) the module only
    # supplies via an unambiguous star-export hops once more (star_mod)
    attr = attr.join(
        star_mod,
        (F.col("__mod_final") == F.col("sm_mod"))
        & (F.col("__name_final") == F.col("sm_name")),
        "left",
    ).withColumn(
        "__mod_final", F.coalesce("sm_dmod", "__mod_final")
    ).withColumn(
        "__name_final", F.coalesce("sm_def", "__name_final")
    )
    d1 = defs.select(
        F.col("def_module").alias("d1_module"), F.col("def_name").alias("d1_name")
    )
    attr = attr.join(
        d1,
        (F.col("__mod_final") == d1.d1_module) & (F.col("__name_final") == d1.d1_name),
        "left",
    )

    # (b) class-valued bases: direct (`C.m()` with C from-imported or
    # defined in-file), instance-typed (`x = C(); x.m()`), and
    # self-attribute (`self.db = C()` … `self.db.query()`) all funnel
    # into ONE method lookup through the inheritance closure, so a
    # method defined on a base class resolves wherever the subclass is
    # used. Every step is an entity-scale equi-join.
    # TS interfaces participate like classes: an interface-typed value's
    # method calls resolve to the interface's declared member (what TS
    # itself resolves to), and `extends` chains ride the same closure
    classes = _pin(
        entities.filter(F.col("entity_type").isin("class", "interface"))
        .select(
            "file_path",
            module_of_path("file_path").alias("k_module"),
            F.col("entity_name").alias("k_name"),
        )
        .distinct(),
        "classes",
    )
    # ancestor closure, built once here (the attribute/property lookup
    # below and the method/super lookups at the end all consume it):
    # stored inherits edges included so incremental batches keep
    # cross-file base classes
    rel_for_anc = relations
    if stored_relations is not None:
        rel_for_anc = relations.unionByName(
            stored_relations.select(*relations.columns)
        )
    anc = _pin(
        _class_ancestors(rel_for_anc, chased, classes, max_inherit=max_inherit),
        "ancestors",
    )

    # direct: the whole base names a chased from-import (e_* columns,
    # joined above) or a same-file class
    lc1 = classes.select(
        F.col("file_path").alias("l1_file"),
        F.col("k_module").alias("l1_module"),
        F.col("k_name").alias("l1_name"),
    )
    attr = attr.join(
        lc1,
        (F.col("file_path") == lc1.l1_file) & (F.col("context") == lc1.l1_name),
        "left",
    )

    # call-result bases: a context ending in '()' (parser marker for a
    # single-level chained call, `d.get_conn().query()`) means the base
    # value is the RESULT of that call — i.e. a type bind whose
    # (ctor, base) is known WITHOUT a variable. Parsing it here feeds
    # the identical factory machinery a named bind uses downstream:
    # 'make_tool()' → function factory, 'Tool.create()' → classmethod
    # factory, 'd.get_conn()' / 'self.db.get_conn()' → instance-method
    # factory. No other join matches a '()' context (vars, classes,
    # module aliases and def names never contain parens), so the marker
    # is inert everywhere else.
    _ctx_stripped = F.regexp_replace(F.col("context"), r"\(\)$", "")
    _cc_base = F.regexp_replace(_ctx_stripped, r"\.[^.]+$", "")
    call_ctor = F.when(
        F.col("context").rlike(r"\(\)$"),
        F.struct(
            F.element_at(F.split(_ctx_stripped, r"\."), -1).alias("ctor"),
            F.when(_cc_base != _ctx_stripped, _cc_base).alias("base"),
        ),
    )

    # instance-typed: (file, scope, var) → the var's unambiguous
    # constructor. Scope priority mirrors Python name lookup: the
    # calling function's locals, then the class scope (self.attrs),
    # then module scope.
    if type_binds is not None:
        tb = type_binds
        if "awaited" not in tb.columns:  # caller-built legacy frame
            tb = tb.withColumn("awaited", F.lit(False))
        if "targ" not in tb.columns:  # pre-round-11 frame: no generics
            tb = tb.withColumn("targ", F.lit(None).cast("string"))
        tb = _pin(
            tb.withColumn("awaited", F.coalesce("awaited", F.lit(False)))
            .dropDuplicates(["file_path", "scope", "var"]),
            "tb",
        )
        tbf = tb.select(
            F.col("file_path").alias("tf_file"),
            F.col("scope").alias("tf_scope"),
            F.col("var").alias("tf_var"),
            F.struct(F.col("ctor").alias("ctor"), F.col("ctor_base").alias("base")).alias("tf_c"),
            F.col("awaited").alias("tf_aw"),
        )
        tbs = tb.select(
            F.col("file_path").alias("ts_file"),
            F.col("scope").alias("ts_scope"),
            F.col("var").alias("ts_var"),
            F.struct(F.col("ctor").alias("ctor"), F.col("ctor_base").alias("base")).alias("ts_c"),
            F.col("awaited").alias("ts_aw"),
        )
        tbm = tb.select(
            F.col("file_path").alias("tm_file"),
            F.col("scope").alias("tm_scope"),
            F.col("var").alias("tm_var"),
            F.struct(F.col("ctor").alias("ctor"), F.col("ctor_base").alias("base")).alias("tm_c"),
            F.col("awaited").alias("tm_aw"),
        )
        attr = (
            attr.join(
                tbf,
                (F.col("file_path") == tbf.tf_file)
                & (F.col("from_entity") == tbf.tf_scope)
                & (F.col("context") == tbf.tf_var),
                "left",
            )
            .join(
                tbs,
                (F.col("file_path") == tbs.ts_file)
                & (F.split(F.col("from_entity"), r"\.")[0] == tbs.ts_scope)
                & (F.col("context") == tbs.ts_var)
                & (
                    F.col("context").startswith("self.")  # Python
                    | F.col("context").startswith("this.")  # JS/TS
                ),
                "left",
            )
            .join(
                tbm,
                (F.col("file_path") == tbm.tm_file)
                & (F.col("file_path") == tbm.tm_scope)
                & (F.col("context") == tbm.tm_var),
                "left",
            )
            .withColumn("__ctor", F.coalesce("tf_c", "ts_c", "tm_c", call_ctor))
            # the awaited flag of whichever bind __ctor took (call
            # markers are never awaited — parenthesized awaits poison
            # at the parser): drives the async-factory match below
            .withColumn(
                "__aw",
                F.when(F.col("tf_c").isNotNull(), F.col("tf_aw"))
                .when(F.col("ts_c").isNotNull(), F.col("ts_aw"))
                .when(F.col("tm_c").isNotNull(), F.col("tm_aw"))
                .otherwise(F.lit(False)),
            )
        )
    else:
        attr = attr.withColumn("__ctor", call_ctor).withColumn(
            "__aw", F.lit(False)
        )

    # the ctor name itself resolves like a bare name (chased from-import
    # or same-file class) or, with a dotted base, through a module alias
    cb4 = chased.select(
        F.col("file_path").alias("c4_file"),
        F.col("local_name").alias("c4_local"),
        F.col("target_module").alias("c4_tmod"),
        F.col("member").alias("c4_member"),
    )
    lc2 = classes.select(
        F.col("file_path").alias("l2_file"),
        F.col("k_module").alias("l2_module"),
        F.col("k_name").alias("l2_name"),
    )
    mb2 = modb.select(
        F.col("file_path").alias("m2_file"),
        F.col("local_name").alias("m2_local"),
        F.col("target_module").alias("m2_tmod"),
    )
    ctor_head = F.split(F.col("__ctor.base"), r"\.")[0]
    ctor_rem = F.regexp_replace(F.col("__ctor.base"), r"^[^.]+", "")
    attr = (
        attr.join(
            cb4,
            F.col("__ctor.base").isNull()
            & (F.col("file_path") == cb4.c4_file)
            & (F.col("__ctor.ctor") == cb4.c4_local),
            "left",
        )
        .join(
            lc2,
            F.col("__ctor.base").isNull()
            & (F.col("file_path") == lc2.l2_file)
            & (F.col("__ctor.ctor") == lc2.l2_name),
            "left",
        )
        .join(
            mb2,
            F.col("__ctor.base").isNotNull()
            & (F.col("file_path") == mb2.m2_file)
            & (ctor_head == mb2.m2_local),
            "left",
        )
        .withColumn(
            "__cls",
            F.coalesce(
                F.when(
                    F.col("e_tmod").isNotNull(),
                    F.struct(F.col("e_tmod").alias("mod"), F.col("e_member").alias("name")),
                ),
                F.when(
                    F.col("l1_module").isNotNull(),
                    F.struct(F.col("l1_module").alias("mod"), F.col("context").alias("name")),
                ),
                F.when(
                    F.col("c4_tmod").isNotNull(),
                    F.struct(F.col("c4_tmod").alias("mod"), F.col("c4_member").alias("name")),
                ),
                F.when(
                    F.col("l2_module").isNotNull(),
                    F.struct(F.col("l2_module").alias("mod"), F.col("__ctor.ctor").alias("name")),
                ),
                F.when(
                    F.col("m2_tmod").isNotNull(),
                    F.struct(
                        F.concat(F.col("m2_tmod"), ctor_rem).alias("mod"),
                        F.col("__ctor.ctor").alias("name"),
                    ),
                ),
                # bare ctor with no import/class hit: try the calling
                # file's own module — this is what lets a SAME-FILE
                # factory function (`def make(): return Tool()` beside
                # its caller) reach the factory join below; a name the
                # module doesn't define simply matches nothing downstream
                F.when(
                    F.col("__ctor.ctor").isNotNull() & F.col("__ctor.base").isNull(),
                    F.struct(
                        module_of_path("file_path").alias("mod"),
                        F.col("__ctor.ctor").alias("name"),
                    ),
                ),
            ),
        )
    )
    # one more re-export chase: `import pkg as p; p.Tool()` lands on
    # (pkg, Tool) which pkg/__init__ re-exports from pkg.core
    # chased is unique per (file, local) but NOT per (module, local):
    # `lib/index.js` and `lib.js` both derive module 'lib', so a
    # collision would fan this join out into duplicate call rows —
    # dedupe on the join key (deterministic min target on ties)
    cb5 = (
        chased.groupBy(
            F.col("module").alias("g_module"),
            F.col("local_name").alias("g_local"),
        )
        .agg(F.min(F.struct("target_module", "member")).alias("__t"))
        .select(
            "g_module",
            "g_local",
            F.col("__t.target_module").alias("g_tmod"),
            F.col("__t.member").alias("g_member"),
        )
    )
    attr = (
        attr.join(
            cb5,
            (F.col("__cls.mod") == cb5.g_module) & (F.col("__cls.name") == cb5.g_local),
            "left",
        )
        .withColumn("__cm", F.coalesce("g_tmod", "__cls.mod"))
        .withColumn("__cn", F.coalesce("g_member", "__cls.name"))
    )

    # factory functions: when (__cm, __cn) names a module-level function
    # whose every return is the same constructor call, the call site's
    # value is that class — `x = make_tool(); x.run()` proceeds into the
    # method lookup as Tool. The returned ctor resolves in the FACTORY's
    # own file context (its chased from-imports, its same-file classes,
    # its module aliases), then chases one re-export hop, so the
    # substituted (module, class) is terminal. Entity-scale equi-joins
    # throughout; built once, keyed by defining (module, function).
    if return_binds is not None:
        rb = return_binds
        if "is_async" not in rb.columns:  # caller-built legacy frame
            rb = rb.withColumn("is_async", F.lit(False))
        rb = rb.withColumn(
            "is_async", F.coalesce("is_async", F.lit(False))
        ).withColumn("rb_module", module_of_path("file_path"))
        rcb = chased.select(
            F.col("file_path").alias("rc_file"),
            F.col("local_name").alias("rc_local"),
            F.col("target_module").alias("rc_tmod"),
            F.col("member").alias("rc_member"),
        )
        rlc = classes.select(
            F.col("file_path").alias("rl_file"),
            F.col("k_module").alias("rl_module"),
            F.col("k_name").alias("rl_name"),
        )
        rmb = modb.select(
            F.col("file_path").alias("rm_file"),
            F.col("local_name").alias("rm_local"),
            F.col("target_module").alias("rm_tmod"),
        )
        rb_head = F.split(F.col("ctor_base"), r"\.")[0]
        rb_rem = F.regexp_replace(F.col("ctor_base"), r"^[^.]+", "")
        fx = (
            rb.join(
                rcb,
                F.col("ctor_base").isNull()
                & (F.col("file_path") == rcb.rc_file)
                & (F.col("ctor") == rcb.rc_local),
                "left",
            )
            .join(
                rlc,
                F.col("ctor_base").isNull()
                & (F.col("file_path") == rlc.rl_file)
                & (F.col("ctor") == rlc.rl_name),
                "left",
            )
            .join(
                rmb,
                F.col("ctor_base").isNotNull()
                & (F.col("file_path") == rmb.rm_file)
                & (rb_head == rmb.rm_local),
                "left",
            )
            .select(
                F.col("rb_module").alias("fx_module"),
                F.col("func").alias("fx_func"),
                F.col("is_async"),
                F.coalesce(
                    F.when(
                        F.col("rc_tmod").isNotNull(),
                        F.struct(
                            F.col("rc_tmod").alias("mod"), F.col("rc_member").alias("name")
                        ),
                    ),
                    F.when(
                        F.col("rl_module").isNotNull(),
                        F.struct(
                            F.col("rl_module").alias("mod"), F.col("ctor").alias("name")
                        ),
                    ),
                    F.when(
                        F.col("rm_tmod").isNotNull(),
                        F.struct(
                            F.concat(F.col("rm_tmod"), rb_rem).alias("mod"),
                            F.col("ctor").alias("name"),
                        ),
                    ),
                ).alias("fx_cls"),
                # `-> T` where T is the owner class's single type param
                # (parse-time certainty): the return is the BIND's type
                # argument, substituted at the marker path (fxh) only
                (F.col("ctor") == "__typeparam__").alias("is_param"),
            )
            .filter(F.col("fx_cls").isNotNull() | F.col("is_param"))
        )
        fcb = cb5.select(
            F.col("g_module").alias("f_module"),
            F.col("g_local").alias("f_local"),
            F.col("g_tmod").alias("f_tmod"),
            F.col("g_member").alias("f_member"),
        )
        fx = _pin(  # referenced twice (instance + classmethod joins)
            fx.join(
                fcb,
                (F.col("fx_cls.mod") == fcb.f_module)
                & (F.col("fx_cls.name") == fcb.f_local),
                "left",
            )
            .groupBy("fx_module", "fx_func")
            .agg(
                # min() skips NULLs, so a (theoretical) mixed group
                # prefers its concrete returns; an all-param group gets
                # a genuinely NULL fx_c — consumers that coalesce it
                # fall through, never a half-null struct
                F.min(
                    F.when(
                        ~F.col("is_param"),
                        F.struct(
                            F.coalesce("f_tmod", "fx_cls.mod").alias("mod"),
                            F.coalesce("f_member", "fx_cls.name").alias("name"),
                        ),
                    )
                ).alias("fx_c"),
                # an async factory types only AWAITED binds (its call
                # value is a future); matched against __aw at every fx
                # consumer below
                F.max("is_async").alias("fx_async"),
                F.max("is_param").alias("fx_param"),
            ),
            "fx",
        )
        # generic factories type ONLY through the marker substitution
        # path (fxh below): everywhere else they must look like a join
        # MISS — a generic row matching e.g. the awaited-block check
        # with a non-null-but-empty struct would skip the blocker, and
        # a NULL mk_cls row in the deep peel would duplicate attr rows
        fx_all = fx
        fx = fx.filter(~F.col("fx_param"))
        attr = (
            attr.join(
                fx,
                (F.col("__cm") == fx.fx_module)
                & (F.col("__cn") == fx.fx_func)
                & (fx.fx_async == F.col("__aw")),
                "left",
            )
            .withColumn("__cm", F.coalesce("fx_c.mod", "__cm"))
            .withColumn("__cn", F.coalesce("fx_c.name", "__cn"))
            # an AWAITED bind that did not match an async factory must
            # not fall through as a direct class (`c = await Conn()`
            # yields whatever the awaitable resolves to, not a Conn) —
            # block the method lookup for it
            .withColumn(
                "__cm",
                F.when(F.col("__aw") & F.col("fx_c").isNull(), F.lit(None)).otherwise(
                    F.col("__cm")
                ),
            )
            .withColumn(
                "__cn",
                F.when(F.col("__aw") & F.col("fx_c").isNull(), F.lit(None)).otherwise(
                    F.col("__cn")
                ),
            )
        )

        # classmethod factories: `t = Tool.create(); t.run()` — the
        # type-bind's base names a CLASS (chased from-import or
        # same-file), and 'Class.method' keys the factory table. Only
        # single-segment bases participate (dotted bases are module
        # paths, handled above).
        cb6 = chased.select(
            F.col("file_path").alias("x6_file"),
            F.col("local_name").alias("x6_local"),
            F.col("target_module").alias("x6_tmod"),
            F.col("member").alias("x6_member"),
        )
        lc3 = classes.select(
            F.col("file_path").alias("l3_file"),
            F.col("k_module").alias("l3_module"),
            F.col("k_name").alias("l3_name"),
        )
        fx2 = fx_all.select(
            F.col("fx_module").alias("f2_module"),
            F.col("fx_func").alias("f2_func"),
            F.col("fx_c").alias("f2_c"),
            F.col("fx_async").alias("f2_async"),
            F.col("fx_param").alias("f2_param"),
        )
        base_is_name = F.col("__ctor.base").isNotNull() & ~F.col(
            "__ctor.base"
        ).contains(".")

        # instance-method factories (verdict r6 item 3): `db = Database();
        # x = db.get_db(); x.query()` — the type-bind's base names an
        # instance-typed VARIABLE (function-, class- (self.attr), or
        # module-scoped) whose own bind pins a class; 'Class.method' then
        # keys the same factory table the classmethod path uses, so a
        # return-annotated method (`def get_db(self) -> DB:`) types the
        # chained variable. The var's class resolves in ITS file context
        # (chased from-import or same-file class) — bare ctor names only;
        # a dotted base-of-base stays unresolved (certainty contract).
        # Inherited factory methods are out of scope: the factory table
        # keys by the DEFINING class (documented approximation).
        if type_binds is not None:
            b7f = tb.filter(~F.col("awaited")).select(
                F.col("file_path").alias("b7f_file"),
                F.col("scope").alias("b7f_scope"),
                F.col("var").alias("b7f_var"),
                F.struct(
                    F.col("ctor").alias("ctor"),
                    F.col("ctor_base").alias("base"),
                    F.col("targ").alias("targ"),
                ).alias("b7f_c"),
            )
            b7s = tb.filter(~F.col("awaited")).select(
                F.col("file_path").alias("b7s_file"),
                F.col("scope").alias("b7s_scope"),
                F.col("var").alias("b7s_var"),
                F.struct(
                    F.col("ctor").alias("ctor"),
                    F.col("ctor_base").alias("base"),
                    F.col("targ").alias("targ"),
                ).alias("b7s_c"),
            )
            b7m = tb.filter(~F.col("awaited")).select(
                F.col("file_path").alias("b7m_file"),
                F.col("scope").alias("b7m_scope"),
                F.col("var").alias("b7m_var"),
                F.struct(
                    F.col("ctor").alias("ctor"),
                    F.col("ctor_base").alias("base"),
                    F.col("targ").alias("targ"),
                ).alias("b7m_c"),
            )
            x7 = chased.select(
                F.col("file_path").alias("x7_file"),
                F.col("local_name").alias("x7_local"),
                F.col("target_module").alias("x7_tmod"),
                F.col("member").alias("x7_member"),
            )
            l7 = classes.select(
                F.col("file_path").alias("l7_file"),
                F.col("k_module").alias("l7_module"),
                F.col("k_name").alias("l7_name"),
            )
            attr = (
                attr.join(
                    b7f,
                    (F.col("file_path") == b7f.b7f_file)
                    & (F.col("from_entity") == b7f.b7f_scope)
                    & (F.col("__ctor.base") == b7f.b7f_var),
                    "left",
                )
                .join(
                    b7s,
                    (F.col("file_path") == b7s.b7s_file)
                    & (F.split(F.col("from_entity"), r"\.")[0] == b7s.b7s_scope)
                    & (F.col("__ctor.base") == b7s.b7s_var)
                    & (
                        F.col("__ctor.base").startswith("self.")
                        | F.col("__ctor.base").startswith("this.")
                    ),
                    "left",
                )
                .join(
                    b7m,
                    (F.col("file_path") == b7m.b7m_file)
                    & (F.col("file_path") == b7m.b7m_scope)
                    & (F.col("__ctor.base") == b7m.b7m_var),
                    "left",
                )
                .withColumn("__bvar", F.coalesce("b7f_c", "b7s_c", "b7m_c"))
                .join(
                    x7,
                    F.col("__bvar.base").isNull()
                    & (F.col("file_path") == x7.x7_file)
                    & (F.col("__bvar.ctor") == x7.x7_local),
                    "left",
                )
                .join(
                    l7,
                    F.col("__bvar.base").isNull()
                    & (F.col("file_path") == l7.l7_file)
                    & (F.col("__bvar.ctor") == l7.l7_name),
                    "left",
                )
                .withColumn(
                    "__ivcls",
                    F.coalesce(
                        F.when(
                            F.col("x7_tmod").isNotNull(),
                            F.struct(
                                F.col("x7_tmod").alias("mod"),
                                F.col("x7_member").alias("name"),
                            ),
                        ),
                        F.when(
                            F.col("l7_module").isNotNull(),
                            F.struct(
                                F.col("l7_module").alias("mod"),
                                F.col("__bvar.ctor").alias("name"),
                            ),
                        ),
                    ),
                )
            )
        else:
            attr = attr.withColumn(
                "__ivcls", F.lit(None).cast("struct<mod:string,name:string>")
            ).withColumn(
                "__bvar",
                F.lit(None).cast("struct<ctor:string,base:string,targ:string>"),
            )

        # --- two-hop chained markers: __ctor.base is ITSELF a marker
        # ('d.get_conn()' inside context 'd.get_conn().query()'). Peel
        # one more level on a DISTINCT-markers frame (marker-count-
        # scale, pinned so the extra join tree doesn't inflate the attr
        # plan): type the inner link exactly as a single-level marker —
        # var/self-attr/class-name bases through the bind tables, a
        # bare inner name as a same/imported-module constructor or
        # factory — then the outer link rides the normal fx2 lookup via
        # __bcls. Deeper markers (inner base itself a marker) type in
        # the peel loop below (fidelity a06).
        if type_binds is not None:
            mkv = F.col("mk_marker")
            mk_stripped = F.regexp_replace(mkv, r"\(\)$", "")
            mk_base_raw = F.regexp_replace(mk_stripped, r"\.[^.]+$", "")
            mk_base = F.when(mk_base_raw != mk_stripped, mk_base_raw)
            mk_ctor = F.element_at(F.split(mk_stripped, r"\."), -1)
            # distinct markers are pinned: the frame derives from the
            # ~30-join attr tree and is referenced by the single-level
            # typing below AND the two deeper peel passes — unpinned,
            # each reference replays the whole attr subtree inside the
            # mkf materialization (the round-9 pin-budget rule)
            mk_all = _pin(
                attr.filter(
                    F.col("__ctor.base").isNotNull()
                    & F.col("__ctor.base").rlike(r"\(\)$")
                )
                .select(
                    F.col("file_path").alias("mk_file"),
                    F.col("from_entity").alias("mk_scope"),
                    F.col("__ctor.base").alias("mk_marker"),
                )
                .distinct()
                .withColumn("mk_base", mk_base)
                .withColumn("mk_ctor", mk_ctor),
                "mk_all",
            )
            mkf = mk_all
            m1f = tb.filter(~F.col("awaited")).select(
                F.col("file_path").alias("m1f_file"),
                F.col("scope").alias("m1f_scope"),
                F.col("var").alias("m1f_var"),
                F.struct(
                    F.col("ctor").alias("ctor"),
                    F.col("ctor_base").alias("base"),
                    F.col("targ").alias("targ"),
                ).alias("m1f_c"),
            )
            m1s = tb.filter(~F.col("awaited")).select(
                F.col("file_path").alias("m1s_file"),
                F.col("scope").alias("m1s_scope"),
                F.col("var").alias("m1s_var"),
                F.struct(
                    F.col("ctor").alias("ctor"),
                    F.col("ctor_base").alias("base"),
                    F.col("targ").alias("targ"),
                ).alias("m1s_c"),
            )
            m1m = tb.filter(~F.col("awaited")).select(
                F.col("file_path").alias("m1m_file"),
                F.col("scope").alias("m1m_scope"),
                F.col("var").alias("m1m_var"),
                F.struct(
                    F.col("ctor").alias("ctor"),
                    F.col("ctor_base").alias("base"),
                    F.col("targ").alias("targ"),
                ).alias("m1m_c"),
            )
            m2c = chased.select(
                F.col("file_path").alias("m2c_file"),
                F.col("local_name").alias("m2c_local"),
                F.col("target_module").alias("m2c_tmod"),
                F.col("member").alias("m2c_member"),
            )
            m2l = classes.select(
                F.col("file_path").alias("m2l_file"),
                F.col("k_module").alias("m2l_module"),
                F.col("k_name").alias("m2l_name"),
            )
            m3c = chased.select(
                F.col("file_path").alias("m3c_file"),
                F.col("local_name").alias("m3c_local"),
                F.col("target_module").alias("m3c_tmod"),
                F.col("member").alias("m3c_member"),
            )
            m3l = classes.select(
                F.col("file_path").alias("m3l_file"),
                F.col("k_module").alias("m3l_module"),
                F.col("k_name").alias("m3l_name"),
            )
            cls_by_mod = classes.select(
                F.col("k_module").alias("m4_cmod"), F.col("k_name").alias("m4_cname")
            ).distinct()
            # chain-marker links are never awaited (a parenthesized
            # await is unmarkable at the parser), so the inner-link
            # factory lookups take SYNC factories only — an async
            # method mid-chain yields a future, never the instance
            fxm = fx.filter(~F.col("fx_async")).select(
                F.col("fx_module").alias("m4f_module"),
                F.col("fx_func").alias("m4f_func"),
                F.col("fx_c").alias("m4f_c"),
            )
            fxh = fx_all.filter(~F.col("fx_async")).select(
                F.col("fx_module").alias("m5f_module"),
                F.col("fx_func").alias("m5f_func"),
                F.col("fx_c").alias("m5f_c"),
                F.col("fx_param").alias("m5f_param"),
            )
            base_is_plain = (
                F.col("mk_base").isNotNull()
                & ~F.col("mk_base").contains(".")
                & ~F.col("mk_base").contains("(")
            )
            base_is_selfish = F.col("mk_base").isNotNull() & (
                F.col("mk_base").startswith("self.")
                | F.col("mk_base").startswith("this.")
            ) & ~F.col("mk_base").contains("(")
            mkf = (
                mkf.join(
                    m1f,
                    base_is_plain
                    & (F.col("mk_file") == m1f.m1f_file)
                    & (F.col("mk_scope") == m1f.m1f_scope)
                    & (F.col("mk_base") == m1f.m1f_var),
                    "left",
                )
                .join(
                    m1s,
                    base_is_selfish
                    & (F.col("mk_file") == m1s.m1s_file)
                    & (
                        F.split(F.col("mk_scope"), r"\.")[0] == m1s.m1s_scope
                    )
                    & (F.col("mk_base") == m1s.m1s_var),
                    "left",
                )
                .join(
                    m1m,
                    base_is_plain
                    & (F.col("mk_file") == m1m.m1m_file)
                    & (F.col("mk_file") == m1m.m1m_scope)
                    & (F.col("mk_base") == m1m.m1m_var),
                    "left",
                )
                .withColumn("__mvb", F.coalesce("m1f_c", "m1s_c", "m1m_c"))
                .join(
                    m2c,
                    F.col("__mvb.base").isNull()
                    & (F.col("mk_file") == m2c.m2c_file)
                    & (F.col("__mvb.ctor") == m2c.m2c_local),
                    "left",
                )
                .join(
                    m2l,
                    F.col("__mvb.base").isNull()
                    & (F.col("mk_file") == m2l.m2l_file)
                    & (F.col("__mvb.ctor") == m2l.m2l_name),
                    "left",
                )
                .join(
                    m3c,
                    base_is_plain
                    & (F.col("mk_file") == m3c.m3c_file)
                    & (F.col("mk_base") == m3c.m3c_local),
                    "left",
                )
                .join(
                    m3l,
                    base_is_plain
                    & (F.col("mk_file") == m3l.m3l_file)
                    & (F.col("mk_base") == m3l.m3l_name),
                    "left",
                )
                # head class of the inner link's base: explicit class
                # name first (classmethod idiom), then the var's bind —
                # same precedence as the single-level path
                .withColumn(
                    "__mh",
                    F.coalesce(
                        F.when(
                            F.col("m3c_tmod").isNotNull(),
                            F.struct(
                                F.col("m3c_tmod").alias("mod"),
                                F.col("m3c_member").alias("name"),
                            ),
                        ),
                        F.when(
                            F.col("m3l_module").isNotNull(),
                            F.struct(
                                F.col("m3l_module").alias("mod"),
                                F.col("mk_base").alias("name"),
                            ),
                        ),
                        F.when(
                            F.col("m2c_tmod").isNotNull(),
                            F.struct(
                                F.col("m2c_tmod").alias("mod"),
                                F.col("m2c_member").alias("name"),
                            ),
                        ),
                        F.when(
                            F.col("m2l_module").isNotNull(),
                            F.struct(
                                F.col("m2l_module").alias("mod"),
                                F.col("__mvb.ctor").alias("name"),
                            ),
                        ),
                    ),
                )
                # base-null inner link: a bare name is a constructor
                # (class in own/imported module) or a module-level
                # factory function
                .join(
                    m4c := chased.select(
                        F.col("file_path").alias("m4c_file"),
                        F.col("local_name").alias("m4c_local"),
                        F.col("target_module").alias("m4c_tmod"),
                        F.col("member").alias("m4c_member"),
                    ),
                    F.col("mk_base").isNull()
                    & (F.col("mk_file") == F.col("m4c_file"))
                    & (F.col("mk_ctor") == F.col("m4c_local")),
                    "left",
                )
                .withColumn(
                    "__m4",
                    F.when(
                        F.col("mk_base").isNull(),
                        F.struct(
                            F.coalesce(
                                F.col("m4c_tmod"), module_of_path("mk_file")
                            ).alias("mod"),
                            F.coalesce(F.col("m4c_member"), F.col("mk_ctor")).alias(
                                "name"
                            ),
                        ),
                    ),
                )
                .join(
                    cls_by_mod,
                    (F.col("__m4.mod") == F.col("m4_cmod"))
                    & (F.col("__m4.name") == F.col("m4_cname")),
                    "left",
                )
                .join(
                    fxm,
                    (F.col("__m4.mod") == fxm.m4f_module)
                    & (F.col("__m4.name") == fxm.m4f_func),
                    "left",
                )
                .join(
                    fxh,
                    (F.col("__mh.mod") == fxh.m5f_module)
                    & (
                        F.concat_ws(".", F.col("__mh.name"), F.col("mk_ctor"))
                        == fxh.m5f_func
                    ),
                    "left",
                )
                # generic substitution (round 11): the fxh hit is a
                # method returning its class's single type param, so the
                # call's value is the BIND's type argument, resolved in
                # the binding file's own import context (chased
                # from-import first, then same-file class). Unresolved
                # or absent arguments fall through to NULL — unresolved
                # beats guessed, as everywhere.
                .join(
                    chased.select(
                        F.col("file_path").alias("tg1_file"),
                        F.col("local_name").alias("tg1_local"),
                        F.col("target_module").alias("tg1_tmod"),
                        F.col("member").alias("tg1_member"),
                    ),
                    F.col("m5f_param")
                    & (F.col("mk_file") == F.col("tg1_file"))
                    & (F.col("__mvb.targ") == F.col("tg1_local")),
                    "left",
                )
                .join(
                    classes.select(
                        F.col("file_path").alias("tg2_file"),
                        F.col("k_module").alias("tg2_module"),
                        F.col("k_name").alias("tg2_name"),
                    ),
                    F.col("m5f_param")
                    & (F.col("mk_file") == F.col("tg2_file"))
                    & (F.col("__mvb.targ") == F.col("tg2_name")),
                    "left",
                )
                .select(
                    "mk_file",
                    "mk_scope",
                    "mk_marker",
                    F.coalesce(
                        # inner link typed through its base's class
                        # (NULL by construction on generic fxh hits)
                        F.col("m5f_c"),
                        F.when(
                            F.col("m5f_param") & F.col("tg1_tmod").isNotNull(),
                            F.struct(
                                F.col("tg1_tmod").alias("mod"),
                                F.col("tg1_member").alias("name"),
                            ),
                        ),
                        F.when(
                            F.col("m5f_param") & F.col("tg2_module").isNotNull(),
                            F.struct(
                                F.col("tg2_module").alias("mod"),
                                F.col("__mvb.targ").alias("name"),
                            ),
                        ),
                        # bare inner name: a constructor wins over a
                        # same-named factory (Python shadows likewise)
                        F.when(
                            F.col("m4_cname").isNotNull(), F.col("__m4")
                        ),
                        F.col("m4f_c"),
                    ).alias("mk_cls"),
                )
                .filter(F.col("mk_cls").isNotNull())
            )
            # --- deeper chained markers (fidelity a06): a marker whose
            # base is ITSELF a marker ('d.get_conn().query()' inside
            # 'd.get_conn().query().again()') types by peeling through
            # the just-typed inner link and the method-return table,
            # once per extra link. Two passes close the parser's marker
            # grammar (longest emitted chain = 3 links + the call row);
            # anything deeper matches no typed inner and stays
            # unresolved — unresolved beats guessed, as everywhere.
            fx6 = fx.filter(~F.col("fx_async")).select(
                F.col("fx_module").alias("m6f_module"),
                F.col("fx_func").alias("m6f_func"),
                F.col("fx_c").alias("m6f_c"),
            )
            mk_deep = mk_all.filter(F.col("mk_base").rlike(r"\(\)$"))
            typed = mkf
            for _ in range(2):
                inner = typed.select(
                    F.col("mk_file").alias("i_file"),
                    F.col("mk_scope").alias("i_scope"),
                    F.col("mk_marker").alias("i_marker"),
                    F.col("mk_cls").alias("i_cls"),
                )
                typed = (
                    mk_deep.join(
                        inner,
                        (F.col("mk_file") == F.col("i_file"))
                        & (F.col("mk_scope") == F.col("i_scope"))
                        & (F.col("mk_base") == F.col("i_marker")),
                    )
                    .join(
                        fx6,
                        (F.col("i_cls.mod") == F.col("m6f_module"))
                        & (
                            F.concat_ws(".", F.col("i_cls.name"), F.col("mk_ctor"))
                            == F.col("m6f_func")
                        ),
                    )
                    .select(
                        "mk_file",
                        "mk_scope",
                        "mk_marker",
                        F.col("m6f_c").alias("mk_cls"),
                    )
                )
                mkf = mkf.unionByName(typed)
            # no second pin here (round-11, fusing the back-to-back
            # mk_all/mkf materializations): every copy of the mkf build
            # the peel loop creates (3 after two peels) is rooted at the
            # PINNED mk_all, so leaving mkf lazy adds only ~40
            # dimension-scale join nodes to the attr plan — no
            # relation-scale replay — and saves one serial eager job.
            attr = attr.join(
                mkf,
                (F.col("file_path") == mkf.mk_file)
                & (F.col("from_entity") == mkf.mk_scope)
                & (F.col("__ctor.base") == mkf.mk_marker),
                "left",
            )
        else:
            attr = attr.withColumn(
                "mk_cls", F.lit(None).cast("struct<mod:string,name:string>")
            )

        attr = (
            attr.join(
                cb6,
                base_is_name
                & (F.col("file_path") == cb6.x6_file)
                & (F.col("__ctor.base") == cb6.x6_local),
                "left",
            )
            .join(
                lc3,
                base_is_name
                & (F.col("file_path") == lc3.l3_file)
                & (F.col("__ctor.base") == lc3.l3_name),
                "left",
            )
            .withColumn(
                "__bcls",
                F.coalesce(
                    F.when(
                        F.col("x6_tmod").isNotNull(),
                        F.struct(
                            F.col("x6_tmod").alias("mod"),
                            F.col("x6_member").alias("name"),
                        ),
                    ),
                    F.when(
                        F.col("l3_module").isNotNull(),
                        F.struct(
                            F.col("l3_module").alias("mod"),
                            F.col("__ctor.base").alias("name"),
                        ),
                    ),
                    # instance-typed base: the var's class keys the factory
                    # table; after the explicit class name (the
                    # classmethod idiom keeps priority)
                    F.col("__ivcls"),
                    # two-hop marker base: the inner chain link's typed
                    # result (mk_cls) keys the outer factory lookup
                    F.col("mk_cls"),
                ),
            )
            .join(
                fx2,
                (F.col("__bcls.mod") == fx2.f2_module)
                & (
                    F.concat_ws(".", F.col("__bcls.name"), F.col("__ctor.ctor"))
                    == fx2.f2_func
                )
                & (fx2.f2_async == F.col("__aw")),
                "left",
            )
            # generic substitution (round 11): an f2_param hit is a
            # method returning its class's single type parameter, so the
            # marker's value is the base VAR's type argument — resolved
            # in the call site's file context (chased from-import first,
            # then same-file class). Absent/unresolved arguments leave
            # __gsub NULL and the row falls through unresolved; f2_c is
            # NULL on param rows by construction, so the two candidates
            # never compete.
            .join(
                chased.select(
                    F.col("file_path").alias("tg7_file"),
                    F.col("local_name").alias("tg7_local"),
                    F.col("target_module").alias("tg7_tmod"),
                    F.col("member").alias("tg7_member"),
                ),
                F.col("f2_param")
                & (F.col("file_path") == F.col("tg7_file"))
                & (F.col("__bvar.targ") == F.col("tg7_local")),
                "left",
            )
            .join(
                classes.select(
                    F.col("file_path").alias("tl7_file"),
                    F.col("k_module").alias("tl7_module"),
                    F.col("k_name").alias("tl7_name"),
                ),
                F.col("f2_param")
                & (F.col("file_path") == F.col("tl7_file"))
                & (F.col("__bvar.targ") == F.col("tl7_name")),
                "left",
            )
            .withColumn(
                "__gsub",
                F.coalesce(
                    F.when(
                        F.col("f2_param") & F.col("tg7_tmod").isNotNull(),
                        F.struct(
                            F.col("tg7_tmod").alias("mod"),
                            F.col("tg7_member").alias("name"),
                        ),
                    ),
                    F.when(
                        F.col("f2_param") & F.col("tl7_module").isNotNull(),
                        F.struct(
                            F.col("tl7_module").alias("mod"),
                            F.col("__bvar.targ").alias("name"),
                        ),
                    ),
                ),
            )
            .withColumn("__cm", F.coalesce("f2_c.mod", "__gsub.mod", "__cm"))
            .withColumn("__cn", F.coalesce("f2_c.name", "__gsub.name", "__cn"))
        )

        # --- attribute-of-attribute bases (verdict r7 item 3): context
        # '<v>.<p>' with NO call marker — the base value is an attribute
        # of an instance-typed variable. Two certainty sources type it:
        #   (1) the head class's own attr bind for p (`self.p = C()` in
        #       any method, or `p: C` in the class body — both land in
        #       the class-scope type-bind table), resolved in the CLASS's
        #       file context;
        #   (2) an @property getter `p` on the head class whose return
        #       bind is certain (the fx factory table), gated on the
        #       getter actually being decorated @property — a plain
        #       method accessed without calling must NOT resolve.
        # When both sources fire they must AGREE; a disagreement poisons
        # the row (unresolved beats wrongly resolved). `self.p`/`this.p`
        # heads participate when the class-scope attr bind did NOT
        # already type the whole context (then the head class is the
        # enclosing class, as in super dispatch). Attribute lookup is on
        # the DEFINING class only — inherited attrs/properties are a
        # documented approximation gap, like inherited factory methods.
        if type_binds is not None:
            pv = F.col("__pv")
            pp = F.col("__pp")
            ctx_parts = F.split(F.col("context"), r"\.")
            is_selfish = F.col("context").startswith("self.") | F.col(
                "context"
            ).startswith("this.")
            two_plain = (
                ~F.col("context").contains("(")
                & (F.size(ctx_parts) == 2)
                & ~is_selfish
            )
            two_self = (
                ~F.col("context").contains("(")
                & (F.size(ctx_parts) == 2)
                & is_selfish
                & F.col("ts_c").isNull()  # class attr bind didn't type it
            )
            # round 10 (getter-chain): a call marker whose BASE is an
            # attribute path (`s.conn.query()` → __ctor.base 's.conn')
            # types its base through the same ancestor-aware
            # attr/property table — __pv/__pp fire for those rows too,
            # and the typed base class keys a SECOND factory join below
            # (f2b) instead of writing __cm directly (the called method
            # belongs to the FACTORY's return class, not the base).
            # __cm.isNull() excludes dotted-module ctor bases the
            # module-alias join already resolved; __bvar.isNull()
            # excludes self-attr bases the whole-var bind already typed.
            base_parts = F.split(F.col("__ctor.base"), r"\.")
            base_selfish = F.col("__ctor.base").startswith("self.") | F.col(
                "__ctor.base"
            ).startswith("this.")
            base_two = (
                F.col("__ctor.base").isNotNull()
                & ~F.col("__ctor.base").contains("(")
                & (F.size(base_parts) == 2)
                & F.col("__cm").isNull()
            )
            base_prop = base_two & ~base_selfish
            base_prop_self = base_two & base_selfish & F.col("__bvar").isNull()
            attr = attr.withColumn(
                "__pv",
                F.when(two_plain, ctx_parts[0]).when(base_prop, base_parts[0]),
            ).withColumn(
                "__pp",
                F.when(two_plain | two_self, ctx_parts[1]).when(
                    base_prop | base_prop_self, base_parts[1]
                ),
            )
            # head var type: function- then module-scope bind (class
            # scope holds only self./this. keys, not bare names)
            v8f = tb.filter(~F.col("awaited")).select(
                F.col("file_path").alias("v8f_file"),
                F.col("scope").alias("v8f_scope"),
                F.col("var").alias("v8f_var"),
                F.struct(
                    F.col("ctor").alias("ctor"), F.col("ctor_base").alias("base")
                ).alias("v8f_c"),
            )
            v8m = tb.filter(~F.col("awaited")).select(
                F.col("file_path").alias("v8m_file"),
                F.col("scope").alias("v8m_scope"),
                F.col("var").alias("v8m_var"),
                F.struct(
                    F.col("ctor").alias("ctor"), F.col("ctor_base").alias("base")
                ).alias("v8m_c"),
            )
            v9 = chased.select(
                F.col("file_path").alias("v9_file"),
                F.col("local_name").alias("v9_local"),
                F.col("target_module").alias("v9_tmod"),
                F.col("member").alias("v9_member"),
            )
            v10 = classes.select(
                F.col("file_path").alias("v10_file"),
                F.col("k_module").alias("v10_module"),
                F.col("k_name").alias("v10_name"),
            )
            lp = classes.select(
                F.col("file_path").alias("lp_file"),
                F.col("k_module").alias("lp_module"),
                F.col("k_name").alias("lp_name"),
            )
            attr = (
                attr.join(
                    v8f,
                    (F.col("file_path") == v8f.v8f_file)
                    & (F.col("from_entity") == v8f.v8f_scope)
                    & (pv == v8f.v8f_var),
                    "left",
                )
                .join(
                    v8m,
                    (F.col("file_path") == v8m.v8m_file)
                    & (F.col("file_path") == v8m.v8m_scope)
                    & (pv == v8m.v8m_var),
                    "left",
                )
                .withColumn("__pvb", F.coalesce("v8f_c", "v8m_c"))
                .join(
                    v9,
                    F.col("__pvb.base").isNull()
                    & (F.col("file_path") == v9.v9_file)
                    & (F.col("__pvb.ctor") == v9.v9_local),
                    "left",
                )
                .join(
                    v10,
                    F.col("__pvb.base").isNull()
                    & (F.col("file_path") == v10.v10_file)
                    & (F.col("__pvb.ctor") == v10.v10_name),
                    "left",
                )
                .join(
                    lp,
                    (two_self | base_prop_self)
                    & (F.col("file_path") == lp.lp_file)
                    & (F.split(F.col("from_entity"), r"\.")[0] == lp.lp_name),
                    "left",
                )
                .withColumn(
                    "__hcls",
                    F.coalesce(
                        F.when(
                            F.col("v9_tmod").isNotNull(),
                            F.struct(
                                F.col("v9_tmod").alias("mod"),
                                F.col("v9_member").alias("name"),
                            ),
                        ),
                        F.when(
                            F.col("v10_module").isNotNull(),
                            F.struct(
                                F.col("v10_module").alias("mod"),
                                F.col("__pvb.ctor").alias("name"),
                            ),
                        ),
                        F.when(
                            F.col("lp_module").isNotNull(),
                            F.struct(
                                F.col("lp_module").alias("mod"),
                                F.col("lp_name").alias("name"),
                            ),
                        ),
                    ),
                )
            )
            # sources (1)+(2) as ONE ancestor-aware lookup table keyed
            # (head class, attr): the attribute may be bound or
            # property-defined on the head class OR any ancestor
            # (dataclass mixins, base-class properties — fidelity a05).
            # Candidates from both sources at every ancestor depth are
            # grouped per depth; the NEAREST depth with candidates must
            # have exactly ONE distinct class or the attr stays
            # unresolved — the same nearest-unique contract the method
            # lookup uses, which also subsumes the old
            # two-sources-must-agree rule at depth 0.
            need_ap = (
                attr.filter(F.col("__hcls").isNotNull() & pp.isNotNull())
                .select(
                    F.col("__hcls.mod").alias("ap_mod"),
                    F.col("__hcls.name").alias("ap_name"),
                    pp.alias("ap_attr"),
                )
                .distinct()
            )
            exp_ap = need_ap.join(
                anc,
                (F.col("ap_mod") == anc.c_module)
                & (F.col("ap_name") == anc.c_name),
            ).select(
                "ap_mod", "ap_name", "ap_attr", "depth",
                F.col("a_module").alias("ap_amod"),
                F.col("a_name").alias("ap_aname"),
            )
            # source (1): the ancestor's own attr bind (self.p = C() in
            # a method / p: C in the class body), ctor resolved in the
            # ANCESTOR's file context
            pc = classes.select(
                F.col("k_module").alias("pc_mod"),
                F.col("k_name").alias("pc_name"),
                F.col("file_path").alias("pc_file"),
            )
            atb = (
                tb.filter(F.col("var").rlike(r"^(self|this)\."))
                .select(
                    F.col("file_path").alias("at_file"),
                    F.col("scope").alias("at_scope"),
                    F.regexp_replace(F.col("var"), r"^(self|this)\.", "").alias(
                        "at_attr"
                    ),
                    # an awaited attr bind (`self.c = await mk()`) still
                    # EXISTS at its depth, so it must shadow/block like
                    # any unresolvable bind — poison, never drop
                    F.struct(
                        F.when(F.col("awaited"), F.lit("__poisoned__"))
                        .otherwise(F.col("ctor"))
                        .alias("ctor"),
                        F.when(
                            F.col("awaited"), F.lit(None).cast("string")
                        )
                        .otherwise(F.col("ctor_base"))
                        .alias("base"),
                    ).alias("at_c"),
                )
            )
            v11 = chased.select(
                F.col("file_path").alias("v11_file"),
                F.col("local_name").alias("v11_local"),
                F.col("target_module").alias("v11_tmod"),
                F.col("member").alias("v11_member"),
            )
            v12 = classes.select(
                F.col("file_path").alias("v12_file"),
                F.col("k_module").alias("v12_module"),
                F.col("k_name").alias("v12_name"),
            )
            cand1 = (
                exp_ap.join(
                    pc,
                    (F.col("ap_amod") == pc.pc_mod)
                    & (F.col("ap_aname") == pc.pc_name),
                )
                .join(
                    atb,
                    (F.col("pc_file") == atb.at_file)
                    & (F.col("ap_aname") == atb.at_scope)
                    & (F.col("ap_attr") == atb.at_attr),
                )
                .join(
                    v11,
                    F.col("at_c.base").isNull()
                    & (F.col("pc_file") == v11.v11_file)
                    & (F.col("at_c.ctor") == v11.v11_local),
                    "left",
                )
                .join(
                    v12,
                    F.col("at_c.base").isNull()
                    & (F.col("pc_file") == v12.v12_file)
                    & (F.col("at_c.ctor") == v12.v12_name),
                    "left",
                )
                .select(
                    "ap_mod", "ap_name", "ap_attr", "depth",
                    F.coalesce(
                        # a parser poison marker becomes a BLOCKING
                        # candidate: it wins (or ties → ambiguity) at
                        # its depth and names no real class, so the
                        # attr resolves to nothing — a subclass's
                        # conflicted bind must shadow an ancestor's
                        # clean one, exactly as the runtime assignment
                        # shadows the inherited value
                        F.when(
                            F.col("at_c.ctor") == "__poisoned__",
                            F.struct(
                                F.lit("__poisoned__").alias("mod"),
                                F.lit("__poisoned__").alias("name"),
                            ),
                        ),
                        F.when(
                            F.col("v11_tmod").isNotNull(),
                            F.struct(
                                F.col("v11_tmod").alias("mod"),
                                F.col("v11_member").alias("name"),
                            ),
                        ),
                        F.when(
                            F.col("v12_module").isNotNull(),
                            F.struct(
                                F.col("v12_module").alias("mod"),
                                F.col("at_c.ctor").alias("name"),
                            ),
                        ),
                        # ADVICE r8 (medium): a bind that EXISTS at this
                        # depth but resolves to nothing (dotted ctor base
                        # `self.db = m.Database()`, unchased local ctor)
                        # must still BLOCK — filtering it out would let a
                        # deeper ancestor's resolvable bind win even
                        # though the nearer assignment shadows it at
                        # runtime. Unconditional fallback: every cand1
                        # row is a real bind (inner join on atb).
                        F.struct(
                            F.lit("__poisoned__").alias("mod"),
                            F.lit("__poisoned__").alias("name"),
                        ),
                    ).alias("ap_c"),
                )
            )
            # source (2): @property / TS getter on the ancestor with a
            # certain return bind — the fx row supplies the class, the
            # decorator-marker row gates it
            props = (
                rel_for_anc.filter(
                    (F.col("relation_type") == "uses")
                    & F.col("import_type").eqNullSafe("decorator")
                    & (F.col("to_entity") == "property")
                )
                .select(
                    module_of_path("file_path").alias("prp_mod"),
                    F.col("from_entity").alias("prp_func"),
                )
                .distinct()
            )
            fx3 = fx.select(
                F.col("fx_module").alias("f3_module"),
                F.col("fx_func").alias("f3_func"),
                # an async getter's value is a future: certainty gate
                # below treats it like an uncertain return (blocks)
                F.when(~F.col("fx_async"), F.col("fx_c")).alias("f3_c"),
            )
            # ANY function/method named `Ancestor.attr` is a candidate —
            # resolvable only when it is a @property/getter whose return
            # bind is certain and resolved; otherwise it BLOCKS (ADVICE
            # r8 medium): a subclass's non-property override shadows an
            # ancestor's property at runtime (the attribute access gives
            # the bound method, not the property value), and a property
            # whose return type is uncertain must not let a deeper
            # ancestor's certain one win.
            mdefs = (
                entities.filter(F.col("entity_type").isin("function", "method"))
                .select(
                    module_of_path("file_path").alias("md_mod"),
                    F.col("entity_name").alias("md_name"),
                )
                .distinct()
            )
            cand2 = (
                exp_ap.join(
                    mdefs,
                    (F.col("ap_amod") == mdefs.md_mod)
                    & (
                        F.concat_ws(".", F.col("ap_aname"), F.col("ap_attr"))
                        == mdefs.md_name
                    ),
                )
                .join(
                    fx3,
                    (F.col("ap_amod") == fx3.f3_module)
                    & (F.col("md_name") == fx3.f3_func),
                    "left",
                )
                .join(
                    props,
                    (F.col("ap_amod") == props.prp_mod)
                    & (F.col("md_name") == props.prp_func),
                    "left",
                )
                .select(
                    "ap_mod", "ap_name", "ap_attr", "depth",
                    F.when(
                        F.col("prp_mod").isNotNull() & F.col("f3_c").isNotNull(),
                        F.col("f3_c"),
                    )
                    .otherwise(
                        F.struct(
                            F.lit("__poisoned__").alias("mod"),
                            F.lit("__poisoned__").alias("name"),
                        )
                    )
                    .alias("ap_c"),
                )
            )
            ap_tbl = (
                cand1.unionByName(cand2)
                .filter(F.col("ap_c").isNotNull())
                .groupBy("ap_mod", "ap_name", "ap_attr", "depth")
                .agg(
                    F.count_distinct("ap_c").alias("__apn"),
                    F.min("ap_c").alias("__apc"),
                )
                .groupBy("ap_mod", "ap_name", "ap_attr")
                .agg(F.min(F.struct("depth", "__apn", "__apc")).alias("__apb"))
                .filter(F.col("__apb.__apn") == 1)
                .select(
                    F.col("ap_mod").alias("apt_mod"),
                    F.col("ap_name").alias("apt_name"),
                    F.col("ap_attr").alias("apt_attr"),
                    F.col("__apb.__apc").alias("apt_c"),
                )
            )
            attr = (
                attr.join(
                    ap_tbl,
                    (F.col("__hcls.mod") == ap_tbl.apt_mod)
                    & (F.col("__hcls.name") == ap_tbl.apt_name)
                    & (pp == ap_tbl.apt_attr),
                    "left",
                )
                .withColumn("__aacls", F.col("apt_c"))
                # context rows only (__ctor null): for a marker-base row
                # the __aacls class is the BASE's type, not the called
                # method's class — writing it here would let a same-named
                # method on the base class falsely win; those rows go
                # through the f2b factory join below instead
                .withColumn(
                    "__cm",
                    F.when(
                        F.col("__cm").isNull()
                        & F.col("__aacls").isNotNull()
                        & F.col("__ctor").isNull(),
                        F.col("__aacls.mod"),
                    ).otherwise(F.col("__cm")),
                )
                .withColumn(
                    "__cn",
                    F.when(
                        F.col("__cn").isNull()
                        & F.col("__aacls").isNotNull()
                        & F.col("__ctor").isNull(),
                        F.col("__aacls.name"),
                    ).otherwise(F.col("__cn")),
                )
            )
            # getter-chain tail: the property-typed base class keys the
            # factory table for the marker's own call — `s.conn` typed
            # Conn above, so 'Conn.query' yields Result and the outer
            # `.unwrap()` proceeds as a Result method lookup
            f2b = fx.select(
                F.col("fx_module").alias("f2b_module"),
                F.col("fx_func").alias("f2b_func"),
                F.col("fx_c").alias("f2b_c"),
                F.col("fx_async").alias("f2b_async"),
            )
            attr = (
                attr.join(
                    f2b,
                    F.col("__ctor").isNotNull()
                    & F.col("__aacls").isNotNull()
                    & (F.col("__aacls.mod") == f2b.f2b_module)
                    & (
                        F.concat_ws(
                            ".", F.col("__aacls.name"), F.col("__ctor.ctor")
                        )
                        == f2b.f2b_func
                    )
                    & (f2b.f2b_async == F.col("__aw")),
                    "left",
                )
                .withColumn("__cm", F.coalesce("f2b_c.mod", "__cm"))
                .withColumn("__cn", F.coalesce("f2b_c.name", "__cn"))
            )

            # --- imported module-scope singletons: `shared = Tool()` at
            # the top of lib/state.py, then `from lib.state import
            # shared; shared.run()` elsewhere. The whole-context
            # from-import hit (e_tmod, e_member) names a module-level
            # VARIABLE whose own file's module-scope type bind pins a
            # class; resolve that ctor in the DEFINING file's context
            # (its chased imports / same-file classes), the same
            # one-extra-file hop the attr-bind source above makes. A
            # module name mapping to two files (index + sibling) with
            # conflicting binds drops out via the distinct-bind guard.
            # Mutually exclusive with __aacls (this path needs a dotless
            # context, that one needs two segments), so the
            # null-guarded __cm/__cn update below cannot race it.
            vtb = (
                # awaited top-level singletons excluded: the named ctor
                # is not the awaited value's type
                tb.filter((F.col("scope") == F.col("file_path")) & ~F.col("awaited"))
                .select(
                    module_of_path("file_path").alias("sg_mod"),
                    F.col("var").alias("sg_var"),
                    F.col("file_path").alias("__sf"),
                    F.col("ctor").alias("__sc"),
                    F.col("ctor_base").alias("__sb"),
                )
                .groupBy("sg_mod", "sg_var")
                .agg(
                    F.count_distinct(F.struct("__sc", "__sb")).alias("__sn"),
                    F.min(F.struct("__sf", "__sc", "__sb")).alias("__s"),
                )
                .filter(F.col("__sn") == 1)
                .select(
                    "sg_mod",
                    "sg_var",
                    F.col("__s.__sf").alias("sg_file"),
                    F.struct(
                        F.col("__s.__sc").alias("ctor"),
                        F.col("__s.__sb").alias("base"),
                    ).alias("sg_c"),
                )
            )
            sg9 = chased.select(
                F.col("file_path").alias("sg9_file"),
                F.col("local_name").alias("sg9_local"),
                F.col("target_module").alias("sg9_tmod"),
                F.col("member").alias("sg9_member"),
            )
            sg10 = classes.select(
                F.col("file_path").alias("sg10_file"),
                F.col("k_module").alias("sg10_module"),
                F.col("k_name").alias("sg10_name"),
            )
            attr = (
                attr.join(
                    vtb,
                    (F.col("e_tmod") == vtb.sg_mod)
                    & (F.col("e_member") == vtb.sg_var),
                    "left",
                )
                .join(
                    sg9,
                    F.col("sg_c.base").isNull()
                    & (F.col("sg_file") == sg9.sg9_file)
                    & (F.col("sg_c.ctor") == sg9.sg9_local),
                    "left",
                )
                .join(
                    sg10,
                    F.col("sg_c.base").isNull()
                    & (F.col("sg_file") == sg10.sg10_file)
                    & (F.col("sg_c.ctor") == sg10.sg10_name),
                    "left",
                )
                .withColumn(
                    "__sgcls",
                    F.coalesce(
                        F.when(
                            F.col("sg9_tmod").isNotNull(),
                            F.struct(
                                F.col("sg9_tmod").alias("mod"),
                                F.col("sg9_member").alias("name"),
                            ),
                        ),
                        F.when(
                            F.col("sg10_module").isNotNull(),
                            F.struct(
                                F.col("sg10_module").alias("mod"),
                                F.col("sg_c.ctor").alias("name"),
                            ),
                        ),
                    ),
                )
                # the e-hit already wrote the VARIABLE's (module, name)
                # into __cm/__cn (it looks like a class candidate there),
                # so the override fires when the pair still IS that
                # variable — i.e. no factory/re-export stage rewrote it —
                # and swaps in the class its module-scope bind pins
                .withColumn(
                    "__sg_fire",
                    F.col("__sgcls").isNotNull()
                    & (
                        F.col("__cm").isNull()
                        | (
                            (F.col("__cm") == F.col("e_tmod"))
                            & (F.col("__cn") == F.col("e_member"))
                        )
                    ),
                )
                .withColumn(
                    "__cm",
                    F.when(F.col("__sg_fire"), F.col("__sgcls.mod")).otherwise(
                        F.col("__cm")
                    ),
                )
                .withColumn(
                    "__cn",
                    F.when(F.col("__sg_fire"), F.col("__sgcls.name")).otherwise(
                        F.col("__cn")
                    ),
                )
            )
    else:
        # No factory table supplied: an awaited bind can never be typed
        # (`c = await Conn()` yields whatever the awaitable resolves to,
        # not a Conn, and without return_binds no async factory can
        # justify it) — block the method lookup for those rows. Mirrors
        # the __aw-and-no-async-factory-match blocker inside the branch
        # above; reachable only via direct resolve_calls calls
        # (CodeMemoryEngine.index always passes return_binds).
        attr = attr.withColumn(
            "__cm", F.when(F.col("__aw"), F.lit(None)).otherwise(F.col("__cm"))
        ).withColumn(
            "__cn", F.when(F.col("__aw"), F.lit(None)).otherwise(F.col("__cn"))
        )

    # method lookup with inheritance: the DISTINCT (class, method) pairs
    # walk the ancestor closure (built above, beside `classes`) to the
    # nearest definition, then join back — class-count-scale work
    # regardless of call-site count
    dm = defs.select(
        F.col("def_module").alias("dm_module"), F.col("def_name").alias("dm_name")
    )
    # `attr` is ~40 joins deep here and fans into FOUR consumers below
    # (plain-lookup need, super-dispatch need, the hit joins, and the
    # terminal union): unpinned, every consumer replays the entire
    # attribute pipeline and the resolve stage ballooned to 46.8 s on
    # the engine's own repo (r9 head). Pinning collapses those replays
    # to one materialization — the round-9 resolve budget (PLANS.md).
    # Project to the 10 columns the post-pin lookups/terminal need
    # BEFORE materializing: localCheckpoint computes and stores the
    # frame's FULL schema (Catalyst cannot prune through an eager
    # checkpoint), and the pipeline has accumulated ~50 helper columns
    # by this point — pruning here lets the optimizer drop every join
    # output that feeds none of these columns (round-10 resolve budget).
    attr = attr.select(
        "file_path",
        "from_entity",
        "to_entity",
        "relation_type",
        "context",
        "confidence",
        "import_type",
        "__cm",
        "__cn",
        "d1_name",
    )
    attr = _pin(attr, "attr")

    # super dispatch: Python `super().close()` (the call-result marker
    # 'super()') and JS `super.close()` (bare base 'super') inside a
    # method 'Class.m' resolve through the ancestor closure EXCLUDING
    # the class itself (depth >= 1 — super skips the own override, which
    # the plain method lookup would wrongly match). The enclosing
    # class is the from_entity's head, confirmed as a class in the SAME
    # file; a super() call outside a known class, or a method no
    # ancestor defines, stays unresolved (Python raises there too).
    # Joined BEFORE the lookups so the plain and super needs batch into
    # ONE _mro_nearest_def pass (per-row n_mind carries the depth
    # floor) — one candidate pin per index batch instead of two.
    is_super = F.col("context").isin("super()", "super")
    sup_cls = classes.select(
        F.col("file_path").alias("sp_file"),
        F.col("k_module").alias("sp_mod"),
        F.col("k_name").alias("sp_name"),
    )
    attr = attr.join(
        sup_cls,
        is_super
        & (F.col("file_path") == sup_cls.sp_file)
        & (F.split(F.col("from_entity"), r"\.")[0] == sup_cls.sp_name),
        "left",
    )
    need = (
        attr.filter(F.col("__cm").isNotNull())
        .select(
            F.col("__cm").alias("n_mod"),
            F.col("__cn").alias("n_name"),
            F.col("to_entity").alias("n_method"),
            F.lit(0).alias("n_mind"),
        )
        .unionByName(
            attr.filter(F.col("sp_mod").isNotNull()).select(
                F.col("sp_mod").alias("n_mod"),
                F.col("sp_name").alias("n_name"),
                F.col("to_entity").alias("n_method"),
                F.lit(1).alias("n_mind"),
            )
        )
        .distinct()
    )
    need = _pin_dbg(need, "term_need")
    # nearest-ancestor lookup with the ambiguity guard (advice r7) plus
    # the depth-1 MRO base-order tie-break (verdict r8 item 5); n_mind=1
    # rows are super dispatch — equal-depth-1 diamonds break by
    # base-list position, so super() in D(B, C) dispatches to B's def,
    # the next class in D's MRO
    hits_all = _mro_nearest_def(need, anc, dm)
    hits_all = _pin_dbg(hits_all, "term_mind_hits")
    hits = hits_all.filter(F.col("n_mind") == 0).select(
        F.col("n_mod").alias("h_mod"),
        F.col("n_name").alias("h_name"),
        F.col("n_method").alias("h_method"),
        "h_def",
    )
    attr = attr.join(
        hits,
        (F.col("__cm") == hits.h_mod)
        & (F.col("__cn") == hits.h_name)
        & (F.col("to_entity") == hits.h_method),
        "left",
    )
    hits_sup = hits_all.filter(F.col("n_mind") == 1).select(
        F.col("n_mod").alias("hs_mod"),
        F.col("n_name").alias("hs_name"),
        F.col("n_method").alias("hs_method"),
        F.col("h_def").alias("hs_def"),
    )
    attr = attr.join(
        hits_sup,
        (F.col("sp_mod") == hits_sup.hs_mod)
        & (F.col("sp_name") == hits_sup.hs_name)
        & (F.col("to_entity") == hits_sup.hs_method),
        "left",
    )

    attr = attr.select(
        "from_entity",
        F.coalesce("d1_name", "hs_def", "h_def", "to_entity").alias("to_entity"),
        "relation_type",
        "context",
        "confidence",
        F.when(
            F.col("d1_name").isNotNull()
            | F.col("h_def").isNotNull()
            | F.col("hs_def").isNotNull(),
            F.lit("resolved"),
        )
        .otherwise(F.col("import_type"))
        .alias("import_type"),
        "file_path",
    )

    return _pin_dbg(
        passthrough.unionByName(bare).unionByName(attr), "term_assemble"
    )
