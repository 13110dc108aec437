"""Cross-file call resolution — the Jedi-resolution analogue, as dict
lookups over collected entity-scale tables.

The reference pairs tree-sitter with Jedi to resolve calls across files
(analysis/parser.py:1, :15, :120): `from m import f as g; g()` records
a call to *f*, and `import pkg.mod as z; z.f()` pins *f* to pkg.mod
rather than any same-named entity anywhere. The stdlib-ast parser
extracts the same raw material per file (call sites with their dotted
base, import alias bindings — sources/python_parser.py); this module
does the cross-file step in process, the way the reference runs Jedi:

1. every file's module name is derived from its path;
2. relative import targets (leading dots) are absolutized against the
   importing file's package, and absolute targets are mapped onto the
   path-derived module namespace (project root == package dir);
3. re-export chains (`pkg/__init__.py: from .core import f`) are
   chased through the binding table, bounded by ``max_hops``;
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

Execution: the inputs are entity-scale (rows ∝ files, imports and
definitions, not corpus bytes), and at project scale a plan of joins
costs its Spark job count, not its data. So ``resolve_calls`` takes
the rows `api.index` already holds (the parsed batch plus the stored
rows it collected once), builds plain dicts, and resolves every call,
throws and decorator row in one driver loop. Every rule that decides a
result is order-free:
where several candidates meet, a count-distinct guard leaves the row
unresolved or a ``min`` (NULLs first, as Spark orders structs) picks.
A lookup key with a NULL part never matches, as in an equi-join.
"""

from __future__ import annotations

import re
from collections import defaultdict

_POISON = ("__poisoned__", "__poisoned__")
_NO_POS = 2**31 - 1  # sorts a NULL base position after every real one
_SELFISH = ("self.", "this.")


def module_of_path(path: str | None) -> str | None:
    """Dotted module name of a repo-relative path:
    ``a/b/c.py`` → ``a.b.c``; ``a/b/__init__.py`` → ``a.b``;
    ``./x.py`` → ``x``; top-level ``__init__.py`` → ``''``.
    JS/TS files follow the same rule with their package-entry
    convention: ``src/lib/index.ts`` → ``src.lib`` (index ≙ __init__)."""
    if path is None:
        return None
    p = re.sub(r"^\./", "", path)
    # JS-only: the index entry file IS its directory's module (a Python
    # file literally named index.py keeps its name)
    p = re.sub(r"(^|/)index\.(js|jsx|ts|tsx|mjs|cjs)$", "", p)
    p = re.sub(r"\.(py|js|jsx|ts|tsx|mjs|cjs)$", "", p)
    p = re.sub("/$", "", p).replace("/", ".")
    p = re.sub(r"\.__init__$", "", p)
    return re.sub(r"^__init__$", "", p)


def absolutize(file_path: str, target: str | None) -> str:
    """Resolve a leading-dot relative target against the importing
    file's package: in ``pkg/sub.py`` (module pkg.sub), ``.m`` →
    ``pkg.m`` and ``..m`` → ``m``; in ``pkg/__init__.py`` (module pkg),
    ``.m`` → ``pkg.m`` (a package's level-1 base is itself). A NULL
    target (export markers) becomes ``''``."""
    if target is None:
        return ""
    rest = target.lstrip(".")
    dots = len(target) - len(rest)
    if dots == 0:
        return target
    mod = module_of_path(file_path) or ""
    parts = mod.split(".")
    is_init = re.search(r"(^|/)__init__\.py$", file_path) is not None
    # ascend (dots-1) packages above the file's own package
    keep = (len(parts) if mod else 0) - (dots - 1) - (0 if is_init else 1)
    base = ".".join(parts[: max(keep, 0)])
    return ".".join(p for p in (base, rest) if p)


def module_prefixes(modules) -> set[str]:
    """Every dot-boundary prefix of every known module
    (``a.b.c`` → ``a``, ``a.b``, ``a.b.c``)."""
    out: set[str] = set()
    for m in modules:
        if m is not None:
            segs = m.split(".")
            out.update(".".join(segs[:k]) for k in range(1, len(segs) + 1))
    return out


def normalize_target(target: str | None, prefixes: set[str], max_trim: int = 2):
    """Map an absolute import target onto the PATH-derived module
    namespace. When the indexed project root is the package directory
    itself (the common `index("…/mypkg")` call), a file's path-derived
    module is ``sources.files`` while the code imports
    ``mypkg.sources.files`` — Jedi resolves this via sys.path; here the
    analogue is suffix matching: try the target minus 0..max_trim
    leading segments against ``prefixes`` (a known module or a
    dot-boundary prefix of one, see ``module_prefixes``), keep the
    FEWEST-trims match, and leave the target untouched when nothing
    matches (external imports: os, pyspark, …)."""
    if target is None:
        return None
    parts = target.split(".")
    for trim in range(min(max_trim + 1, len(parts))):
        cand = ".".join(parts[trim:])
        if cand and cand in prefixes:
            return cand
    return target


def _first(*vals):
    """SQL coalesce."""
    for v in vals:
        if v is not None:
            return v
    return None


def _cws(*parts) -> str:
    """``concat_ws('.', …)``: NULL parts are skipped."""
    return ".".join(p for p in parts if p is not None)


def _nf(t: tuple) -> tuple:
    """Sort key for a struct, NULL fields first (Spark's struct order)."""
    return tuple((v is not None, v) for v in t)


def _lk(table: dict, *key):
    """Equi-join lookup: a key with a NULL part never matches."""
    if any(k is None for k in key):
        return None
    return table.get(key)


def _lk_in(table, *key) -> bool:
    return not any(k is None for k in key) and key in table


def _pair(hit):
    """(target_module, member) of a chased-binding hit, else None."""
    return None if hit is None else (hit[1], hit[2])


def _head(s: str) -> str:
    return s.split(".")[0]


def _tail(s: str) -> str:
    """'a.b.c' → '.b.c' (everything after the first segment)."""
    return re.sub(r"^[^.]+", "", s)


def _marker(s: str):
    """A call-result marker as (ctor, base): 'd.get_conn()' →
    ('get_conn', 'd'), 'make()' → ('make', None); None for any other
    call base."""
    if not re.search(r"\(\)$", s):
        return None
    stripped = re.sub(r"\(\)$", "", s)
    base = re.sub(r"\.[^.]+$", "", stripped)
    return stripped.split(".")[-1], (base if base != stripped else None)


def _int(s):
    try:
        return int(s.strip())
    except (AttributeError, ValueError):
        return None


class _Resolver:
    """The lookup tables of one resolve batch and the per-row
    resolution over them; per-key lookups (ancestors, method resolution
    order, attribute types) are memoized."""

    def __init__(self, bindings, entities, anc_rels, tbinds, rbinds, max_hops, max_inherit):
        self.max_inherit = max_inherit
        self.markers: dict = {}
        self._anc_memo: dict = {}
        self._mro_memo: dict = {}
        self._ap_memo: dict = {}

        # -- definitions: non-import entities keyed by (module, name)
        self.defs: set = set()
        defs_by_mod = defaultdict(set)
        self.cls_mod: dict = {}  # (file, class) -> module
        cls_files = defaultdict(set)  # (module, class) -> files
        self.mdefs: set = set()  # functions and methods
        for e in entities:
            etype, name, fp = e["entity_type"], e["entity_name"], e["file_path"]
            mod = module_of_path(fp)
            if etype is None or name is None or mod is None:
                continue
            if etype not in ("import", "file"):
                self.defs.add((mod, name))
                defs_by_mod[mod].add(name)
            # TS interfaces participate like classes: an interface-typed
            # value's method calls resolve to the interface's declared
            # member, and `extends` chains ride the same closure
            if etype in ("class", "interface"):
                self.cls_mod[(fp, name)] = mod
                cls_files[(mod, name)].add(fp)
            if etype in ("function", "method"):
                self.mdefs.add((mod, name))
        self.cls_files = cls_files

        # -- bindings: absolutized; last-import-wins isn't statically
        # knowable, so a re-imported (file, name, kind) keeps the min
        # target rather than fanning a call out into duplicate rows
        dedup: dict = {}
        for x in bindings:
            fp, itype = x["file_path"], x["import_type"]
            key = (fp, x["local_name"], itype)
            val = (absolutize(fp, x["target_module"]), x["member"])
            if key not in dedup or _nf(val) < _nf(dedup[key]):
                dedup[key] = val
        prefixes = module_prefixes(
            {m for m, _ in self.defs} | {module_of_path(k[0]) for k in dedup}
        )
        norm: dict = {}
        B = []  # (file, module, local, kind, target, member)
        for (fp, local, itype), (tgt, member) in dedup.items():
            if tgt not in norm:
                norm[tgt] = normalize_target(tgt, prefixes)
            B.append((fp, module_of_path(fp), local, itype, norm[tgt], member))

        # -- re-export chase: a from-binding whose (target, member) is
        # itself a from-binding in that module keeps hopping
        step = defaultdict(list)
        for fp, mod, local, itype, tgt, member in B:
            if itype == "from" and mod is not None and local is not None:
                step[(mod, local)].append((tgt, member))
        # JS default exports: a module with exactly one named default
        # marker; none / anonymous / several leave the sentinel in place
        dx = defaultdict(set)
        for fp, mod, local, itype, tgt, member in B:
            if itype == "default_export" and local is not None:
                dx[mod].add(local)
        dexp = {m: next(iter(s)) for m, s in dx.items() if len(s) == 1}
        chased: dict = {}  # (file, local) -> (module, target, member)
        for fp, mod, local, itype, tgt, member in B:
            if itype != "from":
                continue
            states = {(tgt, member)}
            for _ in range(max_hops - 1):
                nxt = set()
                for t, m in states:
                    hops = _lk(step, t, m)
                    if hops:
                        nxt.update((_first(st, t), _first(sm, m)) for st, sm in hops)
                    else:
                        nxt.add((t, m))
                states = nxt
            t, m = min(states, key=_nf)
            # `import W from './m'` binds the '__default__' sentinel
            if m == "__default__" and t in dexp:
                m = dexp[t]
            chased[(fp, local)] = (mod, t, m)

        # what a module exports to star consumers: its __all__ when
        # declared (Python), else its public names
        self.exp = {
            (mod, local)
            for fp, mod, local, itype, _, _ in B
            if itype == "export" and local is not None
        }
        self.has_exp = {m for m, _ in self.exp}

        # star edges: scope-binding stars (Python `from x import *`,
        # which also re-exports) and JS export-stars (`export * from`,
        # which ONLY re-exports). JS barrel-of-barrels closes one extra
        # level; Python star-of-star visibility depends on each hop's
        # __all__, so it stays un-composed (unresolved beats guessed)
        bar = {
            (mod, tgt, re.search(r"\.py$", fp) is not None)
            for fp, mod, _, itype, tgt, _ in B
            if itype in ("star", "star_export")
        }
        bar |= {
            (m1, t2, py1)
            for m1, t1, py1 in bar
            for m2, t2, py2 in bar
            if t1 == m2 and not py1 and not py2
        }
        bar_by_mod = defaultdict(list)
        for mod, tgt, py in bar:
            bar_by_mod[mod].append((tgt, py))

        # star hop: a chased terminal (module, name) that is NOT a
        # definition, where that module star-binds exactly one module
        # that DOES define the name (a JS barrel `lib/index.js: export *
        # from './core'`, or its Python twin), hops once more. Export
        # rules of the SOURCE apply: Python hides underscore names
        # unless __all__ lists them; JS re-exports everything
        for key, (mod, t, m) in list(chased.items()):
            if (t, m) in self.defs or m is None:
                continue
            tgts = {
                tgt
                for tgt, py in bar_by_mod.get(t, ())
                if (tgt, m) in self.defs and (not py or self._exported(tgt, m))
            }
            if len(tgts) == 1:
                chased[key] = (mod, tgts.pop(), m)
        self.chased = chased

        self.chased_by_mod = defaultdict(list)  # (module, local) -> [(t, m)]
        chased_in_mod = defaultdict(list)  # module -> [(local, t, m)]
        for (fp, local), (mod, t, m) in chased.items():
            if mod is not None:
                self.chased_by_mod[(mod, local)].append((t, m))
                chased_in_mod[mod].append((local, t, m))
        # (module, local) is NOT unique (`lib/index.js` and `lib.js`
        # both derive module 'lib'): the class-name hop takes the min
        self.cb5 = {k: min(v, key=_nf) for k, v in self.chased_by_mod.items()}

        self.modb: dict = {}  # (file, local) -> target module
        explicit = set(chased)
        explicit_mod = {(mod, local) for (_, local), (mod, _, _) in chased.items()}
        for fp, mod, local, itype, tgt, _ in B:
            if itype == "module":
                self.modb[(fp, local)] = tgt
                explicit.add((fp, local))
                explicit_mod.add((mod, local))

        def star_candidates(src):
            """(name, defining module, def) a star import of ``src``
            offers: its own public definitions and one re-export hop."""
            for name in defs_by_mod.get(src, ()):
                yield name, src, name
            for local, t, m in chased_in_mod.get(src, ()):
                if (t, m) in self.defs:
                    yield local, t, m

        # star-import fallback for bare names, keyed (file, name): EXACTLY
        # one starred module supplies a definition and the importer
        # neither defines the name nor binds it explicitly (explicit
        # bindings shadow star imports: `from os.path import join; from
        # utils import *` keeps join os.path's)
        hits = defaultdict(set)
        for fp, mod, _, itype, tgt, _ in B:
            if itype != "star":
                continue
            for name, dmod, d in star_candidates(tgt):
                if (
                    self._exported(tgt, name)
                    and (mod, name) not in self.defs
                    and (fp, name) not in explicit
                ):
                    hits[(fp, name)].add((dmod, d))
        self.star_hits = {k: next(iter(v))[1] for k, v in hits.items() if len(v) == 1}
        # the same hop keyed (module, name) for NAMESPACE reads through a
        # barrel (`import * as lib from '../lib'; lib.helper()`), over
        # both star kinds
        hits = defaultdict(set)
        for mod, tgt, _ in bar:
            for name, dmod, d in star_candidates(tgt):
                if (
                    self._exported(tgt, name)
                    and (mod, name) not in self.defs
                    and (mod, name) not in explicit_mod
                ):
                    hits[(mod, name)].add((dmod, d))
        self.star_mod = {k: next(iter(v)) for k, v in hits.items() if len(v) == 1}

        # -- inherits edges, module-qualified: a parent name resolves
        # through the declaring file's chased from-imports first, else
        # to a class of the same file; external bases match nothing
        edges = defaultdict(dict)  # (child module, child) -> {parent: bpos}
        self.props: set = set()  # @property getters: (module, 'C.p')
        for r in anc_rels:
            fp, rtype = r["file_path"], r["relation_type"]
            if rtype == "uses":
                if r["import_type"] == "decorator" and r["to_entity"] == "property":
                    self.props.add((module_of_path(fp), r["from_entity"]))
                continue
            if rtype != "inherits":
                continue
            child, parent = r["from_entity"], r["to_entity"]
            imp = _pair(_lk(chased, fp, parent)) or (None, None)
            pmod = _lk(self.cls_mod, fp, parent)
            pm = _first(imp[0], pmod)
            pn = _first(imp[1], None if pmod is None else parent)
            if pm is None:
                continue
            cur = edges[(module_of_path(fp), child)]
            bp = _int(r["context"])
            # one edge can surface twice; a positioned duplicate wins
            old = cur.get((pm, pn), None)
            cur[(pm, pn)] = bp if old is None else old if bp is None else min(old, bp)
        self.edges = edges

        # -- constructor binds: (file, scope, var) -> (ctor, base, awaited, targ)
        self.tb = None
        if tbinds is not None:
            tb: dict = {}
            for x in tbinds:
                key = (x["file_path"], x["scope"], x["var"])
                val = (x["ctor"], x["ctor_base"], bool(x.get("awaited")), x.get("targ"))
                if key not in tb or _nf(val) < _nf(tb[key]):
                    tb[key] = val
            self.tb = tb
            self.tbna = {k: v for k, v in tb.items() if not v[2]}
            # class-scope attr binds by attribute name; an awaited one
            # still EXISTS at its depth, so it blocks like a poison
            self.atb = defaultdict(list)
            # imported module-scope singletons, keyed (module, var): a
            # module name mapping to two files with conflicting binds
            # drops out via the distinct-bind guard
            sg = defaultdict(list)
            for (fp, scope, var), (ctor, base, aw, _) in tb.items():
                if var is not None and re.search(r"^(self|this)\.", var):
                    self.atb[(fp, scope, re.sub(r"^(self|this)\.", "", var))].append(
                        ("__poisoned__", None) if aw else (ctor, base)
                    )
                if scope == fp and fp is not None and not aw:
                    sg[(module_of_path(fp), var)].append((fp, ctor, base))
            self.vtb = {}
            for k, v in sg.items():
                if len({(c, b) for _, c, b in v}) == 1:
                    fp, c, b = min(v, key=_nf)
                    self.vtb[k] = (fp, (c, b))

        # -- factory functions, keyed by defining (module, function):
        # every return is the same constructor call, resolved in the
        # FACTORY's file context and chased one re-export hop;
        # '__typeparam__' marks `-> T` of a generic owner class
        self.fx_all = None
        if rbinds is not None:
            groups = defaultdict(list)
            for x in rbinds:
                fp, ctor, base = x["file_path"], x["ctor"], x["ctor_base"]
                is_param = None if ctor is None else ctor == "__typeparam__"
                cls = self._class_of(fp, ctor, base)
                if cls is None and is_param is not True:
                    continue
                c = None
                if is_param is False:
                    g = _lk(self.cb5, *cls) or (None, None)
                    c = (_first(g[0], cls[0]), _first(g[1], cls[1]))
                groups[(module_of_path(fp), x["func"])].append(
                    (c, bool(x.get("is_async")), is_param)
                )
            fx_all = {}
            for k, rows in groups.items():
                cs = [c for c, _, _ in rows if c is not None]
                ps = [p for _, _, p in rows if p is not None]
                fx_all[k] = (
                    min(cs, key=_nf) if cs else None,  # mixed group: concrete wins
                    max(a for _, a, _ in rows),  # async types only awaited binds
                    max(ps) if ps else None,
                )
            self.fx_all = fx_all
            # generic factories type ONLY through the marker path; every
            # other consumer sees them as a miss
            self.fx = {k: v for k, v in fx_all.items() if v[2] is False}

    def _exported(self, src, name) -> bool:
        return (src, name) in self.exp or (
            src not in self.has_exp and not name.startswith("_")
        )

    def _bare_class(self, fp, name):
        """A bare class name in a file's context: a chased from-import,
        else a same-file class."""
        hit = _lk(self.chased, fp, name)
        if hit is not None:
            return _pair(hit)
        mod = _lk(self.cls_mod, fp, name)
        return None if mod is None else (mod, name)

    def _class_of(self, fp, ctor, base):
        """A constructor in a file's context: bare, or through the
        module alias heading a dotted base."""
        if base is None:
            return self._bare_class(fp, ctor)
        tgt = _lk(self.modb, fp, _head(base))
        return None if tgt is None else (tgt + _tail(base), ctor)

    # -- inheritance ------------------------------------------------------

    def anc(self, mod, name) -> dict:
        """Bounded ancestor closure of a known class: {(module, class):
        (depth, bpos)}, depth 0 = the class itself. Diamonds keep the
        min depth (closest ancestor wins); ``bpos`` is the base-list
        position of the FIRST hop on a min-depth path (lowest wins;
        NULL — legacy stored rows — never wins a tie)."""
        key = (mod, name)
        if key in self._anc_memo:
            return self._anc_memo[key]
        out: dict = {}
        if key in self.cls_files:
            best = {key: (0, 0)}
            frontier = {(key, 0)}
            for d in range(1, self.max_inherit + 1):
                nxt = set()
                for node, bp in frontier:
                    for parent, ebp in self.edges.get(node, {}).items():
                        nbp = ebp if d == 1 else bp
                        nxt.add((parent, nbp))
                        cand = (d, _NO_POS if nbp is None else nbp)
                        if parent not in best or cand < best[parent]:
                            best[parent] = cand
                frontier = nxt
            out = {a: (d, None if b == _NO_POS else b) for a, (d, b) in best.items()}
        self._anc_memo[key] = out
        return out

    def mro(self, mod, name, method, min_depth):
        """Nearest-ancestor method lookup with the diamond contract.

        The nearest depth (>= ``min_depth``: 0 = plain lookup, 1 =
        super() dispatch skipping the own override) with definitions
        resolves iff it has exactly ONE distinct def — OR the tie sits
        at depth 1, where C3 settles it: direct bases appear in the MRO
        in base-list order, so the lowest-``bpos`` definer wins. A tie
        with any NULL position stays unresolved, and so does a winner
        that is a strict ancestor of another tied definer (``class D(B,
        C)`` with ``C(B)`` is C3-inconsistent; Python refuses it). A
        class with ``__getattribute__`` anywhere in its ancestry
        intercepts every attribute read, so none of its methods
        resolve (unresolved beats guessed; ``__getattr__`` fires only
        when normal lookup fails, which is unresolved already)."""
        key = (mod, name, method, min_depth)
        if key in self._mro_memo:
            return self._mro_memo[key]
        out = None
        anc = self.anc(mod, name) if mod is not None and name is not None else {}
        if not any((am, f"{an}.__getattribute__") in self.defs for am, an in anc):
            by_depth = defaultdict(list)
            for (am, an), (d, bp) in anc.items():
                dn = _cws(an, method)
                if d >= min_depth and (am, dn) in self.defs:
                    by_depth[d].append((bp, am, an, dn))
            if by_depth:
                d = min(by_depth)
                tied = by_depth[d]
                if len(tied) == 1:
                    out = tied[0][3]
                elif d == 1 and all(t[0] is not None for t in tied):
                    _, wm, wn, wd = min(tied)
                    bad = any(
                        (am, an) != (wm, wn)
                        and self.anc(am, an).get((wm, wn), (0,))[0] >= 1
                        for _, am, an, _ in tied
                    )
                    out = None if bad else wd
        self._mro_memo[key] = out
        return out

    def attr_type(self, mod, name, attr):
        """Class of attribute ``attr`` read on an instance of (mod,
        name), from two certainty sources at every ancestor depth: an
        attr bind (`self.p = C()` in a method, `p: C` in the class
        body; ctor resolved in the ANCESTOR's file) and an @property /
        TS getter with a certain, non-async return bind. Any other bind
        or method of that name at a depth BLOCKS (a poison candidate):
        a nearer assignment or override shadows a deeper value. The
        nearest depth with candidates must hold exactly one distinct
        class."""
        key = (mod, name, attr)
        if None in key:
            return None
        if key in self._ap_memo:
            return self._ap_memo[key]
        by_depth = defaultdict(set)
        for (am, an), (d, _) in self.anc(mod, name).items():
            for fp in self.cls_files.get((am, an), ()):
                for ctor, base in self.atb.get((fp, an, attr), ()):
                    c = None
                    if ctor != "__poisoned__" and base is None:
                        c = self._bare_class(fp, ctor)
                    by_depth[d].add(c or _POISON)
            getter = _cws(an, attr)
            if (am, getter) in self.mdefs:
                hit = self.fx.get((am, getter))
                c = hit[0] if hit is not None and not hit[1] else None
                ok = (am, getter) in self.props and c is not None
                by_depth[d].add(c if ok else _POISON)
        out = None
        if by_depth:
            s = by_depth[min(by_depth)]
            out = next(iter(s)) if len(s) == 1 else None
        self._ap_memo[key] = out
        return out

    # -- chained call markers ('d.get_conn()' as a call base) -------------

    def type_markers(self, markers) -> dict:
        """{(file, scope, marker): class} for the distinct call-result
        markers used as a call base. A single-level marker types
        through its base (a bind-typed var or self-attr, or a class
        name: the classmethod idiom) and the factory table, or as a
        bare constructor / factory; two more peels type markers whose
        base is itself a typed marker (the parser's longest chain).
        Chain links are never awaited, so only sync factories count."""
        sync = {k: v for k, v in self.fx.items() if not v[1]}
        sync_all = {k: v for k, v in self.fx_all.items() if not v[1]}
        typed, deep = {}, []
        for key in markers:
            fp, scope, marker = key
            ctor, base = _marker(marker)
            if base is not None and re.search(r"\(\)$", base):
                deep.append((key, base, ctor))
            plain = base is not None and "." not in base and "(" not in base
            selfish = base is not None and base.startswith(_SELFISH) and "(" not in base
            vb = (
                (_lk(self.tbna, fp, scope, base) if plain else None)
                or (_lk(self.tbna, fp, _head(scope), base) if selfish else None)
                or (_lk(self.tbna, fp, fp, base) if plain else None)
            )
            head = self._bare_class(fp, base) if plain else None
            if head is None and vb is not None and vb[1] is None:
                head = self._bare_class(fp, vb[0])
            m4 = None
            if base is None:
                hit = _lk(self.chased, fp, ctor) or (None, None, None)
                m4 = (_first(hit[1], module_of_path(fp)), _first(hit[2], ctor))
            fh = _lk(sync_all, head[0], _cws(head[1], ctor)) if head else None
            gsub = None
            if fh is not None and fh[2] is True:
                gsub = self._bare_class(fp, vb[3] if vb else None)
            mf = _lk(sync, *m4) if m4 else None
            cls = _first(
                fh[0] if fh else None,
                gsub,
                m4 if m4 and _lk_in(self.cls_files, *m4) else None,
                mf[0] if mf else None,
            )
            if cls is not None:
                typed[key] = cls
        out = dict(typed)
        for _ in range(2):
            nxt = {}
            for (fp, scope, marker), base, ctor in deep:
                inner = typed.get((fp, scope, base))
                hit = _lk(sync, inner[0], _cws(inner[1], ctor)) if inner else None
                if hit is not None and hit[0] is not None:
                    nxt[(fp, scope, marker)] = hit[0]
            out.update(nxt)
            typed = nxt
        return out

    def bare(self, row: dict) -> dict:
        """f() / `raise E` / `@deco` where the name is a from-import
        binding (to the defining name) or an unambiguous star import."""
        fp, to = row["file_path"], row["to_entity"]
        c = _pair(_lk(self.chased, fp, to))
        d = c[1] if c is not None and c in self.defs else None
        st = _lk(self.star_hits, fp, to)
        if d is None and st is None:
            return row
        return {**row, "to_entity": _first(d, st), "import_type": "resolved"}

    def ctor(self, row: dict):
        """The call base's constructor (ctor, base) and whether it is
        awaited. Scope priority mirrors Python name lookup: the
        calling function's locals, the class scope (self./this. attrs),
        module scope; else a call-result marker ('make()', 'T.create()',
        'd.get_conn()') parsed from the context. Also returns whether
        the class-scope bind matched."""
        fp, fe, ctx = row["file_path"], row["from_entity"], row["context"]
        if self.tb is None:
            return _marker(ctx), False, False
        ts = _lk(self.tb, fp, _head(fe), ctx) if ctx.startswith(_SELFISH) else None
        for hit in (_lk(self.tb, fp, fe, ctx), ts, _lk(self.tb, fp, fp, ctx)):
            if hit is not None:
                return (hit[0], hit[1]), hit[2], ts is not None
        return _marker(ctx), False, ts is not None

    def attr(self, row: dict) -> list[dict]:
        """base.f(): through a module alias or from-imported module to
        the defining module's entity, else through the base's class
        (direct, instance-typed, factory-returned, attribute-of-
        attribute, singleton, super) and the ancestor closure."""
        fp, fe, ctx, to = (row[k] for k in ("file_path", "from_entity", "context", "to_entity"))

        # (a) base is a module: the head is a module-alias binding
        # (z.f() / z.sub.f() → module zTarget(.sub)), or the whole base
        # is a from-imported module (target.member names it)
        e = _lk(self.chased, fp, ctx)
        m_tgt = _lk(self.modb, fp, _head(ctx))
        mod = (
            m_tgt + _tail(ctx)
            if m_tgt is not None
            else _cws(e[1], e[2]) if e is not None else None
        )
        # the aliased module may re-export the callee: one chase lookup,
        # one row per (module, name) binding
        finals = [
            (_first(tgt, mod), _first(member, to))
            for tgt, member in (_lk(self.chased_by_mod, mod, to) or [(None, None)])
        ]

        # (b) class-valued bases funnel into ONE method lookup
        ctor, aw, ts_hit = self.ctor(row)
        cname, cbase = ctor or (None, None)
        l1 = _lk(self.cls_mod, fp, ctx)
        cls = _first(
            _pair(e),
            (l1, ctx) if l1 is not None else None,
            self._class_of(fp, cname, cbase) if ctor else None,
            # bare ctor with no import/class hit: the calling file's own
            # module, so a SAME-FILE factory reaches the factory table
            (module_of_path(fp), cname) if cname is not None and cbase is None else None,
        )
        # one more re-export chase: `import pkg as p; p.Tool()` lands on
        # (pkg, Tool) which pkg/__init__ re-exports from pkg.core
        g = (_lk(self.cb5, *cls) if cls else None) or (None, None)
        cm = _first(g[0], cls and cls[0])
        cn = _first(g[1], cls and cls[1])

        if self.fx_all is not None:
            cm, cn = self._factory_types(row, ctor, aw, ts_hit, e, cm, cn)
        elif aw:
            # no factory table: nothing can type an awaited bind
            # (`c = await Conn()` yields what the awaitable resolves to)
            cm = cn = None

        # super dispatch: Python `super().m()` / JS `super.m()` inside a
        # method 'Class.m' resolve through the ancestors EXCLUDING the
        # class itself, confirmed as a class in the SAME file
        hs_def = None
        if ctx in ("super()", "super"):
            sp = _lk(self.cls_mod, fp, _head(fe))
            if sp is not None:
                hs_def = self.mro(sp, _head(fe), to, 1)
        h_def = self.mro(cm, cn, to, 0) if cm is not None else None

        out = []
        for mf, nf in finals:
            # namespace-through-barrel: an unambiguous star hop
            mf, nf = _lk(self.star_mod, mf, nf) or (mf, nf)
            d1 = nf if _lk_in(self.defs, mf, nf) else None
            new = _first(d1, hs_def, h_def)
            out.append(row if new is None else {**row, "to_entity": new, "import_type": "resolved"})
        return out

    def _factory_types(self, row, ctor, aw, ts_hit, e, cm, cn):
        """Refine the base class (cm, cn) through the factory table,
        typed variables, chained markers, attribute-of-attribute bases
        and imported singletons."""
        fp, fe, ctx = row["file_path"], row["from_entity"], row["context"]
        cname, cbase = ctor or (None, None)

        # factory functions: (cm, cn) names a function whose every
        # return is one constructor; an async factory types only awaited
        # binds, and an awaited bind no async factory matches is blocked
        hit = _lk(self.fx, cm, cn)
        fx_c = hit[0] if hit is not None and hit[1] == aw else None
        if fx_c is not None:
            cm, cn = _first(fx_c[0], cm), _first(fx_c[1], cn)
        if aw and fx_c is None:
            cm = cn = None

        # the base of a classmethod / instance-method factory call: a
        # class name, a typed variable's class, or a typed inner marker
        bvar = ivcls = mk_cls = None
        if self.tb is not None:
            bvar = (
                _lk(self.tbna, fp, fe, cbase)
                or (
                    _lk(self.tbna, fp, _head(fe), cbase)
                    if cbase is not None and cbase.startswith(_SELFISH)
                    else None
                )
                or _lk(self.tbna, fp, fp, cbase)
            )
            if bvar is not None and bvar[1] is None:
                ivcls = self._bare_class(fp, bvar[0])
            mk_cls = _lk(self.markers, fp, fe, cbase)
        base_is_name = cbase is not None and "." not in cbase
        bcls = _first(
            self._bare_class(fp, cbase) if base_is_name else None, ivcls, mk_cls
        )
        hit = _lk(self.fx_all, bcls[0], _cws(bcls[1], cname)) if bcls else None
        f2_c = f2_param = None
        if hit is not None and hit[1] == aw:
            f2_c, f2_param = hit[0], hit[2]
        # generic substitution: a method returning its class's single
        # type parameter yields the base var's type argument
        gsub = None
        if f2_param is True:
            gsub = self._bare_class(fp, bvar[3] if bvar else None)
        cm = _first(f2_c and f2_c[0], gsub and gsub[0], cm)
        cn = _first(f2_c and f2_c[1], gsub and gsub[1], cn)
        if self.tb is None:
            return cm, cn

        # attribute-of-attribute bases: context '<v>.<p>' (no marker),
        # or a marker whose base is such a path (`s.conn.query()`): the
        # head var's class types attribute p through the ancestor-aware
        # attr/property table. self./this. heads take the enclosing
        # class when the class-scope bind did not type the whole context
        parts = ctx.split(".")
        selfish = ctx.startswith(_SELFISH)
        two = "(" not in ctx and len(parts) == 2
        two_plain = two and not selfish
        two_self = two and selfish and not ts_hit
        bparts = cbase.split(".") if cbase is not None else []
        base_two = cbase is not None and "(" not in cbase and len(bparts) == 2 and cm is None
        bselfish = cbase is not None and cbase.startswith(_SELFISH)
        base_prop = base_two and not bselfish
        base_prop_self = base_two and bselfish and bvar is None
        pv = parts[0] if two_plain else bparts[0] if base_prop else None
        pp = (
            parts[1]
            if two_plain or two_self
            else bparts[1] if base_prop or base_prop_self else None
        )
        pvb = _lk(self.tbna, fp, fe, pv) or _lk(self.tbna, fp, fp, pv)
        lp = _lk(self.cls_mod, fp, _head(fe)) if two_self or base_prop_self else None
        hcls = _first(
            self._bare_class(fp, pvb[0]) if pvb is not None and pvb[1] is None else None,
            (lp, _head(fe)) if lp is not None else None,
        )
        aacls = self.attr_type(hcls[0], hcls[1], pp) if hcls else None
        if aacls is not None and ctor is None:
            cm, cn = _first(cm, aacls[0]), _first(cn, aacls[1])
        if aacls is not None and ctor is not None:
            # getter-chain tail: the property-typed base keys the
            # factory table for the marker's own call
            hit = _lk(self.fx, aacls[0], _cws(aacls[1], cname))
            if hit is not None and hit[1] == aw and hit[0] is not None:
                cm, cn = _first(hit[0][0], cm), _first(hit[0][1], cn)

        # imported module-scope singletons: `from lib.state import
        # shared; shared.run()` where lib/state.py binds `shared =
        # Tool()` — the ctor resolves in the DEFINING file's context;
        # fires while (cm, cn) is still that variable
        sg = _lk(self.vtb, e[1], e[2]) if e is not None else None
        if sg is not None:
            sfp, (sc, sb) = sg
            sgcls = self._bare_class(sfp, sc) if sb is None else None
            if sgcls is not None and (
                cm is None or (cm == e[1] and cn is not None and cn == e[2])
            ):
                cm, cn = sgcls
        return cm, cn

    def resolve(self, rels: list[dict]) -> list[dict]:
        """Every relation row, resolved or passed through."""
        attr_rows = [
            x for x in rels if x["relation_type"] == "calls" and x["context"] is not None
        ]
        if self.tb is not None and self.fx_all is not None:
            markers = set()
            for x in attr_rows:
                base = (self.ctor(x)[0] or (None, None))[1]
                if base is not None and _marker(base):
                    markers.add((x["file_path"], x["from_entity"], base))
            self.markers = self.type_markers(markers)
        out = []
        for x in rels:
            rt = x["relation_type"]
            if rt == "calls" and x["context"] is not None:
                out.extend(self.attr(x))
            # throws targets and bare decorator uses are names in the SAME
            # namespace as bare calls (`raise NotReady` / `@cached`)
            elif rt in ("calls", "throws") or (
                rt == "uses" and x["import_type"] == "decorator"
            ):
                out.append(self.bare(x))
            elif rt is not None:
                out.append(x)
        return out

def resolve_calls(
    relations: list[dict],
    bindings: list[dict],
    entities: list[dict],
    type_binds: list[dict] | None = None,
    *,
    return_binds: list[dict] | None = None,
    stored_relations: list[dict] | None = None,
    max_hops: int = 3,
    max_inherit: int = 3,
) -> list[dict]:
    """Rewrite `calls` relations through the import graph.

    Every argument is a list of row dicts. ``relations``: split_parsed's
    relation rows (context = dotted call base for attribute calls).
    ``bindings``: import_bindings rows. ``entities``: entity rows
    (entity_name, entity_type, file_path, ...). ``type_binds``:
    type_bindings rows — enables instance-typed method resolution (``x =
    C(); x.m()`` → the C.m entity, looking through inherited classes
    when C doesn't define m). ``return_binds``: return_bindings rows —
    factory-function returns; a type-bind whose ctor names such a
    function substitutes the factory's returned class before method
    lookup. ``stored_relations``: previously-indexed relations
    (replaced files already excluded) — an INCREMENTAL batch's own
    relation rows lack the `inherits` edges and @property rows of
    untouched files, so without them the ancestor closure would
    silently forget every cross-file base class on reindex.
    Returns the relation rows; resolved calls, throws and decorator rows
    have to_entity rewritten to the defining entity's name and
    import_type='resolved'. Every other row passes through unchanged."""
    r = _Resolver(
        bindings,
        entities,
        relations + (stored_relations or []),
        type_binds,
        return_binds,
        max_hops,
        max_inherit,
    )
    return r.resolve(relations)
