"""Seeded synthetic project and developer edit script.

The project is held as module specs and rendered to text, so the same seed
always gives a byte-identical tree and the same edit script, and a
different seed gives different ones. It has:

- Python packages in layers; a module imports only from lower layers
  (a layered import DAG), through both ``from m import name`` and
  module-alias attribute calls;
- class hierarchies across modules, with instance-method and inherited
  ``self.`` calls, so call resolution does real joins;
- JS/TS modules with ES imports and ``extends``, Markdown docs and JSON
  configs;
- a few vendored byte-identical copies of modules (dedup before embed);
- one ``load_<token>`` function per Python module, where ``<token>`` is a
  word no other file uses: the needle that searches look for.

The engine's BM25 vocabulary is refit only when the corpus drifts by more
than a fifth, so a word that first appears in an edit cannot be found by a
keyword search. The edit script therefore draws its needles from a
glossary module that lists every one of them from the start.
"""

from __future__ import annotations

import copy
import hashlib
import json
import os
import random
from dataclasses import dataclass, field

WORDS = (
    "account", "batch", "buffer", "cache", "channel", "cursor", "digest",
    "event", "filter", "frame", "graph", "group", "index", "ledger", "limit",
    "loader", "mapper", "merge", "metric", "order", "packet", "parser",
    "policy", "queue", "record", "region", "report", "route", "sample",
    "schema", "scope", "session", "shard", "signal", "slice", "source",
    "stage", "store", "stream", "table", "task", "ticket", "token", "trace",
    "tree", "update", "vector", "window", "worker", "zone",
)
VERBS = (
    "build", "check", "collect", "compute", "emit", "fetch", "flush",
    "format", "join", "load", "lookup", "parse", "read", "render", "reset",
    "resolve", "scan", "score", "split", "sync", "write",
)
_NEEDLE_LETTERS = "bcdfghjkmnpqrstvwxz"

#: Edit kinds of the script, one of each per round, in seeded order.
EDIT_KINDS = ("modify", "add_file", "delete_file", "rename", "batch", "noop")


@dataclass(frozen=True)
class Size:
    """Corpus shape; `full()` is the benchmark size, `tiny()` the smoke size."""

    layers: int = 4
    modules_per_layer: int = 12
    classes: int = 3
    methods: int = 6
    functions: int = 9
    constants: int = 4
    imports: int = 4
    js_modules: int = 10
    md_docs: int = 6
    json_configs: int = 4
    vendored: int = 4
    edit_rounds: int = 4

    @classmethod
    def full(cls) -> "Size":
        return cls()

    @classmethod
    def tiny(cls) -> "Size":
        return cls(
            layers=3, modules_per_layer=3, classes=1, methods=2, functions=2,
            constants=1, imports=2, js_modules=2, md_docs=1, json_configs=1,
            vendored=1, edit_rounds=1,
        )


@dataclass
class PyClass:
    name: str
    base: tuple[str, str] | None  # (module key, class name)
    methods: list[str]


@dataclass
class PyModule:
    key: str  # dotted module path, e.g. app.l1.m03_order
    layer: int
    token: str
    classes: list[PyClass]
    functions: list[str]
    params: dict[str, list[str]]
    # imported symbols: (module key, name, "func" | "class"); `alias` holds
    # the modules called through their module alias instead of by name
    uses: list[tuple[str, str, str]]
    alias: list[str]
    constants: list[str]
    # per function: the imported or local symbols its body calls
    calls: dict[str, list[tuple[str, str, str]]] = field(default_factory=dict)

    @property
    def relpath(self) -> str:
        return self.key.replace(".", "/") + ".py"


@dataclass
class EditStep:
    kind: str
    writes: dict[str, str | None]  # relpath -> new content, None deletes
    # (needle token, relpath, entity name) that search must now return
    found: list[tuple[str, str, str]]
    # (needle token, relpath, entity name) that must be gone
    gone: list[tuple[str, str, str]]


class Project:
    """A generated project: module specs plus their rendered files."""

    def __init__(self, seed: int, size: Size | None = None):
        self.seed = seed
        self.size = size or Size.full()
        self.rng = random.Random(seed)
        self._tokens: set[str] = set()
        self.modules: dict[str, PyModule] = {}
        self.static: dict[str, str] = {}  # non-Python and vendored files
        n_needles = self.size.edit_rounds * (len(EDIT_KINDS) + 2)
        self.glossary = [self._token() for _ in range(n_needles)]
        self._build_python()
        self._build_js()
        self._build_docs()
        self._build_vendored()

    # -- generation ------------------------------------------------------

    def _token(self) -> str:
        while True:
            t = "zq" + "".join(self.rng.choice(_NEEDLE_LETTERS) for _ in range(6))
            if t not in self._tokens:
                self._tokens.add(t)
                return t

    def _ident(self, taken: set[str], kind: str) -> str:
        while True:
            a, b = self.rng.choice(VERBS), self.rng.choice(WORDS)
            if kind == "class":
                name = a.capitalize() + b.capitalize() + self.rng.choice(WORDS).capitalize()
            else:
                name = f"{a}_{b}_{self.rng.choice(WORDS)}"
            if name not in taken:
                taken.add(name)
                return name

    def _build_python(self) -> None:
        s, rng = self.size, self.rng
        taken: set[str] = set()
        for layer in range(s.layers):
            for i in range(s.modules_per_layer):
                # the leaf name carries the layer: alias imports
                # (`from app.l1 import m103_order`) must not collide
                key = f"app.l{layer}.m{layer}{i:02d}_{rng.choice(WORDS)}"
                self.modules[key] = self._new_module(key, layer, self._token(), taken)

    def _new_module(self, key: str, layer: int, token: str, taken: set[str]) -> PyModule:
        s, rng = self.size, self.rng
        lower = [m for m in self.modules.values() if m.layer < layer]
        uses: list[tuple[str, str, str]] = []
        if lower:
            for m in rng.sample(lower, min(s.imports, len(lower))):
                if rng.random() < 0.5 and m.classes:
                    uses.append((m.key, rng.choice(m.classes).name, "class"))
                uses.append((m.key, rng.choice(m.functions), "func"))
        alias = sorted({k for k, _, kind in uses if kind == "func" and rng.random() < 0.3})
        classes = []
        for _ in range(s.classes):
            bases = [u for u in uses if u[2] == "class"]
            base = None
            if bases and rng.random() < 0.6:
                base = rng.choice(bases)[:2]
            elif classes and rng.random() < 0.5:
                base = (key, classes[-1].name)
            methods = [self._ident(taken, "func") for _ in range(s.methods)]
            classes.append(PyClass(self._ident(taken, "class"), base, methods))
        functions = [self._ident(taken, "func") for _ in range(s.functions)]
        functions.append(f"load_{token}")
        params = {
            f: ["value"] + [f"{rng.choice(WORDS)}_arg"] * (rng.random() < 0.5)
            for f in functions
        }
        consts = [f"{rng.choice(WORDS).upper()}_{rng.choice(WORDS).upper()}_{i}"
                  for i in range(s.constants)]
        mod = PyModule(key, layer, token, classes, functions, params, uses, alias, consts)
        local = [(key, c.name, "class") for c in classes]
        for j, f in enumerate(functions):
            picks = rng.sample(uses, min(2, len(uses)))
            picks.append(rng.choice(local))
            if j > 0:
                picks.append((key, functions[j - 1], "func"))
            mod.calls[f] = picks
        return mod

    def _build_js(self) -> None:
        s, rng = self.size, self.rng
        exports: list[tuple[str, str, str]] = []  # (file stem, class, function)
        for i in range(s.js_modules):
            ext = "ts" if i % 2 else "js"
            stem = f"w{i:02d}_{rng.choice(WORDS)}"
            cls = rng.choice(WORDS).capitalize() + rng.choice(WORDS).capitalize() + "View"
            fn = f"{rng.choice(VERBS)}{rng.choice(WORDS).capitalize()}{i}"
            lines = []
            dep = rng.choice(exports) if exports else None
            if dep:
                lines.append(f"import {{ {dep[1]}, {dep[2]} }} from './{dep[0]}';")
                lines.append("")
            typ = ": number" if ext == "ts" else ""
            if ext == "ts":
                lines += [f"export interface {cls}Options {{", "  size: number;",
                          "  label: string;", "}", ""]
            extends = f" extends {dep[1]}" if dep else ""
            lines += [f"export class {cls}{extends} {{",
                      f"  constructor(size{typ}) {{"]
            lines += ["    super(size);"] if dep else []
            lines += ["    this.size = size;", "  }", ""]
            methods = [f"{rng.choice(VERBS)}{rng.choice(WORDS).capitalize()}" for _ in range(4)]
            methods = list(dict.fromkeys(methods))
            for j, m in enumerate(methods):
                nxt = f"this.{methods[j + 1]}(value)" if j + 1 < len(methods) else "value"
                lines += [f"  {m}(value{typ}){typ} {{",
                          f"    return {nxt} + this.size * {j + 1};", "  }", ""]
            lines += ["}", "",
                      f"export function {fn}(value{typ}){typ} {{",
                      f"  const view = new {cls}(value);",
                      f"  return view.{methods[0]}(value)"
                      + (f" + {dep[2]}(value);" if dep else ";"),
                      "}", ""]
            self.static[f"web/src/{stem}.{ext}"] = "\n".join(lines)
            exports.append((stem, cls, fn))

    def _build_docs(self) -> None:
        s, rng = self.size, self.rng
        keys = sorted(self.modules)
        for i in range(s.md_docs):
            topic = rng.choice(WORDS)
            lines = [f"# {topic.capitalize()} guide", "",
                     f"How the {topic} layer fits together.", ""]
            for key in rng.sample(keys, min(3, len(keys))):
                m = self.modules[key]
                lines += [f"## {key}", "",
                          f"Call `{rng.choice(m.functions)}` to {rng.choice(VERBS)} "
                          f"a {rng.choice(WORDS)}; see `{m.relpath}`.", ""]
            self.static[f"docs/{i:02d}_{topic}.md"] = "\n".join(lines)
        for i in range(s.json_configs):
            cfg = {
                "name": f"{rng.choice(WORDS)}-{i}",
                "version": f"1.{rng.randrange(10)}.{rng.randrange(10)}",
                "settings": {w: rng.randrange(1000) for w in rng.sample(WORDS, 6)},
                "modules": rng.sample(keys, min(4, len(keys))),
            }
            self.static[f"config/{i:02d}_{cfg['name']}.json"] = (
                json.dumps(cfg, indent=2, sort_keys=True) + "\n"
            )
        self.static["app/glossary.py"] = (
            '"""Reserved identifiers of the project glossary."""\n\n'
            + "".join(f'{t.upper()} = "{t}"\n' for t in self.glossary)
        )

    def _build_vendored(self) -> None:
        base = list(self.modules.values())
        for j, m in enumerate(self.rng.sample(base, min(self.size.vendored, len(base)))):
            self.static[f"vendor/copy{j}/{m.relpath}"] = render_module(m, self.modules)

    # -- files -------------------------------------------------------------

    def files(self) -> dict[str, str]:
        out = dict(self.static)
        for m in self.modules.values():
            out[m.relpath] = render_module(m, self.modules)
        for pkg in {os.path.dirname(m.relpath) for m in self.modules.values()} | {"app"}:
            out[f"{pkg}/__init__.py"] = f'"""Package {pkg.replace("/", ".")}."""\n'
        return dict(sorted(out.items()))

    def edit_script(self, seed: int | None = None,
                    kinds: tuple[str, ...] = EDIT_KINDS) -> list[EditStep]:
        """The seeded developer edits, each against the tree left by the
        previous one: `size.edit_rounds` rounds of `kinds` in shuffled
        order. `seed` defaults to the project's. Works on a copy: the
        project itself is unchanged."""
        work = copy.deepcopy(self)
        rng = random.Random((self.seed if seed is None else seed) * 7919 + 17)
        needles = iter(self.glossary)
        steps = []
        for _ in range(self.size.edit_rounds):
            order = list(kinds)
            rng.shuffle(order)
            for kind in order:
                steps.append(work._edit(kind, rng, needles))
        return steps

    def _edit(self, kind: str, rng: random.Random, needles) -> EditStep:
        mods = self.modules
        top = self.size.layers - 1
        if kind == "noop":
            return EditStep(kind, {}, [], [])
        if kind in ("modify", "batch"):
            n = 1 if kind == "modify" else 3
            found, touched = [], []
            for m in rng.sample(sorted(mods), n):
                f = rng.choice(mods[m].functions)
                needle = next(needles)
                mods[m].params[f] = mods[m].params[f] + [f"{needle}=None"]
                found.append((needle, mods[m].relpath, f))
                touched.append(m)
            return EditStep(kind, self._render(touched), found, [])
        if kind == "add_file":
            needle = next(needles)
            key = f"app.l{top}.n{len(mods):03d}_{rng.choice(WORDS)}"
            taken = {f for m in mods.values() for f in m.functions}
            taken |= {c.name for m in mods.values() for c in m.classes}
            saved, self.rng = self.rng, rng
            try:
                mods[key] = self._new_module(key, top, needle, taken)
            finally:
                self.rng = saved
            return EditStep(kind, self._render([key]),
                            [(needle, mods[key].relpath, f"load_{needle}")], [])
        if kind == "delete_file":
            # top-layer modules are imported by no one, so removing one
            # leaves every other file valid
            key = rng.choice(sorted(k for k, m in mods.items() if m.layer == top))
            m = mods.pop(key)
            return EditStep(kind, {m.relpath: None}, [],
                            [(m.token, m.relpath, f"load_{m.token}")])
        if kind == "rename":
            used = sorted({(k, n) for m in mods.values() for k, n, t in m.uses
                           if t == "func" and k in mods and not n.startswith("load_")})
            key, old = rng.choice(used)
            needle = next(needles)
            new = f"{rng.choice(VERBS)}_{needle}"
            touched = [key]
            d = mods[key]
            d.functions = [new if f == old else f for f in d.functions]
            d.params[new] = d.params.pop(old)
            d.calls[new] = d.calls.pop(old)
            for m in mods.values():
                if any(u[:2] == (key, old) for u in m.uses) or m.key == key:
                    m.uses = [(k, new if (k, n) == (key, old) else n, t) for k, n, t in m.uses]
                    m.calls = {
                        f: [(k, new if (k, n) == (key, old) else n, t) for k, n, t in cs]
                        for f, cs in m.calls.items()
                    }
                    touched.append(m.key)
            return EditStep(kind, self._render(sorted(set(touched))),
                            [(needle, d.relpath, new)], [])
        raise ValueError(f"unknown edit kind: {kind}")

    def _render(self, keys: list[str]) -> dict[str, str | None]:
        return {self.modules[k].relpath: render_module(self.modules[k], self.modules)
                for k in keys}


def render_module(m: PyModule, modules: dict[str, PyModule]) -> str:
    """Python source of one module spec."""
    lines = [f'"""Module {m.key}: {m.token} helpers."""', "",
             "from __future__ import annotations", ""]
    aliased = set(m.alias)
    named: dict[str, set[str]] = {}
    for k, name, kind in m.uses:
        if not (kind == "func" and k in aliased):
            named.setdefault(k, set()).add(name)
    for k in sorted(named):
        lines.append(f"from {k} import {', '.join(sorted(named[k]))}")
    for k in sorted(aliased):
        pkg, leaf = k.rsplit(".", 1)
        lines.append(f"from {pkg} import {leaf}")
    lines.append("")
    for i, c in enumerate(m.constants):
        lines.append(f"{c} = {i * 7 + 3}")
    lines.append("")
    for c in m.classes:
        base = c.base[1] if c.base else None
        lines += ["", f"class {c.name}({base}):" if base else f"class {c.name}:",
                  f'    """{c.name} over {m.token}."""', "",
                  "    def __init__(self, size=4):"]
        if base:
            lines.append("        super().__init__(size)")
        lines += ["        self.size = size", ""]
        inherited = _first_method(c.base, modules)
        for j, meth in enumerate(c.methods):
            nxt = f"self.{c.methods[j + 1]}(value)" if j + 1 < len(c.methods) else "value"
            extra = f" + self.{inherited}(value)" if j == 0 and inherited else ""
            lines += [f"    def {meth}(self, value):",
                      f"        return {nxt} * self.size{extra}", ""]
    lines.append("")
    for f in m.functions:
        lines += ["", f"def {f}({', '.join(m.params[f])}):",
                  f'    """{f.replace("_", " ").capitalize()}."""',
                  "    total = value"]
        for k, name, kind in m.calls.get(f, []):
            callee = name
            if kind == "func" and k != m.key and k in aliased:
                callee = f"{k.rsplit('.', 1)[1]}.{name}"
            if kind == "class":
                lines.append(f"    obj = {callee}(total)")
                meth = _first_method((k, name), modules)
                if meth:
                    lines.append(f"    total += obj.{meth}(total)")
            else:
                lines.append(f"    total += {callee}(total)")
        for p in m.params[f][1:]:
            lines.append(f"    total += {p.split('=')[0]} or 0")
        lines += ["    return total", ""]
    return "\n".join(lines).rstrip() + "\n"


def _first_method(ref: tuple[str, str] | None, modules: dict[str, PyModule]) -> str | None:
    if ref is None or ref[0] not in modules:
        return None
    cls = next((c for c in modules[ref[0]].classes if c.name == ref[1]), None)
    return cls.methods[0] if cls and cls.methods else None


def write_tree(root: str, files: dict[str, str | None]) -> None:
    """Write (or, for None, delete) files under root."""
    for rel, text in files.items():
        path = os.path.join(root, rel)
        if text is None:
            os.remove(path)
            continue
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(text)


def tree_digest(files: dict[str, str | None]) -> str:
    h = hashlib.sha256()
    for rel in sorted(files):
        h.update(rel.encode())
        h.update(b"\0")
        h.update((files[rel] or "").encode())
        h.update(b"\0")
    return h.hexdigest()
