"""Cross-file call resolution (operators/resolve.py): aliased from-
imports rewrite to the defining name, module-alias attribute calls pin
to the defining module, re-export chains chase through __init__, and
everything unresolvable passes through byte-identical.

Reference parity: analysis/parser.py pairs tree-sitter with Jedi for
exactly this cross-file step; here it is dict lookups over the parser's
collected import-binding and call-base tables."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from claude_code_memory_spark.operators.resolve import (
    absolutize,
    module_of_path,
    module_prefixes,
    normalize_target,
    resolve_calls,
)
from claude_code_memory_spark.sources.python_parser import (
    import_bindings,
    parse_python_source,
    split_parsed,
    type_bindings,
)

FIXTURE = {
    "pkg/__init__.py": "from .core import helper\n",
    "pkg/core.py": (
        "class Base:\n"
        "    def close(self):\n"
        "        return 0\n"
        "\n"
        "def helper(x):\n"
        "    return x + 1\n"
        "\n"
        "class Tool(Base):\n"
        "    def run(self):\n"
        "        return 1\n"
    ),
    "pkg/other.py": "def helper(x):\n    return x - 1\n",
    "app.py": (
        "from pkg import helper as h\n"
        "import pkg.core as c\n"
        "from pkg.core import Tool\n"
        "\n"
        "def use_alias():\n"
        "    return h(1)\n"
        "\n"
        "def use_module():\n"
        "    return c.helper(2)\n"
        "\n"
        "def use_method():\n"
        "    t = Tool()\n"
        "    return t.run() + Tool.run(t) + t.close()\n"
        "\n"
        "def use_alias_ctor():\n"
        "    u = c.Tool()\n"
        "    return u.run()\n"
        "\n"
        "def use_ambiguous():\n"
        "    t = Tool()\n"
        "    t = helper(1)\n"
        "    return t.run()\n"
        "\n"
        "def use_unknown():\n"
        "    q = mystery(3)\n"
        "    return q.frob()\n"
        "\n"
        "class App:\n"
        "    def __init__(self):\n"
        "        self.db = Tool()\n"
        "    def go(self):\n"
        "        return self.db.close()\n"
    ),
}


@pytest.fixture(scope="module")
def resolved():
    recs = []
    for path, src in FIXTURE.items():
        recs.extend(parse_python_source(path, src))
    parsed = recs
    entities, relations, _ = split_parsed(parsed)
    out = resolve_calls(
        relations, import_bindings(parsed), entities, type_bindings(parsed)
    )
    return {
        (r["from_entity"], r["to_entity"], r["import_type"])
        for r in out if r["relation_type"] == "calls"
    }


def test_from_imported_module_attribute_call_resolves():
    """`from pkg import utils; utils.helper()` — the from-import binds a
    MODULE, not a name; the attribute call resolves into it (the
    module-path twin of the class-valued from-import)."""
    fixture = {
        "pkg/__init__.py": "",
        "pkg/utils.py": "def util_helper(x):\n    return x\n",
        "app2.py": (
            "from pkg import utils\n"
            "\n"
            "def consume():\n"
            "    return utils.util_helper(1)\n"
        ),
    }
    recs = []
    for path, src in fixture.items():
        recs.extend(parse_python_source(path, src))
    parsed = recs
    entities, relations, _ = split_parsed(parsed)
    out = resolve_calls(relations, import_bindings(parsed), entities)
    got = {
        (r["from_entity"], r["to_entity"], r["import_type"])
        for r in out if r["relation_type"] == "calls"
    }
    assert ("consume", "util_helper", "resolved") in got


def test_throws_and_decorator_targets_resolve():
    """`raise X` and bare `@deco` targets live in the same namespace as
    bare calls — an aliased from-import rewrites to the defining name;
    `uses` rows with NULL import_type pass through untouched."""
    fixture = {
        "pkg/__init__.py": "",
        "pkg/errs.py": "class NotReady(Exception):\n    pass\n",
        "pkg/deco.py": "def cached(f):\n    return f\n",
        "app3.py": (
            "from pkg.errs import NotReady as NR\n"
            "from pkg.deco import cached as memo\n"
            "\n"
            "@memo\n"
            "def risky():\n"
            "    raise NR('x')\n"
        ),
    }
    recs = []
    for path, src in fixture.items():
        recs.extend(parse_python_source(path, src))
    parsed = recs
    entities, relations, _ = split_parsed(parsed)
    out = resolve_calls(relations, import_bindings(parsed), entities)
    assert len(out) == len(relations)  # refinement, never loss
    got = {
        (r["from_entity"], r["to_entity"], r["relation_type"], r["import_type"])
        for r in out
    }
    assert ("risky", "NotReady", "throws", "resolved") in got
    assert ("risky", "cached", "uses", "resolved") in got


def test_module_of_path_cases():
    paths = ["a/b/c.py", "a/b/__init__.py", "./x.py", "__init__.py", "top.py"]
    assert [module_of_path(p) for p in paths] == ["a.b.c", "a.b", "x", "", "top"]


def test_aliased_from_import_resolves_to_defining_name(resolved):
    # `from pkg import helper as h; h(1)` — through the __init__
    # re-export — lands on pkg/core.py's helper, by its REAL name
    assert ("use_alias", "helper", "resolved") in resolved
    assert ("use_alias", "h", None) not in {(a, b, c) for a, b, c in resolved}


def test_module_alias_attribute_call_resolves(resolved):
    # `import pkg.core as c; c.helper(2)` pins helper to pkg.core
    assert ("use_module", "helper", "resolved") in resolved


def test_class_method_attribute_call_resolves(resolved):
    # `from pkg.core import Tool; Tool.run(t)` → the Tool.run entity
    assert ("use_method", "Tool.run", "resolved") in resolved


def test_unresolvable_calls_pass_through(resolved):
    # mystery() has no binding and no def — byte-identical passthrough
    assert ("use_unknown", "mystery", None) in resolved
    # q = mystery(); q.frob(): q's "constructor" resolves to nothing —
    # the method call passes through unchanged
    assert ("use_unknown", "frob", None) in resolved


def test_instance_typed_method_call_resolves(resolved):
    # `t = Tool(); t.run()` — local type inference pins t to Tool
    assert ("use_method", "Tool.run", "resolved") in resolved
    assert ("use_method", "run", None) not in resolved


def test_inherited_method_resolves_through_base(resolved):
    # `t.close()` — Tool doesn't define close; Base does (same module)
    assert ("use_method", "Base.close", "resolved") in resolved


def test_module_alias_constructor_resolves(resolved):
    # `u = c.Tool(); u.run()` — ctor through the module alias
    assert ("use_alias_ctor", "Tool.run", "resolved") in resolved


def test_self_attribute_type_binding_resolves(resolved):
    # `self.db = Tool()` in __init__; `self.db.close()` in another
    # method — class-scope binding plus inheritance
    assert ("App.go", "Base.close", "resolved") in resolved


def test_ambiguous_rebinding_stays_unresolved(resolved):
    # t is rebound (Tool() then helper(...)) — poisoned, never guessed
    assert ("use_ambiguous", "run", None) in resolved
    assert ("use_ambiguous", "Tool.run", "resolved") not in resolved


def test_non_call_relations_untouched():
    recs = []
    for path, src in FIXTURE.items():
        recs.extend(parse_python_source(path, src))
    parsed = recs
    entities, relations, _ = split_parsed(parsed)
    out = resolve_calls(relations, import_bindings(parsed), entities)
    before = sum(r["relation_type"] != "calls" for r in relations)
    after = sum(r["relation_type"] != "calls" for r in out)
    assert before == after


def test_relative_import_binding_absolutized():
    # pkg/__init__.py's `from .core import helper` → target pkg.core
    recs = parse_python_source("pkg/__init__.py", FIXTURE["pkg/__init__.py"])
    parsed = recs
    b = import_bindings(parsed)
    assert len(b) == 1
    assert absolutize(b[0]["file_path"], b[0]["target_module"]) == "pkg.core"
    assert b[0]["member"] == "helper"


def test_deep_relative_import_absolutized():
    recs = parse_python_source(
        "a/b/c/mod.py", "from ..x import f\nfrom . import g\nfrom ...top import h\n"
    )
    parsed = recs
    got = {
        r["member"]: absolutize(r["file_path"], r["target_module"])
        for r in import_bindings(parsed)
    }
    assert got == {"f": "a.b.x", "g": "a.b.c", "h": "a.top"}


def test_resolution_is_refinement_never_loss(resolved):
    """Every original call survives (possibly renamed) — the operator
    refines, it never drops."""
    recs = []
    for path, src in FIXTURE.items():
        recs.extend(parse_python_source(path, src))
    parsed = recs
    entities, relations, _ = split_parsed(parsed)
    out = resolve_calls(relations, import_bindings(parsed), entities)
    assert sum(r["relation_type"] == "calls" for r in out) == sum(
        r["relation_type"] == "calls" for r in relations
    )

@pytest.mark.slow
def test_engine_index_resolves_and_incremental_uses_stored_bindings(spark, tmp_path):
    """End-to-end through CodeMemoryEngine: the aliased call survives J4
    under its defining name; an incremental re-index of ONLY the calling
    file still resolves through the STORED bindings/defs of untouched
    files (the persisted `bindings` table)."""
    import os
    import time

    from claude_code_memory_spark.api import CodeMemoryEngine

    proj = tmp_path / "proj"
    (proj / "pkg").mkdir(parents=True)
    (proj / "pkg" / "__init__.py").write_text("from .core import unique_helper\n")
    (proj / "pkg" / "core.py").write_text("def unique_helper(x):\n    return x\n")
    app = proj / "app.py"
    app.write_text(
        "from pkg import unique_helper as uh\n\n"
        "def caller():\n    return uh(1)\n"
    )

    eng = CodeMemoryEngine(spark, str(tmp_path / "store"))
    eng.index(str(proj))
    rels = {
        (r["from_entity"], r["to_entity"], r["import_type"])
        for r in eng.store.read("relations")
        .filter("relation_type = 'calls'")
        .collect()
    }
    assert ("caller", "unique_helper", "resolved") in rels
    # the alias name must NOT appear as a phantom target
    assert not any(t == "uh" for _, t, _ in rels)

    # touch only app.py; pkg/* untouched → bindings must come from store
    time.sleep(0.01)
    app.write_text(
        "from pkg import unique_helper as uh2\n\n"
        "def caller():\n    return uh2(2)\n"
    )
    os.utime(app)
    res = eng.index(str(proj))
    assert res["files_changed"] == 1
    rels2 = {
        (r["from_entity"], r["to_entity"], r["import_type"])
        for r in eng.store.read("relations")
        .filter("relation_type = 'calls'")
        .collect()
    }
    assert ("caller", "unique_helper", "resolved") in rels2
    assert not any(t in ("uh", "uh2") for _, t, _ in rels2)


@pytest.mark.slow
def test_engine_instance_typed_and_inherited_resolution(spark, tmp_path):
    """End-to-end through CodeMemoryEngine: `t = Tool(); t.run()`
    resolves to Tool.run and the inherited `t.close()` to Base.close —
    across three files, surviving J4's universe check."""
    from claude_code_memory_spark.api import CodeMemoryEngine

    proj = tmp_path / "proj"
    (proj / "pkg").mkdir(parents=True)
    (proj / "pkg" / "__init__.py").write_text("")
    (proj / "pkg" / "base.py").write_text(
        "class Base:\n    def close(self):\n        return 0\n"
    )
    (proj / "pkg" / "tool.py").write_text(
        "from pkg.base import Base\n\n"
        "class Tool(Base):\n    def run(self):\n        return 1\n"
    )
    (proj / "app.py").write_text(
        "from pkg.tool import Tool\n\n"
        "def caller():\n"
        "    t = Tool()\n"
        "    return t.run() + t.close()\n"
    )

    eng = CodeMemoryEngine(spark, str(tmp_path / "store"))
    eng.index(str(proj))
    rels = {
        (r["from_entity"], r["to_entity"], r["import_type"])
        for r in eng.store.read("relations")
        .filter("relation_type = 'calls'")
        .collect()
    }
    assert ("caller", "Tool.run", "resolved") in rels
    assert ("caller", "Base.close", "resolved") in rels

    # incremental: touch ONLY the calling file — the batch has no
    # `inherits` edges, so the inherited resolution must come from the
    # STORED relations (regression: without them the Base.close call
    # was dropped by the universe filter on reindex)
    import os
    import time

    time.sleep(0.01)
    (proj / "app.py").write_text(
        "from pkg.tool import Tool\n\n"
        "def caller():\n"
        "    t = Tool()\n"
        "    return t.close() + t.run()\n"
    )
    os.utime(proj / "app.py")
    res = eng.index(str(proj))
    assert res["files_changed"] == 1
    rels2 = {
        (r["from_entity"], r["to_entity"], r["import_type"])
        for r in eng.store.read("relations")
        .filter("relation_type = 'calls'")
        .collect()
    }
    assert ("caller", "Base.close", "resolved") in rels2
    assert ("caller", "Tool.run", "resolved") in rels2


def test_package_rooted_absolute_imports_normalize():
    """Indexing the package directory itself: code imports
    `mypkg.sub.core` but path-derived modules are `sub.core` — the
    suffix normalization maps the absolute target onto the known
    namespace (the Jedi sys.path analogue)."""
    fixture = {
        "sub/core.py": "def pkg_helper(x):\n    return x\n",
        "use.py": (
            "from mypkg.sub.core import pkg_helper\n"
            "import mypkg.sub.core as mc\n"
            "\n"
            "def consumer():\n"
            "    return pkg_helper(1) + mc.pkg_helper(2)\n"
        ),
    }
    recs = []
    for path, src in fixture.items():
        recs.extend(parse_python_source(path, src))
    parsed = recs
    entities, relations, _ = split_parsed(parsed)
    out = resolve_calls(relations, import_bindings(parsed), entities)
    got = {
        (r["from_entity"], r["to_entity"], r["import_type"])
        for r in out if r["relation_type"] == "calls"
    }
    assert ("consumer", "pkg_helper", "resolved") in got
    # both call forms resolve; no unresolved duplicates of pkg_helper left
    assert ("consumer", "pkg_helper", None) not in got


def test_js_named_import_alias_resolves():
    """JS named imports with aliases resolve to the defining name, and
    `import * as ns` behaves like Python's module alias — same resolver,
    same binding table, different parser."""
    from claude_code_memory_spark.sources.javascript_parser import (
        parse_javascript_source,
    )
    fixture = {
        "src/lib/util.js": "export function jsHelper(x) {\n  return x + 1;\n}\n",
        "src/app.js": (
            "import { jsHelper as jh } from './lib/util';\n"
            "import * as util from './lib/util';\n"
            "\n"
            "function run() {\n"
            "  return jh(1) + util.jsHelper(2);\n"
            "}\n"
        ),
    }
    recs = []
    for path, src in fixture.items():
        recs.extend(parse_javascript_source(path, src))
    parsed = recs
    entities, relations, _ = split_parsed(parsed)
    out = resolve_calls(relations, import_bindings(parsed), entities)
    got = {
        (r["from_entity"], r["to_entity"], r["import_type"])
        for r in out if r["relation_type"] == "calls"
    }
    assert ("run", "jsHelper", "resolved") in got
    assert not any(t == "jh" for _, t, _ in got)


def test_js_instance_typed_and_this_attr_resolution():
    """`const t = new Tool(); t.run()` and `this.db = new Tool();
    this.db.close()` resolve through the same machinery as Python —
    including the inherited method through `extends`."""
    from claude_code_memory_spark.sources.javascript_parser import (
        parse_javascript_source,
    )
    from claude_code_memory_spark.sources.python_parser import (
        type_bindings,
    )

    fixture = {
        "lib/core.js": (
            "export class Base {\n"
            "  close() { return 0; }\n"
            "}\n"
            "export class Tool extends Base {\n"
            "  run() { return 1; }\n"
            "}\n"
        ),
        "app.js": (
            "import { Tool } from './lib/core';\n"
            "\n"
            "function caller() {\n"
            "  const t = new Tool();\n"
            "  return t.run() + t.close();\n"
            "}\n"
            "\n"
            "function rebound() {\n"
            "  let t = new Tool();\n"
            "  t = other();\n"
            "  return t.run();\n"
            "}\n"
            "\n"
            "class App {\n"
            "  constructor() {\n"
            "    this.db = new Tool();\n"
            "  }\n"
            "  go() {\n"
            "    return this.db.close();\n"
            "  }\n"
            "}\n"
        ),
    }
    recs = []
    for path, src in fixture.items():
        recs.extend(parse_javascript_source(path, src))
    parsed = recs
    entities, relations, _ = split_parsed(parsed)
    out = resolve_calls(
        relations, import_bindings(parsed), entities, type_bindings(parsed)
    )
    got = {
        (r["from_entity"], r["to_entity"], r["import_type"])
        for r in out if r["relation_type"] == "calls"
    }
    assert ("caller", "Tool.run", "resolved") in got
    assert ("caller", "Base.close", "resolved") in got  # through extends
    assert ("App.go", "Base.close", "resolved") in got  # this-attr bind
    # rebound var stays unresolved — poisoning survives the regex parser
    assert ("rebound", "run", None) in got


def test_module_name_collision_never_duplicates_calls():
    """`lib/index.js` and `lib.js` both derive module 'lib'; the
    re-export chase joins on (module, local), so a collision must
    dedupe instead of fanning a call out into duplicate rows —
    refinement-never-loss holds in BOTH directions (no drops, no
    duplicates)."""
    from claude_code_memory_spark.sources.javascript_parser import (
        parse_javascript_source,
    )
    from claude_code_memory_spark.sources.python_parser import (
        type_bindings,
    )

    fixture = {
        "lib/core.js": "export class Tool {\n  run() { return 1; }\n}\n",
        "lib/index.js": "export { Tool } from './core';\n",
        "lib.js": "export { Tool } from './lib/core';\n",
        "app.js": (
            "import { Tool } from './lib';\n"
            "\n"
            "function caller() {\n"
            "  const t = new Tool();\n"
            "  return t.run();\n"
            "}\n"
        ),
    }
    recs = []
    for path, src in fixture.items():
        recs.extend(parse_javascript_source(path, src))
    parsed = recs
    entities, relations, _ = split_parsed(parsed)
    out = resolve_calls(
        relations, import_bindings(parsed), entities, type_bindings(parsed)
    )
    n_in = sum(r["relation_type"] == "calls" for r in relations)
    calls = [r for r in out if r["relation_type"] == "calls"]
    assert len(calls) == n_in  # no drops, no duplicates
    got = {
        (r["from_entity"], r["to_entity"], r["import_type"])
        for r in calls
    }
    assert ("caller", "Tool.run", "resolved") in got


def test_js_index_entry_module_and_require():
    """`require('./lib')` hits lib/index.js (the package-entry
    convention module_of_path strips symmetrically); destructured
    require binds like a named import."""
    from claude_code_memory_spark.sources.javascript_parser import (
        parse_javascript_source,
    )
    fixture = {
        "lib/index.js": "export function entryFn(x) {\n  return x;\n}\n",
        "main.js": (
            "const { entryFn: ef } = require('./lib');\n"
            "\n"
            "function go() {\n"
            "  return ef(1);\n"
            "}\n"
        ),
    }
    recs = []
    for path, src in fixture.items():
        recs.extend(parse_javascript_source(path, src))
    parsed = recs
    entities, relations, _ = split_parsed(parsed)
    out = resolve_calls(relations, import_bindings(parsed), entities)
    got = {
        (r["from_entity"], r["to_entity"], r["import_type"])
        for r in out if r["relation_type"] == "calls"
    }
    assert ("go", "entryFn", "resolved") in got


def test_star_import_resolution():
    """`from m import *`: a bare name resolves when exactly one starred
    module defines it (directly, or through one re-export hop of a
    starred package's __init__); two starred modules defining the same
    name stay unresolved, and a name the importer defines itself is
    shadowed — never rewritten to the starred module's def."""
    fixture = {
        "pkg/__init__.py": "from .core import shiny\n",
        "pkg/core.py": "def shiny(x):\n    return x\n",
        "pkg/helpers.py": (
            "def star_fn(x):\n    return x\n"
            "\n"
            "def dup(x):\n    return x\n"
            "\n"
            "def mine(x):\n    return x\n"
        ),
        "pkg/extra.py": "def dup(x):\n    return x + 1\n",
        "app4.py": (
            "from pkg.helpers import *\n"
            "from pkg.extra import *\n"
            "from pkg import *\n"
            "\n"
            "def mine(x):\n"
            "    return x * 2\n"
            "\n"
            "def consume():\n"
            "    return star_fn(1) + dup(2) + shiny(3) + mine(4)\n"
        ),
    }
    recs = []
    for path, src in fixture.items():
        recs.extend(parse_python_source(path, src))
    parsed = recs
    entities, relations, _ = split_parsed(parsed)
    out = resolve_calls(relations, import_bindings(parsed), entities)
    assert len(out) == len(relations)  # refinement, never loss
    got = {
        (r["from_entity"], r["to_entity"], r["import_type"])
        for r in out if r["relation_type"] == "calls"
    }
    assert ("consume", "star_fn", "resolved") in got  # unique star def
    assert ("consume", "shiny", "resolved") in got  # via __init__ re-export
    # ambiguous across two starred modules: passes through unresolved
    assert any(t == "dup" and it != "resolved" for _, t, it in got)
    # locally shadowed: never rewritten to the starred module's def
    assert any(t == "mine" and it != "resolved" for _, t, it in got)


def test_factory_return_type_resolution():
    """`x = make_tool(); x.run()` resolves through the factory's return
    type (the static slice of Jedi's return-type inference): cross-file
    factories, same-file factories, inherited methods on the returned
    class — and a function with divergent returns types nothing."""
    fixture = {
        "pkg/__init__.py": "",
        "pkg/core.py": (
            "class FBase:\n"
            "    def teardown(self):\n"
            "        return 0\n"
            "\n"
            "class Widget(FBase):\n"
            "    def spin(self):\n"
            "        return 1\n"
        ),
        "pkg/make.py": (
            "from pkg.core import Widget\n"
            "\n"
            "def make_widget():\n"
            "    return Widget()\n"
            "\n"
            "def maybe_widget(flag):\n"
            "    if flag:\n"
            "        return Widget()\n"
            "    return None\n"
        ),
        "app5.py": (
            "from pkg.make import make_widget, maybe_widget\n"
            "from pkg.core import Widget\n"
            "\n"
            "def local_factory():\n"
            "    return Widget()\n"
            "\n"
            "def use_cross_file():\n"
            "    w = make_widget()\n"
            "    return w.spin() + w.teardown()\n"
            "\n"
            "def use_same_file():\n"
            "    v = local_factory()\n"
            "    return v.spin()\n"
            "\n"
            "def use_divergent():\n"
            "    m = maybe_widget(True)\n"
            "    return m.spin()\n"
        ),
    }
    from claude_code_memory_spark.sources.python_parser import (
        return_bindings,
    )

    recs = []
    for path, src in fixture.items():
        recs.extend(parse_python_source(path, src))
    parsed = recs
    entities, relations, _ = split_parsed(parsed)
    out = resolve_calls(
        relations,
        import_bindings(parsed),
        entities,
        type_bindings(parsed),
        return_binds=return_bindings(parsed),
    )
    assert len(out) == len(relations)  # refinement, never loss
    got = {
        (r["from_entity"], r["to_entity"], r["import_type"])
        for r in out if r["relation_type"] == "calls"
    }
    assert ("use_cross_file", "Widget.spin", "resolved") in got
    # inherited method on the factory's returned class
    assert ("use_cross_file", "FBase.teardown", "resolved") in got
    # factory defined in the calling file itself
    assert ("use_same_file", "Widget.spin", "resolved") in got
    # divergent returns (Widget | None) emit no bind: never resolved
    assert any(
        f == "use_divergent" and t == "spin" and it != "resolved"
        for f, t, it in got
    )


def test_js_factory_return_type_resolution():
    """JS factories: `function makeTool() { return new Tool(); }` and the
    implicit-return arrow `const quickTool = () => new Tool()` both type
    their callers' instance binds; a divergent factory types nothing."""
    from claude_code_memory_spark.sources.javascript_parser import (
        parse_javascript_source,
    )
    from claude_code_memory_spark.sources.python_parser import (
        return_bindings,
        type_bindings,
    )

    fixture = {
        "src/core.js": (
            "export class JsTool {\n"
            "  run() { return 1; }\n"
            "}\n"
        ),
        "src/make.js": (
            "import { JsTool } from './core';\n"
            "\n"
            "export function makeTool() {\n"
            "  return new JsTool();\n"
            "}\n"
            "\n"
            "export const quickTool = () => new JsTool();\n"
            "\n"
            "export function maybeTool(flag) {\n"
            "  if (flag) { return new JsTool(); }\n"
            "  return null;\n"
            "}\n"
        ),
        "src/app.js": (
            "import { makeTool, quickTool, maybeTool } from './make';\n"
            "\n"
            "function useMade() {\n"
            "  const t = makeTool();\n"
            "  return t.run();\n"
            "}\n"
            "\n"
            "function useQuick() {\n"
            "  const q = quickTool();\n"
            "  return q.run();\n"
            "}\n"
            "\n"
            "function useMaybe() {\n"
            "  const m = maybeTool(true);\n"
            "  return m.run();\n"
            "}\n"
            "\n"
            "class Holder {\n"
            "  constructor() {\n"
            "    this.db = makeTool();\n"
            "  }\n"
            "  use() {\n"
            "    return this.db.run();\n"
            "  }\n"
            "}\n"
        ),
    }
    recs = []
    for path, src in fixture.items():
        recs.extend(parse_javascript_source(path, src))
    parsed = recs
    entities, relations, _ = split_parsed(parsed)
    out = resolve_calls(
        relations,
        import_bindings(parsed),
        entities,
        type_bindings(parsed),
        return_binds=return_bindings(parsed),
    )
    got = {
        (r["from_entity"], r["to_entity"], r["import_type"])
        for r in out if r["relation_type"] == "calls"
    }
    assert ("useMade", "JsTool.run", "resolved") in got
    assert ("useQuick", "JsTool.run", "resolved") in got
    # this-attribute factory bind: this.db = makeTool(); this.db.run()
    assert ("Holder.use", "JsTool.run", "resolved") in got
    assert any(
        f == "useMaybe" and t == "run" and it != "resolved" for f, t, it in got
    )


def test_classmethod_factory_resolution():
    """`t = Tool.create(); t.run()` — a classmethod returning `cls()`
    (or the class's own name) keys the factory table as 'Tool.create';
    the type-bind's base resolves as a class through the import graph
    and the method lookup proceeds with the real class, inherited
    methods included."""
    fixture = {
        "pkg/__init__.py": "",
        "pkg/core.py": (
            "class CBase:\n"
            "    def halt(self):\n"
            "        return 0\n"
            "\n"
            "class Gadget(CBase):\n"
            "    def whirr(self):\n"
            "        return 1\n"
            "    @classmethod\n"
            "    def create(cls):\n"
            "        return cls()\n"
        ),
        "app6.py": (
            "from pkg.core import Gadget\n"
            "\n"
            "def use_create():\n"
            "    g = Gadget.create()\n"
            "    return g.whirr() + g.halt()\n"
        ),
    }
    from claude_code_memory_spark.sources.python_parser import (
        return_bindings,
    )

    recs = []
    for path, src in fixture.items():
        recs.extend(parse_python_source(path, src))
    parsed = recs
    entities, relations, _ = split_parsed(parsed)
    out = resolve_calls(
        relations,
        import_bindings(parsed),
        entities,
        type_bindings(parsed),
        return_binds=return_bindings(parsed),
    )
    assert len(out) == len(relations)
    got = {
        (r["from_entity"], r["to_entity"], r["import_type"])
        for r in out if r["relation_type"] == "calls"
    }
    assert ("use_create", "Gadget.whirr", "resolved") in got
    assert ("use_create", "CBase.halt", "resolved") in got


def test_js_static_factory_resolution():
    """JS static factory: `static create() { return new JsGadget(); }`
    keys 'JsGadget.create'; `const g = JsGadget.create(); g.spin()`
    resolves through it."""
    from claude_code_memory_spark.sources.javascript_parser import (
        parse_javascript_source,
    )
    from claude_code_memory_spark.sources.python_parser import (
        return_bindings,
        type_bindings,
    )

    fixture = {
        "src/gadget.js": (
            "export class JsGadget {\n"
            "  spin() { return 1; }\n"
            "  static create() {\n"
            "    return new JsGadget();\n"
            "  }\n"
            "}\n"
        ),
        "src/use.js": (
            "import { JsGadget } from './gadget';\n"
            "\n"
            "function useStatic() {\n"
            "  const g = JsGadget.create();\n"
            "  return g.spin();\n"
            "}\n"
        ),
    }
    recs = []
    for path, src in fixture.items():
        recs.extend(parse_javascript_source(path, src))
    parsed = recs
    entities, relations, _ = split_parsed(parsed)
    out = resolve_calls(
        relations,
        import_bindings(parsed),
        entities,
        type_bindings(parsed),
        return_binds=return_bindings(parsed),
    )
    got = {
        (r["from_entity"], r["to_entity"], r["import_type"])
        for r in out if r["relation_type"] == "calls"
    }
    assert ("useStatic", "JsGadget.spin", "resolved") in got


def test_annotation_typed_resolution():
    """Type annotations are declared intent: `def f(t: Tool)` binds the
    parameter, `def make() -> Tool` feeds the factory table even when
    the body defeats inference, and a param the body reassigns to a
    different value stays poisoned."""
    fixture = {
        "pkg/__init__.py": "",
        "pkg/core.py": (
            "class ABase:\n"
            "    def stop(self):\n"
            "        return 0\n"
            "\n"
            "class Motor(ABase):\n"
            "    def rev(self):\n"
            "        return 1\n"
        ),
        "pkg/build.py": (
            "from pkg.core import Motor\n"
            "\n"
            "def pick_motor(flag) -> Motor:\n"
            "    if flag:\n"
            "        return Motor()\n"
            "    return _cached()\n"  # body inference fails; annotation wins
            "\n"
            "def _cached():\n"
            "    return Motor()\n"
        ),
        "app7.py": (
            "from pkg.core import Motor\n"
            "from pkg.build import pick_motor\n"
            "\n"
            "def use_param(m: Motor, raw):\n"
            "    return m.rev() + m.stop() + raw.rev()\n"
            "\n"
            "def use_annotated_factory():\n"
            "    x = pick_motor(True)\n"
            "    return x.rev()\n"
            "\n"
            "def use_reassigned(m: Motor):\n"
            "    m = object()\n"
            "    return m.rev()\n"
        ),
    }
    from claude_code_memory_spark.sources.python_parser import (
        return_bindings,
    )

    recs = []
    for path, src in fixture.items():
        recs.extend(parse_python_source(path, src))
    parsed = recs
    entities, relations, _ = split_parsed(parsed)
    out = resolve_calls(
        relations,
        import_bindings(parsed),
        entities,
        type_bindings(parsed),
        return_binds=return_bindings(parsed),
    )
    assert len(out) == len(relations)
    got = {
        (r["from_entity"], r["to_entity"], r["import_type"])
        for r in out if r["relation_type"] == "calls"
    }
    assert ("use_param", "Motor.rev", "resolved") in got
    assert ("use_param", "ABase.stop", "resolved") in got  # inherited
    # unannotated param never resolves
    assert any(f == "use_param" and t == "rev" and it != "resolved" for f, t, it in got)
    # annotation feeds the factory table where body inference fails
    assert ("use_annotated_factory", "Motor.rev", "resolved") in got
    # body reassignment poisons the annotated param
    assert any(
        f == "use_reassigned" and t == "rev" and it != "resolved" for f, t, it in got
    )


def test_ts_annotation_typed_resolution():
    """TS annotations: `function f(t: Tool)` binds the parameter and
    `function make(): Tool` feeds the factory table; Promise-wrapped
    and union types conservatively bind nothing."""
    from claude_code_memory_spark.sources.javascript_parser import (
        parse_javascript_source,
    )
    from claude_code_memory_spark.sources.python_parser import (
        return_bindings,
        type_bindings,
    )

    fixture = {
        "src/engine.ts": (
            "export class Engine {\n"
            "  ignite() { return 1; }\n"
            "}\n"
        ),
        "src/dep.ts": (
            "import { Engine } from './engine';\n"
            "\n"
            "export function pickEngine(flag: boolean): Engine {\n"
            "  return flag ? cached : fresh;\n"
            "}\n"
            "\n"
            "export function lazyEngine(): Promise<Engine> {\n"
            "  return load();\n"
            "}\n"
        ),
        "src/use.ts": (
            "import { Engine } from './engine';\n"
            "import { pickEngine, lazyEngine } from './dep';\n"
            "\n"
            "function useParam(e: Engine, raw) {\n"
            "  return e.ignite() + raw.ignite();\n"
            "}\n"
            "\n"
            "function usePicked() {\n"
            "  const p = pickEngine(true);\n"
            "  return p.ignite();\n"
            "}\n"
            "\n"
            "function useLazy() {\n"
            "  const l = lazyEngine();\n"
            "  return l.ignite();\n"
            "}\n"
        ),
    }
    recs = []
    for path, src in fixture.items():
        recs.extend(parse_javascript_source(path, src))
    parsed = recs
    entities, relations, _ = split_parsed(parsed)
    out = resolve_calls(
        relations,
        import_bindings(parsed),
        entities,
        type_bindings(parsed),
        return_binds=return_bindings(parsed),
    )
    got = {
        (r["from_entity"], r["to_entity"], r["import_type"])
        for r in out if r["relation_type"] == "calls"
    }
    assert ("useParam", "Engine.ignite", "resolved") in got
    assert any(
        f == "useParam" and t == "ignite" and it != "resolved" for f, t, it in got
    )
    # return annotation feeds the factory table (body defeats inference)
    assert ("usePicked", "Engine.ignite", "resolved") in got
    # Promise<Engine> is not the instance: never resolved
    assert any(
        f == "useLazy" and t == "ignite" and it != "resolved" for f, t, it in got
    )


def test_star_import_excludes_private_names():
    """`from m import *` never binds underscore-prefixed names — a call
    to `_hidden` stays unresolved even when exactly one starred module
    defines it."""
    fixture = {
        "pkg/__init__.py": "",
        "pkg/internals.py": (
            "def _hidden(x):\n    return x\n"
            "\n"
            "def visible(x):\n    return x\n"
        ),
        "app8.py": (
            "from pkg.internals import *\n"
            "\n"
            "def consume():\n"
            "    return visible(1) + _hidden(2)\n"
        ),
    }
    recs = []
    for path, src in fixture.items():
        recs.extend(parse_python_source(path, src))
    parsed = recs
    entities, relations, _ = split_parsed(parsed)
    out = resolve_calls(relations, import_bindings(parsed), entities)
    got = {
        (r["from_entity"], r["to_entity"], r["import_type"])
        for r in out if r["relation_type"] == "calls"
    }
    assert ("consume", "visible", "resolved") in got
    assert any(
        t == "_hidden" and it != "resolved" for _, t, it in got
    )


def test_star_import_respects_dunder_all():
    """A starred module's __all__ is the export contract: names outside
    it never bind (even public ones), and a private name it lists DOES
    bind — both directions of the Python star-import rule."""
    fixture = {
        "pkg/__init__.py": "",
        "pkg/exports.py": (
            "__all__ = ['offered', '_blessed']\n"
            "\n"
            "def offered(x):\n    return x\n"
            "\n"
            "def _blessed(x):\n    return x\n"
            "\n"
            "def unlisted(x):\n    return x\n"
        ),
        "app9.py": (
            "from pkg.exports import *\n"
            "\n"
            "def consume():\n"
            "    return offered(1) + _blessed(2) + unlisted(3)\n"
        ),
    }
    recs = []
    for path, src in fixture.items():
        recs.extend(parse_python_source(path, src))
    parsed = recs
    entities, relations, _ = split_parsed(parsed)
    out = resolve_calls(relations, import_bindings(parsed), entities)
    got = {
        (r["from_entity"], r["to_entity"], r["import_type"])
        for r in out if r["relation_type"] == "calls"
    }
    assert ("consume", "offered", "resolved") in got
    # __all__ widens past the underscore rule
    assert ("consume", "_blessed", "resolved") in got
    # public but unlisted: not exported
    assert any(t == "unlisted" and it != "resolved" for _, t, it in got)


def test_ts_interface_typed_resolution():
    """An interface-typed parameter's method calls resolve to the
    interface's declared member — the static answer TS itself gives —
    including members inherited through `extends`."""
    from claude_code_memory_spark.sources.javascript_parser import (
        parse_javascript_source,
    )
    from claude_code_memory_spark.sources.python_parser import (
        type_bindings,
    )

    fixture = {
        "src/shapes.ts": (
            "export interface Closeable {\n"
            "  close(): void;\n"
            "}\n"
            "\n"
            "export interface Port extends Closeable {\n"
            "  send(data: string): number;\n"
            "  readonly label: string;\n"
            "}\n"
        ),
        "src/wire.ts": (
            "import { Port } from './shapes';\n"
            "\n"
            "function flush(p: Port) {\n"
            "  p.send('x');\n"
            "  p.close();\n"
            "}\n"
        ),
    }
    recs = []
    for path, src in fixture.items():
        recs.extend(parse_javascript_source(path, src))
    parsed = recs
    entities, relations, _ = split_parsed(parsed)
    out = resolve_calls(
        relations, import_bindings(parsed), entities, type_bindings(parsed)
    )
    got = {
        (r["from_entity"], r["to_entity"], r["import_type"])
        for r in out if r["relation_type"] == "calls"
    }
    assert ("flush", "Port.send", "resolved") in got
    # inherited through `extends`
    assert ("flush", "Closeable.close", "resolved") in got


def test_js_export_star_barrel_resolution():
    """`lib/index.js: export * from './core'` — a named import from the
    barrel chases through the star re-export to the real definition;
    two stars offering the same name stay ambiguous and unresolved."""
    from claude_code_memory_spark.sources.javascript_parser import (
        parse_javascript_source,
    )
    fixture = {
        "lib/core.js": "export function coreFn(x) {\n  return x;\n}\n",
        "lib/extra.js": (
            "export function extraFn(x) {\n  return x;\n}\n"
            "\n"
            "export function dupFn(x) {\n  return x;\n}\n"
        ),
        "lib/core2.js": "export function dupFn(x) {\n  return x + 1;\n}\n",
        "lib/index.js": (
            "export * from './core';\n"
            "export * from './extra';\n"
            "export * from './core2';\n"
        ),
        "src/app.js": (
            "import { coreFn, extraFn, dupFn } from '../lib';\n"
            "\n"
            "function consume() {\n"
            "  return coreFn(1) + extraFn(2) + dupFn(3);\n"
            "}\n"
        ),
    }
    recs = []
    for path, src in fixture.items():
        recs.extend(parse_javascript_source(path, src))
    parsed = recs
    entities, relations, _ = split_parsed(parsed)
    out = resolve_calls(relations, import_bindings(parsed), entities)
    got = {
        (r["from_entity"], r["to_entity"], r["import_type"])
        for r in out if r["relation_type"] == "calls"
    }
    assert ("consume", "coreFn", "resolved") in got
    assert ("consume", "extraFn", "resolved") in got
    # dupFn is offered by two stars: ambiguous, never guessed
    assert any(t == "dupFn" and it != "resolved" for _, t, it in got)


def test_python_import_through_star_namespace():
    """Python twin of the barrel hop: `mid.py: from base import *` makes
    base's public names attributes of mid, so `from mid import helper`
    chases through the star to base.helper."""
    fixture = {
        "base.py": "def star_helper(x):\n    return x\n",
        "mid.py": "from base import *\n",
        "app10.py": (
            "from mid import star_helper\n"
            "\n"
            "def consume():\n"
            "    return star_helper(1)\n"
        ),
    }
    recs = []
    for path, src in fixture.items():
        recs.extend(parse_python_source(path, src))
    parsed = recs
    entities, relations, _ = split_parsed(parsed)
    out = resolve_calls(relations, import_bindings(parsed), entities)
    got = {
        (r["from_entity"], r["to_entity"], r["import_type"])
        for r in out if r["relation_type"] == "calls"
    }
    assert ("consume", "star_helper", "resolved") in got


def test_star_never_overrides_explicit_import():
    """Explicit bindings shadow star imports (Python semantics): in
    `from os.path import join; from utils import *`, join() belongs to
    os.path even though the chase finds no repo-local def for it — the
    star fallback must NOT rewrite it to utils.join (ADVICE r6).
    Module imports shadow too."""
    fixture = {
        "utils.py": (
            "def join(x):\n    return x\n"
            "\n"
            "def tools(x):\n    return x\n"
            "\n"
            "def free(x):\n    return x\n"
        ),
        "app12.py": (
            "from os.path import join\n"
            "import tools\n"
            "from utils import *\n"
            "\n"
            "def consume():\n"
            "    return join('a') + tools(1) + free(2)\n"
        ),
    }
    recs = []
    for path, src in fixture.items():
        recs.extend(parse_python_source(path, src))
    parsed = recs
    entities, relations, _ = split_parsed(parsed)
    out = resolve_calls(relations, import_bindings(parsed), entities)
    got = {
        (r["from_entity"], r["to_entity"], r["import_type"])
        for r in out if r["relation_type"] == "calls"
    }
    # explicitly from-imported (external): stays unresolved, never utils.join
    assert any(t == "join" and it != "resolved" for _, t, it in got)
    # module-imported name: the star must not claim it either
    assert any(t == "tools" and it != "resolved" for _, t, it in got)
    # no explicit binding: the star resolves it as before
    assert ("consume", "free", "resolved") in got


def test_js_export_star_binds_nothing_in_barrel_scope():
    """`export * from './core'` re-exports to IMPORTERS of the barrel but
    binds nothing in the barrel's own scope — a bare call inside the
    barrel must stay unresolved (ADVICE r6), while named imports FROM the
    barrel still chase through the star re-export."""
    from claude_code_memory_spark.sources.javascript_parser import (
        parse_javascript_source,
    )
    fixture = {
        "lib/core.js": "export function coreFn(x) {\n  return x;\n}\n",
        "lib/index.js": (
            "export * from './core';\n"
            "\n"
            "export function boot() {\n"
            "  return coreFn(1);\n"
            "}\n"
        ),
        "src/app.js": (
            "import { coreFn } from '../lib';\n"
            "\n"
            "function consume() {\n"
            "  return coreFn(1);\n"
            "}\n"
        ),
    }
    recs = []
    for path, src in fixture.items():
        recs.extend(parse_javascript_source(path, src))
    parsed = recs
    entities, relations, _ = split_parsed(parsed)
    out = resolve_calls(relations, import_bindings(parsed), entities)
    got = {
        (r["from_entity"], r["to_entity"], r["import_type"])
        for r in out if r["relation_type"] == "calls"
    }
    # the barrel hop still works for importers
    assert ("consume", "coreFn", "resolved") in got
    # but inside the barrel, export-star binds nothing: bare call unresolved
    assert any(
        f == "boot" and t == "coreFn" and it != "resolved" for f, t, it in got
    )


def test_dynamic_dunder_all_suppresses_star_fallback():
    """A module with a fully dynamic __all__ (`__all__ = sorted(_n)`)
    declares an export contract we cannot enumerate — star consumers must
    resolve NOTHING from it (the marker row suppresses the
    public-underscore fallback; ADVICE r6)."""
    fixture = {
        "dyn.py": (
            "_n = ['offered']\n"
            "__all__ = sorted(_n)\n"
            "\n"
            "def offered(x):\n    return x\n"
            "\n"
            "def hidden(x):\n    return x\n"
        ),
        "app13.py": (
            "from dyn import *\n"
            "\n"
            "def consume():\n"
            "    return offered(1) + hidden(2)\n"
        ),
    }
    recs = []
    for path, src in fixture.items():
        recs.extend(parse_python_source(path, src))
    parsed = recs
    entities, relations, _ = split_parsed(parsed)
    out = resolve_calls(relations, import_bindings(parsed), entities)
    got = {
        (r["from_entity"], r["to_entity"], r["import_type"])
        for r in out if r["relation_type"] == "calls"
    }
    # unresolved beats wrongly resolved: the dynamic __all__ may exclude
    # either name, so neither resolves
    assert any(t == "offered" and it != "resolved" for _, t, it in got)
    assert any(t == "hidden" and it != "resolved" for _, t, it in got)


def test_instance_method_factory_resolution():
    """`x = obj.get_db(); x.query()` — the most common real-world factory
    shape (verdict r6 item 3): the base names an instance-typed VARIABLE
    whose class has a return-annotated (or body-inferred) method.
    Function-scope, self-attribute, and module-scope bases all resolve;
    an untyped base resolves nothing."""
    fixture = {
        "pkg/__init__.py": "",
        "pkg/db.py": (
            "class Conn:\n"
            "    def query(self):\n"
            "        return 1\n"
            "\n"
            "class Database:\n"
            "    def get_db(self) -> Conn:\n"
            "        return self._open()\n"
            "\n"
            "    def mk(self):\n"
            "        return Conn()\n"
            "\n"
            "    def maybe(self, flag):\n"
            "        if flag:\n"
            "            return Conn()\n"
            "        return None\n"
        ),
        "app14.py": (
            "from pkg.db import Database\n"
            "\n"
            "d2 = Database()\n"
            "\n"
            "def use_annotated():\n"
            "    d = Database()\n"
            "    x = d.get_db()\n"
            "    return x.query()\n"
            "\n"
            "class Holder:\n"
            "    def __init__(self):\n"
            "        self.db = Database()\n"
            "    def go(self):\n"
            "        c = self.db.get_db()\n"
            "        return c.query()\n"
            "\n"
            "def use_module_scope():\n"
            "    y = d2.mk()\n"
            "    return y.query()\n"
            "\n"
            "def use_divergent():\n"
            "    d = Database()\n"
            "    z = d.maybe(True)\n"
            "    return z.query()\n"
            "\n"
            "def use_untyped(q):\n"
            "    w = q.get_db()\n"
            "    return w.query()\n"
        ),
    }
    from claude_code_memory_spark.sources.python_parser import (
        return_bindings,
    )

    recs = []
    for path, src in fixture.items():
        recs.extend(parse_python_source(path, src))
    parsed = recs
    entities, relations, _ = split_parsed(parsed)
    out = resolve_calls(
        relations,
        import_bindings(parsed),
        entities,
        type_bindings(parsed),
        return_binds=return_bindings(parsed),
    )
    assert len(out) == len(relations)  # refinement, never loss
    got = {
        (r["from_entity"], r["to_entity"], r["import_type"])
        for r in out if r["relation_type"] == "calls"
    }
    # annotated instance-method factory, function-scope base
    assert ("use_annotated", "Conn.query", "resolved") in got
    # self-attribute base (`self.db.get_db()` typing c)
    assert ("Holder.go", "Conn.query", "resolved") in got
    # body-inferred method factory, module-scope base
    assert ("use_module_scope", "Conn.query", "resolved") in got
    # divergent returns, no annotation: never resolved
    assert any(
        f == "use_divergent" and t == "query" and it != "resolved"
        for f, t, it in got
    )
    # untyped base: never resolved
    assert any(
        f == "use_untyped" and t == "query" and it != "resolved"
        for f, t, it in got
    )


def test_chained_call_result_resolution():
    """`d.get_conn().query()` — the call-result base (parser marker
    'd.get_conn()') types through the same factory machinery as a named
    bind: function factories (`make_tool().run()`), classmethod
    factories (`Tool.create().run()`), instance-method factories.
    Divergent factories and deeper chains stay unresolved."""
    fixture = {
        "pkg/__init__.py": "",
        "pkg/db.py": (
            "class Conn:\n"
            "    def query(self):\n"
            "        return 1\n"
            "\n"
            "class Database:\n"
            "    def get_conn(self) -> Conn:\n"
            "        return self._open()\n"
            "\n"
            "    def maybe(self, flag):\n"
            "        if flag:\n"
            "            return Conn()\n"
            "        return None\n"
            "\n"
            "def make_db():\n"
            "    return Database()\n"
        ),
        "app15.py": (
            "from pkg.db import Database, make_db\n"
            "from pkg.trap import query\n"
            "\n"
            "def use_chain():\n"
            "    d = Database()\n"
            "    return d.get_conn().query()\n"
            "\n"
            "def use_fn_chain():\n"
            "    return make_db().get_conn()\n"
            "\n"
            "def use_divergent_chain():\n"
            "    d = Database()\n"
            "    return d.maybe(True).query()\n"
            "\n"
            "def use_deep_chain():\n"
            "    d = Database()\n"
            "    return d.get_conn().query().explain()\n"
            "\n"
            "def use_shadowed_deep_chain():\n"
            "    d = Database()\n"
            "    return d.get_conn().query().run()\n"
        ),
        # a module-level factory named like the MIDDLE method of a deep
        # chain: the marker must not collapse 'd.get_conn().query()' to
        # 'query()' and falsely type run() through this
        "pkg/trap.py": (
            "class Runner:\n"
            "    def run(self):\n"
            "        return 9\n"
            "\n"
            "def query():\n"
            "    return Runner()\n"
        ),
    }
    from claude_code_memory_spark.sources.python_parser import (
        return_bindings,
    )

    recs = []
    for path, src in fixture.items():
        recs.extend(parse_python_source(path, src))
    parsed = recs
    entities, relations, _ = split_parsed(parsed)
    out = resolve_calls(
        relations,
        import_bindings(parsed),
        entities,
        type_bindings(parsed),
        return_binds=return_bindings(parsed),
    )
    assert len(out) == len(relations)
    got = {
        (r["from_entity"], r["to_entity"], r["import_type"])
        for r in out if r["relation_type"] == "calls"
    }
    # instance-method factory through the call result
    assert ("use_chain", "Conn.query", "resolved") in got
    # function factory through the call result
    assert ("use_fn_chain", "Database.get_conn", "resolved") in got
    # divergent factory: never resolved
    assert any(
        f == "use_divergent_chain" and t == "query" and it != "resolved"
        for f, t, it in got
    )
    # two chained hops: beyond the single-level marker, stays unresolved
    assert any(
        f == "use_deep_chain" and t == "explain" and it != "resolved"
        for f, t, it in got
    )
    # the false-resolution trap: a bare factory `query()` exists, but the
    # deep chain's middle hop must NOT collapse to it
    assert ("use_shadowed_deep_chain", "Runner.run", "resolved") not in got
    assert any(
        f == "use_shadowed_deep_chain" and t == "run" and it != "resolved"
        for f, t, it in got
    )


def test_js_chained_call_result_resolution():
    """JS chained calls: `makeTool().run()`, `new Tool().run()`, and
    `this.db.getConn().query()` all type through the call-result marker;
    an inner call with nested parens falls back to a bare (unresolved)
    row rather than guessing."""
    from claude_code_memory_spark.sources.javascript_parser import (
        parse_javascript_source,
    )
    from claude_code_memory_spark.sources.python_parser import (
        return_bindings,
    )

    fixture = {
        "lib/tool.js": (
            "export class Tool {\n"
            "  run() {\n"
            "    return 1;\n"
            "  }\n"
            "}\n"
            "\n"
            "export function makeTool(cfg) {\n"
            "  return new Tool();\n"
            "}\n"
        ),
        "lib/db.js": (
            "import { Tool } from './tool';\n"
            "\n"
            "export class Db {\n"
            "  getTool(cfg): Tool {\n"
            "    return this._open();\n"
            "  }\n"
            "}\n"
        ),
        "src/app.js": (
            "import { Tool, makeTool } from '../lib/tool';\n"
            "import { Db } from '../lib/db';\n"
            "\n"
            "function useFactoryChain() {\n"
            "  return makeTool({ a: 1 }).run();\n"
            "}\n"
            "\n"
            "function useNewChain() {\n"
            "  return new Tool().run();\n"
            "}\n"
            "\n"
            "class Holder {\n"
            "  constructor() {\n"
            "    this.db = new Db();\n"
            "  }\n"
            "  go() {\n"
            "    return this.db.getTool(1).run();\n"
            "  }\n"
            "}\n"
            "\n"
            "function useNested() {\n"
            "  return makeTool(cfg(1)).run();\n"
            "}\n"
        ),
    }
    recs = []
    for path, src in fixture.items():
        recs.extend(parse_javascript_source(path, src))
    parsed = recs
    from claude_code_memory_spark.sources.python_parser import (
        import_bindings,
        split_parsed,
        type_bindings,
    )

    entities, relations, _ = split_parsed(parsed)
    out = resolve_calls(
        relations,
        import_bindings(parsed),
        entities,
        type_bindings(parsed),
        return_binds=return_bindings(parsed),
    )
    assert len(out) == len(relations)
    got = {
        (r["from_entity"], r["to_entity"], r["import_type"])
        for r in out if r["relation_type"] == "calls"
    }
    assert ("useFactoryChain", "Tool.run", "resolved") in got
    assert ("useNewChain", "Tool.run", "resolved") in got
    # TS return annotation on the instance method types the chain
    assert ("Holder.go", "Tool.run", "resolved") in got
    # nested parens in the inner args (round 9, verdict r8 item 2): the
    # balanced-paren scan marks `makeTool(cfg(1)).run()` like any other
    # chain — the argument list is irrelevant to the result type
    assert ("useNested", "Tool.run", "resolved") in got


def test_super_dispatch_resolution():
    """`super().close()` (Python) and `super.close()` (JS) resolve
    through the ancestor closure EXCLUDING the own class — the override
    the plain method lookup would match is exactly what super skips.
    A method no ancestor defines stays unresolved."""
    fixture = {
        "pkg/__init__.py": "",
        "pkg/base.py": (
            "class Base:\n"
            "    def close(self):\n"
            "        return 0\n"
            "\n"
            "    def only_base(self):\n"
            "        return 1\n"
        ),
        "pkg/tool.py": (
            "from pkg.base import Base\n"
            "\n"
            "class Tool(Base):\n"
            "    def close(self):\n"
            "        return super().close() + 1\n"
            "\n"
            "    def finish(self):\n"
            "        return super().only_base() + super().missing()\n"
        ),
    }
    recs = []
    for path, src in fixture.items():
        recs.extend(parse_python_source(path, src))
    parsed = recs
    entities, relations, _ = split_parsed(parsed)
    out = resolve_calls(relations, import_bindings(parsed), entities)
    assert len(out) == len(relations)
    got = {
        (r["from_entity"], r["to_entity"], r["import_type"])
        for r in out if r["relation_type"] == "calls"
    }
    # super().close() inside Tool.close → Base.close, NOT Tool.close
    assert ("Tool.close", "Base.close", "resolved") in got
    assert ("Tool.close", "Tool.close", "resolved") not in got
    assert ("Tool.finish", "Base.only_base", "resolved") in got
    # no ancestor defines missing(): unresolved
    assert any(
        f == "Tool.finish" and t == "missing" and it != "resolved"
        for f, t, it in got
    )


def test_js_super_dispatch_resolution():
    from claude_code_memory_spark.sources.javascript_parser import (
        parse_javascript_source,
    )
    fixture = {
        "lib/base.js": (
            "export class Widget {\n"
            "  render() {\n"
            "    return 0;\n"
            "  }\n"
            "}\n"
        ),
        "lib/button.js": (
            "import { Widget } from './base';\n"
            "\n"
            "export class Button extends Widget {\n"
            "  render() {\n"
            "    return super.render() + 1;\n"
            "  }\n"
            "}\n"
        ),
    }
    recs = []
    for path, src in fixture.items():
        recs.extend(parse_javascript_source(path, src))
    parsed = recs
    entities, relations, _ = split_parsed(parsed)
    out = resolve_calls(relations, import_bindings(parsed), entities)
    got = {
        (r["from_entity"], r["to_entity"], r["import_type"])
        for r in out if r["relation_type"] == "calls"
    }
    assert ("Button.render", "Widget.render", "resolved") in got


def test_resolve_job_budget(spark):
    """resolve_calls takes and returns rows and resolves in one driver
    pass, so it runs no Spark job whatever the lookup families
    exercised. The join plan it replaced ran about 170 jobs on a
    78-file project; this budget keeps a join tree from coming back."""
    from claude_code_memory_spark.sources.python_parser import (
        return_bindings,
    )

    fixture = {
        "pkg/__init__.py": "from .core import helper\n",
        "pkg/core.py": (
            "class Base:\n"
            "    def close(self):\n"
            "        return 0\n"
            "\n"
            "def helper(x):\n"
            "    return x + 1\n"
            "\n"
            "class Tool(Base):\n"
            "    attr: Base\n"
            "    def run(self):\n"
            "        return super().close()\n"
        ),
        "app.py": (
            "from pkg import helper as h\n"
            "from pkg.core import Tool\n"
            "\n"
            "def use():\n"
            "    t = Tool()\n"
            "    return h(1) + t.run() + t.attr.close()\n"
        ),
    }
    recs = []
    for path, src in fixture.items():
        recs.extend(parse_python_source(path, src))
    parsed = recs
    entities, relations, _ = split_parsed(parsed)

    sc = spark.sparkContext
    sc.setJobGroup("resolve-job-budget", "resolve job budget")
    try:
        out = resolve_calls(
            relations,
            import_bindings(parsed),
            entities,
            type_bindings(parsed),
            return_binds=return_bindings(parsed),
        )
        rows = [r for r in out if r["import_type"] == "resolved"]
    finally:
        sc.setJobGroup("resolve-job-budget-idle", "idle")
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("resolve-job-budget"))
    got = {(r["from_entity"], r["to_entity"]) for r in rows}
    # the budget exercises every lookup family: bare import, instance
    # method, inherited attribute, super dispatch
    assert ("use", "helper") in got
    assert ("use", "Tool.run") in got
    assert ("Tool.run", "Base.close") in got
    assert n_jobs == 0, f"resolve ran {n_jobs} Spark jobs"


def test_resolve_accepts_legacy_bind_schemas():
    """Stores written before round 10 lack the awaited/is_async columns;
    resolve_calls must accept such frames (adds the columns as False)
    and behave exactly as the pre-async engine did."""
    from claude_code_memory_spark.sources.python_parser import (
        return_bindings,
    )

    fixture = {
        "lib.py": (
            "class Tool:\n"
            "    def run(self):\n"
            "        return 1\n"
            "\n"
            "def make_tool():\n"
            "    return Tool()\n"
        ),
        "app.py": (
            "from lib import make_tool\n"
            "\n"
            "def use():\n"
            "    t = make_tool()\n"
            "    return t.run()\n"
        ),
    }
    recs = []
    for path, src in fixture.items():
        recs.extend(parse_python_source(path, src))
    parsed = recs
    entities, relations, _ = split_parsed(parsed)
    legacy_tb = [
        {k: v for k, v in r.items() if k != "awaited"} for r in type_bindings(parsed)
    ]
    legacy_rb = [
        {k: v for k, v in r.items() if k != "is_async"} for r in return_bindings(parsed)
    ]
    out = resolve_calls(
        relations,
        import_bindings(parsed),
        entities,
        legacy_tb,
        return_binds=legacy_rb,
    )
    got = {
        (r["from_entity"], r["to_entity"])
        for r in out if r["import_type"] == "resolved"
    }
    assert ("use", "Tool.run") in got


def test_awaited_bind_blocks_without_return_binds():
    """`c = await mk()` must never type c as the factory's class when NO
    return_binds frame is supplied: without a factory table nothing can
    justify an awaited bind (the call value is a future, not the
    instance). The engine always passes return_binds, so this pins the
    direct-library-call path (ADVICE r10)."""
    fixture = {
        "lib.py": (
            "class Conn:\n"
            "    def query(self):\n"
            "        return 1\n"
        ),
        "app.py": (
            "from lib import Conn\n"
            "\n"
            "async def use():\n"
            "    c = await Conn()\n"
            "    return c.query()\n"
        ),
    }
    recs = []
    for path, src in fixture.items():
        recs.extend(parse_python_source(path, src))
    parsed = recs
    entities, relations, _ = split_parsed(parsed)
    out = resolve_calls(
        relations,
        import_bindings(parsed),
        entities,
        type_bindings(parsed),
        return_binds=None,
    )
    got = {
        (r["from_entity"], r["to_entity"])
        for r in out if r["import_type"] == "resolved"
    }
    assert ("use", "Conn.query") not in got, (
        "awaited bind falsely resolved as a direct class with "
        "return_binds=None"
    )


def test_normalize_target_package_dir_as_project_root():
    """Indexing the package directory itself: files derive their modules
    without the package name (``sources/files.py`` → ``sources.files``)
    while the code imports ``mypkg.sources.files``. The target minus 0,
    1 or 2 leading segments is matched against the known modules and
    their dot-boundary prefixes; the fewest trims win, and a target
    nothing matches (an external import) stays as it is."""
    prefixes = module_prefixes({"sources.files", "api", "b.c", "c"})
    cases = {
        "mypkg.sources.files": "sources.files",  # one trim, a module
        "mypkg.sources": "sources",  # a prefix of a known module
        "sources.files": "sources.files",  # already path-derived
        "x.y.api": "api",  # two trims
        "w.x.y.api": "w.x.y.api",  # would need three: untouched
        "a.b.c": "b.c",  # fewest trims beat the shorter match "c"
        "os.path": "os.path",  # external
    }
    assert {t: normalize_target(t, prefixes) for t in cases} == cases


# --- incremental re-index of one file ----------------------------------------

SCOPE_FIXTURE = {
    # the re-indexed file: exercises aliased from-import, module-alias
    # submodule attribute call (pkg.sub NOT imported by pkg/__init__ —
    # the resolver builds the pkg.sub probe from the pkg binding), star
    # import, instance-typed method through a 3-module inheritance chain,
    # and a factory
    "app_s.py": (
        "import pkg\n"
        "from pkg.core import Tool, make_tool\n"
        "from pkg.star_src import *\n"
        "\n"
        "def use_sub():\n"
        "    return pkg.sub.sub_helper(1)\n"
        "\n"
        "def use_method():\n"
        "    t = Tool()\n"
        "    return t.run() + t.close() + t.deep()\n"
        "\n"
        "def use_star():\n"
        "    return starry(2)\n"
        "\n"
        "def use_factory():\n"
        "    x = make_tool()\n"
        "    return x.run()\n"
    ),
    "pkg/__init__.py": "",  # does NOT import pkg.sub
    "pkg/sub.py": "def sub_helper(x):\n    return x\n",
    "pkg/core.py": (
        "from pkg.base import Base\n"
        "\n"
        "class Tool(Base):\n"
        "    def run(self):\n"
        "        return 1\n"
        "\n"
        "def make_tool():\n"
        "    return Tool()\n"
    ),
    "pkg/base.py": (
        "from pkg.deepbase import DeepBase\n"
        "\n"
        "class Base(DeepBase):\n"
        "    def close(self):\n"
        "        return 0\n"
    ),
    "pkg/deepbase.py": "class DeepBase:\n    def deep(self):\n        return 2\n",
    "pkg/star_src.py": "def starry(x):\n    return x\n",
    # UNREACHABLE from app_s.py — defines colliding names that no call in
    # app_s.py may resolve to
    "island/__init__.py": "",
    "island/core.py": (
        "class Tool:\n"
        "    def run(self):\n"
        "        return 9\n"
        "\n"
        "def sub_helper(x):\n"
        "    return -x\n"
        "\n"
        "def starry(x):\n"
        "    return -x\n"
    ),
    "island/user.py": (
        "from island.core import Tool\n"
        "\n"
        "def island_use():\n"
        "    t = Tool()\n"
        "    return t.run()\n"
    ),
}


def test_engine_incremental_reindex_matches_first_build(spark, tmp_path):
    """A one-file incremental re-index resolves against stored ∪ batch
    and leaves the relations table equal to the first build's, with the
    re-indexed file's calls pinned through every resolution mechanism."""
    from collections import Counter

    from claude_code_memory_spark.api import CodeMemoryEngine

    proj = tmp_path / "proj"
    for path, src in SCOPE_FIXTURE.items():
        p = proj / path
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_text(src)
    eng = CodeMemoryEngine(spark, str(tmp_path / "store"))
    eng.index(str(proj))
    first = Counter(tuple(r) for r in eng.store.read("relations").collect())

    fs = eng.store.read("file_state")
    eng.store.write("file_state", fs.filter(F.col("relative_path") != "app_s.py"))
    assert eng.index(str(proj))["files_changed"] == 1
    rels = eng.store.read("relations").collect()
    assert Counter(tuple(r) for r in rels) == first

    resolved = {
        (r["from_entity"], r["to_entity"])
        for r in rels
        if r["file_path"] == "app_s.py" and r["import_type"] == "resolved"
    }
    assert ("use_sub", "sub_helper") in resolved  # submodule probe
    assert ("use_method", "Tool.run") in resolved
    assert ("use_method", "Base.close") in resolved  # 1-hop inherit
    assert ("use_method", "DeepBase.deep") in resolved  # 2-hop inherit
    assert ("use_star", "starry") in resolved  # star import
    assert ("use_factory", "Tool.run") in resolved  # factory return
