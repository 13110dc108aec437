"""Parser tests — mirror the reference's tests/unit/test_parser.py cases:
simple function (:99), class+methods (:126), imports (:187), syntax errors
(:210), empty files (:227), docstrings (:239)."""

from claude_code_memory_spark.sources.files import scan_project
from claude_code_memory_spark.sources.python_parser import split_parsed
from claude_code_memory_spark.sources.registry import parse_rows


def _parse(temp_repo):
    files = [f for f in scan_project(temp_repo) if f["language"] == "py"]
    return split_parsed(parse_rows(files))


def test_entities_extracted(temp_repo):
    entities, relations, impl = _parse(temp_repo)
    by_name = {r["entity_name"]: r for r in entities}
    # functions and classes
    assert by_name["helper"]["entity_type"] == "function"
    assert by_name["compute"]["entity_type"] == "function"
    assert by_name["Processor"]["entity_type"] == "class"
    assert by_name["Processor.run"]["entity_type"] == "method"
    # docstrings and signatures
    assert by_name["helper"]["docstring"] == "Add two numbers."
    assert by_name["helper"]["signature"] == "helper(a, b)"
    # variables, constants, tuple unpack
    assert by_name["MAX_SIZE"]["entity_type"] == "constant"
    assert by_name["x"]["entity_type"] == "variable"
    assert by_name["y"]["entity_type"] == "variable"
    # imports
    assert by_name["os"]["entity_type"] == "import"
    # files, including syntax-error files (graceful degradation)
    file_entities = [n for n, r in by_name.items() if r["entity_type"] == "file"]
    assert any("broken.py" in n for n in file_entities)


def test_empty_source_graceful():
    from claude_code_memory_spark.sources.python_parser import parse_python_source

    recs = parse_python_source("empty.py", "")
    assert len(recs) == 1 and recs[0]["entity_type"] == "file"


def test_relations_extracted(temp_repo):
    entities, relations, impl = _parse(temp_repo)
    rels = {(r["from_entity"], r["relation_type"], r["to_entity"]) for r in relations}
    assert ("compute", "calls", "helper") in rels
    assert ("Derived", "inherits", "Base") in rels
    assert ("Processor", "contains", "Processor.run") in rels
    assert any(r[1] == "imports" and r[2] == "os" for r in rels)


def test_implementation_chunks(temp_repo):
    entities, relations, impl = _parse(temp_repo)
    rows = {r["entity_name"]: r for r in impl}
    assert "def helper(a, b):" in rows["helper"]["content"]
    assert rows["compute"]["complexity"] >= 3  # for + if + base
    assert rows["helper"]["line_number"] < rows["helper"]["end_line_number"]


def test_relation_chunk_owner_is_smallest_file_path():
    """Two files holding the same relation triple (a vendored copy) yield
    one relation chunk, owned by the smallest file_path whatever the row
    order, so every build stores the same chunk."""
    from claude_code_memory_spark.plans.chunks import relation_chunks

    row = {"from_entity": "f", "to_entity": "g", "relation_type": "calls",
           "context": None, "confidence": 1.0, "import_type": None}
    rels = [{**row, "file_path": "vendor/copy0/a.py"}, {**row, "file_path": "a.py"}]
    out = relation_chunks(rels)
    assert [(r["chunk_id"], r["file_path"]) for r in out] == [("f::calls::g::", "a.py")]


def test_decorator_and_raise_relations():
    """Decorators → (target, uses, name, decorator); raise X → (fn, throws, X) —
    the same relation surface the JS parser emits for @deco / throw new."""
    import textwrap

    from claude_code_memory_spark.sources.python_parser import parse_python_source

    src = textwrap.dedent(
        '''
        import functools

        @functools.cache
        def compute(x):
            if x < 0:
                raise ValueError("negative")
            return x * 2

        @register
        class Handler:
            @staticmethod
            def run():
                raise errors.TimeoutError()
        '''
    )
    recs = parse_python_source("m.py", src)
    rels = {
        (r["from_entity"], r["to_entity"], r["relation_type"])
        for r in recs
        if r["record_kind"] == "relation"
    }
    assert ("compute", "cache", "uses") in rels
    assert ("compute", "ValueError", "throws") in rels
    assert ("Handler", "register", "uses") in rels
    assert ("Handler.run", "staticmethod", "uses") in rels
    assert ("Handler.run", "TimeoutError", "throws") in rels


def test_optional_annotation_unwrapping():
    """Optional[Tool] and Tool | None unwrap to Tool for type binds and
    return binds (the value IS a Tool whenever it's used); containers
    (list[Tool]) and non-None unions stay opaque."""
    from claude_code_memory_spark.sources.python_parser import parse_python_source

    src = (
        "from pkg.core import Motor\n"
        "from typing import Optional\n"
        "\n"
        "def f(a: Optional[Motor], b: Motor | None, c: None | Motor,\n"
        "      d: list[Motor], e: Motor | str):\n"
        "    return a.rev()\n"
        "\n"
        "def g() -> Optional[Motor]:\n"
        "    return fetch()\n"
    )
    recs = parse_python_source("app.py", src)
    tbinds = {
        r["entity_name"]: r["to_entity"]
        for r in recs
        if r["record_kind"] == "type_binding"
    }
    assert tbinds.get("a") == "Motor"
    assert tbinds.get("b") == "Motor"
    assert tbinds.get("c") == "Motor"
    # round 11: a subscripted annotation binds its HEAD class (generic
    # instantiation `Repo[User]` → Repo); for typing containers the
    # head is external/builtin and never resolves — the ELEMENT is
    # still never bound
    assert tbinds.get("d") == "list"
    assert "e" not in tbinds  # non-None union: ambiguous
    rbinds = {
        r["from_entity"]: r["to_entity"]
        for r in recs
        if r["record_kind"] == "return_bind"
    }
    assert rbinds.get("g") == "Motor"


def test_with_tuple_target_poisons_not_binds():
    """`with pool() as (conn, cur)` unpacks whatever __enter__ returns —
    binding the elements to the context-manager class would wrongly pin
    e.g. cur.execute() to a pool method (ADVICE r6). Bare-name targets
    keep the common-case bind; tuple/list elements are poisoned, and a
    later rebind of a poisoned name stays poisoned."""
    from claude_code_memory_spark.sources.python_parser import parse_python_source

    src = (
        "from pkg.db import pool, Conn\n"
        "\n"
        "def f():\n"
        "    with pool() as (conn, cur):\n"
        "        cur.execute()\n"
        "    with pool() as p:\n"
        "        p.ping()\n"
        "\n"
        "def g():\n"
        "    with pool() as [a, b]:\n"
        "        pass\n"
        "    a = Conn()\n"
    )
    recs = parse_python_source("app.py", src)
    tbinds = {
        (r["from_entity"], r["entity_name"]): r["to_entity"]
        for r in recs
        if r["record_kind"] == "type_binding"
    }
    assert ("f", "conn") not in tbinds
    assert ("f", "cur") not in tbinds
    assert tbinds.get(("f", "p")) == "pool"
    # poisoned by the tuple unpack: the later unambiguous-looking
    # assignment must NOT resurrect a bind
    assert ("g", "a") not in tbinds
    assert ("g", "b") not in tbinds


def test_dynamic_dunder_all_emits_marker_and_entity():
    """A fully dynamic __all__ (zero string literals) must still tell the
    resolver the module HAS an __all__ — the '*' marker row — so the
    public-underscore fallback never fires for it (ADVICE r6). The
    assignment also keeps its module-variable entity row."""
    from claude_code_memory_spark.sources.python_parser import parse_python_source

    recs = parse_python_source(
        "mod.py",
        "_names = ['a', 'b']\n"
        "__all__ = sorted(_names)\n"
        "\n"
        "def offered(x):\n    return x\n",
    )
    exports = [
        r["from_entity"]
        for r in recs
        if r["record_kind"] == "import_binding" and r["import_type"] == "export"
    ]
    assert exports == ["*"]  # marker only: no literals to extract
    ents = {
        r["entity_name"]
        for r in recs
        if r["record_kind"] == "entity" and r["entity_type"] == "variable"
    }
    assert "__all__" in ents

    # literal __all__ still extracts names AND carries the marker
    recs2 = parse_python_source(
        "mod2.py", "__all__ = ['x']\n\ndef x():\n    return 1\n"
    )
    exports2 = sorted(
        r["from_entity"]
        for r in recs2
        if r["record_kind"] == "import_binding" and r["import_type"] == "export"
    )
    assert exports2 == ["*", "x"]


def test_tuple_unpack_and_walrus_type_binds():
    """Positionally-matched tuple unpack (`a, b = Tool(), 3`) and walrus
    targets (`(t := Tool())`) are statically certain and bind; starred,
    arity-mismatched, or call-RHS unpacks stay poisoned."""
    from claude_code_memory_spark.sources.python_parser import parse_python_source

    src = (
        "from pkg.core import Tool, Conn\n"
        "\n"
        "def f():\n"
        "    a, b = Tool(), Conn()\n"
        "    c, d = Tool(), 3\n"
        "    return a.run()\n"
        "\n"
        "def g():\n"
        "    e, *rest = Tool(), Conn(), Conn()\n"
        "    x, y = make_pair()\n"
        "    return 0\n"
        "\n"
        "def h():\n"
        "    if (t := Tool()):\n"
        "        return t.run()\n"
        "    vals = [w for w in range(3) if (m := Conn())]\n"
        "    return m.query()\n"
    )
    recs = parse_python_source("app.py", src)
    tbinds = {
        (r["from_entity"], r["entity_name"]): r["to_entity"]
        for r in recs
        if r["record_kind"] == "type_binding"
    }
    assert tbinds.get(("f", "a")) == "Tool"
    assert tbinds.get(("f", "b")) == "Conn"
    assert tbinds.get(("f", "c")) == "Tool"
    assert ("f", "d") not in tbinds  # non-call element
    assert ("g", "e") not in tbinds  # starred target: arity uncertain
    assert ("g", "x") not in tbinds  # call RHS: per-element unknown
    assert tbinds.get(("h", "t")) == "Tool"
    # PEP 572: a walrus inside a comprehension binds the ENCLOSING scope
    assert tbinds.get(("h", "m")) == "Conn"


def test_async_await_records():
    """Round 10: `x = await f()` emits a type_binding flagged 'await'
    (import_type), an `async def` factory emits its return_bind flagged
    'async' — the resolver matches the two so a coroutine never types a
    variable (soundness) and an awaited async factory does (capability)."""
    from claude_code_memory_spark.sources.python_parser import parse_python_source

    src = (
        "class Conn:\n"
        "    def query(self):\n"
        "        return 1\n"
        "\n"
        "async def aget() -> Conn:\n"
        "    return Conn()\n"
        "\n"
        "def sget() -> Conn:\n"
        "    return Conn()\n"
        "\n"
        "async def use():\n"
        "    a = await aget()\n"
        "    b = aget()\n"
        "    return a, b\n"
    )
    recs = parse_python_source("app.py", src)
    tb = {
        (r["from_entity"], r["entity_name"]): r["import_type"]
        for r in recs
        if r["record_kind"] == "type_binding"
    }
    assert tb[("use", "a")] == "await"
    assert tb[("use", "b")] is None  # plain call bind, not awaited
    rb = {
        r["from_entity"]: r["import_type"]
        for r in recs
        if r["record_kind"] == "return_bind"
    }
    assert rb["aget"] == "async"
    assert rb["sget"] is None


_SCOPES_SRC = '''\
import json

CONFIG = Settings()
if CONFIG:
    handler = lambda: (zed := Zed())

    def hook():
        hooked = Hooked()


def outer(path, flag):
    """Outer doc."""
    a = Thing()
    if flag and path:
        data = open("deep.txt")
    for item in [Item(x) for x in range(3)]:
        while item:
            try:
                item = item.step()
            except ValueError:
                raise Retry(item)
    with Lock() as (a, b):
        pass
    if (conf := Config()):
        pass
    parts = [(w := Part()) for _ in range(2)]
    match flag:
        case 1:
            pass
    json.load("top.json")

    def inner():
        inner_val = Widget()
        if inner_val:
            raise InnerError()
        return Widget()

    def gen():
        yield 1

    class Local:
        def method(self):
            hidden = Hidden()
            return open("local.txt")

    cb = lambda: helper(lam := Gadget())
    return Factory()


async def runner(stream):
    async for chunk in stream:
        async with Session() as s:
            pass
    try:
        pass
    except* KeyError:
        pass
    return Factory()


class Holder(Base):
    label = Name() if flag or other else None

    class Meta:
        def check(self):
            if self:
                kept = Kept()

    def setup(self):
        self.repo = Repo()
        for x in self.items:
            pass
'''


def test_nested_scopes_complexity_and_file_op_order():
    """Every record of one crafted file, in order. What nested def /
    class / lambda bodies hold counts for the enclosing function's calls,
    raises, file ops and complexity, but their assignments and returns
    stay out of its type and factory binds (so do the module's). Walrus
    binds in a comprehension bind in the function; `with ... as (a, b)`
    poisons `a`. Complexity counts if/for/while/try/except/with/BoolOp/
    match, not async for / async with / try* (the handler of `except*`
    is an except). File ops come in breadth-first order: top.json, which
    sits shallower, before deep.txt."""
    from claude_code_memory_spark.sources.python_parser import parse_python_source

    recs = parse_python_source("m.py", _SCOPES_SRC)
    lines = _SCOPES_SRC.split("\n")
    got = []
    for r in recs:
        assert r["file_path"] == "m.py"
        fields = {k: v for k, v in r.items() if v is not None and k != "file_path"}
        if r["record_kind"] == "implementation":
            span = lines[r["line_number"] - 1 : r["end_line_number"]]
            assert fields.pop("content") == "\n".join(span).lstrip()
        got.append((fields.pop("record_kind"), fields))

    def rel(src, dst, rtype, **kw):
        return ("relation", dict(from_entity=src, to_entity=dst, relation_type=rtype, **kw))

    def bind(scope, var, ctor):
        return ("type_binding", dict(entity_name=var, from_entity=scope, to_entity=ctor))

    def impl(name, etype, first, last, complexity):
        return ("implementation", dict(
            entity_name=name, entity_type=etype, line_number=first,
            end_line_number=last, complexity=complexity,
        ))

    outer_calls = [
        "Config", "Factory", "Gadget", "Hidden", "InnerError", "Item", "Lock",
        "Part", "Retry", "Thing", "Widget", "helper",
    ]
    assert got == [
        ("entity", dict(entity_name="m.py", entity_type="file", line_number=1,
                        end_line_number=73, observations=["Python file m.py"])),
        ("entity", dict(entity_name="json", entity_type="import", line_number=1,
                        end_line_number=1, observations=["Imports module json"])),
        rel("m.py", "json", "imports", import_type="module"),
        ("import_binding", dict(from_entity="json", to_entity="json",
                                relation_type="import_binding", import_type="module")),
        ("entity", dict(entity_name="CONFIG", entity_type="constant", line_number=3,
                        end_line_number=3, observations=["Constant CONFIG"])),
        rel("m.py", "CONFIG", "contains"),
        ("entity", dict(entity_name="outer", entity_type="function", line_number=11,
                        end_line_number=47,
                        observations=["Function outer(path, flag)", "Outer doc."],
                        signature="outer(path, flag)", docstring="Outer doc.")),
        rel("m.py", "outer", "contains"),
        impl("outer", "function", 11, 47, 11),
        *[rel("outer", c, "calls") for c in outer_calls],
        rel("outer", "load", "calls", content="json"),
        rel("outer", "open", "calls"),
        rel("outer", "range", "calls"),
        rel("outer", "step", "calls", content="item"),
        rel("outer", "top.json", "uses", import_type="load"),
        rel("outer", "deep.txt", "uses", import_type="open"),
        rel("outer", "local.txt", "uses", import_type="open"),
        rel("outer", "InnerError", "throws"),
        rel("outer", "Retry", "throws"),
        bind("outer", "conf", "Config"),
        bind("outer", "data", "open"),
        bind("outer", "w", "Part"),
        ("return_bind", dict(from_entity="outer", to_entity="Factory")),
        ("entity", dict(entity_name="runner", entity_type="function", line_number=50,
                        end_line_number=58, observations=["Function runner(stream)"],
                        signature="runner(stream)")),
        rel("m.py", "runner", "contains"),
        impl("runner", "function", 50, 58, 2),
        rel("runner", "Factory", "calls"),
        rel("runner", "Session", "calls"),
        bind("runner", "s", "Session"),
        ("return_bind", dict(from_entity="runner", to_entity="Factory", import_type="async")),
        ("entity", dict(entity_name="Holder", entity_type="class", line_number=61,
                        end_line_number=72, observations=["Class Holder"])),
        rel("m.py", "Holder", "contains"),
        impl("Holder", "class", 61, 72, 4),
        rel("Holder", "Base", "inherits", content="0"),
        ("entity", dict(entity_name="Holder.setup", entity_type="method", line_number=69,
                        end_line_number=72, observations=["Method setup(self)"],
                        signature="setup(self)")),
        rel("Holder", "Holder.setup", "contains"),
        impl("Holder.setup", "method", 69, 72, 2),
        rel("Holder.setup", "Repo", "calls"),
        bind("Holder", "self.repo", "Repo"),
        bind("m.py", "CONFIG", "Settings"),
    ]
