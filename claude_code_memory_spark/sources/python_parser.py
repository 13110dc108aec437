"""Python source parser: files → entities + relations + implementation
chunks, as plain record dicts.

Reference semantics (S3/S4, analysis/parser.py:119-1490): tree-sitter +
Jedi extract functions/classes/methods/variables/imports with docstrings,
signatures, line spans, call/inherit/import relations, and implementation
chunks. tree-sitter/Jedi aren't in this container; stdlib `ast` gives the
same entity/relation surface for Python (the reference's primary
language). The parser is a *row-set flatMap*: one file row explodes into N
typed records — exactly the ParserResult (entities, relations,
implementation_chunks) of parser.py:46-84.

Per-file work is independent; `sources/registry.parse_rows` runs every
language's parser in one driver loop over the scanned files, and the
projections below split the records into the engine's tables.

Each top-level function and method is traversed once (`_walk`). The one
pass yields every node of its subtree in ``ast.walk`` order, which
complexity, call sites, file ops and raises read, and the nodes of its
own scope, which the type and factory binds read. A class's complexity
adds its methods' control counts to one pass over the rest of the class,
so each node is traversed once. Parsing is one of the largest stages of a
cold ``index()``, which is why the per-node work is kept to one visit.
"""

from __future__ import annotations

import ast
import re

# One unioned record schema with a discriminator; split downstream.
PARSED_SCHEMA = (
    "record_kind string, entity_name string, entity_type string, file_path string, "
    "line_number int, end_line_number int, observations array<string>, signature string, "
    "docstring string, from_entity string, to_entity string, relation_type string, "
    "import_type string, content string, complexity int"
)
PARSED_COLUMNS = [f.split(" ")[0] for f in PARSED_SCHEMA.split(", ")]

# X12: cyclomatic-ish = 1 + count of control constructs
# (parser.py:1175-1181). An exact-type test equals isinstance here: no
# `ast` class subclasses these, and AsyncFor / AsyncWith / TryStar are
# not counted.
_CONTROL_NODES = frozenset(
    (ast.If, ast.For, ast.While, ast.Try, ast.ExceptHandler, ast.With, ast.BoolOp, ast.Match)
)
_SCOPE_BARRIERS = frozenset((ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef, ast.Lambda))
_FUNCTION_NODES = (ast.FunctionDef, ast.AsyncFunctionDef)
# the statements and expressions `_collect_type_binds` reads
_BINDING_NODES = frozenset(
    (ast.Assign, ast.NamedExpr, ast.AnnAssign, ast.AugAssign, ast.For, ast.AsyncFor, ast.With,
     ast.AsyncWith)
)


def _walk(root: ast.AST) -> tuple[list[ast.AST], list[ast.AST]]:
    """One pass over ``root``'s subtree → (nodes, scope).

    ``nodes`` is every node, root included, in ``ast.walk``'s
    breadth-first order. ``scope`` is the nodes of root's own scope:
    everything below root except nested function/class/lambda
    definitions and what they hold (their assignments bind in their own
    scope, not root's). Children are listed through ``_fields`` directly,
    which is what ``ast.iter_child_nodes`` does through two generators."""
    nodes = [root]
    # opens[i]: the children of nodes[i] belong to root's scope. The two
    # lists grow in step while the loop reads them.
    opens = [True]
    scope: list[ast.AST] = []
    for node, open_ in zip(nodes, opens):
        for field in node._fields:
            value = getattr(node, field, None)
            for child in value if isinstance(value, list) else (value,):
                if isinstance(child, ast.AST):
                    nodes.append(child)
                    if open_ and type(child) not in _SCOPE_BARRIERS:
                        scope.append(child)
                        opens.append(True)
                    else:
                        opens.append(False)
    return nodes, scope


def _controls(nodes: list[ast.AST]) -> int:
    return sum(type(n) in _CONTROL_NODES for n in nodes)


def _signature(fn: ast.FunctionDef | ast.AsyncFunctionDef) -> str:
    args = [a.arg for a in fn.args.posonlyargs + fn.args.args]
    if fn.args.vararg:
        args.append("*" + fn.args.vararg.arg)
    args += [a.arg for a in fn.args.kwonlyargs]
    if fn.args.kwarg:
        args.append("**" + fn.args.kwarg.arg)
    return f"{fn.name}({', '.join(args)})"


# X14: file-operation detection table (parser.py:1198-1290, table :1206-1242)
_FILE_OP_FUNCS = frozenset(
    "open load loads dump dumps safe_load read_csv to_csv read_json read_parquet "
    "reader writer Path get post read_text write_text parse".split()
)


def _file_op_relations(owner: str, nodes: list[ast.AST], path: str) -> list[dict]:
    """Calls like open('x.txt') / json.load / pd.read_csv('d.csv') with a
    string-literal argument → (owner, uses, <filename>) relations, in
    ``nodes`` order."""
    out: list[dict] = []
    for n in nodes:
        if type(n) is not ast.Call:
            continue
        f = n.func
        name = f.id if isinstance(f, ast.Name) else f.attr if isinstance(f, ast.Attribute) else None
        if name not in _FILE_OP_FUNCS:
            continue
        for arg in n.args[:1]:
            if isinstance(arg, ast.Constant) and isinstance(arg.value, str) and arg.value:
                # skip open-mode pseudo-files like 'r'/'w' (F7, parser.py:836-853)
                if len(arg.value) <= 2 and arg.value in ("r", "w", "a", "rb", "wb", "r+"):
                    continue
                out.append(_relation_rec(owner, arg.value, "uses", path, name))
    return out


def _name_and_base(f: ast.AST) -> tuple[str | None, str | None]:
    """(name, dotted_base) of a callable/annotation expression:
    ``f`` → ('f', None), ``z.f`` → ('f', 'z'), ``a.b.f`` → ('f', 'a.b').
    Nullability wrappers unwrap — ``Optional[Tool]`` and ``Tool | None``
    mean Tool whenever the value is used (the Jedi answer); other
    subscripts (List[Tool], Dict[...]) stay opaque since the container
    is not the element. A non-name expression yields (None, None)."""
    if isinstance(f, ast.Constant) and isinstance(f.value, str):
        # string forward reference (`t: 'Tool | None'`): the annotation
        # grammar lives inside the literal — parse and recurse. Call
        # expressions never reach here (a string is not callable), so
        # this branch only fires for annotations.
        try:
            return _name_and_base(ast.parse(f.value, mode="eval").body)
        except SyntaxError:
            return None, None
    if isinstance(f, ast.Subscript) and isinstance(f.value, ast.Name) and f.value.id == "Optional":
        return _name_and_base(f.slice)
    if isinstance(f, ast.Subscript):
        # user-generic instantiation (`Repo[User]`): the annotated value
        # is an instance of the HEAD class — its methods live on Repo
        # regardless of the type argument, so bind the head (round 11).
        # Typing containers (List[...], ClassVar[...]) head-bind to
        # external typing names and stay unresolved — missed capability
        # at worst, never a false resolution; the element type is NOT
        # bound (List[Tool] still doesn't mean the value is a Tool).
        return _name_and_base(f.value)
    if isinstance(f, ast.BinOp) and isinstance(f.op, ast.BitOr):
        sides = [f.left, f.right]
        none_sides = [
            s for s in sides if isinstance(s, ast.Constant) and s.value is None
        ]
        if len(none_sides) == 1:
            other = sides[0] if sides[1] in none_sides else sides[1]
            return _name_and_base(other)
        return None, None
    if isinstance(f, ast.Name):
        return f.id, None
    if isinstance(f, ast.Attribute):
        parts: list[str] = []
        cur = f.value
        while isinstance(cur, ast.Attribute):
            parts.append(cur.attr)
            cur = cur.value
        base = ".".join([cur.id, *reversed(parts)]) if isinstance(cur, ast.Name) else None
        return f.attr, base
    return None, None


def _generic_arg(f: ast.AST) -> str | None:
    """The single plain-name type ARGUMENT of a single-level generic
    annotation: ``Repo[User]`` → 'User'. Mirrors _name_and_base's
    unwrapping (string forward refs, Optional, `X | None`) so the two
    always see the same annotation. Anything else — multiple arguments,
    dotted/nested arguments, typing containers via Optional — yields
    None: the head-class bind still applies, only the element
    substitution is withheld (round 11, TS-generics slice)."""
    if isinstance(f, ast.Constant) and isinstance(f.value, str):
        try:
            return _generic_arg(ast.parse(f.value, mode="eval").body)
        except SyntaxError:
            return None
    if isinstance(f, ast.Subscript) and isinstance(f.value, ast.Name) and f.value.id == "Optional":
        return _generic_arg(f.slice)
    if isinstance(f, ast.BinOp) and isinstance(f.op, ast.BitOr):
        sides = [f.left, f.right]
        none_sides = [
            s for s in sides if isinstance(s, ast.Constant) and s.value is None
        ]
        if len(none_sides) == 1:
            other = sides[0] if sides[1] in none_sides else sides[1]
            return _generic_arg(other)
        return None
    if isinstance(f, ast.Subscript) and isinstance(f.slice, ast.Name):
        return f.slice.id
    return None


def _unwrap_nullable(f: ast.AST) -> ast.AST:
    """Strip the nullability wrappers _name_and_base sees through —
    string forward refs, ``Optional[X]``, ``X | None`` — and return the
    inner annotation node, so shape decisions (Name vs Subscript) are
    made on the SAME node whose name _name_and_base reports. Without
    this, ``-> Optional[T]`` looks like a Subscript at the top level
    while _name_and_base already unwrapped it to the bare name 'T'."""
    if isinstance(f, ast.Constant) and isinstance(f.value, str):
        try:
            return _unwrap_nullable(ast.parse(f.value, mode="eval").body)
        except SyntaxError:
            return f
    if isinstance(f, ast.Subscript) and isinstance(f.value, ast.Name) and f.value.id == "Optional":
        return _unwrap_nullable(f.slice)
    if isinstance(f, ast.BinOp) and isinstance(f.op, ast.BitOr):
        sides = [f.left, f.right]
        none_sides = [
            s for s in sides if isinstance(s, ast.Constant) and s.value is None
        ]
        if len(none_sides) == 1:
            other = sides[0] if sides[1] in none_sides else sides[1]
            return _unwrap_nullable(other)
    return f


def _class_typeparams(node: ast.ClassDef) -> frozenset[str]:
    """The class's declared type parameters, but ONLY when there is
    exactly one (the substitution contract needs the param↔argument
    pairing to be positionally unambiguous): ``class Repo(Generic[T])``
    and PEP 695 ``class Repo[T]`` → {'T'}; multi-param, no-param, and
    non-Generic bases → empty."""
    for base in node.bases:
        if (
            isinstance(base, ast.Subscript)
            and isinstance(base.value, ast.Name)
            and base.value.id in ("Generic", "Protocol")
        ):
            if isinstance(base.slice, ast.Name):
                return frozenset({base.slice.id})
            return frozenset()  # Tuple slice = multiple params
    tp = getattr(node, "type_params", ())
    if len(tp) == 1 and type(tp[0]).__name__ == "TypeVar":
        return frozenset({tp[0].name})
    return frozenset()


def _class_typeparams_all(node: ast.ClassDef) -> frozenset[str]:
    """EVERY declared type parameter name of the class, regardless of
    arity — ``class Pair(Generic[K, V])`` → {'K', 'V'}. Used to
    SUPPRESS return/param binds whose annotation names a type parameter
    the single-param substitution contract can't handle: a TypeVar name
    is never a class, so binding it literally risks a false resolution
    whenever a real class shares the name (advice r11)."""
    out: set[str] = set()
    for base in node.bases:
        if (
            isinstance(base, ast.Subscript)
            and isinstance(base.value, ast.Name)
            and base.value.id in ("Generic", "Protocol")
        ):
            sl = base.slice
            if isinstance(sl, ast.Name):
                out.add(sl.id)
            elif isinstance(sl, ast.Tuple):
                out.update(e.id for e in sl.elts if isinstance(e, ast.Name))
    for tp in getattr(node, "type_params", ()):
        if type(tp).__name__ == "TypeVar":
            out.add(tp.name)
    return frozenset(out)


def _marker_of_call(call: ast.Call, depth: int = 3) -> str | None:
    """Synthetic marker string for a call whose result is used as a
    base value: ``d.get_conn()`` → 'd.get_conn()',
    ``d.get_conn().query()`` → 'd.get_conn().query()'. Each link must
    be a plain name chain or an attribute on another markable call;
    anything else (subscripts, lambdas, starred args in the FUNC
    position) yields None — unresolvable statically. Depth-capped:
    markers beyond ``depth`` call links collapse to None rather than
    growing unboundedly (the resolver types at most two links today;
    deeper markers simply match nothing — unresolved beats guessed)."""
    if depth <= 0:
        return None
    f = call.func
    name, base = _name_and_base(f)
    if name is None:
        return None
    if base is not None or isinstance(f, ast.Name):
        return (f"{base}." if base else "") + name + "()"
    if isinstance(f, ast.Attribute) and isinstance(f.value, ast.Call):
        inner = _marker_of_call(f.value, depth - 1)
        if inner is not None:
            return f"{inner}.{name}()"
    return None


def _call_sites(nodes: list[ast.AST]) -> set[tuple[str, str | None]]:
    """(callee_name, dotted_base) call sites among ``nodes`` (X9,
    parser.py:1109-1159): ``f()`` → ('f', None),
    ``z.f()`` → ('f', 'z'), ``a.b.f()`` → ('f', 'a.b'). The base feeds
    cross-file resolution (operators/resolve.py): when it names an
    imported module alias, the call pins to that module's entity instead
    of any same-named entity anywhere (the Jedi-resolution analogue the
    reference gets from analysis/parser.py:15's tree-sitter+Jedi pair).

    A base that is itself a CALL chain over plain name links —
    ``d.get_conn()`` or ``d.get_conn().query()`` — emits the synthetic
    marker base (`_marker_of_call`): the trailing ``()`` tells the
    resolver the base value is the RESULT of that chain, which it types
    through the same factory machinery a named bind (``x =
    d.get_conn(); x.query()``) uses, one link per resolver pass. A
    bare-name middle link is NEVER emitted as 'query()' alone — that
    would be indistinguishable from a bare function call and could let
    an unrelated module-level factory falsely type the outer call; the
    full chain string keeps every link attributable. Any other
    non-name-chain base (subscript, deeper than the marker cap, lambda)
    is None — unresolvable statically, same as today."""
    out: set[tuple[str, str | None]] = set()
    for n in nodes:
        if type(n) is not ast.Call:
            continue
        name, base = _name_and_base(n.func)
        if name is None:
            continue
        if (
            base is None
            and isinstance(n.func, ast.Attribute)
            and isinstance(n.func.value, ast.Call)
        ):
            base = _marker_of_call(n.func.value)
        out.add((name, base))
    return out


def _function_return_bind(scope: list[ast.AST]) -> tuple[str, str | None] | None:
    """(ctor, dotted_base) when EVERY return statement in a function's own
    ``scope`` (`_walk`) returns the SAME named call (and there is at least
    one) — the factory-function pattern ``def make(): return Tool()``. Any bare
    return, non-call value, differing call, or yield (a generator's
    caller receives the generator, not the return) yields None, so the
    resolver only pins factory results it is certain about."""
    seen: tuple[str, str | None] | None = None
    any_ret = False
    for n in scope:
        if isinstance(n, (ast.Yield, ast.YieldFrom)):
            return None
        if not isinstance(n, ast.Return):
            continue
        any_ret = True
        if n.value is None or not isinstance(n.value, ast.Call):
            return None
        name, base = _name_and_base(n.value.func)
        if name is None:
            return None
        if seen is None:
            seen = (name, base)
        elif seen != (name, base):
            return None
    return seen if any_ret else None


def _collect_type_binds(
    scope: list[ast.AST],
) -> tuple[dict[str, tuple[str, str | None] | None], dict[str, tuple[str, str | None] | None]]:
    """Flow-free local type inference, the static slice of what Jedi
    infers dynamically (reference: analysis/parser.py:15, :120): a
    variable assigned EXACTLY ONE constructor call (``x = C()``, ``x:
    C``, ``with C() as x``) in a scope is bound to that class. Any
    conflicting rebinding — a second different constructor, a non-call
    value, a loop target, an augmented assignment — poisons the name
    (maps it to None) so resolution stays a strict refinement: we only
    ever pin a method call to a class we are certain about.

    ``scope`` is the nodes of that scope (`_walk`). Returns (locals,
    self_attrs): var → (ctor_name, ctor_dotted_base)
    or None when poisoned. ``self.x = C()`` keys as 'self.x' in the
    second dict (merged per-class by the caller across methods)."""
    local: dict[str, tuple[str, str | None] | None] = {}
    selfa: dict[str, tuple[str, str | None] | None] = {}

    def note(d, key, val):
        if key in d:
            if d[key] != val:
                d[key] = None
        else:
            d[key] = val

    def note_target(t, val):
        if isinstance(t, ast.Name):
            note(local, t.id, val)
        elif (
            isinstance(t, ast.Attribute)
            and isinstance(t.value, ast.Name)
            and t.value.id == "self"
        ):
            note(selfa, f"self.{t.attr}", val)

    def call_val(v):
        # `x = await f()` binds x to f's AWAITED value: unwrap the Await
        # and carry awaited=True — the resolver matches it only against
        # ASYNC factories (an async def's return_bind), so a non-awaited
        # async result (a coroutine) and an awaited sync call (a runtime
        # error in Python) both stay honestly unresolved.
        awaited = False
        if isinstance(v, ast.Await):
            v = v.value
            awaited = True
        if isinstance(v, ast.Call):
            name, base = _name_and_base(v.func)
            if name is None:
                return None
            if (
                base is None
                and isinstance(v.func, ast.Attribute)
                and isinstance(v.func.value, ast.Call)
            ):
                # chained value (`x = d.get_conn().query()`): the bind's
                # base is the marker chain, NOT a bare ('query', None) —
                # a bare name there would let an unrelated module-level
                # factory named `query` falsely type x. Unmarkable
                # chains poison the bind.
                base = _marker_of_call(v.func.value)
                if base is None:
                    return None
            return (name, base, awaited)
        return None

    for n in scope:
        if type(n) not in _BINDING_NODES:
            continue
        if isinstance(n, ast.Assign):
            val = call_val(n.value)
            for t in n.targets:
                if isinstance(t, (ast.Tuple, ast.List)):
                    # tuple-to-tuple unpack with matching arity and no
                    # starred element is positionally certain:
                    # `a, b = Tool(), 3` binds a→Tool (and poisons b,
                    # a non-call). Anything else — call/iterable RHS,
                    # star, nesting — stays per-element unknown.
                    if (
                        isinstance(n.value, (ast.Tuple, ast.List))
                        and len(n.value.elts) == len(t.elts)
                        and not any(isinstance(e, ast.Starred) for e in t.elts)
                    ):
                        for e, v in zip(t.elts, n.value.elts):
                            if isinstance(e, (ast.Tuple, ast.List)):
                                for sub in ast.walk(e):
                                    note_target(sub, None)
                            else:
                                note_target(e, call_val(v))
                    else:
                        for e in ast.walk(t):  # per-element values unknown
                            note_target(e, None)
                else:
                    note_target(t, val)
        elif isinstance(n, ast.NamedExpr):
            # walrus: `if (t := Tool()):` binds t in the ENCLOSING scope
            # (PEP 572) — which is exactly the scope being collected,
            # since comprehensions are not scope barriers here
            note_target(n.target, call_val(n.value))
        elif isinstance(n, ast.AnnAssign):
            name, base = _name_and_base(n.annotation)
            ta = _generic_arg(n.annotation)
            note_target(
                n.target,
                ((name, base, False, ta) if ta else (name, base, False))
                if name
                else call_val(n.value)
            )
        elif isinstance(n, ast.AugAssign):
            note_target(n.target, None)
        elif isinstance(n, (ast.For, ast.AsyncFor)):
            for e in ast.walk(n.target):
                note_target(e, None)
        elif isinstance(n, (ast.With, ast.AsyncWith)):
            for item in n.items:
                ov = item.optional_vars
                if ov is None:
                    continue
                if isinstance(ov, (ast.Tuple, ast.List, ast.Starred)):
                    # `with pool() as (conn, cur)`: the tuple elements are
                    # whatever __enter__ unpacks to, NOT the context
                    # manager — binding them to the ctor wrongly pins e.g.
                    # cur.execute() to a pool method. Mirror the Assign
                    # branch: poison every name in the unpack target.
                    for e in ast.walk(ov):
                        note_target(e, None)
                else:
                    # bare name / self-attribute: `with C() as x` binds x
                    # to C only when __enter__ returns self — true for the
                    # overwhelmingly common case (files, locks, sessions);
                    # the certainty contract tolerates this documented
                    # approximation but not the tuple one above.
                    note_target(ov, call_val(item.context_expr))
    return local, selfa


def _type_bind_rec(
    scope: str,
    var: str,
    ctor: str,
    base: str | None,
    path: str,
    awaited: bool = False,
    targ: str | None = None,
) -> dict:
    r = _relation_rec(scope, ctor, None, path)
    r["record_kind"] = "type_binding"
    r["entity_name"] = var
    r["content"] = base
    if awaited:
        # `x = await f()`: only an ASYNC factory may type this bind
        r["import_type"] = "await"
    # single type ARGUMENT of a generic annotation (`r: Repo[User]` →
    # 'User'), riding the otherwise-unused signature field; the
    # resolver substitutes it for a method returning the class's own
    # type param (round 11)
    r["signature"] = targ
    return r


def _decorator_names(node) -> list[str]:
    """@name / @mod.name / @name(...) → the bare decorator name (the JS
    parser emits the same (target, uses, name, decorator) relation)."""
    out = []
    for d in getattr(node, "decorator_list", []):
        f = d.func if isinstance(d, ast.Call) else d
        if isinstance(f, ast.Name):
            out.append(f.id)
        elif isinstance(f, ast.Attribute):
            out.append(f.attr)
    return out


def _raised_names(nodes: list[ast.AST]) -> set[str]:
    """`raise X(...)` / `raise X` exception type names among a function's
    ``nodes`` (the JS parser's throws relations, mirrored via ast.Raise)."""
    out = set()
    for node in nodes:
        if type(node) is ast.Raise and node.exc is not None:
            e = node.exc.func if isinstance(node.exc, ast.Call) else node.exc
            if isinstance(e, ast.Name):
                out.add(e.id)
            elif isinstance(e, ast.Attribute):
                out.add(e.attr)
    return out


def _entity_rec(name, etype, path, lineno, end_lineno, obs, sig=None, doc=None):
    return dict(
        record_kind="entity",
        entity_name=name,
        entity_type=etype,
        file_path=path,
        line_number=lineno,
        end_line_number=end_lineno,
        observations=obs,
        signature=sig,
        docstring=doc,
        from_entity=None,
        to_entity=None,
        relation_type=None,
        import_type=None,
        content=None,
        complexity=None,
    )


def _relation_rec(src, dst, rtype, path, import_type=None):
    return dict(
        record_kind="relation",
        entity_name=None,
        entity_type=None,
        file_path=path,
        line_number=None,
        end_line_number=None,
        observations=None,
        signature=None,
        docstring=None,
        from_entity=src,
        to_entity=dst,
        relation_type=rtype,
        import_type=import_type,
        content=None,
        complexity=None,
    )


def _impl_rec(name, etype, path, lineno, end_lineno, content, complexity):
    return dict(
        record_kind="implementation",
        entity_name=name,
        entity_type=etype,
        file_path=path,
        line_number=lineno,
        end_line_number=end_lineno,
        observations=None,
        signature=None,
        docstring=None,
        from_entity=None,
        to_entity=None,
        relation_type=None,
        import_type=None,
        content=content,
        complexity=complexity,
    )


# ast.get_source_segment re-splits the WHOLE source on every call — its
# per-call `_splitlines_no_ff` made implementation extraction
# O(defs x file_bytes): 228 s of a 229 s parse of pyspark's 961 KB
# functions/builtin.py (553 defs) went to re-splitting the same source
# 553 times (round-9 big-repo profile). Split ONCE per file with the
# same line-boundary rule — \n, \r, \r\n only; NOT \f, which
# str.splitlines would also split on, shifting every lineno in legacy
# form-feed-paginated files — then slice per node. Column offsets are
# UTF-8 byte offsets, exactly as get_source_segment treats them.
_AST_LINE = re.compile(r"[^\r\n]*(?:\r\n|[\r\n])|[^\r\n]+\Z")


def _segment_of(lines: list[str], node: ast.AST) -> str:
    try:
        if node.end_lineno is None or node.end_col_offset is None:
            return ""
        lineno, end_lineno = node.lineno - 1, node.end_lineno - 1
        col, end_col = node.col_offset, node.end_col_offset
        if end_lineno == lineno:
            return lines[lineno].encode()[col:end_col].decode()
        first = lines[lineno].encode()[col:].decode()
        last = lines[end_lineno].encode()[:end_col].decode()
        return "".join([first, *lines[lineno + 1 : end_lineno], last])
    except (AttributeError, IndexError):
        return ""


def parse_python_source(path: str, source: str) -> list[dict]:
    """Parse one Python file into typed records. Syntax errors yield just
    the file entity (reference: parser degrades gracefully,
    tests/unit/test_parser.py:210)."""
    recs: list[dict] = []
    n_lines = source.count("\n") + 1
    try:
        tree = ast.parse(source)
    except SyntaxError:
        recs.append(
            _entity_rec(path, "file", path, 1, n_lines, [f"Python file {path} (syntax error)"])
        )
        return recs
    seg_lines = _AST_LINE.findall(source)

    mod_doc = ast.get_docstring(tree)
    recs.append(
        _entity_rec(
            path, "file", path, 1, n_lines, [f"Python file {path}"], doc=mod_doc
        )
    )

    def handle_function(
        fn, parent_name: str | None, etype: str,
        parent_typeparams: frozenset[str] = frozenset(),
        parent_typeparams_all: frozenset[str] = frozenset(),
    ):
        """Emits the function's records; returns its self-attribute type
        binds for class-level merging and its control-construct count."""
        nodes, scope = _walk(fn)
        controls = _controls(nodes)
        qual = f"{parent_name}.{fn.name}" if parent_name else fn.name
        doc = ast.get_docstring(fn)
        obs = [f"{'Method' if etype == 'method' else 'Function'} {_signature(fn)}"]
        if doc:
            obs.append(doc.split("\n")[0])
        recs.append(
            _entity_rec(qual, etype, path, fn.lineno, fn.end_lineno, obs, _signature(fn), doc)
        )
        recs.append(_relation_rec(parent_name or path, qual, "contains", path))
        seg = _segment_of(seg_lines, fn)
        recs.append(
            _impl_rec(qual, etype, path, fn.lineno, fn.end_lineno, seg, 1 + controls)
        )
        for callee, base in sorted(_call_sites(nodes), key=lambda t: (t[0], t[1] or "")):
            # the self-recursion exclusion applies to BARE calls only:
            # `super().close()` inside close() — the canonical super
            # pattern — and `self.close()` / `other.close()` are real
            # edges to a (possibly different) definition, not noise
            if callee != fn.name or base is not None:
                rec = _relation_rec(qual, callee, "calls", path)
                rec["content"] = base  # dotted call base, for cross-file resolution
                recs.append(rec)
        recs.extend(_file_op_relations(qual, nodes, path))
        for deco in _decorator_names(fn):
            recs.append(_relation_rec(qual, deco, "uses", path, "decorator"))
        for exc in sorted(_raised_names(nodes)):
            recs.append(_relation_rec(qual, exc, "throws", path))
        # instance-typed method resolution raw material: x = C() binds
        # x→C in THIS function's scope; parameters shadow (poison) any
        # same-named local constructor bind
        local_binds, self_binds = _collect_type_binds(scope)
        a = fn.args
        # an ANNOTATED parameter binds to its declared type (`def f(t:
        # Tool)` — declared intent, as certain as `x: Tool = ...`);
        # unannotated parameters, *args/**kwargs, and any param the body
        # reassigns to a different value stay poisoned
        for arg in [*a.posonlyargs, *a.args, *a.kwonlyargs]:
            val = None
            if arg.annotation is not None:
                ann_name, ann_base = _name_and_base(arg.annotation)
                # `def m(self, x: T)` where T is a class type parameter:
                # same literal-name hole as return binds — a TypeVar is
                # never a class, so stay poisoned rather than risk a
                # false resolution against a real class named like it
                if ann_name is not None and not (
                    ann_base is None and ann_name in parent_typeparams_all
                ):
                    ta = _generic_arg(arg.annotation)
                    if ta in parent_typeparams_all:
                        # `x: Repo[T]` — the element is itself a type
                        # parameter; keep the head bind, withhold the
                        # (unsubstitutable) element argument
                        ta = None
                    val = (
                        (ann_name, ann_base, False, ta)
                        if ta
                        else (ann_name, ann_base, False)
                    )
            if val is None or (arg.arg in local_binds and local_binds[arg.arg] != val):
                local_binds[arg.arg] = None
            else:
                local_binds[arg.arg] = val
        for arg in (a.vararg, a.kwarg):
            if arg is not None:
                local_binds[arg.arg] = None
        for var, val in sorted(local_binds.items()):
            if val is not None:
                recs.append(
                    _type_bind_rec(
                        qual, var, val[0], val[1], path, val[2],
                        targ=val[3] if len(val) > 3 else None,
                    )
                )
        # factory pattern: a function whose every return is the same
        # constructor call types its callers' assignments (`x =
        # make_tool(); x.run()` — resolver joins this table). Methods
        # participate keyed as 'Class.method' (the classmethod-factory
        # idiom `Tool.create()`); `return cls(...)` / `return Tool(...)`
        # inside Tool both mean the class itself.
        if etype in ("function", "method"):
            # a plain-name return ANNOTATION (`-> Tool`) is declared
            # intent and wins over body inference; otherwise infer from
            # the return statements
            rb = None
            suppress_rb = False
            if fn.returns is not None:
                ann_name, ann_base = _name_and_base(fn.returns)
                if ann_base is None and ann_name in parent_typeparams_all:
                    # The annotation names a declared type parameter of
                    # the enclosing class. Shape-check the UNWRAPPED
                    # node so `-> Optional[T]` / `-> 'T | None'` land
                    # here too (advice r11: the top-level-node test let
                    # Optional[T] fall through and bind a literal class
                    # named 'T').
                    inner = _unwrap_nullable(fn.returns)
                    if ann_name in parent_typeparams and isinstance(inner, ast.Name):
                        # single-param class, bare `-> T`: the value is
                        # whatever the instance was parameterized with
                        # at the BIND site — emit a sentinel the
                        # resolver substitutes with the bind's type
                        # argument (round 11).
                        rb = ("__typeparam__", None)
                    else:
                        # multi-param `-> K` (pairing ambiguous) or a
                        # subscripted typeparam head (`-> T[int]`): no
                        # substitution contract — suppress the bind
                        # entirely; a TypeVar name is never a class, so
                        # binding it literally risks a false resolution.
                        # Body inference is skipped too: the declared
                        # intent IS the typeparam.
                        suppress_rb = True
                elif ann_name is not None:
                    rb = (ann_name, ann_base)
            if rb is None and not suppress_rb:
                rb = _function_return_bind(scope)
            if rb is not None:
                name, base = rb
                if parent_name is not None and base is None and name in ("cls", parent_name):
                    name = parent_name
                r = _relation_rec(qual, name, None, path)
                r["record_kind"] = "return_bind"
                r["content"] = base
                if isinstance(fn, ast.AsyncFunctionDef):
                    # an async def's CALL result is a coroutine; only an
                    # AWAITED bind receives the returned instance — the
                    # resolver matches is_async against the bind's
                    # awaited flag, so `x = get_conn()` (no await) on an
                    # async factory stays unresolved instead of falsely
                    # pinning to the instance type
                    r["import_type"] = "async"
                recs.append(r)
        return self_binds, controls

    for node in tree.body:
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            if isinstance(node, ast.Import):
                for alias in node.names:
                    recs.append(
                        _entity_rec(alias.name, "import", path, node.lineno, node.end_lineno,
                                    [f"Imports module {alias.name}"])
                    )
                    recs.append(_relation_rec(path, alias.name, "imports", path, "module"))
                    # binding: `import x.y as z` binds z→x.y; bare
                    # `import x.y` binds only the root name x→x
                    local = alias.asname or alias.name.split(".")[0]
                    target = alias.name if alias.asname else alias.name.split(".")[0]
                    b = _relation_rec(local, target, "import_binding", path, "module")
                    b["record_kind"] = "import_binding"
                    recs.append(b)
            else:
                # leading dots encode the relative level (`from ..m import f`
                # → target module '..m'); the resolver absolutizes against
                # the importing file's package
                mod = "." * node.level + (node.module or "")
                for alias in node.names:
                    recs.append(
                        _entity_rec(f"{mod}.{alias.name}" if node.module else alias.name,
                                    "import",
                                    path, node.lineno, node.end_lineno,
                                    [f"Imports {alias.name} from {mod}"])
                    )
                    recs.append(_relation_rec(path, node.module or alias.name, "imports",
                                              path, "from"))
                    if alias.name != "*":
                        local = alias.asname or alias.name
                        b = _relation_rec(local, mod, "import_binding", path, "from")
                        b["record_kind"] = "import_binding"
                        b["content"] = alias.name  # the imported member
                        recs.append(b)
                    else:
                        # star import: binds every public name of the
                        # target — not enumerable file-locally, so emit
                        # a 'star' binding the resolver expands against
                        # the target module's definition table.
                        # local_name carries the raw target so multiple
                        # star imports in one file stay distinct rows.
                        b = _relation_rec("*" + mod, mod, "import_binding", path, "star")
                        b["record_kind"] = "import_binding"
                        recs.append(b)
        elif isinstance(node, (ast.Assign, ast.AugAssign)) and any(
            isinstance(t, ast.Name) and t.id == "__all__"
            for t in (node.targets if isinstance(node, ast.Assign) else [node.target])
        ):
            # __all__ names restrict (and can widen past the underscore
            # rule) what a star import of this module binds. Only string
            # literals count; a dynamically-built __all__ contributes the
            # literals it does contain — star candidates outside the list
            # stay unresolved, never wrong (the safe direction).
            #
            # The "*" marker row below fires for EVERY __all__ assignment,
            # including fully dynamic ones (`__all__ = sorted(_names)`)
            # that yield zero literal rows: the resolver's has_exp set must
            # know the module HAS an __all__ so the public-underscore
            # fallback is suppressed — otherwise star resolution could pin
            # names the dynamic __all__ deliberately excludes. "*" can
            # never equal a real member name, so it only flips has_exp.
            marker = _relation_rec("*", "", "import_binding", path, "export")
            marker["record_kind"] = "import_binding"
            recs.append(marker)
            if isinstance(node.value, (ast.List, ast.Tuple, ast.Set)):
                for elt in node.value.elts:
                    if isinstance(elt, ast.Constant) and isinstance(elt.value, str):
                        b = _relation_rec(elt.value, "", "import_binding", path, "export")
                        b["record_kind"] = "import_binding"
                        recs.append(b)
            # __all__ is still a module variable: keep its entity row so
            # entity counts don't change just because the export slice
            # also reads this assignment (ADVICE r6).
            if isinstance(node, ast.Assign):
                recs.append(
                    _entity_rec("__all__", "variable", path, node.lineno,
                                node.end_lineno, ["Variable __all__"])
                )
                recs.append(_relation_rec(path, "__all__", "contains", path))
        elif isinstance(node, _FUNCTION_NODES):
            handle_function(node, None, "function")
        elif isinstance(node, ast.ClassDef):
            doc = ast.get_docstring(node)
            obs = [f"Class {node.name}"]
            if doc:
                obs.append(doc.split("\n")[0])
            recs.append(
                _entity_rec(node.name, "class", path, node.lineno, node.end_lineno, obs, None, doc)
            )
            recs.append(_relation_rec(path, node.name, "contains", path))
            seg = _segment_of(seg_lines, node)
            # complexity is set once the methods below have counted their
            # own control constructs; the rest of the class counts here
            impl = _impl_rec(node.name, "class", path, node.lineno, node.end_lineno, seg, None)
            recs.append(impl)
            controls = sum(
                _controls(_walk(child)[0])
                for child in ast.iter_child_nodes(node)
                if not isinstance(child, _FUNCTION_NODES)
            )
            for bpos, base in enumerate(node.bases):
                base_name = (
                    base.id if isinstance(base, ast.Name)
                    else base.attr if isinstance(base, ast.Attribute) else None
                )
                if base_name:
                    # content carries the base-list POSITION: C3 puts
                    # direct bases in base-list order, so the resolver
                    # breaks equal-depth diamond ties by it (verdict r8
                    # item 5; reference anchor analysis/parser.py:15 —
                    # Jedi linearizes the MRO itself)
                    r = _relation_rec(node.name, base_name, "inherits", path)
                    r["content"] = str(bpos)
                    recs.append(r)
            for deco in _decorator_names(node):
                recs.append(_relation_rec(node.name, deco, "uses", path, "decorator"))
            # self.x = C() binds at CLASS scope: any two methods pinning
            # the same attribute to different constructors poison it
            cls_binds: dict[str, tuple[str, str | None] | None] = {}
            # class-BODY annotations (`db: Database` — the dataclass /
            # __slots__ / attrs style, no assignment required) bind the
            # instance attribute exactly like `self.db: Database` in a
            # method: declared intent. A body annotation and a method
            # assignment to a DIFFERENT class poison each other through
            # the same merge below (verdict r7 item 3).
            for item in node.body:
                if isinstance(item, ast.AnnAssign) and isinstance(
                    item.target, ast.Name
                ):
                    ann_name, ann_base = _name_and_base(item.annotation)
                    if ann_name is not None:
                        key = f"self.{item.target.id}"
                        ta = _generic_arg(item.annotation)
                        val = (
                            (ann_name, ann_base, False, ta)
                            if ta
                            else (ann_name, ann_base, False)
                        )
                        if key in cls_binds and cls_binds[key] != val:
                            cls_binds[key] = None
                        elif key not in cls_binds:
                            cls_binds[key] = val
            for item in node.body:
                if isinstance(item, _FUNCTION_NODES):
                    self_binds, method_controls = handle_function(
                        item, node.name, "method",
                        parent_typeparams=_class_typeparams(node),
                        parent_typeparams_all=_class_typeparams_all(node),
                    )
                    controls += method_controls
                    for var, val in self_binds.items():
                        if var in cls_binds and cls_binds[var] != val:
                            cls_binds[var] = None
                        elif var not in cls_binds:
                            cls_binds[var] = val
            impl["complexity"] = 1 + controls
            for var, val in sorted(cls_binds.items()):
                if val is not None:
                    recs.append(
                        _type_bind_rec(
                            node.name, var, val[0], val[1], path, val[2],
                            targ=val[3] if len(val) > 3 else None,
                        )
                    )
                else:
                    # POISON MARKER (class-scope attrs only): with the
                    # round-8 ancestor-aware attribute lookup, a silently
                    # dropped conflicted bind would let an ANCESTOR's
                    # bind for the same attr resolve — but the subclass's
                    # conflicting assignments override it at runtime. The
                    # sentinel ctor matches no definition anywhere, so it
                    # blocks resolution at this depth and everything
                    # deeper (resolve.py maps it to a blocking candidate).
                    recs.append(
                        _type_bind_rec(node.name, var, "__poisoned__", None, path)
                    )
        elif isinstance(node, ast.Assign):
            # module-level variables incl. tuple unpacking (parser.py:521-641)
            targets = []
            for t in node.targets:
                if isinstance(t, ast.Name):
                    targets.append(t.id)
                elif isinstance(t, (ast.Tuple, ast.List)):
                    targets += [e.id for e in t.elts if isinstance(e, ast.Name)]
            for name in targets:
                etype = "constant" if name.isupper() else "variable"
                recs.append(
                    _entity_rec(name, etype, path, node.lineno, node.end_lineno,
                                [f"{'Constant' if etype == 'constant' else 'Variable'} {name}"])
                )
                recs.append(_relation_rec(path, name, "contains", path))
    # module-scope type binds (x = C() at top level, visible to every
    # function in the file unless shadowed): scope keys as the file path,
    # the same parent convention `contains` relations use. The module's
    # scope is its top-level statements other than def/class and what they
    # hold, nested def/class/lambda bodies excepted.
    mod_scope: list[ast.AST] = []
    for node in tree.body:
        if type(node) not in _SCOPE_BARRIERS:
            mod_scope += [node, *_walk(node)[1]]
    mod_binds, _ = _collect_type_binds(mod_scope)
    for var, val in sorted(mod_binds.items()):
        if val is not None:
            recs.append(
                _type_bind_rec(
                    path, var, val[0], val[1], path, val[2],
                    targ=val[3] if len(val) > 3 else None,
                )
            )
    return recs


def _project(recs: list[dict], kind: str, cols: dict[str, str]) -> list[dict]:
    """The ``kind`` records as rows of ``{out column: record field}``."""
    return [
        {out: r.get(src) for out, src in cols.items()}
        for r in recs
        if r["record_kind"] == kind
    ]


def split_parsed(recs: list[dict]) -> tuple[list[dict], list[dict], list[dict]]:
    """(entities, relations, implementation chunks) rows from the
    unioned records."""
    entities = _project(recs, "entity", {
        c: c for c in (
            "entity_name", "entity_type", "file_path", "line_number",
            "end_line_number", "observations", "signature", "docstring",
        )
    })
    relations = [
        {
            "from_entity": r.get("from_entity"),
            "to_entity": r.get("to_entity"),
            "relation_type": r.get("relation_type"),
            # for calls: the dotted attribute base (`z.f()` → 'z'), the
            # hook cross-file resolution looks up; NULL for bare calls
            "context": r.get("content"),
            "confidence": 1.0,
            "import_type": r.get("import_type"),
            "file_path": r.get("file_path"),
        }
        for r in recs
        if r["record_kind"] == "relation"
    ]
    impl = _project(recs, "implementation", {
        c: c for c in (
            "entity_name", "entity_type", "file_path", "line_number",
            "end_line_number", "content", "complexity",
        )
    })
    return entities, relations, impl


def import_bindings(recs: list[dict]) -> list[dict]:
    """The per-file import alias table the cross-file resolver looks up:
    (file_path, local_name, target_module, member, import_type).

    ``import x.y as z``      → (f, 'z', 'x.y', NULL, 'module')
    ``import x.y``           → (f, 'x', 'x',  NULL, 'module')
    ``from .m import f as g``→ (f, 'g', '.m', 'f',  'from')

    Relative targets keep their leading dots; operators/resolve.py
    absolutizes them against the importing file's package."""
    return _project(recs, "import_binding", {
        "file_path": "file_path",
        "local_name": "from_entity",
        "target_module": "to_entity",
        "member": "content",
        "import_type": "import_type",
    })


def type_bindings(recs: list[dict]) -> list[dict]:
    """The per-scope constructor-bind table instance-typed method
    resolution looks up: (file_path, scope, var, ctor, ctor_base,
    awaited, targ).

    ``def f(): x = Tool()``      → (f, 'f',  'x',       'Tool', NULL)
    ``def f(): t = m.Tool()``    → (f, 'f',  't',       'Tool', 'm')
    ``class C: self.s = Db()``   → (f, 'C',  'self.s',  'Db',   NULL)
    module-level ``x = Tool()``  → (f, path, 'x',       'Tool', NULL)

    Only unambiguous binds are emitted — a var rebound to a different
    value anywhere in its scope never appears (parser poisons it), so a
    lookup hit is a certainty, not a guess. ``awaited`` is True for
    ``x = await f()`` (legacy stored rows lack it and read as False);
    ``targ`` is the single type ARGUMENT of a generic annotation
    (``r: Repo[User]`` → 'User'), NULL otherwise."""
    rows = _project(recs, "type_binding", {
        "file_path": "file_path",
        "scope": "from_entity",
        "var": "entity_name",
        "ctor": "to_entity",
        "ctor_base": "content",
        "awaited": "import_type",
        "targ": "signature",
    })
    for r in rows:
        r["awaited"] = r["awaited"] == "await"
    return rows


def return_bindings(recs: list[dict]) -> list[dict]:
    """The factory table: (file_path, func, ctor, ctor_base, is_async) —
    functions (and methods, keyed 'Class.method') whose EVERY return
    statement returns the same named constructor call (``def
    make_tool(): return Tool()``; classmethod factories ``return cls()``
    key to their own class). The resolver looks a call-site type-bind
    whose 'ctor' is such a function up in this table, so ``x =
    make_tool(); x.run()`` and ``t = Tool.create(); t.run()`` pin to
    Tool.run — the static slice of Jedi's return-type inference. An
    async def / async method / Promise<T> factory is ``is_async``: its
    CALL value is a future, its AWAITED value is the instance."""
    rows = _project(recs, "return_bind", {
        "file_path": "file_path",
        "func": "from_entity",
        "ctor": "to_entity",
        "ctor_base": "content",
        "is_async": "import_type",
    })
    for r in rows:
        r["is_async"] = r["is_async"] == "async"
    return rows
