"""Resolver fidelity against a JS/TS ground-truth fixture (verdict r7
item 3: the 25-site corpus was Python-only, so the JS arm's precision
had no denominator). Same contract as test_resolve_fidelity.py:

- POSITIVES must resolve to the exact defining name;
- NEGATIVES must stay unresolved (any hit is a FALSE RESOLUTION);
- ASPIRATIONAL sites sit in the denominator for honesty.

Reference parity anchor: the reference's tree-sitter JS/TS parser +
in-process resolution (analysis/javascript_parser.py:19-30); this is
the distributed equivalent's precision/recall harness for the JS arm.
"""

from __future__ import annotations

import pytest

from claude_code_memory_spark.operators.resolve import resolve_calls
from claude_code_memory_spark.sources.javascript_parser import (
    parse_javascript_source,
)
from claude_code_memory_spark.sources.python_parser import (
    import_bindings,
    return_bindings,
    split_parsed,
    type_bindings,
)

FIXTURE = {
    # -- library under test --
    "src/lib/core.ts": (
        "export class Base {\n"
        "  close() { return 0; }\n"
        "}\n"
        "\n"
        "export class Tool extends Base {\n"
        "  run() { return 1; }\n"
        "  static create(): Tool { return new Tool(); }\n"
        "}\n"
        "\n"
        "export function helper(x: number) { return x + 1; }\n"
    ),
    "src/lib/db.ts": (
        "export class Result {\n"
        "  unwrap() { return 1; }\n"
        "  again(): Conn { return new Conn(); }\n"
        "}\n"
        "\n"
        "export class Conn {\n"
        "  query(): Result { return new Result(); }\n"
        "}\n"
        "\n"
        "export class Database {\n"
        "  getConn(): Conn { return new Conn(); }\n"
        "  ping() { return 'pong'; }\n"
        "  maybe(flag: boolean) {\n"
        "    if (flag) { return new Conn(); }\n"
        "    return null;\n"
        "  }\n"
        "}\n"
        "\n"
        "export class Service {\n"
        "  db: Database;\n"  # field declaration types the instance attr
        "\n"
        "  get conn(): Conn { return new Conn(); }\n"
        "\n"
        "  get badprop() {\n"  # divergent returns: uncertain
        "    if (this.db) { return new Conn(); }\n"
        "    return new Database();\n"
        "  }\n"
        "\n"
        "  j17_field_self() { return this.db.ping(); }\n"
        "\n"
        "  j18_getter_self() { return this.conn.query(); }\n"
        "}\n"
        "\n"
        "export class Cfg {\n"
        "  static get inst(): Database { return new Database(); }\n"
        "}\n"
    ),
    "src/lib/index.ts": (
        "export * from './core';\n"
        "export { client } from './state';\n"
    ),
    "src/lib/factories.ts": (
        "import { Tool } from './core';\n"
        "\n"
        "export function makeTool() { return new Tool(); }\n"
        "\n"
        "export const makeArrow = () => new Tool();\n"
        "\n"
        "export function makeAnn(): Tool { return whatever(); }\n"
    ),
    "src/lib/dup_a.ts": "export function dupFn(x: number) { return x; }\n",
    "src/lib/dup_b.ts": "export function dupFn(x: number) { return x + 1; }\n",
    "src/lib/twobarrel.ts": (
        "export * from './dup_a';\n"
        "export * from './dup_b';\n"
    ),
    "src/lib/widget.ts": (
        "export default class Widget {\n"
        "  spin() { return 7; }\n"
        "}\n"
    ),
    "src/lib/maker.ts": (
        "import { Tool } from './core';\n"
        "\n"
        "export default function makeIt() { return new Tool(); }\n"
    ),
    "src/lib/anon.ts": "export default function () { return 1; }\n",
    "src/lib/state.ts": (
        "import { Tool } from './core';\n"
        "\n"
        "export const client = new Tool();\n"
    ),
    # -- consumers: one ground-truth site per jNN_/anNN_ function --
    "src/use/imports.ts": (
        "import { helper } from '../lib/core';\n"
        "import { helper as h } from '../lib/core';\n"
        "import * as c from '../lib/core';\n"
        "\n"
        "export function j01_named() { return helper(1); }\n"
        "\n"
        "export function j02_aliased() { return h(2); }\n"
        "\n"
        "export function j03_namespace() { return c.helper(3); }\n"
    ),
    "src/use/barrel.ts": (
        "import { helper } from '../lib';\n"
        "\n"
        "export function j04_barrel() { return helper(4); }\n"
    ),
    "src/use/instances.ts": (
        "import { Tool } from '../lib/core';\n"
        "\n"
        "export function j05_instance() {\n"
        "  const t = new Tool();\n"
        "  return t.run();\n"
        "}\n"
        "\n"
        "export function j06_inherited() {\n"
        "  const t = new Tool();\n"
        "  return t.close();\n"
        "}\n"
        "\n"
        "export class Holder {\n"
        "  constructor() { this.t = new Tool(); }\n"
        "  j07_this_attr() { return this.t.run(); }\n"
        "}\n"
        "\n"
        "export function j08_param(t: Tool) { return t.run(); }\n"
    ),
    "src/use/factories.ts": (
        "import { makeTool, makeAnn } from '../lib/factories';\n"
        "import { Tool } from '../lib/core';\n"
        "import { Database } from '../lib/db';\n"
        "\n"
        "export function j09_annotated() {\n"
        "  const t = makeAnn();\n"
        "  return t.run();\n"
        "}\n"
        "\n"
        "export function j10_inferred() {\n"
        "  const t = makeTool();\n"
        "  return t.run();\n"
        "}\n"
        "\n"
        "export function j11_static_factory() {\n"
        "  const t = Tool.create();\n"
        "  return t.run();\n"
        "}\n"
        "\n"
        "export function j12_chained() {\n"
        "  const d = new Database();\n"
        "  return d.getConn().query();\n"
        "}\n"
    ),
    "src/use/superd.ts": (
        "import { Tool } from '../lib/core';\n"
        "\n"
        "export class Loud extends Tool {\n"
        "  run() { return super.run(); }\n"
        "}\n"
    ),
    "src/use/iface.ts": (
        "export interface Shape {\n"
        "  area(): number;\n"
        "  ignite?(): number;\n"
        "}\n"
        "\n"
        "export function j14_interface(s: Shape) { return s.area(); }\n"
    ),
    "src/use/attrprops.ts": (
        "import { Service, Cfg, Database } from '../lib/db';\n"
        "\n"
        "export function j15_field_attr() {\n"
        "  const s = new Service();\n"
        "  return s.db.ping();\n"
        "}\n"
        "\n"
        "export function j16_getter() {\n"
        "  const s = new Service();\n"
        "  return s.conn.query();\n"
        "}\n"
        "\n"
        "export function jn04_divergent_getter() {\n"
        "  const s = new Service();\n"
        "  return s.badprop.query();\n"
        "}\n"
        "\n"
        "export function jn05_method_not_called() {\n"
        "  const d = new Database();\n"
        "  return d.getConn.query();\n"
        "}\n"
        "\n"
        "export function jn07_static_getter() {\n"
        "  const c = new Cfg();\n"
        "  return c.inst.ping();\n"
        "}\n"
    ),
    "src/use/negatives.ts": (
        "import { join } from 'path';\n"
        "import { Tool } from '../lib/core';\n"
        "import { Database } from '../lib/db';\n"
        "import { wrap } from './nowhere-real';\n"
        "\n"
        "export function jn01_reassigned() {\n"
        "  let t = new Tool();\n"
        "  t = new Database();\n"
        "  return t.run();\n"
        "}\n"
        "\n"
        "export function jn02_external() { return join('a', 'b'); }\n"
        "\n"
        "export function jn03_untyped(q) { return q.run(); }\n"
        "\n"
        "export function jn08_paren_chain(x) {\n"
        "  return wrap(helperize(x)).run();\n"
        "}\n"
    ),
    "src/use/twobarrel.ts": (
        "import { dupFn } from '../lib/twobarrel';\n"
        "\n"
        "export function jn06_two_stars() { return dupFn(1); }\n"
    ),
    "src/use/defaults.ts": (
        "import Widget from '../lib/widget';\n"
        "import mk from '../lib/maker';\n"
        "import anon from '../lib/anon';\n"
        "\n"
        "export function j19_default_class() {\n"
        "  const w = new Widget();\n"
        "  return w.spin();\n"
        "}\n"
        "\n"
        "export function j20_default_fn_alias() { return mk(1); }\n"
        "\n"
        "export function jn09_anonymous_default() { return anon(2); }\n"
    ),
    "src/use/req.js": (
        "const { helper } = require('../lib/core');\n"
        "\n"
        "function j21_require(x) { return helper(x); }\n"
        "\n"
        "module.exports = { j21_require };\n"
    ),
    "src/use/modbind.ts": (
        "import { Tool } from '../lib/core';\n"
        "import { client } from '../lib/state';\n"
        "\n"
        "const sharedTool = new Tool();\n"
        "\n"
        "export function j22_module_bind() { return sharedTool.run(); }\n"
        "\n"
        "export function j23_imported_singleton() { return client.run(); }\n"
    ),
    # -- round 9: balanced-paren chained calls (verdict r8 item 2) --
    "src/lib/engine.ts": (
        "export function compute(x: number) { return x * 2; }\n"
    ),
    # -- round 10: async factories (verdict r9 item 7) --
    "src/lib/asyncdb.ts": (
        "import { Conn } from './db';\n"
        "\n"
        "export class Repo {\n"
        "  async fetchConn(): Promise<Conn> { return new Conn(); }\n"
        "}\n"
        "\n"
        "export async function mkConn(): Promise<Conn> { return new Conn(); }\n"
    ),
    "src/use/asyncuse.ts": (
        "import { Repo, mkConn } from '../lib/asyncdb';\n"
        "import { makeTool } from '../lib/factories';\n"
        "\n"
        "export async function j40_await_fn_factory() {\n"
        "  const c = await mkConn();\n"
        "  return c.query();\n"
        "}\n"
        "\n"
        "export async function j41_await_async_method() {\n"
        "  const r = new Repo();\n"
        "  const c = await r.fetchConn();\n"
        "  return c.query();\n"
        "}\n"
        "\n"
        "export function jn14_async_no_await() {\n"
        "  const c = mkConn();\n"  # c is a Promise, not a Conn
        "  return c.query();\n"
        "}\n"
        "\n"
        "export async function jn15_await_sync() {\n"
        "  const t = await makeTool();\n"  # conservative: stays unresolved
        "  return t.run();\n"
        "}\n"
    ),
    # -- round 10: breadth (namespace barrel, let, require alias,
    # aliased throw, implements, re-exported singleton) --
    "src/use/breadth10.ts": (
        "import { client } from '../lib';\n"
        "import * as lib from '../lib';\n"
        "import { Tool } from '../lib/core';\n"
        "import { CustomError as CE } from '../lib/errors';\n"
        "\n"
        "export function j42_reexport_singleton() { return client.run(); }\n"
        "\n"
        "export function j43_namespace_barrel() { return lib.helper(5); }\n"
        "\n"
        "export function j44_let_bind() {\n"
        "  let t = new Tool();\n"
        "  return t.run();\n"
        "}\n"
        "\n"
        "export function j46_throw_aliased(x: number) {\n"
        "  if (x < 0) { throw new CE('neg'); }\n"
        "  return x;\n"
        "}\n"
    ),
    "src/use/nsneg.ts": (
        "import * as tb from '../lib/twobarrel';\n"
        "\n"
        "export function jn16_ns_two_stars() { return tb.dupFn(1); }\n"
    ),
    "src/use/req2.js": (
        "const { helper: hh } = require('../lib/core');\n"
        "\n"
        "function j45_require_alias(x) { return hh(x); }\n"
        "\n"
        "module.exports = { j45_require_alias };\n"
    ),
    "src/use/impl.ts": (
        "import { Shape } from './iface';\n"
        "\n"
        "export class Impl implements Shape {\n"
        "  area(): number { return 4; }\n"
        "}\n"
        "\n"
        "export function j47_implements(s: Impl) { return s.area(); }\n"
        "\n"
        "// round 12: `implements` is a type-level contract, NOT\n"
        "// inheritance — a declared-only optional interface member is\n"
        "// not reachable through the implementing class (at runtime\n"
        "// s.ignite is undefined), and an interface-typed variable\n"
        "// holding a concrete ctor resolves through its runtime class\n"
        "export function jn18_implements_not_ancestor(s: Impl) {\n"
        "  return s.ignite();\n"
        "}\n"
        "\n"
        "export function j50_iface_typed_ctor() {\n"
        "  const s: Shape = new Impl();\n"
        "  return s.area();\n"
        "}\n"
    ),
    "src/use/getterchain.ts": (
        "import { Service } from '../lib/db';\n"
        "\n"
        "export function j48_getter_chain() {\n"
        "  const s = new Service();\n"
        "  return s.conn.query().unwrap();\n"
        "}\n"
        "\n"
        "export function jn17_divergent_getter_chain() {\n"
        "  const s = new Service();\n"
        "  return s.badprop.query().unwrap();\n"
        "}\n"
    ),
    "src/use/getterchain2.ts": (
        "import { Conn } from '../lib/db';\n"
        "\n"
        "export class GWrap {\n"
        "  get conn(): Conn { return new Conn(); }\n"
        "  j49_this_getter_chain() { return this.conn.query().unwrap(); }\n"
        "}\n"
    ),
    "src/use/chains.ts": (
        "import { makeTool, makeArrow } from '../lib/factories';\n"
        "import { Tool } from '../lib/core';\n"
        "import { Database } from '../lib/db';\n"
        "import { compute } from '../lib/engine';\n"
        "\n"
        "export function j24_nested_arg_chain() {\n"
        "  return makeTool(compute(1)).run();\n"
        "}\n"
        "\n"
        "export function j25_two_hop() {\n"
        "  return new Database().getConn().query();\n"
        "}\n"
        "\n"
        "export function j26_bound_chain() {\n"
        "  const d = new Database();\n"
        "  const r = d.getConn().query();\n"
        "  return r.unwrap();\n"
        "}\n"
        "\n"
        "export function j27_chained_base_args() {\n"
        "  const d = new Database();\n"
        "  return d.getConn(compute(2)).query();\n"
        "}\n"
        "\n"
        "export function j29_multiline_chain() {\n"
        "  return makeTool()\n"
        "    .run();\n"
        "}\n"
        "\n"
        "export function j30_new_with_args() {\n"
        "  return new Tool(compute(3)).run();\n"
        "}\n"
        "\n"
        "export function j35_direct_new() {\n"
        "  return new Tool().run();\n"
        "}\n"
        "\n"
        "export function j39_arrow_factory() {\n"
        "  const t = makeArrow();\n"
        "  return t.run();\n"
        "}\n"
        "\n"
        "export function an01_three_hop() {\n"
        "  return new Database().getConn().query().unwrap();\n"
        "}\n"
        "\n"
        "export function jn10_poisoned_head_chain() {\n"
        "  let d = new Database();\n"
        "  d = new Tool();\n"
        "  return d.getConn().query();\n"
        "}\n"
        "\n"
        "export function jn11_curried(f) {\n"
        "  return f()(1).run();\n"
        "}\n"
        "\n"
        "export function jn12_divergent_mid_chain() {\n"
        "  return new Database().maybe(true).unwrap();\n"
        "}\n"
        "\n"
        "export function jn13_chain_past_marker_depth() {\n"
        "  return new Database().getConn().query().again().unwrap();\n"
        "}\n"
    ),
    "src/use/thischain.ts": (
        "import { Database } from '../lib/db';\n"
        "\n"
        "export class Wrap {\n"
        "  db: Database;\n"
        "\n"
        "  j28_this_chain() { return this.db.getConn().query(); }\n"
        "}\n"
    ),
    # -- round 9: interface extends-list diamond (MRO base order) --
    "src/use/idiamond.ts": (
        "export interface IA {\n"
        "  pick(): number;\n"
        "}\n"
        "\n"
        "export interface IB {\n"
        "  pick(): number;\n"
        "}\n"
        "\n"
        "export interface IC extends IA, IB {\n"
        "  own(): number;\n"
        "}\n"
        "\n"
        "export function j31_iface_diamond(c: IC) { return c.pick(); }\n"
    ),
    # -- round 9: breadth (throws, decorators, deep barrels, require) --
    "src/lib/errors.ts": (
        "export class CustomError extends Error {\n"
        "}\n"
    ),
    "src/lib/deco.ts": (
        "export function cached(fn) { return fn; }\n"
    ),
    "src/lib/barrel2.ts": "export * from './index';\n",
    "src/use/throwing.ts": (
        "import { CustomError } from '../lib/errors';\n"
        "import { cached } from '../lib/deco';\n"
        "\n"
        "export function j32_throws(x: number) {\n"
        "  if (x < 0) { throw new CustomError('neg'); }\n"
        "  return x;\n"
        "}\n"
        "\n"
        "export class Svc {\n"
        "  @cached\n"
        "  j33_decorated() { return 1; }\n"
        "}\n"
    ),
    "src/use/deepbarrel.ts": (
        "import { helper } from '../lib/barrel2';\n"
        "\n"
        "export function j37_two_level_barrel() { return helper(7); }\n"
    ),
    "src/use/reqns.js": (
        "const core = require('../lib/core');\n"
        "\n"
        "function j38_require_namespace(x) { return core.helper(x); }\n"
        "\n"
        "module.exports = { j38_require_namespace };\n"
    ),
    # round 11: TS generics — the conservative annotation match
    # deliberately rejects Repo<User>, so both sites stay unresolved
    # today and sit in the denominator as ASPIRATIONAL (a generic-aware
    # analysis resolves r.get() via the class and r.get().save() via
    # T := User substitution)
    "src/lib/generic.ts": (
        "export class User {\n"
        "  save() { return 1; }\n"
        "}\n"
        "\n"
        "export class Repo<T> {\n"
        "  get(): T { return this.item; }\n"
        "}\n"
    ),
    "src/use/generics.ts": (
        "import { Repo, User } from '../lib/generic';\n"
        "\n"
        "export function ja01_generic_annotation(r: Repo<User>) {\n"
        "  return r.get();\n"
        "}\n"
        "\n"
        "export function ja02_generic_element_method(r: Repo<User>) {\n"
        "  return r.get().save();\n"
        "}\n"
    ),
}

POSITIVES = [
    ("j01_named", "helper"),
    ("j02_aliased", "helper"),
    ("j03_namespace", "helper"),
    ("j04_barrel", "helper"),
    ("j05_instance", "Tool.run"),
    ("j06_inherited", "Base.close"),
    ("Holder.j07_this_attr", "Tool.run"),
    ("j08_param", "Tool.run"),
    ("j09_annotated", "Tool.run"),
    ("j10_inferred", "Tool.run"),
    ("j11_static_factory", "Tool.run"),
    ("j12_chained", "Conn.query"),
    ("Loud.run", "Tool.run"),
    ("j14_interface", "Shape.area"),
    # round-8 additions: field-declaration binds + TS getters-as-properties
    ("j15_field_attr", "Database.ping"),
    ("j16_getter", "Conn.query"),
    ("Service.j17_field_self", "Database.ping"),
    ("Service.j18_getter_self", "Conn.query"),
    # round-8 additions: default exports, require(), module-scope binds
    ("j19_default_class", "Widget.spin"),
    ("j20_default_fn_alias", "makeIt"),
    ("j21_require", "helper"),
    ("j22_module_bind", "Tool.run"),
    ("j23_imported_singleton", "Tool.run"),
    # round 9: balanced-paren chained calls (verdict r8 item 2)
    ("j24_nested_arg_chain", "Tool.run"),  # nested parens in args
    ("j25_two_hop", "Conn.query"),  # later link of new D().getConn().query()
    ("j26_bound_chain", "Result.unwrap"),  # bound two-hop chain result
    ("j27_chained_base_args", "Conn.query"),  # args in the chained base
    ("j29_multiline_chain", "Tool.run"),  # chain across lines
    ("j30_new_with_args", "Tool.run"),  # new with call args
    ("j35_direct_new", "Tool.run"),  # direct new-chain, no var
    # round 9: three-hop chain closed by the deep-marker peel
    ("an01_three_hop", "Result.unwrap"),
    ("j39_arrow_factory", "Tool.run"),  # arrow-function factory
    ("Wrap.j28_this_chain", "Conn.query"),  # chain off a typed this-field
    # round 9: interface extends-list diamond (MRO base order)
    ("j31_iface_diamond", "IA.pick"),
    # round 9: breadth
    ("j32_throws", "CustomError"),
    ("Svc.j33_decorated", "cached"),
    ("j37_two_level_barrel", "helper"),
    ("j38_require_namespace", "helper"),
    # round 10: async factories — the awaited value is the instance
    ("j40_await_fn_factory", "Conn.query"),
    ("j41_await_async_method", "Conn.query"),
    # round 10: breadth
    ("j42_reexport_singleton", "Tool.run"),  # barrel-re-exported singleton
    ("j43_namespace_barrel", "helper"),  # namespace import through export*
    ("j44_let_bind", "Tool.run"),
    ("j45_require_alias", "helper"),  # destructured require with alias
    ("j46_throw_aliased", "CustomError"),
    ("j47_implements", "Impl.area"),
    # round 10 (late): getter-chain tails — the marker's attribute-path
    # base types through the ancestor-aware property table, then the
    # typed base class keys the factory join (f2b) for the chain link
    ("j48_getter_chain", "Result.unwrap"),
    ("GWrap.j49_this_getter_chain", "Result.unwrap"),
    # round 11: a single-level generic annotation binds its HEAD class
    # (`r: Repo<User>` types r as Repo — get() lives on Repo whatever
    # T is); the element-type substitution (ja02) stays aspirational
    ("ja01_generic_annotation", "Repo.get"),
    # round 11 (late): generic ELEMENT substitution — a method returning
    # its class's single type param types the call as the bind's type
    # argument, resolved in the call site's import context
    ("ja02_generic_element_method", "User.save"),
    # round 12: an interface-typed variable holding a concrete ctor
    # resolves through its RUNTIME class (the implements contract:
    # class, never the interface — test_implements_never_interface
    # asserts the Shape.area edge is absent)
    ("j50_iface_typed_ctor", "Impl.area"),
]

# (site, target a full static analysis reaches, raw method name)
ASPIRATIONAL: list[tuple[str, str, str]] = [
    # empty since round 11 closed the TS-generics slice (ja01 head bind
    # + ja02 element substitution both moved to POSITIVES)
]

NEGATIVES = [
    ("jn01_reassigned", "run"),
    ("jn02_external", "join"),
    ("jn03_untyped", "run"),
    ("jn04_divergent_getter", "query"),
    ("jn05_method_not_called", "query"),
    ("jn06_two_stars", "dupFn"),
    ("jn07_static_getter", "ping"),
    ("jn08_paren_chain", "run"),
    ("jn09_anonymous_default", "anon"),
    # round 9: chains that must stay unresolved
    ("jn10_poisoned_head_chain", "query"),  # reassigned head var
    ("jn11_curried", "run"),  # curried call result — unmarkable
    # round 9: deep-peel soundness twins of Python n17/n18 — a
    # divergent-return method mid-chain poisons the marker; a link past
    # the marker depth cap gets no marker at all
    ("jn12_divergent_mid_chain", "unwrap"),
    ("jn13_chain_past_marker_depth", "unwrap"),
    # round 10: async soundness — a non-awaited async result is a
    # Promise (resolving query() on it was a live false-resolution bug
    # before the awaited/is_async match); awaiting a SYNC factory stays
    # conservatively unresolved (JS would yield the value, Python would
    # raise — one rule, zero false)
    ("jn14_async_no_await", "query"),
    ("jn15_await_sync", "run"),
    # namespace import of a two-star barrel: ambiguous, stays put
    ("jn16_ns_two_stars", "dupFn"),
    # a divergent getter base poisons the whole chain tail
    ("jn17_divergent_getter_chain", "unwrap"),
    # round 12: `implements` is a type-level contract, not inheritance —
    # a declared-only optional interface member must not resolve through
    # the implementing class (at runtime s.ignite is undefined)
    ("jn18_implements_not_ancestor", "ignite"),
]


@pytest.fixture(scope="module")
def fidelity_js():
    recs = []
    for path, src in FIXTURE.items():
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
    rows = [r for r in out if r["relation_type"] in ("calls", "throws", "uses")]
    return {
        (r["from_entity"], r["to_entity"], r["import_type"]) for r in rows
    }


def test_every_js_positive_resolves(fidelity_js):
    missed = [
        (site, target)
        for site, target in POSITIVES
        if (site, target, "resolved") not in fidelity_js
    ]
    assert not missed, f"JS positives regressed: {missed}"


def test_zero_js_false_resolutions(fidelity_js):
    false_hits = []
    for site, raw in NEGATIVES:
        for f, t, it in fidelity_js:
            if f != site or it != "resolved":
                continue
            if t == raw or t.endswith("." + raw):
                false_hits.append((site, t))
    for site, want, raw in ASPIRATIONAL:
        for f, t, it in fidelity_js:
            if f != site or it != "resolved":
                continue
            if (t == raw or t.endswith("." + raw)) and t != want:
                false_hits.append((site, t))
    assert false_hits == [], f"JS false resolutions: {false_hits}"


def test_js_fidelity_rate(fidelity_js):
    resolved = sum(
        1
        for site, target in POSITIVES
        if (site, target, "resolved") in fidelity_js
    )
    for site, want, _raw in ASPIRATIONAL:
        if (site, want, "resolved") in fidelity_js:
            resolved += 1
    denom = len(POSITIVES) + len(ASPIRATIONAL)
    rate = resolved / denom
    print(f"JS resolver fidelity: {resolved}/{denom} = {rate:.3f}")
    # round 11 (late): the __typeparam__ sentinel + bind type-argument
    # substitution closed ja02 — full denominator again
    # round 12: j50 (interface-typed ctor → runtime class) joins → 51
    assert rate >= 51 / 51 - 1e-9


def test_implements_never_interface(fidelity_js):
    """The implements-soundness contract in its sharpest form: calls on
    Impl-typed (j47) and Impl-constructed (j50) values must carry NO
    edge to the interface's declaration — the runtime class is the
    target, never the interface."""
    for site in ("j47_implements", "j50_iface_typed_ctor"):
        assert (site, "Shape.area", "resolved") not in fidelity_js, site
