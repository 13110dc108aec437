"""Every environment variable the package reads is listed in KNOWN_ENV, so
a new environment knob cannot appear without this list changing with it.

Spark-free: walks the package `ast` for `os.environ.get(...)`,
`os.environ[...]` and `os.getenv(...)` (any alias of `os`) without
importing anything. A key that is not a string constant (or a
conditional choice between constants) is reported as dynamic and fails.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = "claude_code_memory_spark"
ROOT = Path(__file__).resolve().parent.parent
KNOWN_ENV = {
    "CCMS_HOME",  # collection home of the CLI and the service
    "OPENAI_API_KEY",
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
    "SUMMARIZER_BASE_URL",
}


def _is_environ(node: ast.AST) -> bool:
    return isinstance(node, ast.Attribute) and node.attr == "environ"


def _keys(node: ast.AST) -> set[str]:
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return {node.value}
    if isinstance(node, ast.IfExp):
        return _keys(node.body) | _keys(node.orelse)
    return {f"<dynamic {ast.unparse(node)}>"}


def env_reads(source: str) -> set[str]:
    out: set[str] = set()
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Subscript) and _is_environ(node.value):
            out |= _keys(node.slice)
        elif isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            f = node.func
            if (f.attr == "get" and _is_environ(f.value)) or f.attr == "getenv":
                out |= _keys(node.args[0]) if node.args else {"<dynamic no key>"}
    return out


def package_env_reads() -> dict[str, set[str]]:
    found: dict[str, set[str]] = {}
    for path in sorted((ROOT / PKG).rglob("*.py")):
        for key in env_reads(path.read_text()):
            found.setdefault(key, set()).add(str(path.relative_to(ROOT)))
    return found


def test_env_reads_are_the_known_knobs():
    found = package_env_reads()
    assert set(found) == KNOWN_ENV, (
        f"unlisted: { {k: sorted(v) for k, v in found.items() if k not in KNOWN_ENV} }; "
        f"listed but never read: {sorted(KNOWN_ENV - set(found))}"
    )


def test_walker_sees_every_read_form():
    src = (
        "import os\nimport os as _os\n"
        "a = os.environ.get('A')\nb = _os.environ['B']\nc = os.getenv('C', '1')\n"
        "d = os.environ.get('D' if a else 'E')\ne = os.environ.get(a)\n"
    )
    assert env_reads(src) == {"A", "B", "C", "D", "E", "<dynamic a>"}
