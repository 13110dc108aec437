"""HTML / CSS parsers (S8) + HTML stripping (X15).

Reference semantics:
- HTML (analysis/html_parser.py, 578 LoC): element ids/classes as
  entities, script/style references as relations, title/meta extraction.
- CSS (analysis/css_parser.py, 273 LoC): selectors, custom properties
  (--variables), @import relations.
- X15 HTML/JS/CSS stripping for JSON content (json_parser.py:574-622).

Regex-based (stdlib html.parser for structure) — same entity surface as
the reference's tree-sitter grammar, executed in the shared registry
pass (`sources/registry.parse_rows`).
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

from claude_code_memory_spark.sources.python_parser import _entity_rec, _relation_rec

_CSS_SELECTOR = re.compile(r"(?m)^\s*([.#]?[\w][\w\-. #>:,\[\]=\"']*?)\s*\{")
_CSS_VAR = re.compile(r"(--[\w-]+)\s*:")
_CSS_IMPORT = re.compile(r"@import\s+(?:url\()?['\"]([^'\")]+)['\"]")


class _HtmlCollector(HTMLParser):
    def __init__(self):
        super().__init__()
        self.ids: list[tuple[str, str]] = []
        self.classes: set[str] = set()
        self.scripts: list[str] = []
        self.stylesheets: list[str] = []
        self.title_parts: list[str] = []
        self._in_title = False

    def handle_starttag(self, tag, attrs):
        d = dict(attrs)
        if "id" in d and d["id"]:
            self.ids.append((d["id"], tag))
        if "class" in d and d["class"]:
            self.classes.update(c for c in d["class"].split() if c)
        if tag == "script" and d.get("src"):
            self.scripts.append(d["src"])
        if tag == "link" and d.get("rel") == "stylesheet" and d.get("href"):
            self.stylesheets.append(d["href"])
        if tag == "title":
            self._in_title = True

    def handle_endtag(self, tag):
        if tag == "title":
            self._in_title = False

    def handle_data(self, data):
        if self._in_title and data.strip():
            self.title_parts.append(data.strip())


def parse_html_source(path: str, source: str) -> list[dict]:
    recs = [
        _entity_rec(path, "file", path, 1, source.count("\n") + 1, [f"HTML file {path}"])
    ]
    collector = _HtmlCollector()
    try:
        collector.feed(source)
    except Exception:
        return recs
    if collector.title_parts:
        title = " ".join(collector.title_parts)
        recs.append(
            _entity_rec(title, "documentation", path, None, None, [f"Page title '{title}'"])
        )
        recs.append(_relation_rec(path, title, "contains", path))
    for el_id, tag in collector.ids[:100]:
        recs.append(
            _entity_rec(f"#{el_id}", "variable", path, None, None, [f"Element id on <{tag}>"])
        )
        recs.append(_relation_rec(path, f"#{el_id}", "contains", path))
    for cls in sorted(collector.classes)[:100]:
        recs.append(
            _entity_rec(f".{cls}", "variable", path, None, None, ["CSS class usage"])
        )
        recs.append(_relation_rec(path, f".{cls}", "uses", path))
    for src in collector.scripts:
        recs.append(_relation_rec(path, src, "imports", path, "script"))
    for href in collector.stylesheets:
        recs.append(_relation_rec(path, href, "imports", path, "stylesheet"))
    return recs


def parse_css_source(path: str, source: str) -> list[dict]:
    recs = [
        _entity_rec(path, "file", path, 1, source.count("\n") + 1, [f"CSS file {path}"])
    ]
    # strip comments so selectors inside them don't register
    src = re.sub(r"/\*.*?\*/", "", source, flags=re.DOTALL)
    seen: set[str] = set()
    for m in _CSS_SELECTOR.finditer(src):
        sel = m.group(1).strip().rstrip(",")
        if sel and sel not in seen and not sel.startswith("@"):
            seen.add(sel)
            recs.append(
                _entity_rec(sel, "variable", path, None, None, [f"CSS selector '{sel}'"])
            )
            recs.append(_relation_rec(path, sel, "contains", path))
    for var in dict.fromkeys(_CSS_VAR.findall(src)):
        recs.append(
            _entity_rec(var, "constant", path, None, None, [f"CSS custom property {var}"])
        )
        recs.append(_relation_rec(path, var, "contains", path))
    for imp in _CSS_IMPORT.findall(src):
        recs.append(_relation_rec(path, imp, "imports", path, "css"))
    return recs


_TAG_RE = re.compile(r"<[^>]+>")
_SCRIPT_RE = re.compile(r"<script\b[^>]*>.*?</script>", re.DOTALL | re.IGNORECASE)
_STYLE_RE = re.compile(r"<style\b[^>]*>.*?</style>", re.DOTALL | re.IGNORECASE)


def strip_html(text: str) -> str:
    """X15: remove script/style blocks, then tags, collapse whitespace."""
    text = _SCRIPT_RE.sub(" ", text)
    text = _STYLE_RE.sub(" ", text)
    text = _TAG_RE.sub(" ", text)
    return re.sub(r"\s+", " ", text).strip()
