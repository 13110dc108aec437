"""Parser registry: language → per-file record extractor (UD6).

Reference: ParserRegistry dispatch (analysis/parser.py:2109-2267) routes a
file to its language parser; here the registry is a plain dict consulted
in one driver loop over the scanned rows — all languages parse in the
same pass, so adding a parser never adds a scan.
"""

from __future__ import annotations

from collections.abc import Callable

from claude_code_memory_spark.sources.config_parsers import (
    parse_csv_source,
    parse_ini_source,
    parse_toml_source,
    parse_json_source,
    parse_text_source,
    parse_yaml_source,
)
from claude_code_memory_spark.sources.javascript_parser import parse_javascript_source
from claude_code_memory_spark.sources.markdown_parser import parse_markdown_source
from claude_code_memory_spark.sources.web_parsers import parse_css_source, parse_html_source
from claude_code_memory_spark.sources.python_parser import (
    PARSED_COLUMNS,
    _entity_rec,
    parse_python_source,
)

Parser = Callable[[str, str], list[dict]]

PARSERS: dict[str, Parser] = {
    "py": parse_python_source,
    "js": parse_javascript_source,
    "ts": parse_javascript_source,
    "md": parse_markdown_source,
    "json": parse_json_source,
    "yaml": parse_yaml_source,
    "txt": parse_text_source,
    "csv": parse_csv_source,
    "ini": parse_ini_source,
    "toml": parse_toml_source,
    "html": parse_html_source,
    "css": parse_css_source,
}


def register_parser(language: str, parser: Parser) -> None:
    PARSERS[language] = parser


def parse_rows(files: list[dict]) -> list[dict]:
    """All registered languages in one loop over the scanned rows →
    PARSED_SCHEMA records (dicts holding exactly PARSED_COLUMNS)."""
    recs: list[dict] = []
    for f in files:
        parser = PARSERS.get(f["language"])
        if not (parser and f["content"]):
            continue
        path = f["relative_path"]
        try:
            out = parser(path, f["content"])
        except Exception:
            # graceful degradation parity: a crashing parser must not
            # take down the batch (parser.py error handling;
            # tests/unit/test_parser.py:210)
            out = [_entity_rec(path, "file", path, 1, 1, [f"Unparseable file {path}"])]
        recs.extend({c: r.get(c) for c in PARSED_COLUMNS} for r in out)
    return recs
