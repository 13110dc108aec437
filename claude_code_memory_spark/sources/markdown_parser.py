"""Markdown parser with the reference's intelligent chunking.

Reference semantics (S9, analysis/parser.py:1493-2107):
- header entities from ATX headings; section parse (:1638-1733)
- intelligent chunking (:1496-1500): target 800 tokens, max 1000,
  overlap 12.5% (100 tokens), min 100
- greedy packing of sections up to the token budget (:1734-1798)
- large-section splitting (:1799-1853)
- undersized-chunk redistribution via min-size merge (:1854-1908)
- overlap context carried from the previous chunk (:1909-1941)

Token counting uses the char/4 approximation (X13 fallback,
embeddings/base.py:44-94) — deterministic without tiktoken.

Executed per-file inside the same registry pass as the Python parser;
chunk records ride the shared PARSED_SCHEMA.
"""

from __future__ import annotations

import re

TARGET_TOKENS = 800
MAX_TOKENS = 1000
MIN_TOKENS = 100
OVERLAP_RATIO = 0.125

_HEADING = re.compile(r"^(#{1,6})\s+(.*)$")


_ENCODER = None
_ENCODER_TRIED = False


def approx_tokens(text: str) -> int:
    """X13: tiktoken cl100k_base count when the library is available
    (reference TiktokenMixin, embeddings/base.py:44-94), so markdown
    chunk budgets match the reference's exactly on deployments that have
    it; deterministic ceil(len/4) approximation otherwise (this
    container). Encoder built once per worker process."""
    global _ENCODER, _ENCODER_TRIED
    if not _ENCODER_TRIED:
        _ENCODER_TRIED = True
        try:
            import tiktoken

            _ENCODER = tiktoken.get_encoding("cl100k_base")
        except Exception:
            _ENCODER = None
    if _ENCODER is not None:
        try:
            return max(1, len(_ENCODER.encode(text)))
        except Exception:
            pass
    return max(1, (len(text) + 3) // 4)


def parse_sections(source: str) -> list[dict]:
    """Split markdown into (heading, level, text) sections; a preamble
    before the first heading becomes its own section."""
    sections: list[dict] = []
    current = {"heading": None, "level": 0, "lines": []}
    in_code = False
    for line in source.splitlines():
        if line.strip().startswith("```"):
            in_code = not in_code
        m = None if in_code else _HEADING.match(line)
        if m:
            if current["lines"] or current["heading"] is not None:
                sections.append(current)
            current = {"heading": m.group(2).strip(), "level": len(m.group(1)), "lines": []}
        else:
            current["lines"].append(line)
    sections.append(current)
    out = []
    for s in sections:
        text = "\n".join(s["lines"]).strip()
        if s["heading"] is None and not text:
            continue
        body = (f"# {s['heading']}\n{text}" if s["heading"] else text).strip()
        out.append(
            {"heading": s["heading"], "level": s["level"], "text": body, "tokens": approx_tokens(body)}
        )
    return out


def _split_large(section: dict, max_tokens: int) -> list[dict]:
    """Large-section split on paragraph boundaries (parser.py:1799-1853)."""
    if section["tokens"] <= max_tokens:
        return [section]
    paras = [p for p in section["text"].split("\n\n") if p.strip()]
    parts: list[dict] = []
    buf: list[str] = []
    buf_tokens = 0
    for p in paras:
        pt = approx_tokens(p)
        if buf and buf_tokens + pt > max_tokens:
            text = "\n\n".join(buf)
            parts.append({**section, "text": text, "tokens": approx_tokens(text)})
            buf, buf_tokens = [], 0
        buf.append(p)
        buf_tokens += pt
    if buf:
        text = "\n\n".join(buf)
        parts.append({**section, "text": text, "tokens": approx_tokens(text)})
    # a single paragraph larger than max: hard-split on char boundary
    final = []
    for part in parts:
        if part["tokens"] <= max_tokens:
            final.append(part)
        else:
            chars = max_tokens * 4
            t = part["text"]
            for i in range(0, len(t), chars):
                seg = t[i : i + chars]
                final.append({**part, "text": seg, "tokens": approx_tokens(seg)})
    return final


def pack_chunks(
    sections: list[dict],
    *,
    target: int = TARGET_TOKENS,
    max_tokens: int = MAX_TOKENS,
    min_tokens: int = MIN_TOKENS,
    overlap_ratio: float = OVERLAP_RATIO,
) -> list[dict]:
    """Greedy packing (parser.py:1734-1798): accumulate sections until the
    target budget; oversized sections pre-split; an undersized trailing
    chunk merges backward (:1854-1908); each chunk carries overlap context
    from the previous chunk's tail (:1909-1941)."""
    atoms: list[dict] = []
    for s in sections:
        atoms.extend(_split_large(s, max_tokens))

    chunks: list[dict] = []
    buf: list[dict] = []
    buf_tokens = 0
    for atom in atoms:
        if buf and buf_tokens + atom["tokens"] > target:
            chunks.append(buf)
            buf, buf_tokens = [], 0
        buf.append(atom)
        buf_tokens += atom["tokens"]
    if buf:
        chunks.append(buf)

    # undersized redistribution (:1854-1908): any chunk below min_tokens
    # merges into its neighbor (forward if one exists, else backward) — a
    # lone heading must not become its own 1-token chunk
    merged: list[list[dict]] = []
    pending: list[dict] = []
    for group in chunks:
        group = pending + group
        pending = []
        if sum(a["tokens"] for a in group) < min_tokens:
            pending = group
        else:
            merged.append(group)
    if pending:
        if merged:
            merged[-1].extend(pending)
        else:
            merged.append(pending)
    chunks = merged

    overlap_tokens = int(target * overlap_ratio)
    out: list[dict] = []
    prev_tail = ""
    for i, group in enumerate(chunks):
        text = "\n\n".join(a["text"] for a in group)
        content = (prev_tail + "\n\n" + text).strip() if prev_tail else text
        out.append(
            {
                "chunk_index": i,
                "content": content,
                "tokens": approx_tokens(content),
                "headings": [a["heading"] for a in group if a["heading"]],
            }
        )
        prev_tail = text[-overlap_tokens * 4 :]
    return out


def parse_markdown_source(path: str, source: str) -> list[dict]:
    """Markdown file → records in the shared PARSED_SCHEMA shape: one file
    entity, one documentation entity per heading (with contains
    relations), one implementation-style chunk per packed text chunk."""
    from claude_code_memory_spark.sources.python_parser import (
        _entity_rec,
        _impl_rec,
        _relation_rec,
    )

    recs: list[dict] = []
    n_lines = source.count("\n") + 1
    recs.append(_entity_rec(path, "file", path, 1, n_lines, [f"Markdown file {path}"]))
    sections = parse_sections(source)
    for s in sections:
        if s["heading"]:
            recs.append(
                _entity_rec(
                    s["heading"],
                    "documentation",
                    path,
                    None,
                    None,
                    [f"Section '{s['heading']}' (level {s['level']})"],
                )
            )
            recs.append(_relation_rec(path, s["heading"], "contains", path))
    for c in pack_chunks(sections):
        recs.append(
            _impl_rec(
                f"{path}::chunk{c['chunk_index']}",
                "documentation",
                path,
                None,
                None,
                c["content"],
                None,
            )
        )
    return recs
