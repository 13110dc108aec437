"""Chunk construction: entities/relations/implementations → storable chunks.

Reference semantics:
- EntityChunk id format "{file}::{type}::{name}::{chunk_type}::{md5_8}"
  (analysis/entities.py:121-127); metadata vs implementation chunk types
  (entities.py:45); X5 field-weighted content (entities.py:99-119); X6
  6-component BM25 doc (entities.py:145-221); F6 entity-type gating of
  has_implementation (processing/processors.py:38-43).
- RelationChunk id "{from}::{type}::{to}[::import_type]"
  (entities.py:244-262).
- point id = int(sha256(chunk_id)[:16], 16) (storage/qdrant.py:1423-1430).

Every builder maps row dicts to chunk row dicts (the CHUNKS columns) on
the driver, byte-equal to the Spark column expressions of
`functions/hashing.py` and `functions/text.py`: ``_concat_ws`` skips
NULLs and keeps empty strings, hashes are over UTF-8 bytes, and the
point id is the signed 64-bit reading of the first 16 hex digits.
"""

from __future__ import annotations

import hashlib
import re

NO_IMPL_TYPES = ("import", "variable", "constant")  # processors.py:38-43
CHUNK_COLUMNS = (
    "chunk_id", "point_id", "entity_name", "entity_type", "chunk_type",
    "content", "content_bm25", "content_hash", "has_implementation",
    "file_path", "line_number", "end_line_number",
)
_CAMEL = re.compile("([a-z0-9])([A-Z])")


def _concat_ws(sep: str, *parts: str | None) -> str:
    """Spark ``concat_ws``: NULL parts are skipped, empty ones kept."""
    return sep.join(p for p in parts if p is not None)


def content_hash(s: str | None) -> str | None:
    """X1: sha256 hex digest (``F.sha2(c, 256)``)."""
    return None if s is None else hashlib.sha256(s.encode("utf-8")).hexdigest()


def md5_8(s: str | None) -> str | None:
    """X3: first 8 hex chars of md5."""
    return None if s is None else hashlib.md5(s.encode("utf-8")).hexdigest()[:8]


def point_id(s: str) -> int:
    """X2: int(sha256(s)[:16], 16) read as a signed 64-bit integer."""
    v = int(hashlib.sha256(s.encode("utf-8")).hexdigest()[:16], 16)
    return v - (1 << 64) if v >= 1 << 63 else v


def camel_to_spaced(name: str | None) -> str | None:
    """X4: CamelCase / snake_case name → lowercase spaced words."""
    if name is None:
        return None
    return _CAMEL.sub(r"\1 \2", name).replace("_", " ").lower()


def weighted_content(name: str | None, observations: list | None) -> str:
    """X5: field-weighted content — entity name 3×, first observation
    2×, the rest 1× (reference entities.py:99-119)."""
    obs = observations or []
    first = obs[0] if obs and obs[0] is not None else ""
    return _concat_ws(
        " ",
        _concat_ws(" ", *[name] * 3),
        _concat_ws(" ", first, first),
        _concat_ws(" ", *obs[1:]),
    )


def _chunk(chunk_id: str, chunk_type: str, name, etype, fp, content, content_bm25,
           has_impl: bool, line=None, end_line=None) -> dict:
    return {
        "chunk_id": chunk_id,
        "point_id": point_id(chunk_id),
        "entity_name": name,
        "entity_type": etype,
        "chunk_type": chunk_type,
        "content": content,
        "content_bm25": content_bm25,
        "content_hash": content_hash(content),
        "has_implementation": has_impl,
        "file_path": fp,
        "line_number": line,
        "end_line_number": end_line,
    }


def entity_metadata_chunks(entities: list[dict], impl: list[dict]) -> list[dict]:
    """Metadata chunks: weighted content + BM25 doc per entity."""
    impl_names = {r["entity_name"] for r in impl} - {None}
    out = []
    for e in entities:
        name, etype, fp, obs = (
            e["entity_name"], e["entity_type"], e["file_path"], e["observations"]
        )
        content = weighted_content(name, obs)
        first = obs[0] if obs and obs[0] is not None else ""
        bm25_doc = _concat_ws(
            " ",
            name,
            name,  # 2x name boost (entities.py:145-221)
            camel_to_spaced(name),
            first,
            etype,
            "" if fp is None else fp.split("/")[-1],
        )
        chunk_id = _concat_ws(
            "::", fp or "", etype, name, "metadata", md5_8(content)
        )
        has_impl = etype not in NO_IMPL_TYPES and name in impl_names
        out.append(_chunk(
            chunk_id, "metadata", name, etype, fp, content, bm25_doc, has_impl,
            e["line_number"], e["end_line_number"],
        ))
    return out


def implementation_chunks(impl: list[dict]) -> list[dict]:
    """Implementation chunks: the code itself (progressive disclosure —
    searched only on demand, entities.py:84-143)."""
    return [
        _chunk(
            _concat_ws(
                "::", r["file_path"] or "", r["entity_type"], r["entity_name"],
                "implementation", md5_8(r["content"]),
            ),
            "implementation", r["entity_name"], r["entity_type"], r["file_path"],
            r["content"], None, True, r["line_number"], r["end_line_number"],
        )
        for r in impl
    ]


def relation_chunks(relations: list[dict]) -> list[dict]:
    """Relation chunks (entities.py:224-306): id from the endpoint triple.

    A4 relation dedup (processors.py:346-394): one chunk per triple. When
    several files hold the triple (e.g. a vendored copy), the smallest
    file_path owns the chunk (a NULL one first), so every build keeps
    the same row."""
    owner: dict[str, tuple] = {}
    for r in relations:
        src, rtype, dst, fp = (
            r["from_entity"], r["relation_type"], r["to_entity"], r["file_path"]
        )
        chunk_id = _concat_ws("::", src, rtype, dst, r["import_type"] or "")
        key = (fp is not None, fp)
        # every column but file_path is a function of the id
        if chunk_id not in owner or key < owner[chunk_id][0]:
            owner[chunk_id] = (key, src, rtype, dst)
    return [
        _chunk(
            chunk_id, "relation", src, None, fp, _concat_ws(" ", src, rtype, dst),
            None, False,
        )
        for chunk_id, ((_, fp), src, rtype, dst) in owner.items()
    ]


def memory_chunk(name: str, content: str | None, entity_type: str) -> dict:
    """The metadata chunk of a manual memory (``add_memory``): NULL
    file_path, no line numbers, and the name twice before the content
    as its BM25 text."""
    chunk_id = _concat_ws("::", "", entity_type, name, "metadata", md5_8(content))
    return _chunk(
        chunk_id, "metadata", name, entity_type, None, content,
        _concat_ws(" ", name, name, content), False,
    )
