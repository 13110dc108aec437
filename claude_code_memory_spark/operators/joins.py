"""The reference's six join shapes: the relation check as plain Python
rules, the replacement diff as a DataFrame operator.

Reference semantics (SURVEY.md §2.3):
- J2 orphan relation cleanup      storage/qdrant.py:1937-2323  (endpoint + stale-import rules)
- J3 phantom call detection       storage/qdrant.py:2325-2381  (phantom rule)
- J4 pre-storage orphan filter    indexer.py:1132-1210         (endpoint rule)
- J5 entity replacement diff      processing/processors.py:64-153 (full outer join)
- J6 content-hash dedup probe     processing/content_processor.py:45-61 (set lookup, api.py)
- J7 smart relation filtering     storage/diff_layers.py:80-110 (scope of the check)

J2/J3/J4/J7 run once per ``index()``, on the driver, before any write.
The reference hand-rolls them with O(1) lookup dicts; at the entity
scale of one project the inputs are small, so the rules below are the
same dict and set lookups over rows collected as Python dicts
(``pyarrow.Table.to_pylist``). ``CodeMemoryEngine.index`` holds the
batch's rows, collects each stored input once and hands the result to
the writes.
"""

from __future__ import annotations

import re
import sys
from collections.abc import Iterable, Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# (from, to, type, file) identifies a relation row: a row that fails a
# rule is removed together with every row that shares its key
REL_KEY = ("from_entity", "to_entity", "relation_type", "file_path")


def rel_key(rel: Mapping) -> tuple:
    return tuple(rel[c] for c in REL_KEY)


def missing_endpoint(rel: Mapping, names: set) -> bool:
    """J2/J4 endpoint rule: an endpoint is not among the entity names.
    A NULL endpoint never matches. The check applies it to `calls` and
    `inherits` rows only; imports and `uses` keep external targets."""
    return any(rel[c] is None or rel[c] not in names for c in ("from_entity", "to_entity"))


def unresolved_call(rel: Mapping) -> bool:
    """A `calls` row that the phantom rule checks."""
    return rel["relation_type"] == "calls" and rel.get("import_type") != "resolved"


def phantom_call(rel: Mapping, impl: Mapping[str, list]) -> bool:
    """J3: an unresolved `calls` row whose callee does not appear as
    `callee(` in some implementation chunk named like the caller.
    ``impl`` maps an entity name to the contents of its chunks; a NULL
    content or callee never marks a row.

    Cross-file-RESOLVED calls are exempt: their to_entity is the
    DEFINING name, which by construction differs from the aliased name
    in the caller's source (`from m import f as g; g()` stores a call
    to f while the text says `g(`), and they were already validated
    against the import graph + entity universe — strictly stronger
    evidence than this textual heuristic (operators/resolve.py)."""
    callee = rel["to_entity"]
    if not unresolved_call(rel) or callee is None:
        return False
    needle = callee + "("
    return any(
        c is not None and needle not in c for c in impl.get(rel["from_entity"], ())
    )


# External-file extensions the reference whitelists as valid relation
# targets even when no entity exists for them (qdrant.py:2183-2213)
FILE_REFERENCE_EXTENSIONS = frozenset(
    "json csv txt xml yaml yml xlsx xls ini toml html css log md pdf doc docx "
    "png jpg jpeg gif svg bin dat".split()
)

# Source extensions stripped when building the module-basename index
_SOURCE_EXT = re.compile(r"\.(py|js|jsx|ts|tsx)$")
_LEADING_DOTS = re.compile(r"^\.+")
_STDLIB = frozenset(sys.stdlib_module_names)


def module_basename(path: str) -> str | None:
    """`a/b/c.py` → `c`; None for a name that is not a source file."""
    if not _SOURCE_EXT.search(path):
        return None
    return _SOURCE_EXT.sub("", path.split("/")[-1])


class ModuleIndex:
    """The reference's four O(1) lookup indices (qdrant.py:2044-2100)
    over the entity names: direct names, basenames (with paths),
    directory components and dotted module keys of the source files."""

    def __init__(self, names: set):
        self.names = names
        self.basenames: dict[str, list[str]] = {}
        self.dirs: set[str] = set()
        self.module_keys: set[str] = set()
        for path in names:
            base = module_basename(path)
            if base is None:
                continue
            self.basenames.setdefault(base, []).append(path)
            dirparts = path.split("/")[:-1]
            self.dirs.update(dirparts)
            # every dotted suffix of the dir path + basename: a/b/c.py →
            # {a.b.c, b.c} (qdrant.py:2072-2080)
            self.module_keys.update(
                ".".join(dirparts[i:] + [base]) for i in range(len(dirparts))
            )

    def stale_import(self, rel: Mapping) -> bool:
        """J2-imports: an `imports` row whose target resolves to no
        project module and is not external.

        The reference's resolve_module_name branches (storage/qdrant.py:
        2044-2143); a row survives if ANY branch resolves it. Additions
        over the reference: stdlib top-level modules are always
        whitelisted (`import os` must survive cleanup) alongside the
        reference's external-file-extension whitelist, and a bare name
        also resolves to a basename (the reference's bare-name branch is
        directory-only, qdrant.py:2135-2139, which would orphan
        `from helpers import x` in a flat project with helpers.py)."""
        target = rel["to_entity"]
        if rel["relation_type"] != "imports" or target is None:
            return False
        clean = _LEADING_DOTS.sub("", target)
        segs = clean.split(".")
        if segs[0] in _STDLIB or (
            "." in target and target.split(".")[-1].lower() in FILE_REFERENCE_EXTENSIONS
        ):
            return False
        relative, dotted = target.startswith("."), len(segs) > 1
        if target in self.names:
            return False
        if relative:
            if clean in self.basenames:
                return False
            # relative dotted: the last segment is a known basename AND
            # the slash form of the cleaned name is in that file's path
            slashed = clean.replace(".", "/")
            return not (
                dotted
                and rel["from_entity"] is not None
                and any(slashed in p for p in self.basenames.get(segs[-1], ()))
            )
        if dotted:
            return not (clean in self.module_keys or segs[-1] in self.basenames)
        return not (clean in self.dirs or clean in self.basenames)


def relations_in_scope(
    batch: list[dict], stored: Iterable[dict], changed: set
) -> list[dict]:
    """J7: the rows the check reads — every batch row, plus the stored
    rows of untouched files that touch a changed entity name (either
    endpoint) or import a module whose last segment is the basename of a
    changed file (a renamed module's importers name the module, not the
    file). ``changed`` holds the batch's names and the replaced files'
    old names."""
    bases = {b for b in map(module_basename, changed) if b is not None}

    def touches(rel: Mapping) -> bool:
        if rel["from_entity"] in changed or rel["to_entity"] in changed:
            return True
        return (
            rel["relation_type"] == "imports"
            and rel["to_entity"] is not None
            and _LEADING_DOTS.sub("", rel["to_entity"]).split(".")[-1] in bases
        )

    return batch + [r for r in stored if touches(r)]


def invalid_relation_keys(
    rows: Iterable[dict], names: set, impl: Mapping[str, list]
) -> set[tuple]:
    """J2/J3/J4: the keys of ``rows`` that fail the endpoint, phantom or
    stale-import rule against the final entity ``names`` and the
    implementation contents ``impl`` of the checked callers."""
    index = ModuleIndex(names)
    return {
        rel_key(r)
        for r in rows
        if (r["relation_type"] in ("calls", "inherits") and missing_endpoint(r, names))
        or phantom_call(r, impl)
        or index.stale_import(r)
    }


def replacement_diff(
    stored: DataFrame,
    parsed: DataFrame,
    *,
    keys: tuple[str, ...] = ("file_path", "entity_name"),
    hash_col: str = "content_hash",
) -> DataFrame:
    """J5: full-outer diff of stored vs freshly-parsed entities.

    Classifies every key as added / deleted / changed / unchanged — the
    DiffSketch of reference storage/diff_layers.py:31-77."""
    s = stored.select(*keys, F.col(hash_col).alias("__old_hash"))
    p = parsed.select(*keys, F.col(hash_col).alias("__new_hash"))
    joined = s.join(p, on=list(keys), how="full_outer")
    status = (
        F.when(F.col("__old_hash").isNull(), F.lit("added"))
        .when(F.col("__new_hash").isNull(), F.lit("deleted"))
        .when(F.col("__old_hash") != F.col("__new_hash"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return joined.select(*keys, status.alias("status"))
