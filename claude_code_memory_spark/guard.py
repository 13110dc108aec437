"""UD8: Memory Guard — a pre-write quality gate over the memory index.

Reference semantics (utils/memory_guard.py): a PreToolUse hook on
Write/Edit/MultiEdit that extracts the entity names being defined,
searches the memory collection for existing implementations, asks an
LLM judge whether the new code duplicates them, and approves or blocks
with a reason. Bypass via ``@allow-duplicate`` override comments; doc/
config files and entity-free (trivial) edits skip the gate.

Spark-first split: the duplicate-candidate search runs through
`CodeMemoryEngine.search` (the same distributed keyword/hybrid top-k
the MCP surface serves, :732-801 parity); only the judge call is
driver-side. The judge is a pluggable transport exactly like the UD7
summarizer — `fake_transport` makes the
whole gate deterministic and network-free (the reference's subprocess
`claude -p` call is the env-gated production transport;
`summarizer.http_transport` slots in for OpenAI-compatible judges).

Response contract (memory_guard.py:674-747): a JSON object
``{"hasIssues": bool, "issueType": "duplication|logic|flow|feature",
"reason": str, "suggestion": str}``, optionally wrapped in a markdown
``json fence; non-JSON output fails open (approve) with the raw text
as the reason, matching the reference's JSONDecodeError branch.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable
from typing import Any

Transport = Callable[[str], str]

GUARDED_TOOLS = ("Write", "Edit", "MultiEdit")
SKIP_EXTENSIONS = {".md", ".txt", ".json", ".yml", ".yaml", ".rst", ".xml", ".ini"}

_PY_DEF = re.compile(
    r"^\s*(?:async\s+)?def\s+([a-zA-Z_][a-zA-Z0-9_]*)\s*\(", re.MULTILINE
)
_PY_CLASS = re.compile(r"^\s*class\s+([a-zA-Z_][a-zA-Z0-9_]*)", re.MULTILINE)
_JS_FUNC = re.compile(r"\bfunction\s*\*?\s+([A-Za-z_$][\w$]*)\s*\(")
_JS_CLASS = re.compile(r"\bclass\s+([A-Za-z_$][\w$]*)")
# const/let/var NAME = [async] (args) => …  |  single-param arrows
_JS_ARROW = re.compile(
    r"\b(?:const|let|var)\s+([A-Za-z_$][\w$]*)\s*=\s*(?:async\s*)?"
    r"(?:\([^)\n]*\)|[A-Za-z_$][\w$]*)\s*=>"
)
_OVERRIDE = re.compile(
    r"(?:#|//)\s*@allow-duplicate(?:\s*:\s*(.+))?"
    r"|/\*\s*@allow-duplicate(?:\s*:\s*(.+))?\s*\*/"
    r"|(?:#|//)\s*MEMORY_GUARD_ALLOW(?:\s*:\s*(.+))?",
    re.IGNORECASE,
)


def new_code_of(tool_name: str, tool_input: dict[str, Any]) -> str:
    """The code being ADDED by the operation (memory_guard.py:434-477)."""
    if tool_name == "Write":
        return tool_input.get("content", "") or ""
    if tool_name == "Edit":
        return tool_input.get("new_string", "") or ""
    if tool_name == "MultiEdit":
        return "\n".join(
            (e.get("new_string", "") or "") for e in tool_input.get("edits", [])
        )
    return ""


def extract_entities(code: str, file_path: str = "") -> list[str]:
    """Function/class names defined in the new code (EntityExtractor
    :90-130, extended with the JS patterns the reference's parsers
    cover). Order-preserving, deduplicated."""
    pats = (
        [_JS_FUNC, _JS_ARROW, _JS_CLASS]
        if re.search(r"\.(js|jsx|ts|tsx|mjs)$", file_path or "")
        else [_PY_DEF, _PY_CLASS]
    )
    seen: dict[str, None] = {}
    for p in pats:
        for m in p.finditer(code):
            seen.setdefault(m.group(1))
    return list(seen)


def override_comment(code: str) -> tuple[bool, str]:
    """@allow-duplicate / MEMORY_GUARD_ALLOW escape hatch (:404-423)."""
    m = _OVERRIDE.search(code)
    if not m:
        return False, ""
    reason = next((g for g in m.groups() if g), "Override comment detected")
    return True, reason.strip()


def should_process(hook_data: dict[str, Any], project_root: str | None) -> tuple[bool, str]:
    """Gate relevance (:350-402): PreToolUse on Write/Edit/MultiEdit,
    not a doc/config file, inside the project root."""
    if hook_data.get("hook_event_name", "PreToolUse") != "PreToolUse":
        return False, "Not a relevant operation"
    if hook_data.get("tool_name") not in GUARDED_TOOLS:
        return False, "Not a relevant operation"
    file_path = (hook_data.get("tool_input") or {}).get("file_path", "")
    if file_path:
        ext = "." + file_path.rsplit(".", 1)[-1].lower() if "." in file_path else ""
        if ext in SKIP_EXTENSIONS:
            return False, f"Skipping {ext} file"
    if not file_path or not project_root:
        return False, "Outside project - no duplicate checking"
    import os

    fp = os.path.abspath(file_path)
    root = os.path.abspath(project_root)
    if not (fp == root or fp.startswith(root.rstrip("/") + "/")):
        return False, "Outside project - no duplicate checking"
    return True, ""


def build_prompt(entities: list[str], code: str, matches: list[dict]) -> str:
    """Judge prompt (:479-592 shape): new entities + the memory
    collection's closest existing implementations."""
    lines = [
        "You are a code-quality gate. New code defines these entities:",
        ", ".join(entities) or "(none)",
        "",
        "Existing memory-collection matches:",
    ]
    for m in matches:
        lines.append(
            f"- {m.get('entity_name')} ({m.get('file_path')}:{m.get('line_number')}) "
            f"score={m.get('score')}"
        )
    if not matches:
        lines.append("- (no matches)")
    lines += [
        "",
        "New code:",
        "```",
        code[:4000],
        "```",
        "",
        'Reply with JSON only: {"hasIssues": bool, "issueType":',
        '"duplication|logic|flow|feature", "reason": str, "suggestion": str}',
    ]
    return "\n".join(lines)


def parse_judge_response(stdout: str) -> tuple[bool, str, dict[str, Any]]:
    """(has_issues, reason, raw) — markdown-fenced JSON unwrapped,
    non-JSON fails open with the raw text (:674-747)."""
    text = (stdout or "").strip()
    if "```json" in text:
        start = text.find("```json") + 7
        end = text.find("```", start)
        text = text[start : end if end > start else None].strip()
    try:
        resp = json.loads(text)
    except json.JSONDecodeError:
        return False, f"non-JSON judge response: {stdout[:300]}", {}
    if not isinstance(resp, dict):
        return False, f"non-object judge response: {stdout[:300]}", {}
    if resp.get("hasIssues"):
        issue = resp.get("issueType", "unknown")
        reason = f"CODE QUALITY ISSUE ({issue}): {resp.get('reason', '')}"
        if resp.get("suggestion"):
            reason += f" | SUGGESTION: {resp['suggestion']}"
        return True, reason, resp
    return False, resp.get("reason", ""), resp


class MemoryGuard:
    """The hook: wire an engine (search surface) + judge transport.

    ``process_hook`` returns the reference's decision dict:
    ``{"decision": "approve"|"block", "reason": str}`` plus
    ``suppressOutput``. No transport → the gate approves entity-bearing
    writes with a "no judge configured" reason (fail-open, like the
    reference when the CLI is unavailable)."""

    def __init__(self, engine, project_root: str, transport: Transport | None = None, k: int = 5):
        self.engine = engine
        self.project_root = project_root
        self.transport = transport
        self.k = k

    def _matches(self, entities: list[str]) -> list[dict]:
        out: list[dict] = []
        for name in entities[:8]:  # bounded judge context
            try:
                rows = self.engine.search(name, mode="keyword", k=self.k).collect()
            except Exception:  # un-searchable collection → no candidates
                continue
            out.extend(r.asDict() for r in rows)
        return out

    def process_hook(self, hook_data: dict[str, Any]) -> dict[str, Any]:
        ok, why = should_process(hook_data, self.project_root)
        if not ok:
            return {"decision": "approve", "reason": why, "suppressOutput": True}
        tool = hook_data["tool_name"]
        tool_input = hook_data.get("tool_input") or {}
        code = new_code_of(tool, tool_input)
        allowed, why = override_comment(code)
        if allowed:
            return {"decision": "approve", "reason": f"override: {why}", "suppressOutput": False}
        entities = extract_entities(code, tool_input.get("file_path", ""))
        if not entities:
            return {"decision": "approve", "reason": "trivial: no new definitions",
                    "suppressOutput": True}
        matches = self._matches(entities)
        if self.transport is None:
            return {"decision": "approve",
                    "reason": f"no judge configured ({len(matches)} candidate matches)",
                    "suppressOutput": False}
        try:
            raw = self.transport(build_prompt(entities, code, matches))
        except Exception as exc:  # transport failure fails open (:593-672)
            return {"decision": "approve", "reason": f"judge unavailable: {exc}",
                    "suppressOutput": False}
        has_issues, reason, _ = parse_judge_response(raw)
        return {"decision": "block" if has_issues else "approve",
                "reason": reason, "suppressOutput": False}


def fake_judge_transport(block_names: tuple[str, ...] = ()) -> Transport:
    """Deterministic judge: blocks iff the prompt mentions one of
    ``block_names`` as a new entity; otherwise approves. Lets tests
    drive both branches network-free."""

    def transport(prompt: str) -> str:
        first = prompt.splitlines()[1] if "\n" in prompt else ""
        hit = next((n for n in block_names if n in first), None)
        if hit:
            return json.dumps(
                {"hasIssues": True, "issueType": "duplication",
                 "reason": f"{hit} already exists in the collection",
                 "suggestion": f"reuse {hit}"}
            )
        return json.dumps({"hasIssues": False, "reason": "no duplication found"})

    return transport
