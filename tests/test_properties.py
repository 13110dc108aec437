"""Property-based invariants for the pure algebra underlying operators:
generics stripping and the summarizer contract. Pure
functions only — hypothesis runs hundreds of examples in seconds with no
Spark session.

(The quantization error bound |x - x̂| <= step/2 is column algebra, not a
pure Python function — its bound is asserted over the real fixture in
test_similarity and oracle-checked by vector_quantization_error.)
"""

from __future__ import annotations

import pytest

hypothesis = pytest.importorskip("hypothesis")
from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

from claude_code_memory_spark.sources.javascript_parser import (  # noqa: E402
    _strip_decl_generics,
    mask_source,
)
from claude_code_memory_spark.sources.summarizer import (  # noqa: E402
    parse_response,
    validate_payload,
)

# --- generics stripper: total, idempotent-ish, structure-preserving ------


@given(st.text(max_size=400))
@settings(max_examples=300, deadline=None)
def test_strip_generics_total_and_never_grows(src):
    out = _strip_decl_generics(src)
    assert len(out) <= len(src)
    # never invents characters: output is a subsequence of the input
    it = iter(src)
    assert all(any(c == d for d in it) for c in out)


@given(st.text(alphabet="abc<>;&|() \n", max_size=200))
@settings(max_examples=300, deadline=None)
def test_strip_generics_preserves_statement_semicolons(src):
    # ';' is a stopper, so it is never inside a stripped run — count is
    # invariant. (Single & / | DO strip: they're TS intersection/union
    # types inside generics, e.g. Repo<A & B>; only && / || stop a run.)
    out = _strip_decl_generics(src)
    assert out.count(";") == src.count(";")


@given(st.text(max_size=400))
@settings(max_examples=200, deadline=None)
def test_mask_source_preserves_line_structure(src):
    masked = mask_source(src)
    assert len(masked) == len(src)
    assert masked.count("\n") == src.count("\n")


# --- summarizer contract: total, always schema-complete ------------------


@given(st.text(max_size=500))
@settings(max_examples=300, deadline=None)
def test_parse_response_total_and_schema_complete(content):
    out = parse_response(content)
    assert set(out) == {"summary", "key_insights", "topics", "code_patterns", "debugging_info"}
    assert isinstance(out["summary"], str)
    assert isinstance(out["topics"], list)


@given(
    st.dictionaries(
        st.text(max_size=20),
        st.one_of(st.text(max_size=50), st.integers(), st.lists(st.text(max_size=10), max_size=5), st.none()),
        max_size=8,
    )
)
@settings(max_examples=300, deadline=None)
def test_validate_payload_total_on_arbitrary_dicts(payload):
    out = validate_payload(payload)
    assert set(out) == {"summary", "key_insights", "topics", "code_patterns", "debugging_info"}


@given(st.text(max_size=500))
@settings(max_examples=300, deadline=None)
def test_guard_parse_judge_response_total(content):
    """Any judge output yields (bool, str, dict) — never raises (the
    fail-open contract, memory_guard.py:744-747)."""
    from claude_code_memory_spark.guard import parse_judge_response

    has, reason, raw = parse_judge_response(content)
    assert isinstance(has, bool) and isinstance(reason, str) and isinstance(raw, dict)


@given(st.text(max_size=400), st.sampled_from(["a.py", "b.ts", "c.jsx", ""]))
@settings(max_examples=300, deadline=None)
def test_guard_extract_entities_total_and_identifiers(code, path):
    import re

    from claude_code_memory_spark.guard import extract_entities

    names = extract_entities(code, path)
    assert len(names) == len(set(names))  # deduplicated
    for n in names:
        assert re.fullmatch(r"[A-Za-z_$][\w$]*", n), n


@given(st.text(max_size=300))
@settings(max_examples=300, deadline=None)
def test_guard_override_comment_total(code):
    from claude_code_memory_spark.guard import override_comment

    allowed, reason = override_comment(code)
    assert isinstance(allowed, bool) and isinstance(reason, str)
    if allowed:
        assert reason  # always a non-empty reason when the gate opens


# --- Misra-Gries: the cross-partition heavy-hitter guarantee -------------

from claude_code_memory_spark.operators.heavyhitters import (  # noqa: E402
    misra_gries_fold,
)


@given(
    stream=st.lists(st.integers(min_value=0, max_value=30), max_size=400),
    capacity=st.integers(min_value=1, max_value=10),
    n_parts=st.integers(min_value=1, max_value=7),
    data=st.data(),
)
@settings(max_examples=200, deadline=None)
def test_misra_gries_candidates_contain_all_heavy_hitters(
    stream, capacity, n_parts, data
):
    """For ANY split of the stream into partitions, the union of
    per-partition MG keys contains every item with global count
    > n/capacity — the guarantee heavy_hitters' exactness rests on."""
    # adversarial split: each element assigned to an arbitrary partition
    assignment = [
        data.draw(st.integers(min_value=0, max_value=n_parts - 1))
        for _ in stream
    ]
    parts: list[list[int]] = [[] for _ in range(n_parts)]
    for v, p in zip(stream, assignment):
        parts[p].append(v)
    candidates: set[int] = set()
    for part in parts:
        counters: dict[int, int] = {}
        misra_gries_fold(counters, part, capacity)
        candidates |= set(counters)
    n = len(stream)
    from collections import Counter

    for item, cnt in Counter(stream).items():
        if cnt * capacity > n:
            assert item in candidates, (item, cnt, n, capacity)


def test_misra_gries_state_bounded():
    counters: dict[int, int] = {}
    misra_gries_fold(counters, range(10_000), capacity=7)
    assert len(counters) <= 7


# --- Morton interleave: bijective over the declared bit range ------------

from claude_code_memory_spark.io import zorder_value  # noqa: E402


def _deinterleave(z: int, bits: int) -> tuple[int, int]:
    x = y = 0
    for i in range(bits):
        x |= ((z >> (2 * i)) & 1) << i
        y |= ((z >> (2 * i + 1)) & 1) << i
    return x, y


@given(
    x=st.integers(min_value=0, max_value=(1 << 16) - 1),
    y=st.integers(min_value=0, max_value=(1 << 16) - 1),
)
@settings(max_examples=300, deadline=None)
def test_zorder_interleave_is_bijective(x, y):
    z = zorder_value(x, y, 16)
    assert 0 <= z < (1 << 32)
    assert _deinterleave(z, 16) == (x, y)


from claude_code_memory_spark.io import zorder_value_n  # noqa: E402


def _deinterleave_n(z: int, n: int, bits: int) -> tuple:
    out = [0] * n
    for i in range(bits):
        for j in range(n):
            out[j] |= ((z >> (i * n + j)) & 1) << i
    return tuple(out)


@given(
    vals=st.lists(
        st.integers(min_value=0, max_value=(1 << 8) - 1), min_size=2, max_size=5
    ),
)
@settings(max_examples=300, deadline=None)
def test_zorder_n_interleave_is_bijective(vals):
    z = zorder_value_n(vals, 8)
    assert 0 <= z < (1 << (8 * len(vals)))
    assert _deinterleave_n(z, len(vals), 8) == tuple(vals)


def test_zorder_n_matches_2d_layout():
    # n=2 must agree with the dedicated 2-D interleave bit-for-bit
    from claude_code_memory_spark.io import zorder_value

    for x, y in [(0, 0), (1, 2), (255, 255), (170, 85)]:
        assert zorder_value_n([x, y], 8) == zorder_value(x, y, 8)


# --- KMV bottom-k sketches: the merge law is exact set algebra --------


@given(
    groups=st.lists(
        st.sets(st.integers(0, 500), min_size=0, max_size=60),
        min_size=1,
        max_size=6,
    ),
    k=st.integers(1, 32),
)
@settings(max_examples=200, deadline=None)
def test_kmv_merge_law_pure(groups, k):
    """bottom-k(union of per-group bottom-ks) == bottom-k(union of the
    raw sets) — the invariant operators/kmv.py::kmv_merge relies on
    (any globally-bottom-k hash is bottom-k within its own group)."""
    import hashlib

    def h(v):
        return hashlib.md5(str(v).encode()).hexdigest()

    per_group = [sorted(h(v) for v in g)[:k] for g in groups]
    merged = sorted({x for sk in per_group for x in sk})[:k]
    direct = sorted({h(v) for g in groups for v in g})[:k]
    assert merged == direct
