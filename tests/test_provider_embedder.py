"""Provider-embedder token-budget batching (UD2), verified against the
reference's documented behavior (voyage.py:175-216) — no network.
"""

from __future__ import annotations

from claude_code_memory_spark.embeddings.provider import estimate_tokens, split_batches

# --- batch splitting ------------------------------------------------------


def test_split_respects_token_limit():
    # counts chosen so exactly two fit per 100-token batch
    counts = [40, 40, 40, 40, 40]
    batches = split_batches(["x"] * 5, 100, 1000, token_counts=counts)
    assert batches == [[0, 1], [2, 3], [4]]


def test_split_respects_text_count_limit():
    batches = split_batches(["x"] * 7, 10**9, 3, token_counts=[1] * 7)
    assert batches == [[0, 1, 2], [3, 4, 5], [6]]


def test_oversized_text_forms_singleton_batch():
    # reference's `and current_batch` guard: an over-budget text is not
    # dropped, it ships alone (truncation elsewhere bounds its size)
    counts = [10, 500, 10]
    batches = split_batches(["x"] * 3, 100, 1000, token_counts=counts)
    assert batches == [[0], [1], [2]]


def test_split_boundary_exact_fit_does_not_flush():
    # filling the budget exactly keeps the batch; only EXCEEDING it flushes
    assert split_batches(["x"] * 2, 100, 1000, token_counts=[50, 50]) == [[0, 1]]
    assert split_batches(["x"] * 3, 100, 1000, token_counts=[50, 50, 1]) == [[0, 1], [2]]


def test_empty_input():
    assert split_batches([], 100, 10) == []


# --- token estimation -----------------------------------------------------


def test_estimate_tokens_positive_and_monotonicish():
    assert estimate_tokens("") >= 1
    short, long = estimate_tokens("hello"), estimate_tokens("hello " * 500)
    assert long > short
