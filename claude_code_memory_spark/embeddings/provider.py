"""Provider-embedder token-budget batching (UD2), network-free.

The reference ships HTTP embedders for OpenAI and Voyage
(embeddings/openai.py:16-290, embeddings/voyage.py:16-220). What is kept
here is their batch splitting (voyage.py:175-216): flush when the next
text would exceed the model's token limit OR the batch hits the
provider's text-count cap. The engine embeds with the local hash
embedder, so no entry point imports this module; it is listed in
``tests/test_import_graph.py::KNOWN_ORPHANS``.
"""

from __future__ import annotations

_ENCODER = None
_ENCODER_TRIED = False


def estimate_tokens(text: str) -> int:
    """Token count: tiktoken cl100k_base when available, else the
    reference's ``len(text) // 4`` character approximation
    (base.py:79-97). Always >= 1 so empty strings still occupy a slot."""
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
    return max(1, len(text) // 4)


def split_batches(
    texts: list[str],
    token_limit: int,
    text_count_limit: int,
    token_counts: list[int] | None = None,
) -> list[list[int]]:
    """Greedy token-budget batching; returns batches of INDICES into
    ``texts`` so callers can zip results back positionally.

    Semantics mirror voyage.py:194-216 exactly: a batch is flushed when
    appending the next text would exceed ``token_limit`` or the batch
    already holds ``text_count_limit`` texts; a single text larger than
    the whole token budget still forms its own singleton batch (the
    reference's ``and current_batch`` guard) — truncation, not splitting,
    handles oversized texts.
    """
    counts = token_counts if token_counts is not None else [estimate_tokens(t) for t in texts]
    batches: list[list[int]] = []
    current: list[int] = []
    current_tokens = 0
    for i, n_tok in enumerate(counts):
        if current and (current_tokens + n_tok > token_limit or len(current) >= text_count_limit):
            batches.append(current)
            current = []
            current_tokens = 0
        current.append(i)
        current_tokens += n_tok
    if current:
        batches.append(current)
    return batches
