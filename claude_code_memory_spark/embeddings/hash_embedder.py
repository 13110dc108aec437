"""Deterministic hash embedder — the test-mode dense embedder.

Reference pattern: DummyEmbedder (tests/conftest.py:243-296) seeds a PRNG
from the text hash and draws a unit vector, making every vector (and thus
every top-k result) exactly reproducible without network calls.

Cost optimization: the reference memo-caches embeddings per text
(registry.py:48-51). `api.index` embeds once per distinct content hash
and reuses the stored vector of content it already holds (J6).
"""

from __future__ import annotations

import hashlib

import numpy as np

DEFAULT_DIM = 64


def embed_vector(text: str, dim: int = DEFAULT_DIM) -> np.ndarray:
    """The float32 unit vector of ``text``."""
    seed = int.from_bytes(hashlib.sha256(text.encode("utf-8")).digest()[:8], "big")
    v = np.random.default_rng(seed).standard_normal(dim)
    v /= np.linalg.norm(v)
    return v.astype(np.float32)


def embed_text(text: str, dim: int = DEFAULT_DIM) -> list[float]:
    """Driver-side single-text embedding as a list (query vectors)."""
    return embed_vector(text, dim).tolist()
