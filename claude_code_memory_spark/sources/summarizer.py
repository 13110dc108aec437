"""LLM conversation summarizer (UD7) — full plumbing, pluggable transport.

The reference's ChatSummarizer (chat/summarizer.py:55-404) wraps a chat
completion call with the logic that actually matters for correctness:

- a JSON-contract prompt (:244-264: summary / key_insights / topics /
  code_patterns / debugging_info);
- exponential-backoff retry around the call (:266-311);
- JSON parsing with a plain-text fallback that degrades to a truncated
  ``summary`` rather than failing (:289-303);
- schema validation/coercion of the parsed payload (:313-334);
- keyword categorization over summary+topics+insights (:336-354) and an
  error path that still emits a minimal result (:208-228).

All of that is implemented here against ``transport(prompt) -> str`` —
the single network-touching seam. A deployment passes an OpenAI/HTTP
wrapper; tests and this container pass a deterministic fake. The Spark
stage is ``summarize_conversations``: a scalar-iterator pandas UDF that
builds the transport once per executor worker and emits a typed struct
column, so summaries join back to conversations without any driver-side
loop (the reference's batch_summarize :380-404 is a driver-side for-loop;
here the cluster does N conversations in parallel).
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field

import pandas as pd

from claude_code_memory_spark.sources.chat import CATEGORY_KEYWORDS

Transport = Callable[[str], str]

# Parsed-payload contract (summarizer.py:244-264's JSON shape). Each field:
# (validator, coercion-to-default). Unknown keys are dropped; known keys of
# the wrong type are coerced, mirroring .get(..., default) at :313-320.
_STR = (lambda v: isinstance(v, str), "")
_LIST = (lambda v: isinstance(v, list) and all(isinstance(x, str) for x in v), [])
_DICT = (lambda v: isinstance(v, dict), {})
SCHEMA: dict[str, tuple] = {
    "summary": _STR,
    "key_insights": _LIST,
    "topics": _LIST,
    "code_patterns": _LIST,
    "debugging_info": _DICT,
}

PROMPT_TEMPLATE = """Analyze this coding conversation and provide:

1. A concise summary (2-3 sentences) of what was accomplished
2. Key insights or solutions discovered
3. Main topics discussed
4. Code patterns or techniques used
5. Any debugging information or error resolution

Conversation:
{conversation}

Respond in JSON format:
{{
    "summary": "Brief summary of the conversation",
    "key_insights": ["insight1", "insight2"],
    "topics": ["topic1", "topic2"],
    "code_patterns": ["pattern1", "pattern2"],
    "debugging_info": {{"issue": "description", "solution": "fix"}}
}}"""


def validate_payload(payload: dict) -> dict:
    """Coerce a parsed response onto SCHEMA: required keys present, typed;
    extra keys dropped. Never raises — the reference treats a malformed
    field as absent (:313-320)."""
    out = {}
    for key, (check, default) in SCHEMA.items():
        v = payload.get(key)
        out[key] = v if check(v) else default
    return out


def parse_response(content: str) -> dict:
    """JSON parse with the reference's plain-text fallback (:289-303):
    non-JSON content becomes a truncated summary, not an error. Also
    tolerates JSON wrapped in markdown fences, which chat models emit."""
    text = content.strip()
    if text.startswith("```"):
        text = text.strip("`")
        if text.startswith("json"):
            text = text[4:]
    try:
        payload = json.loads(text)
        if not isinstance(payload, dict):
            raise json.JSONDecodeError("not an object", text, 0)
    except json.JSONDecodeError:
        payload = {"summary": content[:500]}
    return validate_payload(payload)


def categorize_text(summary: str, topics: list[str], insights: list[str]) -> str:
    """Keyword-scored categorization (:336-354) over the same taxonomy the
    batch `categorize` stage uses, so LLM-path and stub-path categories
    agree. Ties break alphabetically; no hits → implementation (the
    reference's implementation_pattern default)."""
    text = f"{summary} {' '.join(topics)} {' '.join(insights)}".lower()
    scores = {
        cat: sum(1 for kw in kws if kw in text) for cat, kws in CATEGORY_KEYWORDS.items()
    }
    best = max(sorted(scores), key=lambda c: scores[c])
    return best if scores[best] > 0 else "implementation"


@dataclass
class Summarizer:
    """Retry + parse + validate around a pluggable transport."""

    transport: Transport
    max_retries: int = 3
    base_delay: float = 1.0
    sleep: Callable[[float], None] = time.sleep

    calls: int = field(default=0, init=False)

    def _call_with_retry(self, prompt: str) -> str:
        """summarizer.py:266-311 — retry every failure (the reference
        retries unconditionally here, unlike the embedder's
        transient-only policy), exponential delay, raise after the last
        attempt."""
        last: Exception | None = None
        for attempt in range(self.max_retries):
            try:
                self.calls += 1
                return self.transport(prompt)
            except Exception as exc:  # noqa: BLE001
                last = exc
                if attempt < self.max_retries - 1:
                    self.sleep(self.base_delay * (2**attempt))
        assert last is not None
        raise last

    def summarize(self, conversation_text: str) -> dict:
        """One conversation → validated summary dict + derived category.
        The error path emits a minimal-but-valid result (:218-228) so a
        single provider outage doesn't poison a batch."""
        prompt = PROMPT_TEMPLATE.format(conversation=conversation_text)
        try:
            payload = parse_response(self._call_with_retry(prompt))
        except Exception as exc:  # noqa: BLE001
            payload = validate_payload(
                {"summary": f"Error summarizing conversation: {exc}"}
            )
            payload["debugging_info"] = {"error": str(exc)}
        payload["category"] = categorize_text(
            payload["summary"], payload["topics"], payload["key_insights"]
        )
        return payload


SUMMARY_STRUCT = (
    "struct<summary:string, key_insights:array<string>, topics:array<string>, "
    "code_patterns:array<string>, debugging_info:map<string,string>, category:string>"
)


def summarize_conversations(
    convs,
    transport_factory: Callable[[], Transport],
    *,
    text_col: str = "full_text",
    max_retries: int = 3,
):
    """Spark stage: conversations + transport → `llm_summary` struct column.

    Arrow-batched scalar-iterator UDF; the transport (HTTP client in a
    real deployment) is constructed once per Python worker. Each row is an
    independent provider call, so the stage parallelizes to however many
    workers the conversation partitioning gives — no driver loop, no
    collect.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("summary", T.StringType()),
            T.StructField("key_insights", T.ArrayType(T.StringType())),
            T.StructField("topics", T.ArrayType(T.StringType())),
            T.StructField("code_patterns", T.ArrayType(T.StringType())),
            T.StructField("debugging_info", T.MapType(T.StringType(), T.StringType())),
            T.StructField("category", T.StringType()),
        ]
    )

    @F.pandas_udf(schema)
    def run(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        s = Summarizer(
            transport=transport_factory(), max_retries=max_retries, sleep=time.sleep
        )
        for series in batches:
            rows = []
            for text in series:
                if text is None:
                    rows.append(
                        {k: None for k in
                         ("summary", "key_insights", "topics", "code_patterns",
                          "debugging_info", "category")}
                    )
                    continue
                r = s.summarize(text)
                r["debugging_info"] = {
                    str(k): str(v) for k, v in r["debugging_info"].items()
                }
                rows.append(r)
            yield pd.DataFrame(rows)

    return convs.withColumn("llm_summary", run(F.col(text_col)))


def fake_transport() -> Transport:
    """Deterministic no-network transport: echoes a valid JSON payload
    derived from the conversation text (first line as summary, token
    histogram as topics). Lets the entire UD7 path — prompt, retry,
    parse, validate, categorize, Spark struct — run end-to-end in tests
    and no-credential environments."""

    def transport(prompt: str) -> str:
        convo = prompt.split("Conversation:\n", 1)[-1].split("\n\nRespond in JSON", 1)[0]
        first = convo.strip().splitlines()[0][:200] if convo.strip() else ""
        words = [w.lower().strip(".,!?") for w in convo.split()]
        topics = sorted({w for w in words if len(w) > 7})[:3]
        return json.dumps(
            {
                "summary": first,
                "key_insights": [],
                "topics": topics,
                "code_patterns": [],
                "debugging_info": {},
            }
        )

    return transport


def http_transport(
    model: str = "gpt-4o-mini",
    *,
    api_key: str | None = None,
    base_url: str | None = None,
    timeout: float = 120.0,
) -> Transport:
    """Real chat-completions transport over stdlib ``urllib`` — closes
    UD7's functional-parity gap with the reference's OpenAI-backed
    summarizer (chat/summarizer.py:55-404). Public API shape: POST
    {base}/chat/completions with ``{"model", "messages"}``, Bearer auth,
    answer at ``choices[0].message.content``.

    Env-gated: needs ``OPENAI_API_KEY`` (or
    an explicit key) at construction, optional ``SUMMARIZER_BASE_URL``
    for OpenAI-compatible endpoints; no-credential environments use
    ``fake_transport``. Failures raise with status codes / the words
    "timeout"/"connection" in the message so the Summarizer retry loop
    (and a shared RetryPolicy) can classify them."""
    import os
    import urllib.error
    import urllib.request

    key = api_key or os.environ.get("OPENAI_API_KEY")
    if not key:
        raise RuntimeError(
            "http_transport needs an API key (arg or OPENAI_API_KEY); use "
            "fake_transport() in no-credential environments"
        )
    base = base_url or os.environ.get("SUMMARIZER_BASE_URL") or "https://api.openai.com/v1"

    def transport(prompt: str) -> str:
        req = urllib.request.Request(
            f"{base.rstrip('/')}/chat/completions",
            data=json.dumps(
                {"model": model, "messages": [{"role": "user", "content": prompt}]}
            ).encode(),
            headers={
                "Authorization": f"Bearer {key}",
                "Content-Type": "application/json",
            },
            method="POST",
        )
        try:
            with urllib.request.urlopen(req, timeout=timeout) as resp:
                payload = json.loads(resp.read().decode())
        except urllib.error.HTTPError as exc:
            raise RuntimeError(f"summarizer request failed: HTTP {exc.code}") from exc
        except urllib.error.URLError as exc:
            raise RuntimeError(f"summarizer connection error: {exc.reason}") from exc
        except TimeoutError as exc:
            raise RuntimeError("summarizer request timeout") from exc
        return payload["choices"][0]["message"]["content"]

    return transport


def failing_transport() -> Transport:
    """Transport whose every call raises — exercises the full error path
    (retry exhaustion → sentinel summary → caller-side non-adoption) the
    same way a provider outage would."""

    def transport(prompt: str) -> str:
        raise RuntimeError("provider unavailable")

    return transport


def env_transport() -> Transport | None:
    """`http_transport()` when OPENAI_API_KEY is present, else None —
    callers degrade to their keyword stub (api.index_chat, CLI report)."""
    import os

    return http_transport() if os.environ.get("OPENAI_API_KEY") else None
