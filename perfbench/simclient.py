"""Seeded simulated chat-model client for the ``llm_curate`` workload.

The client stands in for a network chat model behind the engine's
``LLMClient`` protocol.  Every call's behaviour — its latency, whether it
fails and how, and whether a good answer arrives as parsed structured
output or as malformed raw JSON text — is a pure function of
``(seed, request key, attempt)``:

- the request key is the SHA-256 of the prompt.  A prompt is built from one
  url's document, so the key identifies the url; a model sees nothing else;
- ``attempt`` counts earlier calls with the same key on this client object,
  so a caller that retries gets a fresh draw on the next attempt while the
  first attempt's outcome never changes.

The answer itself is the offline rule extractor's (``MarkdownRuleExtractor``),
so a successful extraction must equal the rule extractor's result.  Waiting
is ``time.sleep``: it uses no CPU, like a real network call.
"""

from __future__ import annotations

import hashlib
import json
import math
import statistics
import time
from dataclasses import dataclass
from typing import Callable

from extractor_spark.engine.extract_llm import LLMClient, LLMResponse, MarkdownRuleExtractor


class SimTransientError(ConnectionError):
    """Injected transient fault (a dropped connection; a retry may succeed)."""


class SimRateLimitError(RuntimeError):
    """Injected rate-limit reply (HTTP 429 style; a later retry may succeed)."""


class SimTimeoutError(TimeoutError):
    """Injected timeout: the call waits ``TIMEOUT_FACTOR`` medians, then fails."""


class SimPermanentError(ValueError):
    """Injected permanent fault (a rejected request; retrying cannot help)."""


FAULT_ERRORS = {
    "transient": SimTransientError,
    "rate_limit": SimRateLimitError,
    "timeout": SimTimeoutError,
    "permanent": SimPermanentError,
}

# Share of calls per outcome kind; "ok" takes the remainder.  "raw" is a
# success delivered as malformed JSON text that the engine's json_repair
# must fix.
SHARES = {
    "raw": 0.15,
    "transient": 0.04,
    "rate_limit": 0.03,
    "timeout": 0.02,
    "permanent": 0.02,
}
MEDIAN_LATENCY_S = 0.2
LATENCY_SIGMA = 0.25  # log-normal shape: p99 ≈ 1.8 × median
TIMEOUT_FACTOR = 4.0
FAST_FAULT_S = {"rate_limit": 0.02, "permanent": 0.05}

# malformations json_repair undoes exactly (checked by the client's tests)
RAW_VARIANTS = ("fence", "trailing_commas", "unquoted_keys", "truncated")


@dataclass(frozen=True)
class Outcome:
    kind: str  # "ok", "raw", or a FAULT_ERRORS key
    latency_s: float
    variant: str | None = None  # RAW_VARIANTS member for kind == "raw"


def request_key(prompt: str) -> str:
    return hashlib.sha256(prompt.encode("utf-8")).hexdigest()


def _uniform(seed: int, key: str, attempt: int, salt: str) -> float:
    digest = hashlib.sha256(f"{seed}:{key}:{attempt}:{salt}".encode()).digest()
    return (int.from_bytes(digest[:8], "big") + 0.5) / 2**64


def outcome(seed: int, key: str, attempt: int) -> Outcome:
    """The outcome of call ``attempt`` (0-based) for request ``key``."""
    u = _uniform(seed, key, attempt, "kind")
    kind = "ok"
    acc = 0.0
    for name, share in SHARES.items():
        acc += share
        if u < acc:
            kind = name
            break
    if kind in FAST_FAULT_S:
        return Outcome(kind, FAST_FAULT_S[kind])
    if kind == "timeout":
        return Outcome(kind, TIMEOUT_FACTOR * MEDIAN_LATENCY_S)
    z = statistics.NormalDist().inv_cdf(_uniform(seed, key, attempt, "latency"))
    latency = MEDIAN_LATENCY_S * math.exp(LATENCY_SIGMA * z)
    variant = None
    if kind == "raw":
        pick = int(_uniform(seed, key, attempt, "variant") * len(RAW_VARIANTS))
        variant = RAW_VARIANTS[pick]
    return Outcome(kind, latency, variant)


def _dump(value, trailing: bool, bare_keys: bool) -> str:
    if isinstance(value, dict):
        items = [
            (k if bare_keys and k.isidentifier() else json.dumps(k)) + ": " + _dump(v, trailing, bare_keys)
            for k, v in value.items()
        ]
        return "{" + ", ".join(items) + ("," if trailing and items else "") + "}"
    if isinstance(value, list):
        items = [_dump(v, trailing, bare_keys) for v in value]
        return "[" + ", ".join(items) + ("," if trailing and items else "") + "]"
    return json.dumps(value, ensure_ascii=False)


def malformed_json(data, variant: str) -> str:
    """``data`` as raw JSON text damaged the way chat models damage it."""
    if variant == "fence":
        return "```json\n" + json.dumps(data, ensure_ascii=False, indent=2) + "\n```"
    if variant == "trailing_commas":
        return _dump(data, trailing=True, bare_keys=False)
    if variant == "unquoted_keys":
        return _dump(data, trailing=False, bare_keys=True)
    if variant == "truncated":
        text = json.dumps(data, ensure_ascii=False)
        return text[:-1] if text.endswith("}") else text
    raise ValueError(f"unknown raw variant {variant!r}")


class SimChatClient(LLMClient):
    """Seeded simulated chat model (see the module docstring)."""

    def __init__(self, seed: int, sleep: Callable[[float], None] = time.sleep) -> None:
        self.seed = seed
        self._sleep = sleep
        self._rules = MarkdownRuleExtractor()
        self._attempts: dict[str, int] = {}

    def invoke(self, prompt: str, llm_schema: dict) -> LLMResponse:
        key = request_key(prompt)
        attempt = self._attempts.get(key, 0)
        self._attempts[key] = attempt + 1
        out = outcome(self.seed, key, attempt)
        self._sleep(out.latency_s)
        if out.kind in FAULT_ERRORS:
            raise FAULT_ERRORS[out.kind](f"simulated {out.kind} (attempt {attempt})")
        answer = self._rules.invoke(prompt, llm_schema)
        if out.kind == "raw":
            return LLMResponse(
                raw_content=malformed_json(answer.parsed, out.variant), usage=answer.usage
            )
        return answer
