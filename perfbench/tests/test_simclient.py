"""Tests of the benchmark's simulated chat client (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import statistics

import pytest

from extractor_spark.engine.extract_llm import (
    MarkdownRuleExtractor,
    extract_with_llm,
    generate_extraction_prompt,
)
from extractor_spark.engine.jsonfix import json_repair

from perfbench import simclient
from perfbench.workloads import SCHEMA

KEYS = [f"key-{i}" for i in range(2000)]
PROMPT = (
    "Extract.\n\nFormat: markdown\n---\nTitle One\n=========\n\nFirst paragraph with "
    "[a link](https://example.com/a) and #tag words.\n------\n"
)


def test_same_seed_same_outcomes():
    for key in KEYS[:200]:
        for attempt in range(3):
            assert simclient.outcome(7, key, attempt) == simclient.outcome(7, key, attempt)


def test_seed_changes_outcomes():
    a = [simclient.outcome(1, k, 0) for k in KEYS[:200]]
    b = [simclient.outcome(2, k, 0) for k in KEYS[:200]]
    assert a != b


def test_shares_and_latency_median():
    outcomes = [simclient.outcome(3, k, 0) for k in KEYS]
    for kind, share in simclient.SHARES.items():
        seen = sum(o.kind == kind for o in outcomes) / len(outcomes)
        assert abs(seen - share) < 0.02, (kind, seen)
    waits = [o.latency_s for o in outcomes if o.kind in ("ok", "raw")]
    assert abs(statistics.median(waits) - simclient.MEDIAN_LATENCY_S) < 0.02


def test_a_retry_gets_a_fresh_draw():
    """Each attempt is its own draw, so some first-attempt faults succeed on
    a later attempt (what a retrying caller relies on)."""
    faulted = [k for k in KEYS if simclient.outcome(5, k, 0).kind in simclient.FAULT_ERRORS]
    assert faulted
    assert any(simclient.outcome(5, k, 1).kind in ("ok", "raw") for k in faulted)


def test_client_replays_identically():
    def calls(client):
        out = []
        for _ in range(3):  # three attempts at the same prompt
            try:
                response = client.invoke(PROMPT, {"type": "object", "properties": {}})
                out.append(("ok", response.parsed, response.raw_content))
            except Exception as exc:
                out.append((type(exc).__name__, str(exc), None))
        return out

    waits_a: list[float] = []
    waits_b: list[float] = []
    a = calls(simclient.SimChatClient(11, sleep=waits_a.append))
    b = calls(simclient.SimChatClient(11, sleep=waits_b.append))
    assert a == b and waits_a == waits_b
    key = simclient.request_key(PROMPT)
    assert waits_a == [simclient.outcome(11, key, i).latency_s for i in range(3)]


@pytest.mark.parametrize("variant", simclient.RAW_VARIANTS)
def test_repaired_raw_reply_equals_parsed_reply(variant):
    samples = [
        {"title": "A \"quoted\" title, with commas", "summary": "x: {y} [z]", "tags": ["a", "b"]},
        {"links": ["https://example.com/p?q=1&r=(2)"], "tags": []},
        {"summary": "unicode — ‘quotes’ and \\ backslash"},
        {},
    ]
    for data in samples:
        raw = simclient.malformed_json(data, variant)
        assert json.loads(json_repair(raw)) == data


def test_every_fault_class_raises_and_raw_replies_extract_like_the_rules():
    rules = MarkdownRuleExtractor()
    expected = extract_with_llm(PROMPT, SCHEMA, rules)
    key = simclient.request_key(generate_extraction_prompt("markdown", PROMPT, None, None))
    kinds_seen = set()
    for seed in range(400):
        out = simclient.outcome(seed, key, 0)
        client = simclient.SimChatClient(seed, sleep=lambda _s: None)
        if out.kind in simclient.FAULT_ERRORS:
            with pytest.raises(simclient.FAULT_ERRORS[out.kind]):
                extract_with_llm(PROMPT, SCHEMA, client)
        else:
            assert extract_with_llm(PROMPT, SCHEMA, client) == expected
        kinds_seen.add(out.kind)
    assert kinds_seen == {"ok", "raw"} | set(simclient.FAULT_ERRORS)
