"""In-driver replay of a document sample through the engine, with spans.

``replay_convert`` / ``replay_extract`` redo, for one document, what the
convert and extract stages do per row, calling the same engine functions.
They serve two purposes:

- correctness: their results must equal the Spark stage's output rows byte
  for byte;
- tracing: under ``instrumented(recorder)`` every engine layer function is
  wrapped in a span (name, start, end, parent, url), so each layer's self
  time can be read off the replay.

The wrapping swaps module attributes in this process only, for the
duration of the ``with`` block; the Spark workers never see it.
"""

from __future__ import annotations

import contextlib
import json
import time

from extractor_spark.engine import convert, extract_llm, main_extract, pdf, sanitize, tidy, turndown_md
from extractor_spark.spark import stages

# (owner, attribute, span name); turndown's two entry points are methods
LAYERS = [
    (convert, "tidy_dom", "tidy"),
    (convert, "tidy_html", "tidy"),
    (tidy, "parse_document", "dom.parse"),
    (main_extract, "parse_document", "dom.parse"),
    (turndown_md, "parse_fragment", "dom.parse"),
    (turndown_md.TurndownConverter, "turndown", "turndown_md"),
    (turndown_md.TurndownConverter, "turndown_dom", "turndown_md"),
    (convert, "extract_main_html", "main_extract"),
    (pdf, "pdf_to_text", "pdf"),
    (stages, "markdown_to_text", "stages.markdown_to_text"),
    (extract_llm, "generate_extraction_prompt", "extract_llm.prompt"),
    (extract_llm, "safe_sanitized_parser", "sanitize"),
    (extract_llm, "fix_url_escape_sequences", "sanitize"),
    (sanitize, "zod_parse", "validate"),
    (extract_llm, "json_repair", "jsonfix"),
]
DOC_SPANS = ("convert", "extract")


class SpanRecorder:
    """Spans kept in memory as (name, start_ns, end_ns, parent_index, url)."""

    def __init__(self) -> None:
        self.spans: list[tuple | None] = []
        self._stack: list[int] = []
        self.url: str | None = None

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            index = len(self.spans)
            self.spans.append(None)
            parent = self._stack[-1] if self._stack else None
            self._stack.append(index)
            start = time.perf_counter_ns()
            try:
                return fn(*args, **kwargs)
            finally:
                end = time.perf_counter_ns()
                self._stack.pop()
                self.spans[index] = (name, start, end, parent, self.url)

        return traced

    def span(self, name: str, fn, *args):
        return self.wrap(name, fn)(*args)

    def self_times(self) -> dict[str, float]:
        """Seconds per span name of duration minus direct children's."""
        child_ns = [0] * len(self.spans)
        for _name, start, end, parent, _url in self.spans:
            if parent is not None:
                child_ns[parent] += end - start
        out: dict[str, float] = {}
        for i, (name, start, end, _parent, _url) in enumerate(self.spans):
            out[name] = out.get(name, 0.0) + (end - start - child_ns[i]) / 1e9
        return out

    def counts(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for name, *_ in self.spans:
            out[name] = out.get(name, 0) + 1
        return out

    def durations_ms(self, name: str) -> list[float]:
        return [(end - start) / 1e6 for n, start, end, _p, _u in self.spans if n == name]

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as f:
            for i, (name, start, end, parent, url) in enumerate(self.spans):
                f.write(
                    json.dumps(
                        {"id": i, "name": name, "start_ns": start, "end_ns": end, "parent": parent, "url": url}
                    )
                    + "\n"
                )


@contextlib.contextmanager
def instrumented(recorder: SpanRecorder):
    saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in LAYERS]
    try:
        for owner, attr, name in LAYERS:
            setattr(owner, attr, recorder.wrap(name, getattr(owner, attr)))
        yield recorder
    finally:
        for owner, attr, original in saved:
            setattr(owner, attr, original)


def replay_convert(url: str, raw: bytes, options) -> tuple[str, str]:
    """(markdown, text) exactly as the convert stage produces them."""
    if pdf.is_pdf(raw):
        markdown = pdf.pdf_to_text(raw)
        return markdown, " ".join(markdown.split())
    markdown = convert.html_to_markdown(raw.decode("utf-8", errors="replace"), options, url)
    return markdown, stages.markdown_to_text(markdown)


def replay_extract(markdown: str, schema: dict, client) -> tuple[str | None, str | None]:
    """(data_json, extract_error) exactly as the extract stage produces them."""
    try:
        result = extract_llm.extract_with_llm(markdown, schema, client)
    except Exception as exc:  # the stage records every failure on the row
        return None, f"{type(exc).__name__}: {exc}"[:500]
    return json.dumps(result["data"], ensure_ascii=False, default=str), None
