"""Every public top-level function and class in extractor_spark/ has a caller.

A caller is a reference by name, attribute or import from a Python file
outside tests/ and scripts/ (jobs, bench legs, __spark_entry__.py, the
benchmark harness, the query registry, or other library code), and not
inside the definition's own body.  Docstring and comment mentions do not
count: references are read from the AST.  Library code that only tests
call either gets a caller or is deleted together with its tests.
"""

import ast
import pathlib

REPO = pathlib.Path(__file__).resolve().parent.parent

# Public names kept without a non-test caller, each for a reason the code
# does not show.
ALLOWED_WITHOUT_CALLER = {
    "ReplayClient": "test double: deterministic canned-response chat client",
    "build_warc": "test helper: serializes pages as WARC records for the WARC tests",
    "decode_ids": "oracle: shard-to-words decode the token-shard tests compare against",
    "mask_spans": "oracle: span-masking apply step the PII span tests compare against",
    "get_usage": "reference-API port pinned by the ported reference tests",
    "iceberg_available": "platform probe that gates the Iceberg path tests",
    "stream_convert_pages": "streaming extraction, kept with its incremental-convert test",
    "build_bm25_index": "stored BM25 index build; MaxScore serving is due a caller",
    "bm25_search_index": "stored BM25 index serving; MaxScore serving is due a caller",
    "trustrank": "public seeded rank; the registry and benchmark run its loop through spam_mass_ranks",
}


def _caller_files():
    for path in sorted(REPO.rglob("*.py")):
        rel = path.relative_to(REPO)
        if rel.parts[0] == "scripts" or "tests" in rel.parts[:-1]:
            continue
        if any(part.startswith(".") for part in rel.parts):
            continue
        yield path


def _uncalled_public_names() -> set[str]:
    trees = {p: ast.parse(p.read_text(), filename=str(p)) for p in _caller_files()}
    defs: dict[str, list[tuple[pathlib.Path, ast.AST]]] = {}
    for path, tree in trees.items():
        if path.relative_to(REPO).parts[0] != "extractor_spark":
            continue
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                if not node.name.startswith("_"):
                    defs.setdefault(node.name, []).append((path, node))
    called = set()
    for path, tree in trees.items():
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                name, line = node.id, node.lineno
            elif isinstance(node, ast.Attribute):
                name, line = node.attr, node.lineno
            elif isinstance(node, ast.ImportFrom):
                called.update(a.name for a in node.names)
                continue
            else:
                continue
            own_body = any(
                p == path and d.lineno <= line <= d.end_lineno
                for p, d in defs.get(name, ())
            )
            if not own_body:
                called.add(name)
    return set(defs) - called


def test_every_public_library_name_has_a_caller():
    uncalled = _uncalled_public_names()
    missing = sorted(uncalled - set(ALLOWED_WITHOUT_CALLER))
    assert not missing, (
        f"public names only tests or scripts call — give each a caller or "
        f"delete it with its tests: {missing}"
    )
    stale = sorted(set(ALLOWED_WITHOUT_CALLER) - uncalled)
    assert not stale, f"allowlisted names that now have a caller or are gone: {stale}"
