"""Package surface guard: every top-level function or class in the
package is reached from code outside the tests (CLI verbs, registered
queries, the pipeline, the benches), or is named below with the
COVERAGE.md row or test harness role that keeps it.

A name only tests call is code the engine does not run; it either maps
to a reference behaviour (add it here with its row) or it goes."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "deduplicator_go_spark"

ALLOWED_TEST_ONLY = {
    "age_filter": "COVERAGE C8 (NOW/interval)",
    "staleness_filter": "COVERAGE C8 (NOW/interval)",
    "hash_size_conflicts": "COVERAGE A7 (hash-size consistency)",
    "keep_most_specific": "COVERAGE O6/U4 (most-specific prefix, first-seen dedupe)",
    "is_under": "COVERAGE F6 (dest-dir exclusion)",
    "is_newer": "COVERAGE C9 (semver compare)",
    "format_size_col": "COVERAGE C7 (size parse/format)",
    "excerpt_pairs": "COVERAGE §2.10 directed containment",
    "drop_non_keepers": "COVERAGE §2.10 quality-weighted keeper election",
    "flag_spam_hosts": "COVERAGE §2.10 host-level spam/mirror sieve",
    "run_stream_ticks": "COVERAGE §2.10 streaming ingest -> pipeline ticks",
    "start_server": "test harness: serves the serve verb's SearchService on a thread",
    "false_positive_rate": "reference: the formula bounding the Bloom FP-rate test",
    "to_spark": "test harness: fixtures.webtext corpus -> DataFrame",
    "extract_text": "reference: BASELINE.json per-row html -> text extraction invariant",
    "hyperplane_signatures": "reference: single-long packing the band table is checked against",
}


def _is_test_file(path: Path) -> bool:
    rel = path.relative_to(ROOT).parts
    return "tests" in rel or path.name.startswith("test_") or path.name == "conftest.py"


def _referenced_names() -> set[str]:
    names: set[str] = set()
    for path in ROOT.rglob("*.py"):
        rel = path.relative_to(ROOT).parts
        if rel[0].startswith(".") or _is_test_file(path):
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Name):
                names.add(node.id)
            elif isinstance(node, ast.Attribute):
                names.add(node.attr)
            elif isinstance(node, ast.alias):
                names.add(node.name.rsplit(".", 1)[-1])
    return names


def test_no_test_only_package_surface():
    referenced = _referenced_names()
    defined = set()
    unreached = []
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in ast.parse(path.read_text(), str(path)).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defined.add(node.name)
                if node.name not in referenced and node.name not in ALLOWED_TEST_ONLY:
                    unreached.append(f"{path.relative_to(ROOT)}:{node.lineno} {node.name}")
    assert not unreached, "reached only from tests: " + ", ".join(unreached)
    # an allowlist entry whose name is gone or now reached is stale
    stale = sorted(n for n in ALLOWED_TEST_ONLY if n not in defined or n in referenced)
    assert not stale, f"stale allowlist entries: {stale}"
