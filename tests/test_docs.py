"""README.md and PARITY.md cite only artifacts that are in the tree and
state the catalog size the registry actually has; every ``path.py:name``
citation in them and in CLAUDE.md names a real definition."""

from __future__ import annotations

import ast
import functools
import os
import re

from umn_eda_kafka_stream_processing_spark.plans import REGISTRY

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_DOCS = ("README.md", "PARITY.md")

# A concrete artifact name. Templates (`ORACLE_FULL_r{N}.json`, globs)
# and tool output paths with an inner dot (`BENCH_DETAIL.partial.json`)
# do not match.
_ARTIFACT = re.compile(
    r"(?<![\w.])((?:ORACLE_FULL|BENCH|CORRECTNESS)_\w+\.json)(?![\w.])"
)
# A statement of the catalog's total size.
_CATALOG_COUNT = re.compile(
    r"(\d+)-query catalog|catalog(?:'s|\*\.py:) (\d+) queries"
    r"|all (\d+) (?:catalog )?queries",
    re.IGNORECASE,
)
# A code citation: ``[dir/]file.py:name`` or ``file.py:Class.method``.
_CITATION = re.compile(
    r"(?<![\w/.])((?:\w+/)*\w+\.py):([A-Za-z_]\w*(?:\.[A-Za-z_]\w*)*)"
)


def _text(name: str) -> str:
    with open(os.path.join(_ROOT, name), encoding="utf-8") as f:
        return " ".join(f.read().split())  # joins wrapped lines


def _counts(text: str) -> list[int]:
    return [
        int(next(g for g in m.groups() if g))
        for m in _CATALOG_COUNT.finditer(text)
    ]


def test_doc_patterns_separate_citations_from_templates():
    cited = _ARTIFACT.findall(
        "`ORACLE_FULL_r13_sf01.json`, ORACLE_FULL_r{N}.json, "
        "BENCH_DETAIL.json, BENCH_DETAIL.partial.json, CORRECTNESS_r*.json"
    )
    assert cited == ["ORACLE_FULL_r13_sf01.json", "BENCH_DETAIL.json"]
    assert _counts(
        "runs the full 7-query catalog; the catalog's 8 queries; "
        "catalog*.py: 9 queries; all 10 queries; the first 50 queries"
    ) == [7, 8, 9, 10]


def test_docs_cite_only_artifacts_in_the_tree():
    missing = {
        (doc, name)
        for doc in _DOCS + ("CLAUDE.md",)
        for name in _ARTIFACT.findall(_text(doc))
        if not os.path.exists(os.path.join(_ROOT, name))
    }
    assert not missing, sorted(missing)


def test_docs_state_the_registry_catalog_count():
    wrong = {
        (doc, n)
        for doc in _DOCS
        for n in _counts(_text(doc))
        if n != len(REGISTRY)
    }
    assert not wrong, (len(REGISTRY), sorted(wrong))


@functools.cache
def _definitions(path: str) -> frozenset[str]:
    """Top-level and nested function, class and assigned names of a
    module, plus ``Class.method``."""
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read())
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
            if isinstance(node, ast.ClassDef):
                names.update(
                    f"{node.name}.{b.name}" for b in node.body
                    if isinstance(b, (ast.FunctionDef, ast.AsyncFunctionDef))
                )
        elif isinstance(node, ast.Assign):
            names.update(t.id for t in node.targets if isinstance(t, ast.Name))
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            names.add(node.target.id)
    return frozenset(names)


def _python_files() -> list[str]:
    out = []
    for base, dirs, files in os.walk(_ROOT):
        dirs[:] = [d for d in dirs if not d.startswith(".") and d != "data"]
        out += [
            os.path.relpath(os.path.join(base, f), _ROOT)
            for f in files if f.endswith(".py")
        ]
    return out


def _unresolved(text: str, files: list[str]) -> list[str]:
    bad = []
    for path, name in _CITATION.findall(text):
        hits = [f for f in files if f == path or f.endswith("/" + path)]
        if not any(name in _definitions(os.path.join(_ROOT, f)) for f in hits):
            bad.append(f"{path}:{name}")
    return bad


def test_citation_pattern_and_resolution():
    files = _python_files()
    assert _CITATION.findall(
        "`stores.py:SnapshotStore.maintain`, operators/core.py:latest_by_key"
        " and samples/PurchaseEventTicket.java:44-51"
    ) == [("stores.py", "SnapshotStore.maintain"),
          ("operators/core.py", "latest_by_key")]
    assert _unresolved(
        "stores.py:SnapshotStore.upsert tools/loc.py:code_lines "
        "stores.py:upsert_snapshot nowhere.py:f", files
    ) == ["stores.py:upsert_snapshot", "nowhere.py:f"]


def test_doc_citations_name_real_definitions():
    files = _python_files()
    bad = {
        (doc, cite)
        for doc in _DOCS + ("CLAUDE.md",)
        for cite in _unresolved(_text(doc), files)
    }
    assert not bad, sorted(bad)
