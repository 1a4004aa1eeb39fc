"""README.md and PARITY.md cite only artifacts that are in the tree and
state the catalog size the registry actually has."""

from __future__ import annotations

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
        for doc in _DOCS
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
