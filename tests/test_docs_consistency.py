"""SURVEY/COVERAGE/README against the registry: every shipped query is
documented and declared, and the docs' registry counts match, so inventory
drift (shipped-but-undeclared operators) fails the suite instead of being
found at review time. The driver's walk order is computed, not kept by
hand, and is tested in tests/test_walk.py."""

from __future__ import annotations

import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_every_registry_query_is_documented_in_coverage():
    from dumpr_spark.queries import REGISTRY

    cov = open(os.path.join(REPO, "COVERAGE.md")).read()
    missing = [n for n in REGISTRY if n not in cov]
    assert not missing, f"registry queries absent from COVERAGE.md: {missing}"


def test_registry_count_claims_match():
    from dumpr_spark.queries import REGISTRY

    n = len(REGISTRY)
    cov = open(os.path.join(REPO, "COVERAGE.md")).read()
    readme = open(os.path.join(REPO, "README.md")).read()
    assert f"{n} `queries()` entries" in cov, f"COVERAGE.md count != {n}"
    assert f"{n} (Spark builder, DuckDB oracle) pairs" in readme, f"README count != {n}"


def _survey_section_2_2():
    survey = open(os.path.join(REPO, "SURVEY.md")).read()
    s = survey.index("### 2.2")
    e = survey.index("### 2.3")
    return survey[s:e]


def test_every_registry_query_is_declared_in_survey_2_2():
    """SURVEY §2.2 is the declared t2 contract (r11 verdict item 3): every
    registered query name must appear there literally — a registered,
    driver-green query whose only declaration lives in COVERAGE.md is
    contract drift."""
    from dumpr_spark.queries import REGISTRY

    sect = _survey_section_2_2()
    missing = [n for n in REGISTRY if n not in sect]
    assert not missing, f"registry queries absent from SURVEY §2.2: {missing}"


def test_survey_name_index_equals_registry_both_directions():
    """The §2.2-T name index must be EXACTLY the registry: a name listed
    but not registered is a phantom claim; a registered name missing from
    the index is an undeclared operator. Backticked snake_case tokens in
    the index block are the claim set."""
    import re

    from dumpr_spark.queries import REGISTRY

    sect = _survey_section_2_2()
    s = sect.index("#### T.")
    idx = sect[s:]
    # prose backticks that are not query names live outside the index
    # bullets; restrict to bullet lines to keep the claim set precise
    listed = set()
    for line in idx.splitlines():
        if line.startswith(("- **", "  ")):
            listed |= set(re.findall(r"`([a-z0-9_]+)`", line))
    assert listed == set(REGISTRY), (
        f"index-only: {sorted(listed - set(REGISTRY))}; "
        f"unlisted: {sorted(set(REGISTRY) - listed)}"
    )
