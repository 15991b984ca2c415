"""SURVEY.md §2 contract enforcement: all 160 inventory ops map to
registered queries, and the flagship + entry contract shape holds."""

from __future__ import annotations

from sparketl import registry
from sparketl.coverage import OP_COVERAGE


def test_every_inventory_op_covered():
    assert sorted(OP_COVERAGE) == list(range(1, 161))
    missing = {
        op: qs
        for op, qs in OP_COVERAGE.items()
        for q in qs
        if q not in registry.QUERIES
    }
    assert not missing, f"coverage map references unregistered queries: {missing}"


def test_oracle_coverage_is_broad():
    """rows-only checks are the weaker gate (SURVEY.md §5) — keep them
    a small, intentional set (approx/ANN/sampling-class ops only)."""
    rows_only = set(registry.QUERIES) - set(registry.ORACLES)
    assert rows_only <= {
        "math_random_seeded",
        "sample_bernoulli",
    }, f"unexpected rows-only queries: {rows_only}"


def test_queries_md_matches_its_generator():
    """QUERIES.md is generated (scripts/gen_catalog.py); a query added,
    renamed or re-described without regenerating it fails here."""
    import importlib.util
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "gen_catalog", os.path.join(repo, "scripts", "gen_catalog.py")
    )
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    with open(os.path.join(repo, "QUERIES.md")) as f:
        assert f.read() == gen.catalog_text(), (
            "QUERIES.md is stale: run python scripts/gen_catalog.py"
        )
