#!/usr/bin/env python
"""Generate QUERIES.md: the declared-query catalog (name, oracle
status, one-line description) grouped by module — regenerate with
``python scripts/gen_catalog.py`` after adding queries."""

from __future__ import annotations

import sys
from collections import defaultdict

sys.path.insert(0, ".")

from sparketl import registry
from sparketl.coverage import OP_COVERAGE


def catalog_text() -> str:
    """The text of QUERIES.md for the queries declared now."""
    registry.load_all_modules()
    by_module: dict[str, list[str]] = defaultdict(list)
    for name, fn in sorted(registry.QUERIES.items()):
        by_module[fn.__module__.rsplit(".", 1)[-1]].append(name)

    op_of: dict[str, list[int]] = defaultdict(list)
    for op, names in OP_COVERAGE.items():
        for n in names:
            op_of[n].append(op)

    lines = [
        "# QUERIES — declared-query catalog",
        "",
        "Auto-generated by `scripts/gen_catalog.py`.  Every query is one",
        "`queries()` entry graded against its `oracle_sql()` DuckDB twin",
        "(row count + schema + order-insensitive value hash) unless marked",
        "*rows-only*.  `§2 ops` = SURVEY.md §2 inventory rows exercised",
        "(enforced by tests/test_coverage.py).",
        "",
        f"**{len(registry.QUERIES)} queries, "
        f"{len(registry.ORACLES)} oracle-matched, "
        f"{len(registry.QUERIES) - len(registry.ORACLES)} rows-only.**",
        "",
    ]
    for module, names in sorted(by_module.items()):
        lines.append(f"## {module} ({len(names)})")
        lines.append("")
        lines.append("| query | §2 ops | oracle | description |")
        lines.append("| --- | --- | --- | --- |")
        for n in names:
            fn = registry.QUERIES[n]
            doc = (fn.__doc__ or "").strip().splitlines()[0].strip()
            ops = ",".join(str(o) for o in sorted(op_of.get(n, []))) or "—"
            oracle = "hash" if n in registry.ORACLES else "**rows-only**"
            lines.append(f"| `{n}` | {ops} | {oracle} | {doc} |")
        lines.append("")
    return "\n".join(lines)


def main() -> None:
    with open("QUERIES.md", "w") as f:
        f.write(catalog_text())
    print(f"QUERIES.md: {len(registry.QUERIES)} queries")


if __name__ == "__main__":
    main()
