#!/usr/bin/env python
"""Regenerate QUERIES.md (registry index) from the live registry.

Each row names the query's module and function (`operators/x.py::fn`), not
a line number, so an edit that only shifts lines within a module leaves the
index unchanged; adding, removing or renaming a query, moving it to another
module, or changing its oracle still changes it. Regenerate with
`python scripts/gen_queries_md.py`.
"""

from __future__ import annotations

import inspect
import sys
from pathlib import Path

_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_ROOT))

from polars_ad_etl_spark.operators import ORACLES, QUERIES  # noqa: E402

SPECIAL = {"approx_stats_orders": "yes (tolerance gate)"}

HEADER = """# QUERIES — registry index

{n} registered queries, {m} DuckDB-oracle-checked
(all of them since round 6; `approx_stats_orders` uses a tolerance-gate
oracle over the sketch error bounds). Generated from the registry;
regenerate with `python scripts/gen_queries_md.py`.

| query | module | oracle |
|---|---|---|
"""


def render() -> str:
    """The exact QUERIES.md content for the live registry — also used by
    tests/test_docs_drift.py to fail the suite when a registry change is
    committed without regenerating the index."""
    rows = []
    for name in sorted(QUERIES):
        fn = QUERIES[name]
        src = Path(inspect.getsourcefile(fn)).relative_to(
            _ROOT / "polars_ad_etl_spark"
        )
        oracle = SPECIAL.get(name, "yes" if name in ORACLES else "rows-only")
        rows.append(f"| `{name}` | `{src}::{fn.__name__}` | {oracle} |")
    return HEADER.format(n=len(QUERIES), m=len(ORACLES)) + "\n".join(rows) + "\n"


def main() -> None:
    (_ROOT / "QUERIES.md").write_text(render())
    print(f"wrote QUERIES.md: {len(QUERIES)} queries, {len(ORACLES)} oracles")


if __name__ == "__main__":
    main()
