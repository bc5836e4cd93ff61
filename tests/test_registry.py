"""Registry pins that need no Spark session.

``REGISTRY.md`` is generated from the registry (``scripts/gen_registry.py``);
these checks fail when a query is dropped, renamed, reordered or loses its
oracle without the table being regenerated, so the driver's gate window and
the health table cannot drift from the code.
"""

from __future__ import annotations

from pathlib import Path

from alphastats_spark.registry import build_registry

ROOT = Path(__file__).resolve().parent.parent


def _registry_table() -> list[list[str]]:
    rows = []
    for line in (ROOT / "REGISTRY.md").read_text().splitlines():
        cells = [c.strip() for c in line.strip().strip("|").split("|")]
        if line.startswith("| ") and cells[0] != "query":
            rows.append(cells)
    return rows


def test_registry_md_pins_names_and_order():
    queries, _ = build_registry()
    names = [r[0] for r in _registry_table()]
    assert len(queries) == 224
    assert names == list(queries)


def test_registry_md_oracle_column_matches():
    queries, oracles = build_registry()
    kinds = {r[0]: r[1] for r in _registry_table()}
    assert kinds == {
        n: "value-hash" if n in oracles else "rows-only" for n in queries
    }
