"""Generate CATALOG.md: one line per catalog query — name, the first
sentence of its docstring, and whether its oracle is hash-strict.

Usage: PYTHONPATH=. python tools/gen_catalog.py
"""

from __future__ import annotations

import re


def first_sentence(doc: str | None) -> str:
    if not doc:
        return "(no docstring)"
    flat = " ".join(doc.split())
    m = re.match(r"(.+?\.)(\s|$)", flat)
    return (m.group(1) if m else flat)[:300]


def main() -> None:
    from geos_spark.queries import ORACLES, QUERIES

    lines = [
        "# CATALOG — every driver-scored query",
        "",
        "Generated by `tools/gen_catalog.py`. Each entry is a",
        "`queries()` callable with a DuckDB oracle in `oracle_sql()`;",
        "the driver compares rows + schema + value hashes at sf0.01.",
        "",
        f"**{len(QUERIES)} queries, {len(ORACLES)} oracles.**",
        "",
        "| # | query | what it scores |",
        "|---|---|---|",
    ]
    for i, (name, fn) in enumerate(sorted(QUERIES.items()), 1):
        lines.append(f"| {i} | `{name}` | {first_sentence(fn.__doc__)} |")
    with open("CATALOG.md", "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote CATALOG.md ({len(QUERIES)} queries)")


if __name__ == "__main__":
    main()
