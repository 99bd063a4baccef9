#!/usr/bin/env python
"""Regenerate OPERATORS.md from the live query registry.

Run from the repo root whenever the registry changes:

    python tools/gen_operators.py

tests/test_queries_oracle.py::test_operators_md_in_sync fails the
suite when the file drifts from ``registry()``, so a registry-touching
commit that forgets to regenerate cannot land green.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEADER = """# OPERATORS — the query/operator registry

Auto-generated by `tools/gen_operators.py` from
`dungbeetle_spark.queries.registry()`. Every entry is callable as
`queries()[name](spark, sf_dir)` via `__spark_entry__.py`; **oracle** =
value-checked against DuckDB at sf0.01, **rows-only** = deterministic
execution check. Rows are in stable name order, so this file depends
only on the registry's contents.

| # | Query | Check | What it demonstrates |
|---|---|---|---|
"""


def _clip(text: str, limit: int = 220) -> str:
    text = " ".join(text.split()).replace("|", "\\|")
    return text if len(text) <= limit else text[: limit - 3] + "..."


def render() -> str:
    from dungbeetle_spark.queries import registry

    specs = registry()
    lines = [HEADER]
    for i, name in enumerate(sorted(specs), 1):
        spec = specs[name]
        check = "oracle" if spec.oracle else "rows-only"
        lines.append(f"| {i} | `{name}` | {check} | {_clip(spec.doc)} |\n")
    n_oracle = sum(1 for s in specs.values() if s.oracle)
    lines.append(
        f"\nTotal: {len(specs)} registered queries; "
        f"{n_oracle} oracle-checked, {len(specs) - n_oracle} rows-only.\n"
    )
    return "".join(lines)


def main() -> None:
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "OPERATORS.md",
    )
    with open(out, "w") as f:
        f.write(render())
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
