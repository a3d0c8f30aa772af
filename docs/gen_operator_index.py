#!/usr/bin/env python3
"""Regenerate docs/OPERATORS.md from the query registry.

One row per registered query: name, defining module:line, oracle
kind, and the first docstring sentence.
Run from the repo root:  PYTHONPATH=. python3 docs/gen_operator_index.py
"""

from __future__ import annotations

import inspect

from oil_wells_data_wrangling_spark.plans.registry import REGISTRY, _load_all


def first_sentence(doc: str | None) -> str:
    if not doc:
        return ""
    text = " ".join(doc.split())
    for stop in (". ", ".\n"):
        if stop in text:
            return text.split(stop)[0] + "."
    return text


def main() -> None:
    _load_all()
    lines = [
        "# Operator index",
        "",
        "GENERATED — do not edit; run "
        "`PYTHONPATH=. python3 docs/gen_operator_index.py`.",
        f"{len(REGISTRY)} registered queries; "
        f"{sum(1 for q in REGISTRY.values() if q.oracle)} with exact DuckDB "
        "oracles.",
        "",
        "| query | impl | oracle | summary |",
        "| --- | --- | --- | --- |",
    ]
    for name in sorted(REGISTRY):
        q = REGISTRY[name]
        src = inspect.getsourcefile(q.fn) or ""
        src = src.split("oil_wells_data_wrangling_spark/")[-1]
        line = inspect.getsourcelines(q.fn)[1]
        summary = first_sentence(q.fn.__doc__).replace("|", "\\|")
        if len(summary) > 220:
            summary = summary[:217] + "..."
        lines.append(
            f"| `{name}` | {src}:{line} | "
            f"{'exact' if q.oracle else 'rows-only'} | {summary} |"
        )
    with open("docs/OPERATORS.md", "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote docs/OPERATORS.md ({len(REGISTRY)} rows)")


if __name__ == "__main__":
    main()
