"""Query registry — the single source of truth for the engine's surface: each
SURVEY.md §2 operator as a named ``(spark, sf_dir) -> DataFrame`` plus, when
SQL-expressible, an ANSI-SQL oracle DuckDB runs on the same parquet tables.
``__spark_entry__.py`` re-exports it for the driver's correctness gate."""

from __future__ import annotations

import importlib
import json
import re
from collections.abc import Callable, Iterable, Mapping
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    fn: QueryFn
    oracle: str | None = None
    headline: bool = False  # included in bench.py's headline set


REGISTRY: dict[str, Query] = {}


def register(
    name: str, oracle: str | None = None, headline: bool = False
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register ``fn`` as query ``name`` with optional oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, headline=headline)
        return fn

    return deco


def _load_all() -> None:
    """Import every operator module so registrations run."""
    for mod in ("eventops", "corpus", "multimodal", "textstats", "webtable",
                "analytics", "privacy", "wrangle", "dedup", "similarity",
                "spatial", "graph", "inference"):
        importlib.import_module(f"oil_wells_data_wrangling_spark.operators.{mod}")
    importlib.import_module("oil_wells_data_wrangling_spark.streaming.neardup")


# The driver's CORRECTNESS gate checks the first 50 queries ``queries()``
# yields. 250 registered names <= 50 slots x 5 rounds, so oldest-first keeps
# every latest green row within the R-5 bound tests/test_plans.py asserts.
_WINDOW = 50
_REPO_ROOT = Path(__file__).resolve().parents[2]


def driver_history(root: Path = _REPO_ROOT) -> tuple[int, dict[str, int]]:
    """(latest committed round, latest round each query's driver row was
    green) from ``root``'s CORRECTNESS_r*.json files; (0, {}) if none."""
    max_round, latest = 0, {}
    for path in root.glob("CORRECTNESS_r[0-9]*.json"):
        rnd = int(re.match(r"CORRECTNESS_r(\d+)", path.name).group(1))
        max_round = max(max_round, rnd)
        for name, row in json.loads(path.read_text()).items():
            if row.get("rows_match") and row.get("schema_match") and row.get("err") is None:
                latest[name] = max(latest.get(name, 0), rnd)
    return max_round, latest


def driver_window(names: Iterable[str], latest: Mapping[str, int]) -> list[str]:
    """Never-green names first, then oldest latest-green round, ties by name;
    registry order with no history (an installed package has none)."""
    names = list(names)
    if latest:
        names.sort(key=lambda n: (latest.get(n, 0), n))
    return names[:_WINDOW]


def _ordered() -> dict[str, Query]:
    _load_all()
    out = {n: REGISTRY[n] for n in driver_window(REGISTRY, driver_history()[1])}
    out.update(REGISTRY)
    return out


def all_queries() -> dict[str, QueryFn]:
    return {name: q.fn for name, q in _ordered().items()}


def all_oracle_sql() -> dict[str, str]:
    return {n: q.oracle for n, q in _ordered().items() if q.oracle is not None}


def headline_queries() -> dict[str, QueryFn]:
    """bench.py's set in registration order, so its pass order is stable."""
    _load_all()
    return {name: q.fn for name, q in REGISTRY.items() if q.headline}
