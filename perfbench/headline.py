"""Workload ``headline_queries``: the 14 queries ``bench.py`` times, on the
benchmark's copy of the sf0.01 tables, each forced with the noop sink.
One fresh session runs a first (cold) pass, then warm passes until the
run's seconds are used, at least one. The input is fixed, so the seed
does not apply."""

from __future__ import annotations

import os
import time

from perfbench.common import (
    Context,
    Outcome,
    median,
    persisted_rdds,
    session_layers,
    start_sessions,
    stop_spark,
)

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")

# The headline set, pinned here rather than read from the registry's
# ``headline=True`` flags, in registry order, with each query's row
# count on DATA_DIR from the DuckDB oracle (``perfbench/pin_counts.py``).
PINNED: dict[str, int] = {
    "crawl_to_corpus": 5,
    "domain_pagerank": 20,
    "events_window_agg": 3385,
    "dedup_minhash": 96,
    "corpus_pipeline_full": 5,
    "corpus_pipeline": 5,
    "rrf_fusion": 20,
    "agg_pricing_summary": 6,
    "join_revenue_topn": 10,
    "join_region_rollup": 25,
    "decontaminate": 454,
    "well_pipeline": 1500,
    "ann_topk": 40,
    "semdedup_pipeline": 10,
}


def _run_query(spark, ctx: Context, out: Outcome, name: str, fn) -> float | None:
    """Construct and execute one query; return its seconds, or None when
    it raised (counted as a failure)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    out.attempted += 1
    obs = Observation(f"rows_{name}")
    t0 = time.perf_counter()
    try:
        with ctx.tracer.span(f"q.{name}.construct"):
            df = fn(spark, DATA_DIR)
        with ctx.tracer.span(f"q.{name}.execute"):
            counted = df.observe(obs, F.count(F.lit(1)).alias("rows"))
            counted.write.format("noop").mode("overwrite").save()
    except Exception as e:  # one failed query must not stop the pass
        out.failed += 1
        out.check(False, f"{name} raised {type(e).__name__}: {str(e)[:200]}")
        return None
    dt = time.perf_counter() - t0
    rows = obs.get["rows"]
    out.check(rows == PINNED[name], f"{name}: {rows} rows, pinned {PINNED[name]}")
    return dt


def run(ctx: Context) -> Outcome:
    from oil_wells_data_wrangling_spark.plans.registry import all_queries

    registry = all_queries()
    missing = [n for n in PINNED if n not in registry]
    if missing:
        raise SystemExit(f"pinned headline queries left the registry: {missing}")
    queries = {n: registry[n] for n in PINNED}

    out = Outcome()
    spark, setup_s, get_spark_s = start_sessions(ctx)
    try:
        session_layers(out, setup_s, get_spark_s)
        passes: list[dict[str, float]] = []
        t_warm = None
        while len(passes) < 2 or time.perf_counter() - t_warm < ctx.seconds:
            if len(passes) == 1:
                t_warm = time.perf_counter()
            times = {}
            for name, fn in queries.items():
                dt = _run_query(spark, ctx, out, name, fn)
                if dt is not None:
                    times[name] = dt
            passes.append(times)
        warm = passes[1:]
        out.samples = {
            "latency_ms": sum(len(p) for p in warm),
            "per_s": len(warm),
            "setup_s": len(setup_s),
        }
        out.layers["cold.first_s"] = sum(passes[0].values())
        pass_s = median([sum(p.values()) for p in warm])
        out.e2e["per_s"] = len(queries) / pass_s
        out.e2e["latency_ms"] = 1000 * median([t for p in warm for t in p.values()])
        out.layers["persisted_rdds_after"] = persisted_rdds(spark)
        tr = ctx.tracer
        for name in queries:
            for phase in ("construct", "execute"):
                out.layers[f"q.{name}.{phase}_s"] = tr.warm_median(f"q.{name}.{phase}")
            # counts of the last warm pass; a cold pass may differ
            out.layers[f"q.{name}.jobs"] = sum(
                tr.last(f"q.{name}.{p}", "jobs") for p in ("construct", "execute")
            )
            out.layers[f"q.{name}.stages"] = sum(
                tr.last(f"q.{name}.{p}", "stages") for p in ("construct", "execute")
            )
    finally:
        stop_spark(spark)
    return out
