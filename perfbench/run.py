#!/usr/bin/env python3
"""Benchmark of the engine: the reference workflow from PDF bytes to the
``/wells`` export, the map-serving tier under load, and the headline
queries.

    python3 perfbench/run.py --workload reference_etl --seed 1 --seconds 10 --trace 0

Run it from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are its per-layer metrics,
from spans around the calls into each layer, and the spans are written
to ``perfbench/.traces/``. Layers a workload does not call report 0.
Any failed output check prints the reason on standard error and makes
the exit code 1. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shlex
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "oil_wells_data_wrangling_spark"
WORKLOADS = {
    "reference_etl": "perfbench.etl",
    "map_serving": "perfbench.serving_load",
    "headline_queries": "perfbench.headline",
}


def _environment(work_dir: str) -> None:
    """Point Spark, its Python workers and every temporary file at this
    checkout before the JVM starts."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp)
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    warehouse = os.path.join(work_dir, "warehouse")
    pythonpath = [ROOT, *filter(None, os.environ.get("PYTHONPATH", "").split(os.pathsep))]
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            # Python workers import the package by name
            "PYTHONPATH": os.pathsep.join(pythonpath),
            "PYSPARK_PYTHON": sys.executable,
            "SPARK_LOCAL_DIRS": os.path.join(work_dir, "spark-local"),
            "TMPDIR": tmp,
            "PYSPARK_SUBMIT_ARGS": (
                f"--driver-java-options {shlex.quote(java_opts)} "
                f"--conf spark.sql.warehouse.dir={shlex.quote(warehouse)} pyspark-shell"
            ),
        }
    )
    tempfile.tempdir = None


def _write_trace(tracer, workload: str, seed: int) -> None:
    out_dir = os.path.join(HERE, ".traces")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{workload}-seed{seed}.json"), "w") as f:
        json.dump(tracer.spans, f, indent=1)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"{PACKAGE}/ not found under {ROOT}: nothing to measure", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)

    work_dir = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work_dir, ignore_errors=True)
    _environment(work_dir)
    sys.path.insert(0, ROOT)
    from perfbench.common import Context, Tracer

    ctx = Context(
        seed=args.seed,
        seconds=args.seconds,
        trace=bool(args.trace),
        work_dir=work_dir,
        cache_dir=os.path.join(HERE, ".cache"),
        tracer=Tracer(bool(args.trace)),
    )
    try:
        out = importlib.import_module(WORKLOADS[args.workload]).run(ctx)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    if args.trace:
        _write_trace(ctx.tracer, args.workload, args.seed)

    declared = spec["per_layer" if args.trace else "end_to_end"]
    values = out.layers if args.trace else out.e2e
    names = {m["name"] for m in declared}
    undeclared = sorted(set(values) - names)
    if undeclared:
        raise SystemExit(f"metrics missing from BENCHMARK.json: {undeclared}")
    missing = [] if args.trace else sorted(names - set(values))
    for e in out.errors[:20]:
        print(f"check failed: {e}", file=sys.stderr)
    if len(out.errors) > 20:
        print(f"... {len(out.errors) - 20} more failed checks", file=sys.stderr)
    if missing:
        print(f"not measured: {missing}", file=sys.stderr)
    print(f"end-to-end: {json.dumps(out.e2e)}", file=sys.stderr)
    print(f"samples: {json.dumps(out.samples)}", file=sys.stderr)
    correct = not out.errors and not missing
    result = {
        "correct": correct,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {
            m["name"]: {"value": values.get(m["name"], 0), "unit": m["unit"]}
            for m in declared
            if m["name"] in values or args.trace
        },
    }
    print(json.dumps(result), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
