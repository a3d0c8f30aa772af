"""Workload ``reference_etl``: the reference's own flow on a seeded
folder of well PDFs. A cold full flow (``extract_well_tables`` →
``load_well_tables`` → ``build_well_info`` → ``wells_json`` →
``export_json`` partitioned by viewport cell) and one incremental batch
(about 10% of the corpus, half changed and half new documents) warm the
engine up. Then one warm full flow runs into a fresh store, and the
batch is upserted and republished for the run's seconds, at least
``MIN_BATCHES`` times. Every export is compared field by field with the
generator's ground truth."""

from __future__ import annotations

import glob
import json
import math
import os
import shutil
import time

from perfbench import corpus
from perfbench.common import (
    Context,
    Outcome,
    median,
    persisted_rdds,
    session_layers,
    start_sessions,
    stop_spark,
)

N_DOCS = 400
MIN_BATCHES = 5  # warm incremental batches per run, at the least
_FLOAT_FIELDS = {"latitude", "longitude"}


def _publish(ctx: Context, spark, store: str, web, export: str, parent: str) -> None:
    """Enrich the stored tables and (re)write the partitioned export."""
    from pyspark.sql import functions as F

    from oil_wells_data_wrangling_spark.pipeline import build_well_info, wells_json
    from oil_wells_data_wrangling_spark.sources.sinks import export_json, read_table

    info = build_well_info(read_table(spark, os.path.join(store, "well_header")), web)
    rows = wells_json(info, read_table(spark, os.path.join(store, "well_stimulation")))
    k = corpus.CELLS_PER_DEGREE
    rows = rows.withColumn(
        "cell",
        F.concat_ws(
            "_",
            F.floor(F.col("latitude") * k).cast("string"),
            F.floor(F.col("longitude") * k).cast("string"),
        ),
    )
    if ctx.trace:
        # the joins are lazy: run them before the span, so that it holds
        # only the export's write
        rows = rows.cache()
        rows.count()
    with ctx.tracer.span("sinks.export_json", parent):
        export_json(rows, export, partition_col="cell")
    if ctx.trace:
        rows.unpersist()


def _load(ctx: Context, spark, folder: str, store: str, span: str, parent: str):
    from oil_wells_data_wrangling_spark.pipeline import (
        extract_well_tables,
        load_well_tables,
    )

    header, stim = extract_well_tables(spark, folder)
    if ctx.trace:
        # the decode and the extraction are lazy: run them before the
        # span, so that it holds only the keyed merge and its write
        header, stim = header.cache(), stim.cache()
        header.count()
        stim.count()
    with ctx.tracer.span(span, parent):
        load_well_tables(header, stim, store)
    if ctx.trace:
        header.unpersist()
        stim.unpersist()


def read_export(export: str) -> list[dict]:
    rows = []
    for path in sorted(glob.glob(os.path.join(export, "cell=*", "part-*.json"))):
        cell = os.path.basename(os.path.dirname(path)).split("=", 1)[1]
        with open(path, encoding="utf-8") as f:
            for line in f:
                if line.strip():
                    rows.append({**json.loads(line), "cell": cell})
    return rows


def rows_match(got: dict, want: dict) -> bool:
    if got.keys() != want.keys():
        return False
    for k, v in want.items():
        if k in _FLOAT_FIELDS:
            if not math.isclose(got[k], v, rel_tol=0, abs_tol=1e-9):
                return False
        elif got[k] != v:
            return False
    return True


def check_export(out: Outcome, export: str, expected: list[dict], label: str) -> int:
    """Compare the export with the ground truth; returns its row count."""
    rows = read_export(export)
    got = {r["pdf_name"]: r for r in rows}
    want = {r["pdf_name"]: r for r in expected}
    out.check(
        len(rows) == len(got) and got.keys() == want.keys(),
        f"{label}: exported wells differ from ground truth",
    )
    for name in sorted(got.keys() & want.keys()):
        out.check(
            rows_match(got[name], want[name]),
            f"{label}: {name} exported {got[name]}, expected {want[name]}",
        )
    return len(rows)


def _parquet_files(store: str) -> dict[str, int]:
    """Each parquet file of the store with its inode, so a rewrite shows."""
    return {
        os.path.join(d, f): os.stat(os.path.join(d, f)).st_ino
        for d, _, fs in os.walk(store)
        for f in fs
        if f.endswith(".parquet")
    }


def _rows_written(store: str, before: dict[str, int]) -> int:
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(path).metadata.num_rows
        for path, ino in _parquet_files(store).items()
        if before.get(path) != ino
    )


def _dir_bytes(path: str) -> tuple[int, int]:
    files = [
        os.path.join(d, f)
        for d, _, fs in os.walk(path)
        for f in fs
        if not f.startswith((".", "_"))
    ]
    return len(files), sum(os.path.getsize(f) for f in files)


def _layer_probe(ctx: Context, spark, out: Outcome, meta: dict) -> None:
    """Traced only: time the PDF decode and the regex extraction apart.
    The decode is forced on the PDF folder; the extraction runs over the
    decoded text, written back as a folder of UTF-8 files."""
    from oil_wells_data_wrangling_spark.pipeline import extract_well_tables
    from oil_wells_data_wrangling_spark.sources.pdf_source import read_document_folder

    docs_dir = os.path.join(meta["root"], "docs")
    text_dir = os.path.join(ctx.work_dir, "decoded")
    for _ in range(2):  # the second call is the warm one reported
        with ctx.tracer.span("pdf_source.read_document_folder", "probe") as sp:
            texts = read_document_folder(spark, docs_dir).collect()
        sp["docs"] = len(texts)
        sp["empty"] = sum(1 for r in texts if not (r["raw_text"] or "").strip())
        shutil.rmtree(text_dir, ignore_errors=True)
        os.makedirs(text_dir)
        for r in texts:
            with open(os.path.join(text_dir, r["doc_name"]), "w", encoding="utf-8") as f:
                f.write(r["raw_text"])
        with ctx.tracer.span("pipeline.extract_well_tables", "probe"):
            header, stim = extract_well_tables(spark, text_dir)
            header.write.format("noop").mode("overwrite").save()
            stim.write.format("noop").mode("overwrite").save()
    tr = ctx.tracer
    name = "pdf_source.read_document_folder"
    docs = tr.last(name, "docs")
    out.layers[f"{name}.s"] = tr.warm_median(name)
    out.layers[f"{name}.docs"] = docs
    out.layers[f"{name}.bytes_in"] = meta["bytes_in"]
    out.layers[f"{name}.tasks"] = tr.last(name, "tasks")
    out.layers[f"{name}.empty_text_frac"] = tr.last(name, "empty") / docs if docs else 0.0
    out.layers["pipeline.extract_well_tables.s"] = tr.warm_median("pipeline.extract_well_tables")
    out.layers["pipeline.extract_well_tables.jobs"] = tr.last("pipeline.extract_well_tables", "jobs")


def _attempt(out: Outcome, label: str, step):
    """Run one flow or batch; a raise is counted as a failure and the run
    goes on. Returns the step's result, or None when it raised."""
    out.attempted += 1
    try:
        return step()
    except Exception as e:
        out.failed += 1
        out.check(False, f"{label} raised {type(e).__name__}: {str(e)[:300]}")
        return None


def run(ctx: Context) -> Outcome:
    meta = corpus.build_corpus(ctx.cache_dir, ctx.seed, N_DOCS)
    docs_dir = os.path.join(meta["root"], "docs")
    batch_dir = os.path.join(meta["root"], "batch")
    out = Outcome()
    spark, setup_s, get_spark_s = start_sessions(ctx)
    try:
        session_layers(out, setup_s, get_spark_s)
        web = spark.createDataFrame(
            [tuple(w[c] for c in ["well_name", "api", *corpus.WEB_FIELDS]) for w in meta["web"]],
            "well_name string, api string, well_status string, well_type string, "
            "closest_city string, oil_badge string, gas_badge string",
        )
        stats: dict[str, float] = {}

        def full_flow(parent: str, store: str, export: str) -> float:
            t0 = time.perf_counter()
            _load(ctx, spark, docs_dir, store, "sinks.upsert_parquet", parent)
            _publish(ctx, spark, store, web, export, parent)
            elapsed = time.perf_counter() - t0
            stats["rows"] = check_export(out, export, meta["expected_full"], f"{parent} full")
            stats["upsert_bytes"] = _dir_bytes(store)[1]
            stats["export_files"], stats["export_bytes"] = _dir_bytes(export)
            return elapsed

        def batch(parent: str, store: str, export: str) -> float:
            before = _parquet_files(store) if ctx.trace else {}
            t0 = time.perf_counter()
            _load(ctx, spark, batch_dir, store, "sinks.upsert_parquet.incremental", parent)
            if ctx.trace:
                stats["rewritten"] = _rows_written(store, before)
            _publish(ctx, spark, store, web, export, parent)
            elapsed = time.perf_counter() - t0
            check_export(out, export, meta["expected_after"], f"{parent} batch")
            return elapsed

        # Cold: the full flow and one batch. The first merge into an
        # existing table runs ~2x slower than later ones, so the cold batch
        # is not measured either.
        base = os.path.join(ctx.work_dir, "cold")
        paths = (os.path.join(base, "store"), os.path.join(base, "export"))
        first_s = _attempt(out, "cold full flow", lambda: full_flow("cold", *paths))
        if first_s is not None:
            _attempt(out, "cold batch", lambda: batch("cold", *paths))
        shutil.rmtree(base, ignore_errors=True)

        # Warm: one full flow into a fresh store, then the batch for the
        # run's seconds. A repeated batch re-issues the same documents,
        # which the upsert merges the same way.
        base = os.path.join(ctx.work_dir, "warm")
        paths = (os.path.join(base, "store"), os.path.join(base, "export"))
        full_s = _attempt(out, "warm full flow", lambda: full_flow("warm", *paths))
        batch_s: list[float] = []
        t_batches, n = time.perf_counter(), 0
        while full_s is not None and (
            n < MIN_BATCHES or time.perf_counter() - t_batches < ctx.seconds
        ):
            n += 1
            s = _attempt(out, f"warm batch {n}", lambda: batch("warm", *paths))
            if s is not None:
                batch_s.append(s)
        shutil.rmtree(base, ignore_errors=True)

        out.layers["persisted_rdds_after"] = persisted_rdds(spark)
        out.samples = {
            "latency_ms": len(batch_s),
            "per_s": 1 + len(batch_s),
            "setup_s": len(setup_s),
        }
        if first_s is None or full_s is None or not batch_s:
            return out
        out.layers["cold.first_s"] = first_s
        # documents through the warm flow and batches per second
        docs = meta["n_docs"] + meta["n_batch"] * len(batch_s)
        out.e2e["per_s"] = docs / (full_s + sum(batch_s))
        out.e2e["latency_ms"] = 1000 * median(batch_s)
        if ctx.trace:
            tr = ctx.tracer
            up = "sinks.upsert_parquet"
            out.layers[f"{up}.s"] = tr.warm_median(up)
            out.layers[f"{up}.incremental_s"] = tr.warm_median(f"{up}.incremental")
            out.layers[f"{up}.jobs"] = tr.last(up, "jobs")
            out.layers[f"{up}.stages"] = tr.last(up, "stages")
            out.layers[f"{up}.bytes_written"] = stats["upsert_bytes"]
            # rows in parquet files the last batch wrote, per batch row
            # (each batch row lands in both tables)
            out.layers[f"{up}.rows_rewritten_per_changed_row"] = stats["rewritten"] / (
                2 * meta["n_batch"]
            )
            out.layers["pipeline.wells_json.rows"] = stats["rows"]
            out.layers["sinks.export_json.s"] = tr.warm_median("sinks.export_json")
            out.layers["sinks.export_json.files"] = stats["export_files"]
            out.layers["sinks.export_json.bytes"] = stats["export_bytes"]
            _layer_probe(ctx, spark, out, meta)
    finally:
        stop_spark(spark)
    return out
