"""Parity and property tests for compact_table, trace_tool_calls,
stream_asof_join, chat_turns_audit and specdecode_accept, built before
they were registered.

The parity tests run the same Spark-vs-DuckDB comparison the driver does;
test_oracle_parity now covers that too. The property and plan-shape tests
are this file's own."""

from __future__ import annotations

import pytest

from oil_wells_data_wrangling_spark.operators.eventops import (
    STREAM_ASOF_ORACLE,
    stream_asof_join,
)
from oil_wells_data_wrangling_spark.operators.inference import (
    TRACE_TOOL_CALLS_ORACLE,
    trace_tool_calls,
)
from oil_wells_data_wrangling_spark.operators.spatial import (
    COMPACT_TABLE_ORACLE,
    compact_table,
)
from tests.test_oracle_parity import _assert_frames_match


def test_compact_table_matches_oracle(spark, duck, sf_dir):
    sp = compact_table(spark, sf_dir).toPandas()
    du = duck.execute(COMPACT_TABLE_ORACLE).fetchdf()
    _assert_frames_match(sp, du, "compact_table")


def test_compact_table_evidence_properties(spark, sf_dir):
    pdf = compact_table(spark, sf_dir).toPandas().sort_values("bucket")
    # compaction happened: 64 fragments -> one file per non-empty bucket
    assert pdf["files_before"].unique().tolist() == [64]
    assert pdf["files_after"].unique().tolist() == [len(pdf)]
    assert len(pdf) <= 8
    # key bounding boxes are DISJOINT and ordered — the pruning property
    prev_max = -1
    for _, r in pdf.iterrows():
        assert r["min_key"] > prev_max
        assert r["max_key"] >= r["min_key"]
        prev_max = r["max_key"]
    # nothing lost: row counts add up to the orders table
    t = spark.read.parquet(f"{sf_dir}/orders.parquet")
    assert int(pdf["n_rows"].sum()) == t.count()


def test_trace_tool_calls_matches_oracle(spark, duck, sf_dir):
    sp = trace_tool_calls(spark, sf_dir).toPandas()
    du = duck.execute(TRACE_TOOL_CALLS_ORACLE).fetchdf()
    _assert_frames_match(sp, du, "trace_tool_calls")


def test_trace_tool_calls_classifies_all(spark, sf_dir):
    pdf = trace_tool_calls(spark, sf_dir).toPandas()
    # every trace lands in exactly one class
    assert (
        pdf["n_valid"] + pdf["n_bad_json"] + pdf["n_unknown_tool"]
        == pdf["n_traces"]
    ).all()
    # both corruption modes actually occur in the corpus
    assert pdf["n_bad_json"].sum() > 0
    assert pdf["n_unknown_tool"].sum() > 0
    assert pdf["k_sum"].sum() > 0  # arguments really extracted


def test_stream_asof_join_matches_oracle(spark, duck, sf_dir):
    sp = stream_asof_join(spark, sf_dir).toPandas()
    du = duck.execute(STREAM_ASOF_ORACLE).fetchdf()
    _assert_frames_match(sp, du, "stream_asof_join")


def test_stream_asof_state_is_load_bearing(spark, sf_dir):
    """Cross-wave references exist: some event in wave 2 must resolve
    to a click that arrived in wave 1 — otherwise the demo would pass
    with stateless per-batch processing."""
    from pyspark.sql import functions as F

    from oil_wells_data_wrangling_spark.operators.eventops import asof_join
    from oil_wells_data_wrangling_spark.sources.readers import load_tables

    ev = load_tables(spark, sf_dir).events
    row = ev.agg(F.min("ts").alias("mn"), F.max("ts").alias("mx")).collect()[0]
    cutoff = row["mn"] + (row["mx"] - row["mn"]) / 2
    batch = asof_join(spark, sf_dir)
    late = ev.filter(F.col("ts") > F.lit(cutoff)).select("event_id")
    # late events with a non-null last click whose own wave holds no
    # earlier click for that user would be wrong without state; assert
    # at least that late events WITH resolved clicks exist at all
    n = (
        batch.join(late, "event_id")
        .filter(F.col("last_click_value").isNotNull())
        .count()
    )
    assert n > 0


def test_stream_asof_tws_impl_agrees(spark, sf_dir, tmp_path):
    """The transformWithStateInPandas impl must emit the same log as
    the legacy impl (which the demo's oracle already pins) — run the
    same two-wave delivery through impl='tws'."""
    from oil_wells_data_wrangling_spark.compat import ensure_protobuf

    if not ensure_protobuf():
        pytest.skip("no protobuf runtime available (installed or bridgeable)")
    import os

    from pyspark.sql import functions as F

    from oil_wells_data_wrangling_spark.operators.eventops import asof_join
    from oil_wells_data_wrangling_spark.sources.readers import load_tables
    from oil_wells_data_wrangling_spark.streaming.events import stream_asof

    ev = load_tables(spark, sf_dir).events.select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    row = ev.agg(F.min("ts").alias("mn"), F.max("ts").alias("mx")).collect()[0]
    cutoff = row["mn"] + (row["mx"] - row["mn"]) / 2
    src = str(tmp_path / "src")
    for i, wave in enumerate(
        (ev.filter(F.col("ts") <= F.lit(cutoff)),
         ev.filter(F.col("ts") > F.lit(cutoff)))
    ):
        d = os.path.join(src, f"wave{i}")
        wave.coalesce(1).write.parquet(d)
        for name in os.listdir(d):
            os.utime(os.path.join(d, name), (1_000_000 * (i + 1),) * 2)
    out_dir = str(tmp_path / "out")
    stream = (
        spark.readStream.schema(
            spark.read.parquet(os.path.join(src, "wave0")).schema
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "wave*"))
    )
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    try:
        q = (
            stream_asof(stream, impl="tws")
            .writeStream.foreachBatch(
                lambda b, _id: b.write.mode("append").parquet(out_dir)
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
    got = {
        r["event_id"]: r["last_click_value"]
        for r in spark.read.parquet(out_dir).collect()
    }
    want = {
        r["event_id"]: r["last_click_value"]
        for r in asof_join(spark, sf_dir).collect()
    }
    assert got == want


def test_chat_turns_audit_matches_oracle(spark, duck, sf_dir):
    from oil_wells_data_wrangling_spark.operators.corpus import (
        CHAT_TURNS_ORACLE,
        chat_turns_audit,
    )

    sp = chat_turns_audit(spark, sf_dir).toPandas()
    du = duck.execute(CHAT_TURNS_ORACLE).fetchdf()
    _assert_frames_match(sp, du, "chat_turns_audit")


def test_chat_turns_audit_properties(spark, sf_dir):
    from oil_wells_data_wrangling_spark.operators.corpus import (
        chat_turns_audit,
    )

    pdf = chat_turns_audit(spark, sf_dir).toPandas()
    # every conversation has exactly 4 turns; both violation classes
    # occur, spread across MULTIPLE sources (coprime plant), and clean
    # never double-counts a doc carrying both violations
    assert (pdf["n_turns"] == 4 * pdf["n_convs"]).all()
    assert (pdf["n_role_dup"] > 0).sum() >= 2
    assert (pdf["n_bad_start"] > 0).sum() >= 2
    assert (pdf["n_clean"] <= pdf["n_convs"]).all()
    assert (
        pdf["n_clean"]
        >= pdf["n_convs"] - pdf["n_role_dup"] - pdf["n_bad_start"]
    ).all()


def test_prestaged_plan_shapes(spark, sf_dir):
    """Pin the docstring scale claims of the pre-staged ops that return
    live plans (compact_table / stream_asof_join return materialized
    results — their shapes are asserted by their own demos): text never
    rides an exchange, and the exchange count matches the claimed
    single-shuffle shape. The registered-query sweep in
    test_plan_shapes.py takes over once they register in r13."""
    import re

    from oil_wells_data_wrangling_spark.operators.corpus import (
        chat_turns_audit,
    )
    from oil_wells_data_wrangling_spark.operators.inference import (
        trace_tool_calls,
    )

    def plan_of(df):
        return df._jdf.queryExecution().executedPlan().toString()

    def exchange_children(plan):
        lines = plan.splitlines()
        return [
            lines[i + 1]
            for i, line in enumerate(lines)
            if "Exchange" in line and i + 1 < len(lines)
        ]

    # trace_tool_calls: parse in-scan, ONE exchange (the source agg)
    plan = plan_of(trace_tool_calls(spark, sf_dir))
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    for child in exchange_children(plan):
        assert "text#" not in child, child

    # chat_turns_audit: every window is conversation-partitioned (no
    # empty partition spec anywhere) and text stays in the scan
    df = chat_turns_audit(spark, sf_dir)
    plan = plan_of(df)
    for m in re.finditer(r"Window \[[^\]]*\], \[([^\]]*)\]", plan):
        assert m.group(1).strip(), "unpartitioned window"
    for child in exchange_children(plan):
        assert "text#" not in child, child


def test_specdecode_accept_matches_oracle(spark, duck, sf_dir):
    from oil_wells_data_wrangling_spark.operators.inference import (
        SPECDECODE_ORACLE,
        specdecode_accept,
    )

    sp = specdecode_accept(spark, sf_dir).toPandas()
    du = duck.execute(SPECDECODE_ORACLE).fetchdf()
    _assert_frames_match(sp, du, "specdecode_accept")


def test_specdecode_accept_properties(spark, sf_dir):
    from oil_wells_data_wrangling_spark.operators.inference import (
        specdecode_accept,
    )

    pdf = specdecode_accept(spark, sf_dir).toPandas()
    # acceptance is a prefix: accepted <= drafted, and the ~20%
    # content-derived mismatch rate puts the prefix-acceptance rate
    # in a sane band (strictly between never and always)
    assert (pdf["n_accepted"] <= pdf["n_draft_tokens"]).all()
    assert (pdf["accept_permille"] > 300).all()
    assert (pdf["accept_permille"] < 950).all()
    assert (
        pdf["accept_permille"]
        == pdf["n_accepted"] * 1000 // pdf["n_draft_tokens"]
    ).all()


def test_specdecode_prefix_semantics_unit(spark):
    """Hand-checkable fixture: one doc whose mismatch positions are
    known — the first mismatch in a block rejects the REST of the
    block even when later tokens agree."""
    import duckdb

    from oil_wells_data_wrangling_spark.operators.inference import (
        _SPEC_GAMMA,
        _SPEC_MM_D,
    )

    con = duckdb.connect()
    words = [f"w{i}" for i in range(8)]  # 2 blocks of 4
    mm = [
        con.execute(
            f"SELECT {_SPEC_MM_D}".replace("w ||", f"'{w}' ||").replace(
                "doc_id", "7"
            )
        ).fetchone()[0]
        for w in words
    ]
    # expected acceptance per block: index of first True, else gamma
    exp = 0
    for b in (0, 1):
        flags = mm[b * _SPEC_GAMMA : (b + 1) * _SPEC_GAMMA]
        exp += flags.index(True) if True in flags else _SPEC_GAMMA
    df = spark.createDataFrame(
        [(7, "s", " ".join(words))], "doc_id long, source string, text string"
    )
    import tempfile

    from oil_wells_data_wrangling_spark.operators.inference import (
        specdecode_accept,
    )

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/documents.parquet")
        for t in ("region nation customer supplier part orders lineitem "
                  "events embeddings").split():
            df.limit(0).write.parquet(f"{d}/{t}.parquet")
        [r] = specdecode_accept(spark, d).collect()
    assert r.n_accepted == exp and r.n_draft_tokens == 8
