"""Round-10 additions: production-depth BPE batching, the
single-symbol collapse guard, and the WARC write commit protocol."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def _word_vocab(spark, words: dict[str, int]) -> DataFrame:
    from oil_wells_data_wrangling_spark.operators.textstats import (
        _BPE_SYM_SPARK,
    )

    wf = spark.createDataFrame(
        [(w, c) for w, c in words.items()], "word string, cnt bigint"
    )
    return wf.select(F.expr(_BPE_SYM_SPARK).alias("sym"), "cnt")


def test_bpe_batched_survives_full_word_collapse(spark):
    """A one-letter word collapses to a SINGLE symbol the moment its
    (char, '</w>') merge is accepted; the next round's pair extraction
    must skip it (sequence(1, 0) = [1, 0] in Spark would make
    element_at(arr, 0) error) — the r9 ADVICE crash."""
    from oil_wells_data_wrangling_spark.operators.textstats import (
        _bpe_train_batched_loop,
    )

    # 'i' is by far the most frequent word, so (i, </w>) is an early
    # merge and round 2 sees a size-1 symbol row
    vocab = _word_vocab(spark, {"i": 1000, "it": 30, "in": 20, "is": 10})
    rows = _bpe_train_batched_loop(vocab, rounds=3, k=4)
    assert rows, "trainer learned nothing"
    merged = {(a, b) for _rnd, _ark, a, b, _n in rows}
    assert ("i", "</w>") in merged  # the collapsing merge WAS accepted
    assert max(r[0] for r in rows) >= 2  # and a later round still ran


def test_bpe_batched_production_depth_collect_accounting(spark, monkeypatch):
    """8 rounds x k=32: the driver loop must stay ROUNDS-deep — exactly
    one collect per executed round, never one per merge — and the
    merge table must stay rank-ordered and bounded by rounds*k."""
    from oil_wells_data_wrangling_spark.operators.textstats import (
        _bpe_train_batched_loop,
    )

    # a vocabulary rich enough that several rounds accept full batches:
    # 120 distinct 4-6 letter words over a 12-letter alphabet
    alpha = "abcdefghijkl"
    words: dict[str, int] = {}
    for i in range(120):
        w = "".join(
            alpha[(i * 7 + j * 5 + (i * j) % 11) % len(alpha)]
            for j in range(4 + i % 3)
        )
        words[w] = words.get(w, 0) + 10 + i % 17
    words["a"] = 5000  # force an early full-word collapse too
    vocab = _word_vocab(spark, words)

    n_collects = 0
    orig = DataFrame.collect

    def counting_collect(self):
        nonlocal n_collects
        n_collects += 1
        return orig(self)

    monkeypatch.setattr(DataFrame, "collect", counting_collect)
    rows = _bpe_train_batched_loop(vocab, rounds=8, k=32)

    rounds_run = max(r[0] for r in rows)
    # one collect per executed round (+1 if an extra empty round probed
    # before early-stop) — NEVER merges-deep
    assert n_collects <= rounds_run + 1, (n_collects, rounds_run)
    assert len(rows) <= 8 * 32
    assert len(rows) >= 64, f"only {len(rows)} merges learned"
    # rank order within each round is 1..m contiguous
    by_round: dict[int, list[int]] = {}
    for rnd, ark, _a, _b, _n in rows:
        by_round.setdefault(rnd, []).append(ark)
    for rnd, arks in by_round.items():
        assert sorted(arks) == list(range(1, len(arks) + 1)), rnd
    # counts never increase within a round's rank order... not required
    # (staleness trade) — but counts must be positive
    assert all(n > 0 for *_x, n in rows)


def test_bpe_sequential_loop_survives_collapse(spark):
    """Same guard in the merge-at-a-time trainer (_bpe_learn_merges):
    enough steps that the one-letter word fully collapses."""
    from oil_wells_data_wrangling_spark.operators import textstats as ts

    vocab = _word_vocab(spark, {"i": 1000, "on": 3, "no": 2})
    old = ts._BPE_STEPS
    try:
        ts._BPE_STEPS = 6
        rows = ts._bpe_learn_merges(vocab)
    finally:
        ts._BPE_STEPS = old
    assert ("i", "</w>") in {(a, b) for _s, a, b, _n in rows}


def test_write_warc_commits_via_rename(spark, tmp_path):
    """The archive writer must leave NO attempt-temp files behind and
    the final part files must be complete, parseable archives (the
    temp-plus-rename commit protocol)."""
    from oil_wells_data_wrangling_spark.sources.warc import (
        parse_warc_bytes,
        read_warc,
        write_warc,
    )

    pages = spark.createDataFrame(
        [(f"https://example.com/{i}", f"<html><b>doc {i}</b></html>") for i in range(20)],
        "target_uri string, html string",
    ).repartition(4)
    out = str(tmp_path / "crawl")
    manifest = write_warc(pages, out).collect()
    assert sum(r.n_records for r in manifest) == 20
    names = sorted(os.listdir(out))
    assert all(n.endswith(".warc") for n in names), names  # no .tmp leftovers
    for n in names:
        with open(os.path.join(out, n), "rb") as f:
            recs = parse_warc_bytes(f.read(), n)
        assert recs and all(r["warc_type"] == "response" for r in recs)
    assert read_warc(spark, out).count() == 20


def _pq_recall(spark, sf_dir, cb_df) -> float:
    """Recall@5 of full-scan PQ asymmetric-distance ranking vs exact
    squared-L2, over the ivf_pq_search query panel (vec_ids 100-131).
    Codes come from the ENGINE's encode path; the tiny collected
    arrays (<=2000x64 floats) are ranked in numpy as ground truth."""
    import numpy as np

    from oil_wells_data_wrangling_spark.operators.similarity import (
        _PQ_DSUB,
        _PQ_M,
        pq_encode,
    )
    from oil_wells_data_wrangling_spark.sources.readers import load_tables

    t = load_tables(spark, sf_dir)
    emb_rows = t.embeddings.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in emb_rows])
    X = np.array([r.embedding for r in emb_rows], dtype=np.float64)
    order = np.argsort(ids)
    ids, X = ids[order], X[order]

    cb_rows = cb_df.collect()
    cb = {}  # (sub, code) -> centroid slice
    for r in cb_rows:
        cb[(r.sub, r.code)] = np.array(r.cd, dtype=np.float64)

    code_rows = pq_encode(
        t.embeddings.select("vec_id", "embedding"), cb_df
    ).collect()
    codes: dict[int, dict[int, int]] = {}
    for r in code_rows:
        codes.setdefault(r.vec_id, {})[r.sub] = r.code

    q_ids = [int(i) for i in ids if 100 <= i <= 131]
    hits, total = 0, 0
    for q in q_ids:
        qv = X[ids == q][0]
        # exact ground truth: squared-L2 top-5, excluding self
        d = ((X - qv) ** 2).sum(axis=1)
        d[ids == q] = np.inf
        gt = set(ids[np.argsort(d)[:5]].tolist())
        # PQ asymmetric distance: sum over subspaces of ||q_m - c_m||^2
        adist = np.zeros(len(ids))
        for j, vid in enumerate(ids):
            if vid == q:
                adist[j] = np.inf
                continue
            s = 0.0
            for m in range(_PQ_M):
                c = cb[(m, codes[int(vid)][m])]
                qs = qv[m * _PQ_DSUB : (m + 1) * _PQ_DSUB]
                s += ((qs - c) ** 2).sum()
            adist[j] = s
        got = set(ids[np.argsort(adist)[:5]].tolist())
        hits += len(gt & got)
        total += 5
    return hits / total


def test_pq_train_improves_recall(spark, sf_dir):
    """The trained codebooks must encode at least as faithfully as the
    first-16-vectors stand-in: full-scan PQ recall@5 with trained
    centroids >= stand-in recall (strictly better on this data — the
    measured values are recorded in BASELINE.md)."""
    from oil_wells_data_wrangling_spark.operators.similarity import (
        pq_standin_codebook,
        pq_train_codebook,
    )

    r_standin = _pq_recall(spark, sf_dir, pq_standin_codebook(spark, sf_dir))
    r_trained = _pq_recall(spark, sf_dir, pq_train_codebook(spark, sf_dir))
    print(f"PQ recall@5 stand-in={r_standin:.4f} trained={r_trained:.4f}")
    assert r_trained >= r_standin, (r_trained, r_standin)


def test_embedding_outliers_arrow_equals_sql_spec(spark, sf_dir):
    """The shipped Arrow matmul argmin must be BIT-EQUAL to the
    retained SQL spec (crossJoin + unrolled cosine + groupBy-min) —
    the minhash_signature_sql pattern. Covers the HALF_UP-vs-banker's
    rounding trap: Spark ROUND goes away from zero at .5, numpy's
    np.round would not."""
    from oil_wells_data_wrangling_spark.operators.similarity import (
        _eo_assign_arrow,
        _eo_assign_sql,
        _eo_report,
    )
    from oil_wells_data_wrangling_spark.sources.readers import load_tables

    t = load_tables(spark, sf_dir)
    fast = sorted(map(tuple, _eo_report(_eo_assign_arrow(spark, t)).collect()))
    spec = sorted(map(tuple, _eo_report(_eo_assign_sql(t)).collect()))
    assert fast == spec
    # and the raw assignments, not just the report
    fa = sorted(map(tuple, _eo_assign_arrow(spark, t).collect()))
    sa = sorted(map(tuple, _eo_assign_sql(t).select("centroid_id", "d").collect()))
    assert fa == sa


def test_write_warc_gzip_member_per_record_roundtrip(spark, tmp_path):
    """compress=True writes CommonCrawl's member-per-record gzip
    layout; read_warc's multi-member gunzip must recover every record
    byte-exactly, and each member must be independently decodable
    (the property that makes offset-indexed record seeks work)."""
    import gzip
    import zlib

    from oil_wells_data_wrangling_spark.sources.warc import (
        read_warc,
        write_warc,
    )

    pages = spark.createDataFrame(
        [(f"https://example.com/{i}", f"<html><i>gz doc {i}</i></html>") for i in range(12)],
        "target_uri string, html string",
    ).repartition(3)
    out = str(tmp_path / "gzcrawl")
    manifest = write_warc(pages, out, compress=True).collect()
    assert sum(r.n_records for r in manifest) == 12
    assert all(r.warc_out_file.endswith(".warc.gz") for r in manifest)

    # every member independently decodable = record-level seekability
    fname = manifest[0].warc_out_file
    with open(fname, "rb") as f:
        data = f.read()
    members = 0
    while data:
        d = zlib.decompressobj(wbits=31)
        blob = d.decompress(data)
        assert blob.startswith(b"WARC/1.0\r\n")
        members += 1
        data = d.unused_data
    assert members == manifest[0].n_records

    got = read_warc(spark, out).filter(F.col("warc_type") == "response")
    rows = {r.target_uri: bytes(r.payload).decode() for r in got.collect()}
    assert len(rows) == 12
    for i in range(12):
        assert rows[f"https://example.com/{i}"] == f"<html><i>gz doc {i}</i></html>"
    # determinism: gzip mtime pinned, so a rewrite is byte-identical
    out2 = str(tmp_path / "gzcrawl2")
    write_warc(pages, out2, compress=True).collect()
    with open(fname, "rb") as f:
        a = f.read()
    with open(fname.replace("gzcrawl", "gzcrawl2"), "rb") as f:
        b = f.read()
    assert a == b


def test_pq_train_output_bounded_and_broadcast(spark, sf_dir):
    """The trainer's output is codebook-sized (<= 8x16 rows) however
    big the corpus. The SQL-spec encode path (pq_encode) joins the
    codebook broadcast — never shuffled or nested-loop; the REGISTERED
    ann_pq_trained encodes via the Arrow twin, so its plan is a
    join-free MapInPandas scan feeding the final aggregate."""
    from oil_wells_data_wrangling_spark.operators.similarity import (
        pq_encode,
        pq_train_codebook,
    )
    from oil_wells_data_wrangling_spark.plans.registry import REGISTRY, _load_all
    from oil_wells_data_wrangling_spark.sources.readers import load_tables

    _load_all()
    rows = REGISTRY["pq_train"].fn(spark, sf_dir).collect()
    assert 0 < len(rows) <= 8 * 16
    assert all(0 <= r.sub < 8 and 0 <= r.code < 16 for r in rows)
    t = load_tables(spark, sf_dir)
    cb = pq_train_codebook(spark, sf_dir).localCheckpoint(eager=True)
    spec_plan = (
        pq_encode(t.embeddings.select("vec_id", "embedding"), cb)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in spec_plan
    assert "NestedLoop" not in spec_plan and "CartesianProduct" not in spec_plan
    reg_plan = (
        REGISTRY["ann_pq_trained"]
        .fn(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "MapInPandas" in reg_plan
    assert "Join" not in reg_plan  # encode is join-free by design


def test_pq_train_k64_same_plan_shape(spark, sf_dir):
    """The production-K claim: training with K=64 is the identical
    plan (one k-row broadcast + one partial-agg shuffle per step) —
    codes just span a wider range; every vector still encodes, and
    codebook size stays k x 8 at most."""
    from oil_wells_data_wrangling_spark.operators.similarity import (
        pq_encode,
        pq_train_codebook,
    )
    from oil_wells_data_wrangling_spark.sources.readers import load_tables

    cb = pq_train_codebook(spark, sf_dir, k=64, iters=1)
    rows = cb.collect()
    assert 0 < len(rows) <= 64 * 8
    assert all(0 <= r.code < 64 for r in rows)
    t = load_tables(spark, sf_dir)
    emb = t.embeddings.select("vec_id", "embedding")
    enc = pq_encode(emb, cb)
    n_vec = emb.count()
    per_vec = enc.groupBy("vec_id").count().collect()
    assert len(per_vec) == n_vec
    assert all(r["count"] == 8 for r in per_vec)


def test_read_warc_ignores_stale_attempt_temp_files(spark, tmp_path):
    """A killed attempt's leftover temp must be INVISIBLE to readers:
    the temp name is dot-prefixed (Spark's listing skips '.'/'_'
    names), so a crash between write and rename can never double- or
    partially-ingest an archive."""
    from oil_wells_data_wrangling_spark.sources.warc import (
        read_warc,
        write_warc,
    )

    pages = spark.createDataFrame(
        [(f"https://example.com/{i}", f"<p>doc {i}</p>") for i in range(6)],
        "target_uri string, html string",
    ).coalesce(1)
    out = str(tmp_path / "crawl")
    write_warc(pages, out).collect()
    # simulate a killed attempt: a stale temp holding a full copy AND
    # a truncated copy of the committed archive
    committed = os.path.join(out, sorted(os.listdir(out))[0])
    with open(committed, "rb") as f:
        blob = f.read()
    with open(os.path.join(out, ".part-00000.warc.attempt-7.tmp"), "wb") as f:
        f.write(blob)
    with open(os.path.join(out, ".part-00000.warc.attempt-8.tmp"), "wb") as f:
        f.write(blob[: len(blob) // 2])
    assert read_warc(spark, out).count() == 6  # not 12+, not 6+partial


def _executed_plan(spark, sf_dir, name: str) -> str:
    # the shared plan-string helper lives in test_plans; reuse it so a
    # future change to plan extraction (e.g. AQE final-plan handling)
    # lands in one place
    from test_plans import _plan

    return _plan(spark, sf_dir, name)


def test_mix_schedule_prunes_to_lang_only(spark, sf_dir):
    """The schedule needs only per-source counts: the documents scan
    must read the lang column alone — text reaching the scan would
    make the one corpus exchange carry documents, not counts."""
    plan = _executed_plan(spark, sf_dir, "mix_schedule")
    scan = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "lang" in scan and "text" not in scan and "doc_id" not in scan
    assert plan.count("HashAggregate") >= 2  # map-side partial count


def test_sft_pack_scan_reads_only_needed_columns(spark, sf_dir):
    """Packing consumes (doc_id, text) scalars computed in-scan; the
    exchange feeding the shard window must carry token counts, never
    the text column — asserted on each exchange's CHILD output line
    (the rows that actually shuffle), not on the partition-key list,
    where text could never appear anyway."""
    import re

    plan = _executed_plan(spark, sf_dir, "sft_pack")
    scan = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "doc_id" in scan and "text" in scan and "lang" not in scan
    lines = plan.splitlines()
    children = [
        lines[i + 1]
        for i, line in enumerate(lines)
        if re.search(r"Exchange hashpartitioning\(", line)
        and i + 1 < len(lines)
    ]
    assert children, "expected the shard-window exchange"
    for child in children:
        assert "text#" not in child, f"text rides the exchange: {child}"


def test_pq_train_sample_bounded_training(spark, sf_dir):
    """Production posture: codebooks train on a bounded sample (the
    faiss practice), so training cost is O(sample) not O(corpus) —
    measured 65.7s -> 8.9s at the 100x replica. The sampled codebook
    must still encode EVERY corpus vector (encode is the corpus-bounded
    pass), and member counts must sum to the sample size."""
    from oil_wells_data_wrangling_spark.operators.similarity import (
        pq_encode,
        pq_train_codebook,
    )
    from oil_wells_data_wrangling_spark.sources.readers import load_tables

    sample_n = 64
    cb = pq_train_codebook(spark, sf_dir, sample_n=sample_n)
    rows = cb.collect()
    assert all(r.n <= sample_n for r in rows)
    per_sub = {}
    for r in rows:
        per_sub[r.sub] = per_sub.get(r.sub, 0) + r.n
    assert all(v == sample_n for v in per_sub.values()), per_sub
    t = load_tables(spark, sf_dir)
    emb = t.embeddings.select("vec_id", "embedding")
    enc = pq_encode(emb, cb)
    assert enc.groupBy("vec_id").count().count() == emb.count()


def test_pq_encode_arrow_equals_sql(spark, sf_dir):
    """The Arrow encode twin must be BIT-EQUAL to the SQL spec
    (pq_encode) — on both the trained and the stand-in codebooks."""
    from oil_wells_data_wrangling_spark.operators.similarity import (
        pq_encode,
        pq_encode_arrow,
        pq_standin_codebook,
        pq_train_codebook,
    )
    from oil_wells_data_wrangling_spark.sources.readers import load_tables

    t = load_tables(spark, sf_dir)
    emb = t.embeddings.select("vec_id", "embedding")
    for cb in (
        pq_train_codebook(spark, sf_dir),
        pq_standin_codebook(spark, sf_dir),
    ):
        cb = cb.localCheckpoint(eager=True)
        sql_rows = sorted(
            (r.vec_id, r.sub, r.code) for r in pq_encode(emb, cb).collect()
        )
        arrow_rows = sorted(
            (r.vec_id, r.sub, r.code)
            for r in pq_encode_arrow(spark, emb, cb).collect()
        )
        assert arrow_rows == sql_rows


def test_pq_recall_grows_with_k(spark, sf_dir):
    """The production-K recall claim (r10 verdict item 3): recall@5
    must not degrade as the codebook widens 16 -> 256 — the measured
    table (standin 0.081, K=16 0.106, K=64 0.250, K=256 0.338 at
    sf0.1; measured by scripts/r11_pq_recall.py, now in git history)
    lives in BASELINE.md. The fixed signed-permutation rotation (OPQ's
    RR baseline) measured 0.181 at K=64 vs 0.250 unrotated — rotation
    hurts here, so no rotation operator landed (BASELINE.md round-11
    OPQ decision)."""
    from oil_wells_data_wrangling_spark.operators.similarity import (
        pq_train_codebook,
    )

    r16 = _pq_recall(spark, sf_dir, pq_train_codebook(spark, sf_dir, k=16))
    r256 = _pq_recall(spark, sf_dir, pq_train_codebook(spark, sf_dir, k=256))
    print(f"PQ recall@5 K=16={r16:.4f} K=256={r256:.4f}")
    assert r256 >= r16, (r256, r16)
