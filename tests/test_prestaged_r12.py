"""Parity and property tests for quality_ensemble, elo_ratings and
cdx_domain_captures, built before they were registered.

The parity tests run the same Spark-vs-DuckDB comparison the driver does;
test_oracle_parity now covers that too. The property tests are this
file's own.
"""

from __future__ import annotations

from oil_wells_data_wrangling_spark.operators.corpus import (
    ELO_RATINGS_ORACLE,
    elo_ratings,
)
from oil_wells_data_wrangling_spark.operators.textstats import (
    QUALITY_ENSEMBLE_ORACLE,
    quality_ensemble,
)
from tests.test_oracle_parity import _assert_frames_match


def test_quality_ensemble_matches_oracle(spark, duck, sf_dir):
    sp = quality_ensemble(spark, sf_dir).toPandas()
    du = duck.execute(QUALITY_ENSEMBLE_ORACLE).fetchdf()
    _assert_frames_match(sp, du, "quality_ensemble")


def test_quality_ensemble_rank_properties(spark, sf_dir):
    pdf = quality_ensemble(spark, sf_dir).toPandas()
    assert len(pdf) == 100
    # fused ranks are exactly 1..100, unique
    assert sorted(pdf["ensemble_rank"]) == list(range(1, 101))
    # borda is the sum of the leg ranks (exact global ranks, so ≥1)
    assert (pdf["borda"] == pdf["rank_a"] + pdf["rank_b"]).all()
    assert (pdf["rank_a"] >= 1).all() and (pdf["rank_b"] >= 1).all()
    # fused order is (borda, doc_id)-monotone
    srt = pdf.sort_values("ensemble_rank")
    assert (
        srt[["borda", "doc_id"]].apply(tuple, axis=1).is_monotonic_increasing
    )


def test_elo_ratings_matches_oracle(spark, duck, sf_dir):
    sp = elo_ratings(spark, sf_dir).toPandas()
    du = duck.execute(ELO_RATINGS_ORACLE).fetchdf()
    _assert_frames_match(sp, du, "elo_ratings")


def test_elo_ratings_properties(spark, sf_dir):
    pdf = elo_ratings(spark, sf_dir).toPandas()
    # every participating source rated; games double-count per side
    assert (pdf["n_games"] >= 1).all()
    assert pdf["n_wins"].sum() * 2 == pdf["n_games"].sum()
    assert (pdf["n_wins"] <= pdf["n_games"]).all()
    # K=32 per game bounds total movement from the 1.5e6-milli start
    lim = 32 * 1000 * pdf["n_games"]
    assert ((pdf["elo_milli"] - 1_500_000).abs() <= lim).all()
    # someone moved (the corpus is not a perfect tie)
    assert (pdf["elo_milli"] != 1_500_000).any()


def test_elo_ratings_period_order_matters(spark, sf_dir):
    """Elo is order-sensitive by design — the whole reason it exists
    next to preference_bt's batch fit. Verify the implementation is
    genuinely sequential: recompute with the period axis collapsed
    (all games in one period) and demand a DIFFERENT rating vector.
    If this ever converges to equality the period loop has degenerated
    into a single batch update."""
    import oil_wells_data_wrangling_spark.operators.corpus as c

    full = {
        r.source: r.elo_milli for r in elo_ratings(spark, sf_dir).collect()
    }
    orig = c._ELO_PERIODS
    try:
        c._ELO_PERIODS = 1  # doc_id % 1 == 0: every game lands in period 0
        one = {
            r.source: r.elo_milli for r in elo_ratings(spark, sf_dir).collect()
        }
    finally:
        c._ELO_PERIODS = orig
    assert set(full) == set(one)
    assert full != one


def test_wide_docs_do_not_overflow_q(spark, tmp_path):
    """The distinct-permille q feeding elo_ratings / dpo_pairs /
    preference_bt / importance_resample multiplied an int32 size() by
    1e6 — any document with ≥2148 distinct tokens crashed under ANSI
    (Spark 4 default) and silently wrapped otherwise, while DuckDB's
    BIGINT len() stayed correct. Pin the fix with a 2500-distinct-token
    document end-to-end against the oracle."""
    import duckdb

    rows = [
        (i, "en", f"src{i % 3}", " ".join(f"w{i}t{j}" for j in range(2500)))
        for i in range(8)
    ]
    sf = str(tmp_path / "sf")
    import os

    os.makedirs(sf)
    spark.createDataFrame(
        rows, "doc_id long, lang string, source string, text string"
    ).coalesce(1).write.parquet(sf + "/documents.parquet")

    sp = elo_ratings(spark, sf).toPandas()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet/*.parquet')"
    )
    du = con.execute(ELO_RATINGS_ORACLE).fetchdf()
    _assert_frames_match(sp, du, "elo_ratings/wide-docs")


def test_cdx_domain_captures_matches_oracle(spark, duck, sf_dir):
    from oil_wells_data_wrangling_spark.operators.webtable import (
        CDX_CAPTURES_ORACLE,
        cdx_domain_captures,
    )

    sp = cdx_domain_captures(spark, sf_dir).toPandas()
    du = duck.execute(CDX_CAPTURES_ORACLE).fetchdf()
    _assert_frames_match(sp, du, "cdx_domain_captures")
    # the prefix is genuinely mid-path: multi-digit captures included
    assert (sp["urlkey"].str.len() > len("com,example)/d/1")).any()
