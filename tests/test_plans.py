"""Plan-shape assertions (SURVEY.md §5): the optimizations the engine
promises must actually appear in the physical plans."""

from __future__ import annotations

from oil_wells_data_wrangling_spark.plans.registry import REGISTRY, _load_all

_load_all()


def _plan(spark, sf_dir, name: str) -> str:
    return REGISTRY[name].fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()


def test_pricing_summary_pushdown(spark, sf_dir):
    plan = _plan(spark, sf_dir, "agg_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: the scan must not read l_orderkey/l_partkey etc.
    scan = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "l_orderkey" not in scan and "l_comment" not in scan


def test_dimension_joins_broadcast(spark, sf_dir):
    for name in ("join_region_rollup", "events_enrich", "well_pipeline"):
        plan = _plan(spark, sf_dir, name)
        assert "BroadcastHashJoin" in plan, name


def test_topn_uses_take_ordered(spark, sf_dir):
    assert "TakeOrderedAndProject" in _plan(spark, sf_dir, "join_revenue_topn")


def test_pricing_partial_aggregation(spark, sf_dir):
    plan = _plan(spark, sf_dir, "agg_pricing_summary")
    assert plan.count("HashAggregate") >= 2  # partial + final around one shuffle
    assert plan.count("Exchange") == 1


def test_minhash_no_python_udf(spark, sf_dir):
    plan = _plan(spark, sf_dir, "dedup_minhash")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_decontaminate_broadcasts_eval_side(spark, sf_dir):
    """The eval-shingle set and the scalar count must broadcast; the
    training side must never be the build side of a broadcast."""
    plan = _plan(spark, sf_dir, "decontaminate")
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_shard_stats_single_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "shard_stats")
    assert plan.count("HashAggregate") >= 2  # map-side partials
    assert plan.count("Exchange") == 1


def test_bucket_quantiles_partial_agg(spark, sf_dir):
    """The histogram build must combine map-side: partial + final
    HashAggregate around the one shuffle feeding the window."""
    plan = _plan(spark, sf_dir, "bucket_quantiles")
    assert plan.count("HashAggregate") >= 2


def test_range_join_is_hash_not_nested_loop(spark, sf_dir):
    """Bucketization must turn the interval join into a hash join; a
    BroadcastNestedLoopJoin would scan every interval per row."""
    plan = _plan(spark, sf_dir, "range_join")
    assert "BroadcastHashJoin" in plan
    assert "NestedLoop" not in plan


def test_pii_redact_single_scan_no_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "pii_redact")
    assert "Exchange" not in plan  # pure per-row projection
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_driver_window_covers_required_queries():
    """The driver's CORRECTNESS gate reads the first 50 names queries()
    yields; the window is derived from the committed CORRECTNESS_r*.json
    history. Invariants:

    1. the window is 50 distinct registered names, derived from the
       history — no silent reorder;
    2. every registered operator with NO green driver row in any
       committed CORRECTNESS file must be in-window (new operators get
       their first row the round they land);
    3. no operator's latest green row may age past R-5 without being
       in-window (R = the upcoming round). R-5 rather than R-4 so that
       committing round N's own CORRECTNESS file cannot red the suite.
    """
    from oil_wells_data_wrangling_spark.plans.registry import (
        all_queries,
        driver_history,
        driver_window,
    )

    qs = all_queries()
    window = list(qs)[:50]
    max_round, latest = driver_history()
    assert len(set(window)) == 50
    assert window == driver_window(qs, latest), "window must be the derived one"

    upcoming = max_round + 1
    never_checked = [n for n in qs if n not in latest]
    stranded_new = sorted(set(never_checked) - set(window))
    assert not stranded_new, (
        f"operators with no driver row ever must be in-window: {stranded_new}"
    )
    stale = sorted(
        n
        for n in qs
        if n not in window and latest.get(n, 0) < upcoming - 5
    )
    assert not stale, (
        f"operators whose latest green row predates r{upcoming - 5} "
        f"must rotate in-window: {stale}"
    )


def test_driver_window_derivation(tmp_path, monkeypatch):
    """The window rotates by itself: fabricated CORRECTNESS files in a
    scratch directory drive the reader and the pure ordering."""
    import json

    from oil_wells_data_wrangling_spark.plans.registry import (
        driver_history,
        driver_window,
    )

    green = {"rows_match": True, "schema_match": True, "err": None}
    red = {**green, "rows_match": False}

    def commit(rnd: int, rows: dict) -> None:
        (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(rows))

    cohort_a = [f"q{i:03d}" for i in range(0, 50)]
    cohort_b = [f"q{i:03d}" for i in range(50, 100)]
    cohort_c = [f"q{i:03d}" for i in range(100, 150)]
    commit(14, {n: green for n in cohort_a + cohort_b + cohort_c} | {"flaky": red})
    commit(15, {n: green for n in cohort_a})
    commit(16, {n: green for n in cohort_b}
           | {"q100": red, "q101": {**green, "err": "boom"}})
    # registry order deliberately not alphabetical
    names = ["new_op", *reversed(cohort_a + cohort_b + cohort_c), "flaky"]

    max_round, latest = driver_history(tmp_path)
    assert max_round == 16
    # red rows (rows_match false, or an error) do not count as green
    assert latest["q100"] == latest["q101"] == 14 and "flaky" not in latest
    # never-green names first, then the oldest cohort; ties by name
    assert driver_window(names, latest) == ["flaky", "new_op", *cohort_c[:48]]

    # committing a round re-greens the oldest cohort: the next-oldest moves in
    commit(17, {n: green for n in cohort_c + ["flaky", "new_op"]})
    max_round, latest = driver_history(tmp_path)
    assert max_round == 17
    assert driver_window(names, latest) == cohort_a

    # no history (an installed package): registry order
    (tmp_path / "empty").mkdir()
    assert driver_history(tmp_path / "empty") == (0, {})
    assert driver_window(names, {}) == names[:50]

    # the default reads the repo root, whatever the working directory
    repo = driver_history()
    monkeypatch.chdir(tmp_path)
    assert driver_history() == repo != driver_history(tmp_path)


def test_headline_set_is_pinned():
    """bench.py times exactly the headline-flagged queries; BASELINE.md
    carries a standing row for each. Losing a flag would silently drop
    a query from the regression fence — pin the set."""
    from oil_wells_data_wrangling_spark.plans.registry import (
        REGISTRY,
        _load_all,
    )

    _load_all()
    headliners = {n for n, q in REGISTRY.items() if q.headline}
    assert headliners == {
        "events_window_agg", "dedup_minhash", "corpus_pipeline_full",
        "corpus_pipeline", "agg_pricing_summary", "join_revenue_topn",
        "join_region_rollup", "well_pipeline", "ann_topk", "decontaminate",
        "semdedup_pipeline", "domain_pagerank", "crawl_to_corpus",
        "rrf_fusion",
    }
    # every headliner must also carry an exact oracle
    assert all(REGISTRY[n].oracle for n in headliners)
