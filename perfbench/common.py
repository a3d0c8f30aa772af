"""Pieces every workload shares: the Spark session's life cycle, spans
with Spark job/stage/task counts, the run context and its outcome, and
the order statistics the metrics are built from."""

from __future__ import annotations

import math
import statistics
import subprocess
import time
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field

# Set-up is repeated this many times per run and its median reported;
# the first repetition also starts the JVM.
SETUP_REPS = 3


@dataclass
class Context:
    seed: int
    seconds: float
    trace: bool
    work_dir: str  # scratch space of this run, removed when it ends
    cache_dir: str  # generated inputs, kept between runs
    tracer: Tracer


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)  # failed output checks
    e2e: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    # how many measurements each end-to-end metric is taken over
    samples: dict[str, int] = field(default_factory=dict)

    def check(self, ok: bool, message: str) -> None:
        if not ok:
            self.errors.append(message)


def median(xs) -> float:
    return float(statistics.median(xs))


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``q``%
    of the samples at or below it."""
    s = sorted(xs)
    return float(s[max(0, math.ceil(q / 100 * len(s)) - 1)])


class Tracer:
    """One span per call into a layer, timed around the call, plus the
    Spark jobs, stages and tasks the call ran (counted through a job
    group per span and ``SparkContext.statusTracker()``). Disabled, a
    span costs one ``perf_counter`` pair and touches no Spark state."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._sc = None

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    @contextmanager
    def span(self, name: str, parent: str | None = None):
        rec = {"name": name, "parent": parent}
        group = f"perfbench.{len(self.spans)}"
        if self.enabled:
            self._sc.setJobGroup(group, name, False)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["s"] = rec["end"] - rec["start"]
            if self.enabled:
                self._sc._jsc.clearJobGroup()
                rec.update(self._counts(group))
                self.spans.append(rec)

    def _counts(self, group: str) -> dict:
        sc = self._sc
        # job and stage events reach the status store through the
        # listener bus; drain it so the counts are complete
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        stages: set[int] = set()
        jobs = tracker.getJobIdsForGroup(group)
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        for s in stages:
            info = tracker.getStageInfo(s)
            if info is not None:
                tasks += info.numCompletedTasks
        return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks}

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def warm_median(self, name: str, key: str = "s") -> float:
        """Median of ``key`` over the span's calls, leaving out the first
        (cold) call when there are later ones."""
        calls = self.named(name)
        if not calls:
            return 0.0
        return median([c[key] for c in (calls[1:] or calls)])

    def last(self, name: str, key: str) -> float:
        calls = self.named(name)
        return float(calls[-1][key]) if calls else 0.0


def persisted_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def start_sessions(
    ctx: Context, prepare: Callable | None = None
) -> tuple[object, list[float], list[float]]:
    """Set up ``SETUP_REPS`` times, each on a fresh SparkContext:
    ``get_spark`` plus one warm-up job, then ``prepare(spark)`` for the
    workload's own program-side set-up. Returns the last session with
    each repetition's set-up and ``get_spark`` seconds."""
    from oil_wells_data_wrangling_spark.session import get_spark

    spark = None
    setup_s: list[float] = []
    get_spark_s: list[float] = []
    for _ in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench")
        t1 = time.perf_counter()
        ctx.tracer.bind(spark)
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        if prepare is not None:
            prepare(spark)
        setup_s.append(time.perf_counter() - t0)
        get_spark_s.append(t1 - t0)
    return spark, setup_s, get_spark_s


def session_layers(out: Outcome, setup_s: list[float], get_spark_s: list[float]):
    out.e2e["setup_s"] = median(setup_s)
    out.layers["session.get_spark_s"] = median(get_spark_s)
    out.layers["session.get_spark_cold_s"] = get_spark_s[0]


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to
    exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
