"""Per-query timing runner.

Replicates the reference's measurement semantics exactly
(reference: src/main/scala/benchmark/Benchmark.scala:129-165):

- one wall-clock window around ``build DataFrame + collect()`` — i.e.
  timing INCLUDES Catalyst planning + execution + result fetch;
- a Spark job group per (query, iteration) so work is attributable and
  cancellable (Benchmark.scala:143);
- errors are captured per query, never abort the suite
  (Benchmark.scala:155-161, ``ignoreError=true`` default);
- the per-query metric over N iterations is the UPPER median —
  ``sorted.drop(floor(n/2)).head`` (Benchmark.scala:267-273) — replicated
  bit-for-bit for metric parity with the published baseline.

At 100 TB nothing here changes: the runner stays driver-side and O(1) in
data size; all heavy lifting is inside the collected query itself.
"""

from __future__ import annotations

import math
import time
import traceback
from collections.abc import Callable, Mapping
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass
class QueryResult:
    """One (query, iteration) measurement.

    Mirrors ``QueryResult(name, iteration, durationMs, errorMsg)``
    (reference: Benchmark.scala:61-65)."""

    name: str
    iteration: int
    duration_ms: float
    error_msg: str | None = None
    row_count: int | None = None
    # Planning-time isolation (FileCountBenchmark.scala:305-336 measures
    # query-start→first-job-start; here: DataFrame construction + Catalyst
    # analysis/optimization/physical planning, before any job). Always
    # contained in duration_ms — a diagnostic split, not a second metric.
    planning_ms: float | None = None
    # Catalyst's own per-phase clock (QueryPlanningTracker):
    # {"analysis": ms, "optimization": ms, "planning": ms} — engine-native
    # phase isolation, finer than the wall split above (which also counts
    # Python-side DataFrame construction and py4j traffic).
    phase_ms: dict | None = None
    # Spark jobs launched inside this run's job group — deterministic and
    # host-load-immune, so cross-round comparisons survive the sandbox's
    # stall eras (a query that runs the same plan launches the same jobs
    # whether the host is calm or thrashing). Counted from the status
    # tracker after collect(); None when the tracker is unavailable.
    jobs: int | None = None


def _tracker_phases(qe) -> dict | None:
    """Catalyst QueryPlanningTracker phase durations (ms) — the
    engine-native analog of the reference's listener-based planning
    isolation (FileCountBenchmark.scala:305-336): instead of inferring
    planning as query-start→first-job-start from SparkListener events,
    read Catalyst's own per-phase clock. Diagnostic only; never raises."""
    try:
        out: dict[str, int] = {}
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            out[str(kv._1())] = int(kv._2().durationMs())
        return out or None
    except Exception:  # noqa: BLE001 — diagnostics must not fail a query
        return None


def upper_median(values: list[float]) -> float:
    """Upper median: sort, drop floor(n/2), take head.

    Exact replica of Benchmark.scala:267-273 — for even n this picks the
    upper of the two middle elements (NOT their mean)."""
    if not values:
        raise ValueError("upper_median of empty list")
    s = sorted(values)
    return s[math.floor(len(s) / 2)]


@dataclass
class BenchmarkRunner:
    """Run a named set of DataFrame-producing callables with timing.

    ``iterations`` defaults to 3 like the reference
    (TPCDSBenchmarkConf default, TPCDSBenchmark.scala:37)."""

    spark: SparkSession
    iterations: int = 3
    ignore_errors: bool = True
    results: list[QueryResult] = field(default_factory=list)

    def run_query(
        self,
        name: str,
        make_df: Callable[[], DataFrame],
        iteration: int = 1,
        setup: Callable[[], None] | None = None,
    ) -> QueryResult:
        """Time one query end-to-end (plan + execute + fetch).

        ``setup`` runs OUTSIDE the timing window, before it opens — for
        state-mutating workload cells (DELETE/MERGE micro-benchmarks)
        that must re-establish a fresh table per measured run so every
        iteration times the real operation, never a no-op re-run."""
        sc = self.spark.sparkContext
        group = f"{name}-i{iteration}"
        # Measurement isolation: operators that persist intermediates
        # (dedup signature sets) must not carry cached state into the next
        # query or iteration — every measurement is a clean cold run, and
        # the session never accumulates leaked cache entries across a
        # 60+-query suite.
        self.spark.catalog.clearCache()
        t0 = time.monotonic_ns()
        try:
            if setup is not None:
                setup()
            # Open the job group and (re)open the timing window AFTER
            # setup: neither its wall time nor its jobs may be billed to
            # the query, but a setup failure must still be captured as
            # this query's error like any make_df failure — not abort
            # the whole suite past ignore_errors.
            sc.setJobGroup(group, f"{name} iteration {iteration}")
            t0 = time.monotonic_ns()
            df = make_df()
            # Force planning through the physical plan (cached inside the
            # QueryExecution, so collect() below does not redo it); the
            # planning/execution split of metadata-heavy layouts is the
            # reference's file-count headline measurement.
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            planning_ms = (time.monotonic_ns() - t0) / 1e6
            phase_ms = _tracker_phases(qe)
            rows = df.collect()
            dur_ms = (time.monotonic_ns() - t0) / 1e6
            res = QueryResult(
                name, iteration, dur_ms, None, len(rows), planning_ms, phase_ms,
                jobs=self._group_jobs(group),
            )
        except Exception as exc:  # noqa: BLE001 — per-query capture by design
            dur_ms = (time.monotonic_ns() - t0) / 1e6
            msg = "".join(
                traceback.format_exception_only(type(exc), exc)
            ).strip()
            res = QueryResult(name, iteration, dur_ms, msg, None)
            if not self.ignore_errors:
                self.results.append(res)
                raise
        finally:
            sc.setJobGroup("", "")
        self.results.append(res)
        return res

    def _group_jobs(self, group: str) -> int | None:
        """Spark jobs launched under ``group`` (statusTracker) — the
        host-immune per-query metric; failures degrade to None."""
        try:
            tracker = self.spark.sparkContext.statusTracker()
            return len(tracker.getJobIdsForGroup(group))
        except Exception:  # noqa: BLE001 — diagnostics must not fail a query
            return None

    def run_suite(
        self,
        queries: Mapping[str, Callable[[], DataFrame]],
    ) -> dict[str, float]:
        """Run every query ``iterations`` times; return {name: upper-median
        seconds} for queries that never errored.

        Iteration-major order like the reference (TPCDSBenchmark.scala:94-98:
        for iteration, for each query sorted by name) so warm-cache effects
        spread evenly across queries rather than clustering per query."""
        for it in range(1, self.iterations + 1):
            for name in sorted(queries):
                self.run_query(name, queries[name], it)
        return self.medians()

    def medians(self) -> dict[str, float]:
        """Upper-median seconds per fully-successful query.

        Matches the reference's metric gate: a query contributes only if
        ALL its iterations succeeded (TPCDSBenchmark.scala:100-108)."""
        by_name: dict[str, list[QueryResult]] = {}
        for r in self.results:
            by_name.setdefault(r.name, []).append(r)
        out: dict[str, float] = {}
        for name, rs in by_name.items():
            if any(r.error_msg for r in rs):
                continue
            out[name] = upper_median([r.duration_ms for r in rs]) / 1000.0
        return out

    def errors(self) -> dict[str, str]:
        return {r.name: r.error_msg for r in self.results if r.error_msg}

    def per_query_stats(self) -> dict[str, dict]:
        """Host-noise-immune per-query summary for the report: upper
        median and MIN wall seconds over the completed iterations, plus
        the Spark job count (min over iterations — job counts are
        deterministic for a fixed plan, but a first iteration can carry
        one-off session warmup jobs billed to its group). A stalled host
        inflates medians; the min and the job count survive it, so
        cross-round comparisons should lean on these."""
        by_name: dict[str, list[QueryResult]] = {}
        for r in self.results:
            by_name.setdefault(r.name, []).append(r)
        out: dict[str, dict] = {}
        for name, rs in sorted(by_name.items()):
            if any(r.error_msg for r in rs):
                continue
            secs = [r.duration_ms / 1000.0 for r in rs]
            jobs = [r.jobs for r in rs if r.jobs is not None]
            out[name] = {
                "median_sec": round(upper_median(secs), 3),
                "min_sec": round(min(secs), 3),
                "jobs": min(jobs) if jobs else None,
                "iters": len(secs),
            }
        return out
