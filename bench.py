"""Benchmark entry point — prints ONE JSON line with per-query medians.

Runs the full registered query suite (the operator inventory of
SURVEY.md §2 plus the LLM-pipeline extensions) at ``$SPARK_GRAFT_SF_DIR``
(default /root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]``.

Measurement semantics replicate the reference harness
(reference: src/main/scala/benchmark/Benchmark.scala:129-165, 267-273;
TPCDSBenchmark.scala:94-110): N iterations per query, wall clock around
plan+execute+fetch, per-query UPPER median, headline metric = sum of the
per-query medians (the ``tpcds-result-seconds`` analog).

Output (last stdout line):
  {"metric": "suite-median-sum", "value": <sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>, ...}
"""

from __future__ import annotations

import gc
import json
import os
import re
import sys
import time


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # 3 iterations like the reference (TPCDSBenchmark.scala:37): the
    # upper median of 3 discards a one-off GC/IO spike, which the
    # worse-of-2 upper median cannot.
    iterations = int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "3"))
    # Wall-clock budget: always finish iteration 1 (every query measured
    # once), then run further iterations only while inside the budget —
    # the driver gets a parseable line no matter how slow the slowest
    # query iteration is.
    # 1380s: room for 3 full iterations of the 287-query suite at sf0.1
    # even when one iteration absorbs a host-load stall era (measured
    # clean iterations 300-340s, stalled ones up to ~480s; the paired
    # 1.15x hard wall bounds the worst case at ~26 min). Fitting the 3rd
    # iteration is the stall mitigation itself: with 3 samples the
    # upper median skips the one stalled run per query, with 2 it IS the
    # stalled run — a 30% budget increase buys a ~2x cleaner headline.
    # The driver tolerated 514-860s walls (rounds 2-6) without
    # complaint; the guard still hard-stops runaway iterations.
    budget_sec = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET", "1380"))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    from lhbench_spark.harness import BenchmarkReport, BenchmarkRunner
    from lhbench_spark.harness.report import spark_env_info
    from lhbench_spark.queries import all_queries
    from lhbench_spark.session import get_spark

    t_start = time.monotonic()
    spark = get_spark("lhbench_spark_bench", cpus=cpus)
    runner = BenchmarkRunner(spark)

    # Untimed warmup: JVM class-loading, whole-stage-codegen compiler, and
    # parquet-source initialization happen once here instead of inside the
    # first measured query (alphabetical order was billing ~6s of one-time
    # session warmup to agg_conditional_pivot). The reference's semantics
    # are warm: a long-lived cluster session + 3-iteration median that
    # discards the cold run (Benchmark.scala:129-165, 267-273).
    from lhbench_spark.catalog import table

    spark.range(1_000_000).selectExpr("id % 97 AS k").groupBy("k").count().collect()
    try:
        table(spark, sf_dir, "nation").filter("n_nationkey >= 0").collect()
    except Exception as exc:  # noqa: BLE001 — warmup must never kill the bench
        print(f"bench: warmup read skipped: {exc}", file=sys.stderr)
    # TPC-DS dataset materialization is a once-per-process harness cost
    # (generate + write parquet), not a query cost — doing it here keeps
    # it out of the alphabetically-first tpcds_* query's timing.
    try:
        from lhbench_spark.tpcds_data import (
            materialize,
            materialize_partitioned_store_sales,
        )

        materialize(spark, sf_dir)
        materialize_partitioned_store_sales(spark, sf_dir)
    except Exception as exc:  # noqa: BLE001
        print(f"bench: tpcds warmup skipped: {exc}", file=sys.stderr)

    suite = {
        name: (lambda qd=qd: qd.spark_fn(spark, sf_dir))
        for name, qd in sorted(all_queries().items())
    }
    iters_done = 0
    last_iter_sec = 0.0
    for it in range(1, iterations + 1):
        elapsed = time.monotonic() - t_start
        # Predictive guard: don't START an iteration the budget can't fit
        # (the previous iteration's duration is the estimate) — otherwise
        # an iteration starting just under the budget overruns it by a
        # whole iteration length.
        if it > 1 and elapsed + last_iter_sec > budget_sec:
            print(
                f"bench: budget {budget_sec}s cannot fit iteration {it} "
                f"(elapsed {elapsed:.0f}s + est {last_iter_sec:.0f}s); stopping",
                file=sys.stderr,
            )
            break
        t_it = time.monotonic()
        aborted = False
        for qi, name in enumerate(sorted(suite)):
            # Hard wall: the predictive guard above estimates from the
            # PREVIOUS iteration, and a later iteration running slower
            # than its estimate (measured: +90s on iteration 3) would
            # overrun unboundedly. Past 1.15x budget, stop mid-iteration:
            # per-query medians still compute over however many runs each
            # query completed.
            if time.monotonic() - t_start > budget_sec * 1.15:
                print(
                    f"bench: hard wall at {budget_sec * 1.15:.0f}s inside "
                    f"iteration {it} after {qi} queries; stopping",
                    file=sys.stderr,
                )
                aborted = True
                break
            runner.run_query(name, suite[name], it)
            # Mid-iteration JVM GC, OUTSIDE any measured query: the
            # ContextCleaner frees shuffle files / broadcast vars /
            # checkpoint blocks only after a GC proves their driver-side
            # references dead, and with spark.local.dir on tmpfs that
            # backlog is RAM. At ~250 queries/iteration the
            # boundary-only GC let pressure build into a measured
            # mid-iteration stall era (0.3s queries at 7-54s); a
            # 50-query cadence still left a stall era mid-window
            # (measured: positions 79-87 of iteration 2 at 5-44s, right
            # before the allocation-heavy dedup/events families).
            # Collect every 25 queries — the pause is sub-second when
            # there's little garbage, and it bills to no query. (A
            # periodic in-JVM GC timer would fire INSIDE measured
            # queries — measured +10% suite-wide.)
            if (qi + 1) % 25 == 0:
                # Python FIRST: py4j proxies caught in CPython reference
                # cycles pin their JVM objects (DataFrames, RDD handles,
                # persisted-block owners) via gateway references that no
                # amount of JVM-side GC can break — collect the cycles,
                # THEN let the JVM see the objects dead.
                gc.collect()
                # Drop leftover localCheckpoint blocks DETERMINISTICALLY:
                # each query's checkpointed frames are dead once its
                # result is collected, but their storage-memory blocks
                # survive until a GC + ContextCleaner round notices —
                # and accumulated blocks were the measured iteration-2
                # "stall era" (storage eviction churn landing 5-20s on
                # whichever allocation-heavy query ran next). Between
                # queries nothing persisted is live by construction, so
                # unpersist everything instead of waiting for the GC to
                # prove it.
                try:
                    for rdd in (
                        spark.sparkContext._jsc.getPersistentRDDs().values()
                    ):
                        rdd.unpersist(False)
                except Exception:  # noqa: BLE001 — cleanup must not kill bench
                    pass
                spark.sparkContext._jvm.System.gc()
        if aborted:
            break
        last_iter_sec = time.monotonic() - t_it
        iters_done = it
        # Iteration-boundary JVM GC: the suite's DML/streaming queries
        # accumulate broadcast vars, localCheckpoint blocks, and shuffle
        # files that the ContextCleaner only releases after their Java
        # objects are collected. Left alone, the 48g heap reaches full-GC
        # pressure mid-iteration-2 and random cheap queries absorb
        # multi-second pauses (measured: 0.9s queries spiking to 9s).
        # Collecting at the boundary keeps the pauses out of measurements.
        gc.collect()
        spark.sparkContext._jvm.System.gc()
    medians = runner.medians()
    total = sum(medians.values())
    wall = time.monotonic() - t_start

    report = BenchmarkReport(
        benchmark_id=f"lhbench_spark-sf{sf}",
        specs={"sf_dir": sf_dir, "iterations": str(iterations), "cpus": str(cpus)},
        env=spark_env_info(spark),
        query_results=runner.results,
        # Host-immune channel (r10 VERDICT #2): per-query Spark job
        # counts + min-of-N alongside the medians, so a cross-round diff
        # survives host stall eras. The one-line JSON below is unchanged.
        query_stats=runner.per_query_stats(),
    )
    report.report_extra_metric("suite-median-sum-seconds", total)
    report.to_json(os.path.join(os.path.dirname(__file__) or ".", "bench_report.json"))

    errors = runner.errors()
    if errors:
        print(f"bench: {len(errors)} queries errored: {sorted(errors)}", file=sys.stderr)
        for name, msg in errors.items():
            print(f"  {name}: {msg}", file=sys.stderr)

    # The driver captures only the last ~2000 chars of stdout and parses
    # the final line as JSON — a longer line gets head-truncated and is
    # unparseable (this is exactly what nulled BENCH_r02). Emit compact
    # JSON and, if the full per-query map still doesn't fit, keep the
    # slowest queries (the ones that matter for perf judging) and say how
    # many were omitted; bench_report.json always has the full map.
    MAX_LINE = 1900

    def render(qmap: dict[str, float], omitted: int) -> str:
        line = {
            "metric": "suite-median-sum",
            "value": round(total, 3),
            "unit": "sec",
            "queries": {k: round(v, 2) for k, v in sorted(qmap.items())},
            "sf": sf,
            "iterations": iters_done,
            "n_queries": len(suite),
            "n_errored": len(errors),
            "wall_clock_sec": round(wall, 1),
        }
        if omitted:
            line["queries_omitted"] = omitted
        return json.dumps(line, separators=(",", ":"))

    by_cost = sorted(medians, key=medians.get, reverse=True)
    keep = len(by_cost)
    out = render(medians, 0)
    while len(out) > MAX_LINE and keep > 1:
        keep -= 1
        out = render({k: medians[k] for k in by_cost[:keep]}, len(by_cost) - keep)
    if keep < len(by_cost):
        print(
            f"bench: per-query map trimmed to the {keep} slowest queries to fit "
            f"the driver's line buffer; dropped (fastest): {sorted(by_cost[keep:])}",
            file=sys.stderr,
        )
    print(out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
