"""Harness-level tests (SURVEY.md §5.4): the measurement semantics the
reference's report consumers rely on — the UPPER-median quirk
(Benchmark.scala:267-273), per-query error capture that never aborts the
suite (Benchmark.scala:155-161), and the report serialization shape
(Benchmark.scala:61-88, 208-242).
"""

from __future__ import annotations

import json

import pytest

from lhbench_spark.harness import BenchmarkReport, BenchmarkRunner
from lhbench_spark.harness.report import spark_env_info
from lhbench_spark.harness.runner import upper_median


def test_upper_median_is_upper_not_mean():
    # odd n: the middle element
    assert upper_median([3.0, 1.0, 2.0]) == 2.0
    # even n: the UPPER of the two middle elements, never their mean —
    # the reference's sorted.drop(floor(n/2)).head quirk, bit-for-bit
    assert upper_median([1.0, 2.0, 3.0, 4.0]) == 3.0
    assert upper_median([10.0]) == 10.0
    with pytest.raises(ValueError):
        upper_median([])


def test_runner_captures_errors_and_drops_errored_medians(spark):
    r = BenchmarkRunner(spark)
    for it in (1, 2):
        r.run_query("ok", lambda: spark.range(3).selectExpr("sum(id) AS s"), it)
    r.run_query("boom", lambda: spark.sql("SELECT broken_fn(1)"), 1)
    # the suite continued past the error and recorded it
    assert "boom" in r.errors()
    meds = r.medians()
    assert "ok" in meds and "boom" not in meds
    # planning-time isolation: recorded and contained in the total
    ok_results = [q for q in r.results if q.name == "ok"]
    assert all(
        q.planning_ms is not None and q.planning_ms <= q.duration_ms
        for q in ok_results
    )
    # Catalyst-native phase isolation (QueryPlanningTracker): analysis /
    # optimization / planning durations recorded per measurement — the
    # engine-side analog of the reference's SparkListener planning split
    # (FileCountBenchmark.scala:305-336)
    assert all(
        q.phase_ms is not None
        and {"analysis", "optimization", "planning"} <= set(q.phase_ms)
        for q in ok_results
    )


def test_report_round_trips_json_and_csv(spark, tmp_path):
    r = BenchmarkRunner(spark)
    r.run_query("one", lambda: spark.range(5).selectExpr("count(*) AS c"))
    rep = BenchmarkReport(
        benchmark_id="t",
        specs={"k": "v"},
        env=spark_env_info(spark),
        query_results=r.results,
    )
    rep.report_extra_metric("suite-median-sum-seconds", 1.5)
    parsed = json.loads(rep.to_json(str(tmp_path / "r.json")))
    assert parsed["benchmark_id"] == "t"
    assert parsed["extra_metrics"]["suite-median-sum-seconds"] == 1.5
    assert parsed["query_results"][0]["name"] == "one"
    assert parsed["env"]["spark_version"]
    csv_text = rep.to_csv(str(tmp_path / "r.csv"))
    header = csv_text.splitlines()[0]
    assert header == "name,iteration,duration_ms,planning_ms,row_count,error"
    assert (tmp_path / "r.json").exists() and (tmp_path / "r.csv").exists()


def test_table_cli_lifecycle(spark, tmp_path):
    """`python -m lhbench_spark table <op> --root …`: the maintenance CLI
    drives history/optimize/restore/vacuum against a real table."""
    from lhbench_spark.__main__ import main
    from lhbench_spark.tables import ManagedTable

    root = str(tmp_path / "clit")
    t = ManagedTable.create(
        spark, root, spark.range(0, 50).selectExpr("id AS k"), num_files=4
    )
    t.delete("k >= 40")
    assert main(["table", "history", "--root", root]) == 0
    assert main(["table", "detail", "--root", root]) == 0
    assert main(["table", "optimize", "--root", root]) == 0
    assert main(["table", "restore", "--root", root, "--version", "0"]) == 0
    assert main(["table", "vacuum-orphans", "--root", root]) == 0
    t2 = ManagedTable(spark, root)
    assert t2.read().count() == 50  # restore brought the rows back
    assert t2.current.operation == "RESTORE"


def test_run_query_setup_failure_is_captured(spark):
    """A failing setup() must be recorded as this query's error (per-
    query capture, ignore_errors semantics) — never abort the suite."""
    from lhbench_spark.harness.runner import BenchmarkRunner

    r = BenchmarkRunner(spark)

    def boom():
        raise RuntimeError("setup exploded")

    res = r.run_query("cell", lambda: spark.range(1), setup=boom)
    assert res.error_msg and "setup exploded" in res.error_msg
    assert "cell" in r.errors()
    # the runner keeps running afterwards
    ok = r.run_query("next", lambda: spark.range(1))
    assert ok.error_msg is None and ok.row_count == 1


def test_run_query_setup_jobs_are_not_billed_to_the_query(spark):
    """setup() runs before the query's job group opens: its Spark jobs
    must not inflate the measured query's ``jobs`` count."""
    r = BenchmarkRunner(spark)

    def make():
        return spark.range(10).selectExpr("sum(id) AS s")

    bare = r.run_query("bare", make)
    res = r.run_query("with_setup", make, setup=lambda: spark.range(5).count())
    assert bare.jobs is not None and bare.jobs > 0
    assert res.error_msg is None and res.jobs == bare.jobs


def test_driver_mem_default_is_half_of_ram_capped():
    from lhbench_spark.session import _driver_mem_for

    gib = 1024 * 1024  # MemTotal is reported in kB
    assert _driver_mem_for(f"MemFree: 1 kB\nMemTotal: {16 * gib} kB\n") == "8192m"
    assert _driver_mem_for(f"MemTotal:       {15 * gib + 512} kB") == "7680m"
    assert _driver_mem_for(f"MemTotal: {512 * gib} kB") == "49152m"  # 48g cap
    assert _driver_mem_for("") == "49152m"  # unknown host: the cap
