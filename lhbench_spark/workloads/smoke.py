"""The reference's "test" benchmark (TestBenchmark.scala:49-72,
dispatched by run-benchmark.py:30-35): the minimal end-to-end liveness
check run before any real workload — a scalar SQL query, a database
create/use/drop cycle, and a managed-table write → read-back — each
timed and error-captured through the same harness as the real suites.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from lhbench_spark.harness import BenchmarkReport, BenchmarkRunner
from lhbench_spark.harness.report import spark_env_info
from lhbench_spark.tables import LakeCatalog


def run(spark: SparkSession) -> BenchmarkReport:
    runner = BenchmarkRunner(spark)
    report = BenchmarkReport(
        benchmark_id="smoke",
        specs={},
        env=spark_env_info(spark),
        query_results=[],
    )

    # 1. scalar SQL (TestBenchmark.scala:50 `SELECT 1`)
    runner.run_query("select-one", lambda: spark.sql("SELECT 1 AS one"))

    # 2. database lifecycle (TestBenchmark.scala:53-64)
    root = tempfile.mkdtemp(prefix="lhbench_smoke_")
    cat = LakeCatalog(spark, root)

    def db_cycle():
        cat.create_database("smoke_db")
        cat.use("smoke_db")
        return spark.createDataFrame(
            [(d,) for d in cat.show_databases()], "database STRING"
        )

    runner.run_query("db-lifecycle", db_cycle)

    # 3. table write + read-back (TestBenchmark.scala:66-72)
    def table_roundtrip():
        df = spark.range(100).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        cat.create_table("smoke_t", df, num_files=2)
        back = cat.table("smoke_t").read()
        assert back.count() == 100, "read-back row count mismatch"
        return back.agg(F.sum("v").alias("v_sum"))

    runner.run_query("table-roundtrip", table_roundtrip)
    cat.drop_database("smoke_db", cascade=True)

    report.query_results = runner.results
    errors = runner.errors()
    report.report_extra_metric("smoke-ok-bool", 0.0 if errors else 1.0)
    return report


if __name__ == "__main__":
    from lhbench_spark.session import get_spark

    rep = run(get_spark("smoke"))
    print(rep.to_json())
