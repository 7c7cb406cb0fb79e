"""Time individual registered queries in one warm session.

Usage: python tools/qtime.py q1 q2 ... [-n ITERS] [--sf DIR] [--explain OUT]

For each query: builds the DataFrame via its registered spark_fn and
times it ITERS times through ``BenchmarkRunner.run_query`` (the bench
harness window: plan + execute + collect, jobs counted in the query's
own job group), printing every sample and the upper median.
``--explain`` additionally writes the formatted physical plan to
OUT/<name>.txt. The session mirrors bench.py (same get_spark, warmup
read) so numbers are comparable to bench_report.json entries up to host
noise.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("-n", type=int, default=3)
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--explain", default=None)
    args = ap.parse_args()

    from lhbench_spark.harness.runner import BenchmarkRunner, upper_median
    from lhbench_spark.queries import all_queries
    from lhbench_spark.session import get_spark

    spark = get_spark("qtime", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("id % 97 AS k").groupBy("k").count().collect()
    qs = all_queries()
    runner = BenchmarkRunner(spark)
    for name in args.names:
        qd = qs[name]
        samples = []
        for i in range(1, args.n + 1):
            res = runner.run_query(name, lambda: qd.spark_fn(spark, args.sf), i)
            if res.error_msg:
                print(f"{name} iter{i}: ERROR {res.error_msg}", flush=True)
                continue
            samples.append(res.duration_ms / 1000.0)
            print(
                f"{name} iter{i}: {samples[-1]:.3f}s rows={res.row_count} "
                f"jobs={res.jobs}",
                flush=True,
            )
        if samples:
            print(
                f"{name} upper-median: {upper_median(samples):.3f}s "
                f"min: {min(samples):.3f}s",
                flush=True,
            )
        if args.explain:
            os.makedirs(args.explain, exist_ok=True)
            df = qd.spark_fn(spark, args.sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(args.explain, f"{name}.txt"), "w") as f:
                f.write(plan)
    return 0


if __name__ == "__main__":
    sys.exit(main())
