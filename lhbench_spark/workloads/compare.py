"""Multi-config comparison driver: one workload, several storage configs.

The reference's entire purpose is comparing storage configurations under
an identical workload (run-benchmark.py:206-231 dispatches one benchmark
across format-specific specs; scripts/benchmarks.py:37-390 defines the
per-format spec bank). This driver is the in-process analog: run the
merge microbenchmark — load, N MERGE rounds, post-merge reads — once per
named storage config, and emit ONE report whose per-config suite medians
are directly comparable because every config saw byte-identical input
and the same query sequence.

Configs (the axes the reference sweeps):
- ``cow``      copy-on-write merges (rewrite touched files)
- ``mor``      merge-on-read (append deltas, resolve at read)
- ``zorder``   CoW on a Z-ORDER-clustered load (clustered-storage axis)
- ``files256`` CoW with a 256-file layout (file-count/metadata axis)
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from lhbench_spark.harness import BenchmarkReport, BenchmarkRunner
from lhbench_spark.harness.report import spark_env_info
from lhbench_spark.workloads.merge_micro import MergeMicroConfig, run as run_merge_micro

CONFIGS: dict[str, MergeMicroConfig] = {
    "cow": MergeMicroConfig(table_mode="cow"),
    "mor": MergeMicroConfig(table_mode="mor"),
    "zorder": MergeMicroConfig(table_mode="cow", zorder_by=("key", "bucket")),
    "files256": MergeMicroConfig(table_mode="cow", num_files=256),
}


def run(
    spark: SparkSession,
    configs: tuple[str, ...] = ("cow", "mor"),
    rows: int = 200_000,
    rounds: int = 3,
) -> BenchmarkReport:
    """Run the merge-micro workload under each named config; one combined
    report. ``{config}-suite-median-sum-seconds`` is the per-config
    headline (the reference's cross-format comparison metric,
    README.md:29-41); per-query medians are namespaced ``{config}-…``."""
    unknown = [c for c in configs if c not in CONFIGS]
    if unknown:
        raise ValueError(f"unknown configs {unknown}; known: {sorted(CONFIGS)}")
    report = BenchmarkReport(
        benchmark_id="compare",
        specs={"configs": ",".join(configs), "rows": str(rows)},
        env=spark_env_info(spark),
    )
    from dataclasses import replace

    for name in configs:
        cfg = replace(CONFIGS[name], rows=rows, rounds=rounds, name_prefix=f"{name}-")
        runner = BenchmarkRunner(spark)
        sub = run_merge_micro(spark, cfg, runner=runner)
        report.query_results.extend(runner.results)
        medians = runner.medians()
        for qname, sec in medians.items():
            report.report_extra_metric(f"{qname}-seconds", sec)
        report.report_extra_metric(
            f"{name}-suite-median-sum-seconds", sum(medians.values())
        )
        for k, v in sub.extra_metrics.items():
            if k.endswith("files-rewritten-total"):
                report.report_extra_metric(k, v)
    return report


if __name__ == "__main__":
    from lhbench_spark.session import get_spark

    print(run(get_spark("compare")).to_json())
