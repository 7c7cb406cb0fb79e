"""File-count / metadata benchmark: same table at increasing file counts.

Analog of the reference's large-file-count benchmark
(reference: FileCountBenchmark.scala:95-337): materialize one table split
into successively more files (:177 ``repartition(numFiles)``; file grid
run-benchmark.py:86-91), then measure four read queries — select-limit-1,
full count, filter-by-partition-key, filter-by-value
(FileCountBenchmark.scala:244-249) — separating PLANNING time from
EXECUTION time (the listener at :305-336 measures query-start→first-job;
here planning is isolated by forcing the physical plan without running
it, plus the manifest-pruning step for the skipping query).

The point at scale: planning cost grows with file count (manifest size),
execution with data size — the lakehouse pathology this benchmark exists
to expose (Delta was 7-20× faster at 200k files, README.md:43-46).
"""

from __future__ import annotations

import tempfile
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lhbench_spark.harness import BenchmarkReport, BenchmarkRunner
from lhbench_spark.tables import ManagedTable
from lhbench_spark.workloads.merge_micro import gen_table


@dataclass
class FileCountConfig:
    rows: int = 200_000
    file_counts: tuple[int, ...] = (16, 64, 256)
    iterations: int = 2
    randomize: bool = False  # add randn() noise columns (…scala:216-228)


# The reference's headline regime is 1k-200k files (grid
# run-benchmark.py:86-91; "Delta 7-20x faster at 200k files",
# README.md:43-46) — the planning-time divergence only appears once the
# manifest is big enough to dominate. Tiny files are fine: the subject
# under test is file COUNT (manifest size + file-index construction),
# not bytes scanned.
DEEP_GRID = (16, 64, 256, 1024, 4096, 16384)


def four_queries(t: ManagedTable) -> dict[str, "Callable[[], DataFrame]"]:
    """The reference's four read shapes (FileCountBenchmark.scala:244-249),
    with filter-by-partition expressed as manifest-side file pruning on
    the cluster key. Returned as THUNKS so the planning timer covers
    the whole planning path — manifest walk, per-file stats pruning,
    file-index construction, Catalyst — not just executedPlan() on a
    pre-built frame (at large file counts the manifest/file-index step
    IS the divergence this benchmark exists to expose)."""
    return {
        "select-limit-1": lambda: t.read().limit(1),
        "full-count": lambda: t.read().agg(F.count(F.lit(1)).alias("cnt")),
        "filter-by-partition": lambda: t.read(prune={"key": 7}).filter(
            F.col("key") == 7
        ),
        "filter-by-value": lambda: t.read().filter(F.col("bucket") == 3).agg(
            F.count(F.lit(1)).alias("cnt")
        ),
    }


def run(spark: SparkSession, cfg: FileCountConfig | None = None) -> BenchmarkReport:
    """Per file count: write the table, then time each of the four reads
    ``cfg.iterations`` times through ``BenchmarkRunner.run_query``. Plan
    is its ``planning_ms`` (frame construction, manifest walk and pruning,
    Catalyst, before any job); exec is the rest of the window. Each
    metric keeps the minimum over iterations."""
    cfg = cfg or FileCountConfig()
    report = BenchmarkReport(
        benchmark_id="file-count", specs={"rows": str(cfg.rows)}
    )
    runner = BenchmarkRunner(spark)
    base = gen_table(spark, cfg.rows, 32)
    if cfg.randomize:
        base = (
            base.withColumn("noise_a", F.randn(7))
            .withColumn("noise_b", F.randn(11))
        )
    for n_files in cfg.file_counts:
        root = tempfile.mkdtemp(prefix=f"lhbench_fc_{n_files}_") + "/t"
        res = runner.run_query(
            f"write-{n_files}",
            lambda: ManagedTable.create(
                spark, root, base, cluster_by=("key",), num_files=n_files
            ).detail(),
        )
        if res.error_msg:
            raise RuntimeError(f"file_count: write {n_files} failed: {res.error_msg}")
        report.report_extra_metric(f"write-{n_files}-seconds", res.duration_ms / 1e3)
        for qname, mk in four_queries(ManagedTable(spark, root)).items():
            runs = [
                runner.run_query(f"{qname}-{n_files}", mk, it)
                for it in range(1, cfg.iterations + 1)
            ]
            errs = [r.error_msg for r in runs if r.error_msg]
            if errs:
                raise RuntimeError(f"file_count: {qname}-{n_files} failed: {errs[0]}")
            report.report_extra_metric(
                f"{qname}-{n_files}-plan-ms", min(r.planning_ms for r in runs)
            )
            report.report_extra_metric(
                f"{qname}-{n_files}-exec-ms",
                min(r.duration_ms - r.planning_ms for r in runs),
            )
    report.query_results = runner.results
    return report


if __name__ == "__main__":
    import sys

    from lhbench_spark.session import get_spark

    cfg = FileCountConfig()
    if "--deep" in sys.argv:
        cfg = FileCountConfig(file_counts=DEEP_GRID)
    rep = run(get_spark("file_count"), cfg)
    print(rep.to_json())
