"""Merge microbenchmark: parameterized upsert mix on a synthetic table.

Analog of the reference's merge microbenchmark
(reference: MergeMicroBenchmark.scala:95-307): generate a keyed synthetic
table from a range source (:225-229), pick a rand()-sampled update set
plus an insert tail (:249-250), run N MERGE rounds (:204-213) with read
queries between rounds (:253-265), and report merge + read timings
through the shared harness.

Scale design: the generator is ``spark.range`` with an explicit split
count (parallel, no driver data); the update-set sample is a predicate on
``rand()`` — a scan-side filter, never a collect; merges are file-level
copy-on-write on a range-clustered table, so an update set touching p% of
the key space rewrites ~p% of files, which is the CoW cost model the
reference measures.
"""

from __future__ import annotations

import tempfile
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lhbench_spark.harness import BenchmarkReport, BenchmarkRunner
from lhbench_spark.tables import ManagedTable


@dataclass
class MergeMicroConfig:
    rows: int = 1_000_000
    num_splits: int = 32
    num_files: int = 32
    update_pct: float = 0.01  # fraction of table updated per round
    insert_rows: int = 10_000
    rounds: int = 3
    iterations: int = 1
    seed: int = 42
    # Table mode axis (MergeMicroBenchmark.scala:160-167 compares
    # CoW-vs-MoR storage configs under the same merge workload): "cow"
    # rewrites touched files per merge, "mor" appends delta files and
    # pays at read time.
    table_mode: str = "cow"
    # zorder_by=(colA, colB) clusters the load on the interleaved
    # Z-value instead of cluster_by — the reference's clustered-storage
    # config axis.
    zorder_by: tuple[str, str] | None = None
    name_prefix: str = ""  # namespaces query names in a shared runner


def gen_table(spark: SparkSession, rows: int, num_splits: int) -> DataFrame:
    """Synthetic 4-column keyed table from a range source
    (MergeMicroBenchmark.scala:225-229 shape: key, derived double, derived
    string, bucketing key)."""
    return spark.range(0, rows, 1, num_splits).select(
        F.col("id").alias("key"),
        (F.col("id") * 7.1 + 13.4).alias("value"),
        F.conv(F.col("id").cast("string"), 10, 16).alias("skey"),
        (F.col("id") % 1000).alias("bucket"),
    )


def update_set(
    base: DataFrame, rows: int, update_pct: float, insert_rows: int, seed: int
) -> DataFrame:
    """rand()-sampled updates (MergeMicroBenchmark.scala:249) + an insert
    tail of fresh keys beyond the current max (:250)."""
    spark = base.sparkSession
    updates = base.filter(F.rand(seed) <= F.lit(update_pct)).withColumn(
        "value", F.col("value") * -1.0
    )
    inserts = gen_table(spark, rows + insert_rows, 8).filter(F.col("key") >= rows)
    return updates.unionByName(inserts)


def run(
    spark: SparkSession,
    cfg: MergeMicroConfig | None = None,
    runner: BenchmarkRunner | None = None,
) -> BenchmarkReport:
    cfg = cfg or MergeMicroConfig()
    root = tempfile.mkdtemp(prefix="lhbench_merge_micro_") + "/t"
    runner = runner or BenchmarkRunner(spark)
    px = cfg.name_prefix
    report = BenchmarkReport(
        benchmark_id="merge-micro",
        specs={"rows": str(cfg.rows), "table_mode": cfg.table_mode},
    )

    base = gen_table(spark, cfg.rows, cfg.num_splits)
    create_kwargs = (
        {"zorder_by": cfg.zorder_by}
        if cfg.zorder_by
        else {"cluster_by": ("key",), "num_files": cfg.num_files}
    )
    load_res = runner.run_query(
        f"{px}load",
        lambda: ManagedTable.create(
            spark, root, base,
            table_mode=cfg.table_mode, primary_keys=("key",),
            **create_kwargs,
        ).detail(),
    )
    if load_res.error_msg:
        raise RuntimeError(f"merge-micro: load failed: {load_res.error_msg}")
    t = ManagedTable(spark, root)

    rows_now = cfg.rows
    merge_metrics: list[dict[str, int]] = []
    for i in range(1, cfg.rounds + 1):
        src = update_set(t.read(), rows_now, cfg.update_pct, cfg.insert_rows, cfg.seed + i)
        # rand() makes duplicate keys impossible here (base keys are unique)
        runner.run_query(
            f"{px}merge-{i}", lambda s=src: _merge_as_df(t, s, merge_metrics)
        )
        rows_now += cfg.insert_rows
        # post-merge read queries (MergeMicroBenchmark.scala:253-265 shape)
        runner.run_query(
            f"{px}read-agg-{i}",
            lambda: t.read().agg(
                F.max("key").alias("max_key"), F.count(F.lit(1)).alias("cnt")
            ),
        )
        runner.run_query(
            f"{px}read-filter-{i}",
            lambda: t.read().filter(F.col("value") < 0).agg(
                F.count(F.lit(1)).alias("updated_rows")
            ),
        )

    report.query_results = runner.results
    for name, sec in runner.medians().items():
        report.report_extra_metric(f"{name}-seconds", sec)
    if merge_metrics:
        report.report_extra_metric(
            f"{px}files-rewritten-total",
            float(sum(m.get("files_rewritten", 0) for m in merge_metrics)),
        )
    return report


def _merge_as_df(
    t: ManagedTable, src: DataFrame, sink: list[dict[str, int]] | None = None
) -> DataFrame:
    metrics = t.merge(src, on=["key"], validate_unique=False)
    if sink is not None:
        sink.append(metrics)
    return t.spark.createDataFrame(
        [tuple(metrics.values())], list(metrics.keys())
    )


@dataclass
class MergeGridConfig:
    """The reference's headline merge comparison: table_mode × update-size
    grid (MergeMicroBenchmark.scala:160-167 config axis, :204-265 the
    merge/read loop; README.md:38-41 reports the crossover — MoR merges
    win from ~100k updated rows, CoW reads win always)."""

    rows: int = 200_000
    num_splits: int = 16
    num_files: int = 16
    update_pcts: tuple[float, ...] = (0.001, 0.01, 0.1)
    table_modes: tuple[str, ...] = ("cow", "mor")
    insert_rows: int = 2_000
    seed: int = 42


def run_grid(spark: SparkSession, cfg: MergeGridConfig | None = None) -> BenchmarkReport:
    """One MERGE + post-merge read per (table_mode, update_pct) cell, each
    on a fresh identical table: the cell metrics
    ``{mode}-pct{pct}-merge-seconds`` / ``-read-seconds`` reproduce the
    reference's CoW-vs-MoR crossover measurement. Write-side asymmetry is
    also recorded structurally: ``…-files-rewritten`` is >0 for every CoW
    cell that matched rows and 0 for every MoR cell (MoR appends deltas,
    the whole point)."""
    cfg = cfg or MergeGridConfig()
    runner = BenchmarkRunner(spark)
    report = BenchmarkReport(
        benchmark_id="merge-micro-grid",
        specs={
            "rows": str(cfg.rows),
            "modes": ",".join(cfg.table_modes),
            "update_pcts": ",".join(str(p) for p in cfg.update_pcts),
        },
    )
    base = gen_table(spark, cfg.rows, cfg.num_splits)
    for mode in cfg.table_modes:
        for pct in cfg.update_pcts:
            cell = f"{mode}-pct{pct}"
            root = tempfile.mkdtemp(prefix=f"lhbench_mg_{mode}_") + "/t"
            t = ManagedTable.create(
                spark, root, base, cluster_by=("key",),
                num_files=cfg.num_files, table_mode=mode, primary_keys=("key",),
            )
            src = update_set(t.read(), cfg.rows, pct, cfg.insert_rows, cfg.seed)
            sink: list[dict[str, int]] = []
            runner.run_query(
                f"{cell}-merge", lambda t=t, s=src, k=sink: _merge_as_df(t, s, k)
            )
            runner.run_query(
                f"{cell}-read",
                lambda t=t: t.read().agg(
                    F.count(F.lit(1)).alias("cnt"),
                    F.sum(F.col("value").cast("decimal(30,6)")).alias("vsum"),
                ),
            )
            if sink:
                report.report_extra_metric(
                    f"{cell}-files-rewritten",
                    float(sink[0].get("files_rewritten", 0)),
                )
    # DELETE asymmetry (round-8 deletion vectors): the same 1%-of-keys
    # DELETE on each mode — CoW rewrites every touched file, MoR commits
    # one pk-only tombstone (files-rewritten 0); the post-delete read
    # prices the read-side cost of carrying the tombstone.
    for mode in cfg.table_modes:
        cell = f"{mode}-delete-pct0.01"
        sink = []
        # Fresh table per measured run (setup hook, outside the timing
        # window): a second timed invocation against the same table would
        # find zero matching rows and time a no-op — underselling the
        # real delete cost and emitting a metrics dict without
        # tombstones_added. With the per-run rebuild every measurement
        # performs the actual delete and the metrics schema is uniform.
        holder: dict[str, ManagedTable] = {}

        def _fresh_table(mode=mode, holder=holder):
            root = tempfile.mkdtemp(prefix=f"lhbench_mgd_{mode}_") + "/t"
            holder["t"] = ManagedTable.create(
                spark, root, base, cluster_by=("key",),
                num_files=cfg.num_files, table_mode=mode, primary_keys=("key",),
            )

        def _delete_as_df(holder=holder, k=sink):
            t = holder["t"]
            metrics = t.delete("key % 100 = 7")
            k.append(metrics)
            return t.spark.createDataFrame(
                [tuple(metrics.values())], list(metrics.keys())
            )

        runner.run_query(f"{cell}-delete", _delete_as_df, setup=_fresh_table)
        runner.run_query(
            f"{cell}-read",
            lambda holder=holder: holder["t"].read().agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sum(F.col("value").cast("decimal(30,6)")).alias("vsum"),
            ),
        )
        if sink:
            report.report_extra_metric(
                f"{cell}-files-rewritten",
                float(sink[0].get("files_rewritten", 0)),
            )
    report.query_results = runner.results
    for name, sec in runner.medians().items():
        report.report_extra_metric(f"{name}-seconds", sec)
    return report


if __name__ == "__main__":
    from lhbench_spark.session import get_spark

    rep = run(get_spark("merge_micro"))
    print(rep.to_json())
