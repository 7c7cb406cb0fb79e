"""Workload-runner smoke + semantics tests (small configs).

The value-level correctness of the underlying code paths is carried by
the oracle-checked registry entries (merge_micro_counts, csv_refresh_view,
file_count_answers, range_gen_table); here we exercise the full runners
end-to-end and assert their reported structure and invariants.
"""

from __future__ import annotations

import pytest

from lhbench_spark.workloads import file_count, merge_micro, refresh
from lhbench_spark.workloads import refresh_tpcds as rt
from tests.conftest import SMOKE_SF


def test_merge_micro_runner(spark):
    cfg = merge_micro.MergeMicroConfig(
        rows=20_000, num_splits=4, num_files=4, update_pct=0.02,
        insert_rows=500, rounds=2,
    )
    rep = merge_micro.run(spark, cfg)
    errs = [r for r in rep.query_results if r.error_msg]
    assert not errs
    names = {r.name for r in rep.query_results}
    assert {"load", "merge-1", "merge-2", "read-agg-1", "read-filter-2"} <= names
    # after 2 rounds of inserts the count read reflects the growth
    agg2 = next(r for r in rep.query_results if r.name == "read-agg-2")
    assert agg2.row_count == 1


def test_merge_grid_cow_vs_mor(spark):
    """The CoW-vs-MoR sweep (MergeMicroBenchmark.scala:160-167,204-265;
    README.md:38-41 crossover): per (mode, update_pct) cell the grid must
    record merge AND post-merge read timings; structurally, every CoW
    merge that matched rows rewrites files while every MoR merge rewrites
    none (it appends deltas); and both modes must land in the SAME post
    state — the read query's (count, decimal value sum) agree per pct."""
    cfg = merge_micro.MergeGridConfig(
        rows=20_000, num_splits=4, num_files=4,
        update_pcts=(0.01, 0.1), insert_rows=500,
    )
    rep = merge_micro.run_grid(spark, cfg)
    errs = [(r.name, r.error_msg) for r in rep.query_results if r.error_msg]
    assert not errs
    for pct in cfg.update_pcts:
        assert rep.extra_metrics[f"cow-pct{pct}-merge-seconds"] > 0
        assert rep.extra_metrics[f"mor-pct{pct}-read-seconds"] > 0
        assert rep.extra_metrics[f"cow-pct{pct}-files-rewritten"] > 0
        assert rep.extra_metrics[f"mor-pct{pct}-files-rewritten"] == 0


def test_merge_grid_modes_reach_identical_state(spark, tmp_path):
    """Same base, same merge source → CoW table state and MoR resolved
    state are row-identical (checked via full-row fingerprint). The
    source is a DETERMINISTIC update set (key % 20) rather than
    update_set's rand() sample — rand(seed) is seeded per partition, so
    its key choice is layout-dependent and would differ across tables."""
    from pyspark.sql import functions as F

    from lhbench_spark.tables import ManagedTable

    base = merge_micro.gen_table(spark, 5_000, 4)
    updates = base.filter(F.col("key") % 20 == 0).withColumn(
        "value", F.col("value") * -1.0
    )
    inserts = merge_micro.gen_table(spark, 5_200, 4).filter(F.col("key") >= 5_000)
    src = updates.unionByName(inserts)
    tabs = {}
    for mode in ("cow", "mor"):
        t = ManagedTable.create(
            spark, str(tmp_path / mode), base, cluster_by=("key",),
            num_files=4, table_mode=mode, primary_keys=("key",),
        )
        t.merge(src, on=["key"], validate_unique=False)
        tabs[mode] = t

    def fingerprint(t):
        return (
            t.read()
            .select(F.sha2(F.concat_ws("|", "key", "value", "skey", "bucket"), 256).alias("h"))
            .agg(F.count(F.lit(1)).alias("cnt"), F.sum(F.conv(F.substring("h", 1, 8), 16, 10).cast("long")).alias("hsum"))
            .collect()[0]
        )

    assert fingerprint(tabs["cow"]) == fingerprint(tabs["mor"])


def test_compare_driver_emits_per_config_medians(spark):
    """`compare` (run-benchmark.py:206-231 analog): one workload across
    storage configs, one report, per-config suite medians present and the
    per-config query rows namespaced."""
    from lhbench_spark.workloads import compare

    rep = compare.run(spark, configs=("cow", "mor"), rows=10_000, rounds=1)
    assert not [r for r in rep.query_results if r.error_msg]
    assert "cow-suite-median-sum-seconds" in rep.extra_metrics
    assert "mor-suite-median-sum-seconds" in rep.extra_metrics
    names = {r.name for r in rep.query_results}
    assert {"cow-load", "cow-merge-1", "mor-load", "mor-merge-1"} <= names


def test_file_count_runner(spark):
    cfg = file_count.FileCountConfig(rows=10_000, file_counts=(4, 16), iterations=1)
    rep = file_count.run(spark, cfg)
    # per grid point: write time + 4 queries × (plan, exec)
    assert len(rep.extra_metrics) == 2 * (1 + 4 * 2)
    for k, v in rep.extra_metrics.items():
        assert v >= 0, k
    # every step is timed through BenchmarkRunner.run_query: one write and
    # four reads per grid point, each with its jobs and its planning split
    assert len(rep.query_results) == 2 * (1 + 4)
    for r in rep.query_results:
        assert r.error_msg is None and r.jobs is not None, r.name
        assert 0 <= r.planning_ms <= r.duration_ms, r.name


def test_refresh_runner(spark):
    rep = refresh.run(spark, SMOKE_SF, refresh.RefreshConfig(rounds=2))
    errs = [(r.name, r.error_msg) for r in rep.query_results if r.error_msg]
    assert not errs
    assert {r.name for r in rep.query_results} >= {
        "load", "queries-before", "merge-1", "merge-2", "compact", "queries-after",
    }


def test_refresh_tpcds_multifact_runner(spark):
    """Multi-fact refresh breadth (refresh_tpcds.py): 2 rounds across
    the reference's full seven generated TPC-DS facts (sales + returns
    + inventory) — every load/view/merge/compact step error-free."""
    rep = rt.run(spark, SMOKE_SF, rt.MultiRefreshConfig(rounds=2))
    errs = [(r.name, r.error_msg) for r in rep.query_results if r.error_msg]
    assert not errs
    names = {r.name for r in rep.query_results}
    assert len(rt.FACTS) == 7
    for fact in rt.FACTS:
        assert {f"load-{fact}", f"view-{fact}-1", f"merge-{fact}-2",
                f"compact-{fact}"} <= names


_TPCH_STAGING = {
    "tpch_lineitem": refresh.stage_lineitem_delta,
    "tpch_orders": refresh.stage_orders_delta,
}


@pytest.mark.parametrize("producer", [*rt.CHAINS, *_TPCH_STAGING])
def test_staging_csv_round_trip_is_exact(spark, tmp_path, producer):
    """Every staging producer — the 7 fact deltas, the 3 header/lineitem
    pairs and the 4 flat files of refresh_tpcds.CHAINS, and refresh.py's
    TPC-H lineitem/orders — reads back exactly through the schema
    write_staging_csv returns (csv_round_trip): the same rows (exceptAll
    empty both ways, duplicates counted) and the same field types as the
    staged frame."""
    stage = rt.CHAINS[producer].stage if producer in rt.CHAINS else _TPCH_STAGING[producer]
    frames = stage(spark, SMOKE_SF, 1)
    for j, df in enumerate(frames if isinstance(frames, tuple) else (frames,)):
        back = refresh.csv_round_trip(spark, df, str(tmp_path / f"staged_{j}"))
        assert [(f.name, f.dataType) for f in back.schema.fields] == [
            (f.name, f.dataType) for f in df.schema.fields
        ]
        assert df.count() > 0
        assert back.exceptAll(df).count() == 0
        assert df.exceptAll(back).count() == 0


def test_rand_sample_fraction_sane(spark):
    """rand(42) < 0.01 over lineitem samples ~1% (rows-only registry entry's
    sanity bound lives here)."""
    from lhbench_spark.queries.workloads import sample_rand_filter

    row = sample_rand_filter(spark, SMOKE_SF).collect()[0]
    total = 6001  # sf0.001 lineitem rows (TESTDATA.md ~6k, exact not needed)
    frac = row["sampled_rows"] / total
    assert 0.001 < frac < 0.05


def test_smoke_workload(spark):
    """TestBenchmark parity (TestBenchmark.scala:49-72): scalar SQL, db
    lifecycle, table write/read-back — all error-free, smoke-ok metric 1."""
    from lhbench_spark.workloads import smoke

    rep = smoke.run(spark)
    assert not [q for q in rep.query_results if q.error_msg]
    assert rep.extra_metrics["smoke-ok-bool"] == 1.0


def test_staging_csv_roundtrip_survives_embedded_delimiters(spark, tmp_path):
    """dsdgen data embeds delimiters inside string fields (names with
    commas; free text can contain the pipe itself). The staging
    round-trip (write_staging_csv pipe-delimited -> read_staging_csv
    explicit schema) must return byte-identical strings — Spark's CSV
    writer quotes delimiter-bearing values and the reader must unquote
    them, or every dense refresh chain silently mis-parses."""
    from pyspark.sql.types import (
        IntegerType, StringType, StructField, StructType,
    )

    from lhbench_spark.workloads.refresh import (
        read_staging_csv, write_staging_csv,
    )

    schema = StructType([
        StructField("k", IntegerType()),
        StructField("s", StringType()),
    ])
    rows = [
        (1, "Warehouse, Inc"),
        (2, "pipe|inside"),
        (3, 'quote "double" inside'),
        (4, "comma, pipe| and \"quote\""),
        (5, None),
    ]
    src = spark.createDataFrame(rows, schema)
    path = str(tmp_path / "staged")
    write_staging_csv(src, path)
    back = read_staging_csv(spark, path, schema)
    assert sorted((r.k, r.s) for r in back.collect()) == sorted(rows)


def test_hll_estimate_within_theoretical_bound(spark):
    """HyperLogLog with m=256 registers has standard error 1.04/sqrt(m)
    ≈ 6.5%; the raw estimator (no small-range correction) must land
    within 3 sigma of the exact NDV at both smoke SFs — a sanity floor
    under the exact oracle match (which proves parity, not accuracy)."""
    from lhbench_spark.queries.workloads import warehouse_hll_sketch

    # explicit SF pair — a string-replace on SMOKE_SF would silently
    # degenerate to a duplicate run if SMOKE_SF ever changed (r7 advice)
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        row = warehouse_hll_sketch(spark, sf).collect()[0]
        assert row.exact_ndv > 0
        assert abs(row.rel_error) <= 3 * 1.04 / (256 ** 0.5), (sf, row)


def test_bloom_membership_properties(spark):
    """Structural guarantees of the Bloom audit: no false negatives
    (every true member is bloom-positive), the bit set never exceeds m,
    and the measured FP rate stays under the loose m/k/n envelope for
    this corpus (<= 25% — the exact value is oracle-checked; this guards
    against a degenerate all-positive filter)."""
    from lhbench_spark.queries.workloads import warehouse_bloom_membership

    row = warehouse_bloom_membership(spark, SMOKE_SF).collect()[0]
    assert row.n_bits_set <= row.m_bits
    # no false negatives: positives must cover every true member
    assert row.n_bloom_positive >= row.n_member
    assert row.n_bloom_positive - row.n_false_positive == row.n_member
    assert row.fp_rate is None or row.fp_rate <= 0.25, row


def test_ohlc_matches_independent_window_method(spark):
    """Cross-check the arg-min/arg-max OHLC against an independent
    row_number-window formulation over the same ordering key — two
    different plans, identical values."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from lhbench_spark.catalog import table
    from lhbench_spark.queries.events import ts_resample_ohlc

    got = {
        (r.event_type, r.hr): (r.open, r.close)
        for r in ts_resample_ohlc(spark, SMOKE_SF).collect()
    }
    ev = table(spark, SMOKE_SF, "events").select(
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("hr"),
        "value",
        "ts",
        "event_id",
    )
    wa = Window.partitionBy("event_type", "hr").orderBy("ts", "event_id")
    wd = Window.partitionBy("event_type", "hr").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    ref = (
        ev.withColumn("ra", F.row_number().over(wa))
        .withColumn("rd", F.row_number().over(wd))
        .groupBy("event_type", "hr")
        .agg(
            F.max(F.when(F.col("ra") == 1, F.col("value"))).alias("open"),
            F.max(F.when(F.col("rd") == 1, F.col("value"))).alias("close"),
        )
    )
    want = {(r.event_type, r.hr): (r.open, r.close) for r in ref.collect()}
    assert got == want
