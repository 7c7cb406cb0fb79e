"""Streaming ≡ batch equivalence tests.

Each streaming operator is drained with trigger(availableNow=True) into a
memory sink and compared against its batch twin from
lhbench_spark.queries.events over the same input — the strongest
correctness statement available for non-SQL-expressible streaming ops
(and the one Structured Streaming's model promises)."""

from __future__ import annotations

from pyspark.sql import functions as F

from lhbench_spark import streaming
from lhbench_spark.queries.events import events_sessionize, events_tumbling_window
from tests.conftest import SMOKE_SF


def _canon_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_tumbling_window_stream_equals_batch(spark):
    stream = streaming.stream_events(spark, SMOKE_SF)
    got = streaming.drain_to_table(
        streaming.tumbling_window_counts(stream), "t_tumbling"
    )
    expected = events_tumbling_window(spark, SMOKE_SF)
    assert sorted(got.columns) == sorted(expected.columns)
    assert _canon_rows(got.select(*sorted(got.columns))) == _canon_rows(
        expected.select(*sorted(expected.columns))
    )


def test_sessionize_stream_equals_batch(spark):
    stream = streaming.stream_events(spark, SMOKE_SF)
    sessions = streaming.drain_to_table(
        streaming.session_counts(stream), "t_sessions"
    )
    got = streaming.sessionize_per_user(sessions)
    expected = events_sessionize(spark, SMOKE_SF)
    cols = ["user_id", "session_cnt", "event_cnt"]
    assert _canon_rows(got.select(*cols)) == _canon_rows(expected.select(*cols))


def test_stateful_user_activity_equals_batch(spark):
    """applyInPandasWithState custom stateful op ≡ a batch fold: per-user
    count/sum/last-seen plus an order-dependent EMA. The batch twin folds
    the (ts, event_id)-sorted event sequence with aggregate() — same IEEE
    double ops in the same order, so values match to float tolerance."""
    alpha = 0.3
    stream = streaming.stream_events(spark, SMOKE_SF)
    got = streaming.drain_to_table(
        streaming.user_activity_stateful(stream, alpha=alpha),
        "t_stateful",
        output_mode="update",
    )
    from lhbench_spark.catalog import table

    batch = (
        table(spark, SMOKE_SF, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("event_cnt"),
            F.sum(F.col("value").cast("double")).alias("total_value"),
            F.unix_micros(F.max(F.col("ts").cast("timestamp"))).alias("last_ts_us"),
            F.array_sort(
                F.collect_list(
                    F.struct("ts", "event_id", F.col("value").cast("double").alias("value"))
                )
            ).alias("_evs"),
        )
        .withColumn(
            "ema_value",
            F.expr(
                f"aggregate(_evs, CAST(NULL AS DOUBLE), (acc, x) -> "
                f"CASE WHEN acc IS NULL THEN x.value "
                f"ELSE {alpha} * x.value + {1 - alpha} * acc END)"
            ),
        )
        .drop("_evs")
    )
    cols = ["user_id", "event_cnt", "total_value", "last_ts_us", "ema_value"]
    g = {r["user_id"]: r for r in got.select(*cols).collect()}
    b = {r["user_id"]: r for r in batch.select(*cols).collect()}
    assert set(g) == set(b) and len(g) > 0
    for uid, row in b.items():
        s = g[uid]
        assert s["event_cnt"] == row["event_cnt"]
        assert s["last_ts_us"] == row["last_ts_us"]
        assert abs(s["total_value"] - row["total_value"]) < 1e-6
        assert abs(s["ema_value"] - row["ema_value"]) < 1e-9


def test_bounded_microbatches(spark):
    """maxFilesPerTrigger bounds each microbatch (the backfill/replay
    path); result is identical regardless of batch slicing."""
    stream = streaming.stream_events(spark, SMOKE_SF, max_files_per_trigger=1)
    got = streaming.drain_to_table(
        streaming.tumbling_window_counts(stream), "t_bounded"
    )
    total = got.agg(F.sum("cnt").alias("n")).collect()[0]["n"]
    batch_total = (
        events_tumbling_window(spark, SMOKE_SF)
        .agg(F.sum("cnt").alias("n"))
        .collect()[0]["n"]
    )
    assert total == batch_total


def test_stream_static_join_equals_batch(spark):
    dim = streaming.user_tier_dim(spark, SMOKE_SF)
    stream = streaming.stream_events(spark, SMOKE_SF)
    got = streaming.drain_to_table(
        streaming.enrich_stream_with_dim(stream, dim), "t_enrich",
        output_mode="append",
    )
    agg = lambda df: _canon_rows(
        df.groupBy("tier").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )
    batch = spark.read.parquet(f"{SMOKE_SF}/events.parquet")
    expected = batch.join(F.broadcast(dim), "user_id", "left")
    assert agg(got) == agg(expected)
    # every stream row found its dim row (left join left no nulls)
    assert got.filter(F.col("tier").isNull()).count() == 0


def test_dedup_replay_makes_duplicated_source_idempotent(spark, tmp_path):
    import pyspark.sql.functions as SF

    base = spark.range(200).select(
        SF.col("id").alias("event_id"),
        SF.timestamp_micros((SF.lit(1700000000) + SF.col("id")) * 1000000).alias("ts"),
        (SF.col("id") % 4).cast("string").alias("event_type"),
    )
    src = str(tmp_path / "replayed")
    # simulate an overlapping backfill: the same batch lands twice
    base.write.parquet(src)
    base.write.mode("append").parquet(src)
    stream = spark.readStream.schema(base.schema).parquet(src)
    got = streaming.drain_to_table(
        streaming.dedup_replay(stream), "t_dedup_replay", output_mode="append"
    )
    assert got.count() == 200
    assert _canon_rows(got.select("event_id", "event_type")) == _canon_rows(
        base.select("event_id", "event_type")
    )


def test_drain_state_partitions_scopes_and_restores_conf(spark):
    """state_partitions must apply only for the drain (state-store
    fan-out is a per-job decision) and restore the session conf even
    though values are unchanged either way."""
    before = spark.conf.get("spark.sql.shuffle.partitions")
    stream = streaming.stream_events(spark, SMOKE_SF)
    got = streaming.drain_to_table(
        streaming.tumbling_window_counts(stream),
        "t_tumbling_sp",
        state_partitions=4,
    )
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    expected = events_tumbling_window(spark, SMOKE_SF)
    assert _canon_rows(got.select(*sorted(got.columns))) == _canon_rows(
        expected.select(*sorted(expected.columns))
    )


def test_drain_state_partitions_restores_on_failure(spark):
    """The conf restore must survive a failing drain (finally-path)."""
    import pytest as _pytest

    before = spark.conf.get("spark.sql.shuffle.partitions")
    stream = streaming.stream_events(spark, SMOKE_SF)
    bad = streaming.tumbling_window_counts(stream).withColumn(
        "boom", F.expr("raise_error('induced failure')")
    )
    with _pytest.raises(Exception):
        streaming.drain_to_table(bad, "t_boom", state_partitions=4)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_stream_ingest_into_mor_with_deletion_vectors(spark, tmp_path):
    """Integration across the streaming and managed-table layers: a
    foreachBatch MERGE ingest into a merge-on-read table (one delta
    commit per micro-batch, zero rewrites), deletion-vector maintenance
    after the drain, a resurrecting merge, and compaction — ending
    value-equal to the batch replay of the same operations. Per-file
    micro-batches carry DISJOINT key ranges so the final state is
    order-independent (file-listing order is not a streaming guarantee)."""
    from pyspark.sql import functions as F

    from lhbench_spark.tables import ManagedTable

    seed = spark.range(100).selectExpr("id AS k", "CAST(0 AS DOUBLE) AS v")
    t = ManagedTable.create(
        spark, str(tmp_path / "t"), seed, num_files=2,
        table_mode="mor", primary_keys=("k",),
    )
    # three staged files; file i upserts seed keys [10i, 10i+10) to
    # k+500 and inserts fresh keys [100+30i, 100+30i+30) at k*2
    src_dir = str(tmp_path / "src")
    for i in range(3):
        spark.range(10 * i, 10 * i + 10).selectExpr(
            "id AS k", "CAST(id + 500 AS DOUBLE) AS v"
        ).unionAll(
            spark.range(100 + 30 * i, 130 + 30 * i).selectExpr(
                "id AS k", "CAST(id * 2 AS DOUBLE) AS v"
            )
        ).coalesce(1).write.mode("append").parquet(src_dir)

    stream = (
        spark.readStream.schema("k BIGINT, v DOUBLE")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )

    def ingest(batch_df, batch_id):
        if not batch_df.isEmpty():
            t.merge(batch_df, on=["k"])

    q = (
        stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "ingest drain timed out"
    q.stop()

    # every ingest commit was a delta append — nothing rewritten
    assert all(
        m.metrics.get("files_rewritten", 0) == 0
        for m in t.manifests if m.operation == "MERGE"
    )
    got = t.read()
    assert got.count() == 190
    assert got.filter("k < 30").filter(F.col("v") != F.col("k") + 500).count() == 0

    t.delete("k < 15")  # tombstone commit over streamed + seed rows
    assert t.read().count() == 175
    t.merge(
        spark.range(5).selectExpr("id AS k", "CAST(9999 AS DOUBLE) AS v"),
        on=["k"],
    )  # resurrect 5 tombstoned keys
    t.optimize()
    final = {r.k: r.v for r in t.read().collect()}
    expected = {k: 0.0 for k in range(100)}                # seed (v = 0)
    expected.update({k: float(k + 500) for k in range(30)})  # streamed upserts
    expected.update({k: float(k * 2) for k in range(100, 190)})  # inserts
    for k in range(15):
        expected.pop(k)                                     # tombstoned
    expected.update({k: 9999.0 for k in range(5)})          # resurrected
    assert final == expected


def test_stream_sink_replayed_batch_commits_once(spark, tmp_path):
    """Exactly-once streaming appends: a multi-file availableNow stream
    sinks into a managed table with (txn_app_id, batch_id); replaying
    the sink over the SAME source from a FRESH checkpoint (the
    crash-and-lose-the-checkpoint scenario, worse than a single batch
    retry) re-offers every batch — and the txn ledger rejects all of
    them, leaving the table bit-identical."""
    from pyspark.sql import functions as F

    from lhbench_spark.tables import ManagedTable

    src_dir = str(tmp_path / "src")
    for i in range(3):
        spark.range(100 * i, 100 * i + 100).selectExpr(
            "id AS k", "CAST(id * 1.5 AS DOUBLE) AS v"
        ).coalesce(1).write.mode("append").parquet(src_dir)
    seed = spark.range(0).selectExpr("id AS k", "CAST(id * 1.5 AS DOUBLE) AS v")
    t = ManagedTable.create(
        spark, str(tmp_path / "t"), seed, validate_count=False
    )

    def run_drain(chk: str) -> None:
        stream = (
            spark.readStream.schema("k BIGINT, v DOUBLE")
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
        )

        def sink(batch_df, batch_id):
            if not batch_df.isEmpty():
                t.append(
                    batch_df, num_files=1,
                    txn_app_id="sink-test", txn_version=int(batch_id),
                )

        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "sink drain timed out"
        q.stop()

    run_drain(str(tmp_path / "chk1"))
    assert t.read().count() == 300
    v_after = t.current.version
    # fresh checkpoint -> the source replays every batch from scratch
    run_drain(str(tmp_path / "chk2"))
    assert t.current.version == v_after  # zero new commits
    assert t.read().count() == 300
    assert t.read().agg(F.sum("v")).collect()[0][0] == sum(
        i * 1.5 for i in range(300)
    )
